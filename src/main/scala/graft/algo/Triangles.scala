package graft.algo

import org.apache.spark.sql.{DataFrame, functions => F}

import graft.graph.LinkGraph

/** Triangle counting — node-iterator with degree ordering (SURVEY.md §2.10).
  *
  * Total order u ≺ v ⇔ (deg(u), u) < (deg(v), v); each undirected edge is
  * oriented low→high under ≺; wedges A(u,v)⋈A(u,w) with v ≺ w (J5); a wedge
  * is a triangle iff the oriented closing edge A(v,w) exists (left-semi,
  * J4). Degree ordering bounds wedge fan-out by arboricity — THE skew
  * defense for hub vertices: a hub's edges all orient inward, so the hub
  * never enumerates its own O(deg²) wedges.
  *
  * Deterministic exact counts; no iteration. The three stage
  * materializations (canonical edges, oriented edges, triangle list)
  * default to eager localCheckpoint; pass a [[CheckpointMaterializer]] to
  * route them through durable TableIO commits instead (executor loss
  * must not kill a long run; the pipeline-side intermediates have the
  * same option).
  */
final case class TriangleResult(
    total: Long,
    perVertex: DataFrame) // (vid: long, triangles: long) — includes 0s

object Triangles {

  /** Run counter — lets a test assert the per-(session, dir) result cache
    * (GraphQueries.triangles) computes the wedge join ONCE per pass even
    * when both g_triangles and g_tri_pervertex consume it. */
  private[graft] val runs = new java.util.concurrent.atomic.AtomicLong(0)

  /** `shared`: an already-materialized (symmetric simple edges, per-vertex
    * degree) pair — GraphQueries.undirected's memo. When present, the
    * canonical edge set is a map-side filter of the symmetric frame
    * (src < dst keeps exactly one orientation of each distinct pair) and
    * the degree frame is reused as-is, instead of re-paying the
    * least/greatest+distinct shuffle and the degree aggregation that the
    * shared frames already paid (guide §1.2/§2.4 — identical sets). */
  def run(graph: LinkGraph, mat: Materializer = new LocalMaterializer,
          shared: Option[(DataFrame, DataFrame)] = None): TriangleResult = {
    runs.incrementAndGet()
    // Canonical undirected edge set (u < v), self-loops dropped.
    val und = shared match {
      case Some((sym, _)) => mat.shared("und",
        sym.where(F.col("src") < F.col("dst"))
          .select(F.col("src").as("u"), F.col("dst").as("v")))
      case None => mat.shared("und", graph.edges
        .where(F.col("src") =!= F.col("dst"))
        .select(F.least(F.col("src"), F.col("dst")).as("u"),
                F.greatest(F.col("src"), F.col("dst")).as("v"))
        .distinct())
    }

    val deg = shared match {
      case Some((_, d)) => d.select(F.col("vid"), F.col("deg"))
      case None => und.select(F.col("u").as("vid"))
        .union(und.select(F.col("v").as("vid")))
        .groupBy("vid").agg(F.count(F.lit(1)).as("deg"))
    }

    // Orient each edge by (deg, vid): s ≺ t. Carry endpoint degrees so the
    // wedge self-join can compare ≺ without another join.
    val du = deg.select(F.col("vid").as("u"), F.col("deg").as("du"))
    val dv = deg.select(F.col("vid").as("v"), F.col("deg").as("dv"))
    val uLow = F.col("du") < F.col("dv") ||
      (F.col("du") === F.col("dv") && F.col("u") < F.col("v"))
    val oriented = mat.shared("oriented", und.join(du, "u").join(dv, "v")
      .select(
        F.when(uLow, F.col("u")).otherwise(F.col("v")).as("s"),
        F.when(uLow, F.col("v")).otherwise(F.col("u")).as("t"),
        F.when(uLow, F.col("dv")).otherwise(F.col("du")).as("dt")))

    // Wedges from each low vertex s: pairs (t1 ≺ t2) of its out-neighbors.
    val e1 = oriented.select(F.col("s"), F.col("t").as("t1"), F.col("dt").as("dt1"))
    val e2 = oriented.select(F.col("s"), F.col("t").as("t2"), F.col("dt").as("dt2"))
    val tOrder = F.col("dt1") < F.col("dt2") ||
      (F.col("dt1") === F.col("dt2") && F.col("t1") < F.col("t2"))
    val wedges = e1.join(e2, "s").where(tOrder)

    // Close the wedge: oriented edge (t1, t2) must exist.
    val closing = oriented.select(F.col("s").as("t1"), F.col("t").as("t2"))
    val triangles = mat.shared("triangles", wedges
      .join(closing, Seq("t1", "t2"), "left_semi")
      .select(F.col("s").as("a"), F.col("t1").as("b"), F.col("t2").as("c")))

    val total = triangles.count()
    val perVertex = graph.vertices
      .join(
        triangles.select(F.col("a").as("vid"))
          .union(triangles.select(F.col("b").as("vid")))
          .union(triangles.select(F.col("c").as("vid")))
          .groupBy("vid").agg(F.count(F.lit(1)).as("cnt")),
        Seq("vid"), "left")
      .select(F.col("vid"), F.coalesce(F.col("cnt"), F.lit(0L)).as("triangles"))
    TriangleResult(total, perVertex)
  }
}
