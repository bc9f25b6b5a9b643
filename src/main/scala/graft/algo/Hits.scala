package graft.algo

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.graft.FlatCheckpoint

import graft.graph.LinkGraph
import graft.plans.Fold

/** Truncated HITS (hubs and authorities, Kleinberg JACM '99) — SURVEY.md
  * §2.10. Over the distinct directed simple edge set, R rounds
  * of the ORIGINAL sequential update:
  *
  *   a_t(v) = Σ_{u→v} h_{t−1}(u)       (authorities from previous hubs)
  *   h_t(v) = Σ_{v→w} a_t(w)           (hubs from the NEW authorities)
  *
  * with a_0 = h_0 = 1, normalized ONCE at the end (a/Σa, h/Σh, 6dp).
  * Deferring normalization keeps every intermediate value an INTEGER
  * (a_t(v) counts alternating in-out walks of length 2t−1 ending at v;
  * h_t counts length-2t walks) carried as doubles — exact under any
  * summation order below 2^53, so Spark's and DuckDB's float paths
  * cannot diverge (the betweenness-σ discipline). The final two sums
  * are integer sums; each score sees exactly ONE division + round(6).
  *
  * The 2^53 ceiling bounds R at web scale: walk counts grow like
  * (d_avg²)^R, so R ≤ ~4 on a heavy-tailed web graph — which is also
  * the published truncation regime for HITS-as-feature. A production
  * variant would renormalize per round (breaking oracle exactness);
  * this estimator keeps the exact contract, like Katz's fixed-R trade.
  *
  * Runs on [[Fixpoint]]: each round commits (vid, a, h).
  *
  * Scale shape: state two doubles per vertex; the edges are held twice,
  * keyed on src and on dst, so a round moves no edge: TWO shuffles per
  * round (one per direction — inherent to the mutual recurrence); work
  * R·|E|.
  */
object Hits {

  /** Returns (vid, auth, hub), both L1-normalized and rounded to 6dp. */
  def run(graph: LinkGraph, rounds: Int,
          mat: Materializer = new LocalMaterializer): DataFrame =
    Fixpoint(graph.spark, mat, math.max(graph.numVertices, graph.numEdges)) { fx =>
      val de = Neighborhood.directedEdges(graph, mat, reverse = false, fingerprint = None)
      // the same edges keyed on dst, for the hub sums: a round moves no edge
      val deIn = mat.shared("de_in", de.repartition(F.col("dst")), repartitionKeys = Seq("dst"))
      // keyed like the state, so a round re-shuffles no vertex
      val vertices = mat.shared("vertices", graph.vertices.repartition(F.col("vid")),
        repartitionKeys = Seq("vid"))
      def step(round: Fixpoint.Round): DataFrame = {
        // authorities from previous hubs: one edges⋈state join, sum by dst
        val aAgg = round.state.select(F.col("vid"), F.col("h"))
          .join(de.withColumnRenamed("src", "vid"), "vid")
          .groupBy(F.col("dst").as("vid")).agg(F.sum("h").as("na"))
        // hubs from the NEW authorities: each authority meets its in-edges
        // in place (both keyed on vid) and goes out once as itself and
        // once per in-edge as a hub message to the edge's source; one
        // shuffle sums both. A vertex absent from aAgg has a = 0 and sends
        // nothing.
        val sums = aAgg.join(deIn.select(F.col("dst").as("vid"), F.col("src")), Seq("vid"), "left")
          .select(F.explode(F.array(
            F.struct(F.col("vid"), F.col("na").as("a"), F.lit(null).cast("double").as("h")),
            F.struct(F.col("src").as("vid"), F.lit(null).cast("double").as("a"),
              F.col("na").as("h")))).as("m"))
          .where(F.col("m.vid").isNotNull)
          .groupBy(F.col("m.vid").as("vid")).agg(F.max("m.a").as("na"), F.sum("m.h").as("nh"))
        vertices
          .join(sums, Seq("vid"), "left")
          .select(F.col("vid"),
            F.coalesce(F.col("na"), F.lit(0.0)).as("a"),
            F.coalesce(F.col("nh"), F.lit(0.0)).as("h"))
      }
      // The normalizing sums ride every commit; integer-valued doubles sum
      // exactly in any order, so they equal an agg over the final state.
      val r = fx.run(Fixpoint.Loop(
        cols = Seq("vid", "a", "h"),
        maxRounds = rounds,
        // sorted on vid like every later commit (a sort-merge join's
        // output), so the loop plans its round once
        init = () => vertices.select(F.col("vid"), F.lit(1.0).as("a"), F.lit(1.0).as("h"))
          .sortWithinPartitions("vid"),
        step = step,
        stats = Seq(Fold.sum("sa", F.col("a")), Fold.sum("sh", F.col("h"))),
        startStats = true))
      // ONE normalization at the end: integer sums, one division, 6dp
      val (sa, sh) = (r.seen.last._2.double("sa"), r.seen.last._2.double("sh"))
      FlatCheckpoint.localCheckpoint(
        r.state.select(F.col("vid"),
          F.round(F.col("a") / (if (sa > 0) sa else 1.0), 6).as("auth"),
          F.round(F.col("h") / (if (sh > 0) sh else 1.0), 6).as("hub"))
          .orderBy("vid"))
    }
}
