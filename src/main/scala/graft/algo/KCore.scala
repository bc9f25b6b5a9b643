package graft.algo

import org.apache.spark.sql.{DataFrame, functions => F}

import graft.graph.LinkGraph

/** k-core membership by iterative peeling — SURVEY.md §2.10.
  *
  * The k-core of an undirected graph is the maximal subgraph in which every
  * vertex has degree ≥ k. Computed by the classic peel: repeatedly delete
  * vertices whose degree among the SURVIVORS falls below k; the fixpoint is
  * the k-core (deletion order never matters — the k-core is unique).
  *
  * The committed state is the KEEP set (vid), hash-bucketed on `vid`. Keep
  * sets only shrink, so the surviving edges are a pure function of it,
  * alive_r = sym ∩ (keep_r × keep_r), and so is keep_{r+1}: a resumed run
  * continues the peel exactly where the killed run stopped (ResumeSpec).
  *
  * A round is one job: two semi-joins of the shared `sym` against keep_r,
  * then one aggregation (degrees). It scans all of `sym` every round; a
  * checkpointed alive set would scan only the shrinking edges, at one more
  * job a round. Measured at `local[4]`, k = 3, a 16-round peel (generated
  * transcript graph plus a 30-rung ladder), medians of 10 runs: 6.5 s vs
  * 11.0 s with that checkpoint at 67k edges, 10.9 s vs 16.5 s at 334k.
  *
  * Round count is CAPPED at `maxRounds` with early exit on fixpoint
  * (consecutive keep sets equal — monotonicity makes the count comparison
  * exact). The contract is "the surviving set after ≤ maxRounds peels",
  * which matches the oracle's unrolled CTE chain round for round, the same
  * fixed-round discipline as LPA.
  */
object KCore {

  final case class KCoreResult(members: DataFrame, rounds: Int, converged: Boolean)

  /** `sharedSym`: an already-materialized symmetric simple frame (the
    * engine's `undirected` memo — identical set to the one built here:
    * distinct symmetric closure, self-loops dropped). Passing it skips the
    * union+distinct shuffle this run would otherwise re-pay (guide §1.2). */
  def run(graph: LinkGraph, k: Int, maxRounds: Int = 8,
          mat: Materializer = new LocalMaterializer,
          sharedSym: Option[DataFrame] = None): KCoreResult =
    Fixpoint(graph.spark, mat, math.max(graph.numVertices, graph.numEdges)) { fx =>
      // Undirected distinct neighbor pairs, self-loops dropped: degree below
      // is |distinct neighbors|, mirroring the LPA sym frame and the oracle.
      // NOTE: k is run state, not a layout knob — a durable run encodes it
      // in the materializer's run fingerprint (Main passes k=<k>), so a
      // --resume with a different k is refused instead of silently blended.
      val sym = mat.shared("sym",
        sharedSym.getOrElse(
          graph.symmetrized.where(F.col("src") =!= F.col("dst")))
          .repartition(F.col("src")), repartitionKeys = Seq("src"))

      // survivors: degree within the subgraph alive = sym ∩ (keep × keep)
      // is ≥ k (sym is a distinct pair set, so count-by-src IS the degree)
      def step(round: Fixpoint.Round): DataFrame = {
        val keep = round.state
        sym
          .join(keep.withColumnRenamed("vid", "src"), Seq("src"), "left_semi")
          .join(keep.withColumnRenamed("vid", "dst"), Seq("dst"), "left_semi")
          .groupBy("src").agg(F.count(F.lit(1)).as("deg"))
          .where(F.col("deg") >= k).select(F.col("src").as("vid"))
      }

      // keep sets shrink monotonically, so an equal count means an equal
      // set, a stable subgraph, and no-op peels from here on
      val r = fx.run(Fixpoint.Loop(
        cols = Seq("vid"),
        maxRounds = maxRounds,
        init = () => graph.vertices.repartition(F.col("vid")),
        step = step,
        done = (s, last) => last.exists(_.rows == s.rows),
        note = s => Map("members" -> s.rows),
        meta = _ => Map("k" -> k),
        startStats = true))
      KCoreResult(r.state, r.rounds, r.done)
    }

  /** (vid, in_core) over the full vertex set — the query surface. */
  def membership(graph: LinkGraph, k: Int, maxRounds: Int = 8,
                 mat: Materializer = new LocalMaterializer,
                 sharedSym: Option[DataFrame] = None): DataFrame = {
    val m = run(graph, k, maxRounds, mat, sharedSym).members
      .withColumn("in_core", F.lit(true))
    graph.vertices.join(m, Seq("vid"), "left")
      .select(F.col("vid"), F.coalesce(F.col("in_core"), F.lit(false)).as("in_core"))
  }
}
