package graft.algo

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.graft.FlatCheckpoint

import graft.plans.Fold

/** Deterministic maximal independent set — SURVEY.md §2.10 (round 6).
  * Local-min rounds over the undirected simple graph (the deterministic
  * skeleton of Luby '86, with vid as the permanent priority instead of a
  * per-round coin — every round is reproducible, which is what lets the
  * unrolled DuckDB oracle replay it):
  *
  *   round t: every UNDECIDED vertex whose vid is smaller than all of its
  *   undecided neighbors' vids joins the MIS; its undecided neighbors
  *   become excluded.
  *
  * Two adjacent vertices can never both join in one round (one of them
  * has the smaller vid), so the invariant "in-set vertices are pairwise
  * non-adjacent" holds by construction; a vertex only becomes `out` when
  * an in-set neighbor exists, so at fixpoint the set is maximal.
  *
  * ROUND-CAPPED, like k-core: vid-as-priority settles only the current
  * local minima each round, so adversarial orderings (a vid-sorted path)
  * need O(n) rounds — the published fix is random priorities (O(log n)
  * w.h.p.), which this estimator deliberately trades away for exact
  * replayability. The output therefore carries state 0 = undecided
  * alongside 1 = in / 2 = out; `rounds` is the work bound, undecided
  * rows the honest remainder (none at fixture scale; the loop exits
  * early when a round settles nothing).
  *
  * Scale shape: state one int per vertex; per round one edges⋈state join
  * + min-by-src agg (map-side combinable) + one neighbor-broadcast join
  * over the (small) newly-settled set; the undecided frontier only
  * shrinks.
  *
  * Runs on [[Fixpoint]]: each round commits (vid, st).
  */
object Mis {

  /** @param und symmetric simple adjacency (src, dst), both directions,
    *            no self-loops — the engine's shared `undirected` frame.
    * @param sizeHint max(vertices, edges): the loop width's sizing signal
    * @return (vid, st) with st 1 = in MIS, 2 = excluded, 0 = undecided
    *         (only when the round cap fires before fixpoint). */
  def run(vertices: DataFrame, und: DataFrame, rounds: Int, sizeHint: Long,
          mat: Materializer = new LocalMaterializer): DataFrame =
    Fixpoint(vertices.sparkSession, mat, sizeHint) { fx =>
      val edges = mat.shared("und", und.repartition(F.col("src")),
        repartitionKeys = Seq("src"))
      def step(round: Fixpoint.Round): DataFrame = {
        val undec = round.state.where(F.col("st") === 0).select("vid")
        // min undecided-neighbor vid per undecided vertex (one shuffle)
        val minNb = edges
          .join(undec.withColumnRenamed("vid", "dst"), "dst")
          .join(undec.withColumnRenamed("vid", "src"), "src")
          .groupBy(F.col("src").as("vid")).agg(F.min("dst").as("mn"))
        // local minima join the set; isolated-in-the-undecided-subgraph
        // vertices (no undecided neighbor at all) join too
        val newIn = undec.join(minNb, Seq("vid"), "left")
          .where(F.col("mn").isNull || F.col("vid") < F.col("mn"))
          .select("vid")
        // their undecided neighbors leave
        val newOut = edges.join(newIn.withColumnRenamed("vid", "src"), "src")
          .select(F.col("dst").as("vid")).distinct()
          .join(undec, Seq("vid"), "left_semi")
          .join(newIn, Seq("vid"), "left_anti")
        round.state.join(newIn.withColumn("in1", F.lit(1)), Seq("vid"), "left")
          .join(newOut.withColumn("out2", F.lit(2)), Seq("vid"), "left")
          .select(F.col("vid"),
            F.when(F.col("st") =!= 0, F.col("st"))
              .when(F.col("in1").isNotNull, F.lit(1))
              .when(F.col("out2").isNotNull, F.lit(2))
              .otherwise(F.lit(0)).as("st"))
      }
      val r = fx.run(Fixpoint.Loop(
        cols = Seq("vid", "st"),
        maxRounds = rounds,
        init = () => vertices.select(F.col("vid"), F.lit(0).as("st"))
          .repartition(F.col("vid")),
        step = step,
        stats = Seq(Fold.sum("undecided", F.when(F.col("st") === 0, 1L).otherwise(0L))),
        done = (s, _) => s.long("undecided") == 0L))
      FlatCheckpoint.localCheckpoint(r.state.orderBy("vid"))
    }
}
