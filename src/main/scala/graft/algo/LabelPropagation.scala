package graft.algo

import org.apache.spark.sql.{DataFrame, functions => F}

import graft.graph.LinkGraph
import graft.plans.{Fold, GraftPlans}

/** Synchronous label propagation — SURVEY.md §2.10.
  *
  *   label0(v)    = vid
  *   label_t+1(v) = argmax_l |{u ∈ N(v) : label_t(u) = l}|,
  *                  ties broken by SMALLEST label; keep label if no nbrs.
  *
  * Synchronous update + deterministic tie-break ⇒ bit-exact reproducible
  * labels (BASELINE.json:6 "exact for … label ids"). The argmax is
  * `max_by(label, struct(cnt, -label))` — one aggregation, no second
  * shuffle, and the ordering struct is unique per (dst,label) so the pick
  * is total. Runs `maxRounds` or to fixpoint.
  */
final case class LpaResult(
    labels: DataFrame, // (vid: long, label: long)
    rounds: Int,
    converged: Boolean, // true iff a round saw zero label changes (LPA also
                        // legitimately stops at maxRounds — the classic cap)
    metricsLog: Seq[Map[String, Any]])

object LabelPropagation {

  /** `packedAdjacency`: hub-split vertex-major arrays + CsrExpand CopyLabel
    * expansion (see ConnectedComponents.run) — identical labels. */
  def run(graph: LinkGraph, maxRounds: Int = 10,
          mat: Materializer = new LocalMaterializer,
          packedAdjacency: Boolean = false,
          packedSegment: Int = graft.scale.Csr.DefaultSegment): LpaResult =
    Fixpoint(graph.spark, mat, math.max(graph.numVertices, graph.numEdges)) { fx =>
      val sym = ConnectedComponents.symEdges(graph, mat, packedAdjacency, packedSegment)

      def step(round: Fixpoint.Round): DataFrame = {
        val state = round.state
        // Count neighbor labels, then argmax with smallest-label tie-break.
        // Explicit dst-clustered exchange: HashPartitioning(dst) satisfies
        // BOTH groupBy(dst,label) and groupBy(dst), so the round pays one
        // shuffle, not two; at width 1 it pays none (the prepared round
        // drops a shuffle from one partition into one).
        val joined = sym.join(state.withColumnRenamed("vid", "src").hint("shuffle_hash"), "src")
        val flat =
          if (packedAdjacency) GraftPlans.expandLabels(joined)
          else joined.select(F.col("dst"), F.col("label"))
        val counts = flat
          .repartition(F.col("dst"))                          // THE shuffle (width > 1)
          .groupBy("dst", "label")
          .agg(F.count(F.lit(1)).as("cnt"))
        val best = counts
          .groupBy("dst")                                     // no exchange
          .agg(F.max_by(F.col("label"), F.struct(F.col("cnt"), (-F.col("label")).as("nl"))).as("new_label"))
          .withColumnRenamed("dst", "vid")
        state
          .withColumnRenamed("label", "prev")
          .join(best.hint("shuffle_hash"), Seq("vid"), "left") // no exchange
          .select(F.col("vid"),
            F.coalesce(F.col("new_label"), F.col("prev")).as("label"),
            F.col("prev"))
      }

      val r = fx.run(Fixpoint.Loop(
        cols = Seq("vid", "label"),
        maxRounds = maxRounds,
        init = () => graph.vertices
          .repartition(F.col("vid"))
          .select(F.col("vid"), F.col("vid").as("label"), F.col("vid").as("prev")),
        step = step,
        stats = Seq(Fold.sum("changed", F.when(F.col("label") =!= F.col("prev"), 1L).otherwise(0L))),
        done = (s, _) => s.long("changed") == 0L,
        note = s => Map("changed" -> s.long("changed"))))
      LpaResult(r.state, r.rounds, converged = r.done, mat.log)
    }
}
