package graft.algo

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.graft.FlatCheckpoint

import graft.graph.LinkGraph

/** Truncated Katz centrality — SURVEY.md §2.10; durable.
  * katz(v) = Σ_{k=1..R} α^k · |paths of length k ending at v| over the
  * distinct directed simple edge set, computed by the recurrence
  * c_t = α · Aᵀ(1 + c_{t−1}), c_0 = 0 — each round is the engine's
  * standard one-join-one-agg kernel (edges⋈state, sum by dst). The
  * R-round truncation makes the estimator deterministic for ANY α (no
  * spectral-radius convergence argument needed), which is what lets the
  * DuckDB oracle reproduce it exactly with unrolled round CTEs. Like
  * betweenness's δ, the per-round sums accumulate non-integer doubles,
  * so 6dp values carry a theoretical 1-ulp boundary risk between
  * engines — held at three scale factors.
  *
  * Runs on [[Fixpoint]]: each round commits the (vid, c) state.
  *
  * Scale shape: state is one double per vertex; per round one shuffle;
  * work R·|E| — the same profile as a fixed-iteration PageRank without
  * the degree normalization.
  */
object Katz {

  def run(graph: LinkGraph, alpha: Double, rounds: Int,
          mat: Materializer = new LocalMaterializer): DataFrame =
    Fixpoint(graph.spark, mat, math.max(graph.numVertices, graph.numEdges)) { fx =>
      val de = Neighborhood.directedEdges(graph, mat, reverse = false, fingerprint = None)
      // keyed like the state, so a round re-shuffles no vertex
      val vertices = mat.shared("vertices", graph.vertices.repartition(F.col("vid")),
        repartitionKeys = Seq("vid"))
      val r = fx.run(Fixpoint.Loop(
        cols = Seq("vid", "c"),
        maxRounds = rounds,
        // sorted on vid like every later commit (a sort-merge join's
        // output), so the loop plans its round once
        init = () => vertices.select(F.col("vid"), F.lit(0.0).as("c")).sortWithinPartitions("vid"),
        step = round => {
          val agg = round.state.join(de.withColumnRenamed("src", "vid"), "vid")
            .groupBy(F.col("dst").as("vid"))
            .agg((F.lit(alpha) * F.sum(F.col("c") + 1.0)).as("nc"))
          vertices.join(agg, Seq("vid"), "left")
            .select(F.col("vid"), F.coalesce(F.col("nc"), F.lit(0.0)).as("c"))
        }))
      FlatCheckpoint.localCheckpoint(
        r.state.select(F.col("vid"), F.round(F.col("c"), 6).as("katz")).orderBy("vid"))
    }
}
