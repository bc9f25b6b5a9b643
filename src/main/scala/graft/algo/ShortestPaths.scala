package graft.algo

import org.apache.spark.sql.{DataFrame, functions => F}

import graft.graph.LinkGraph

/** Weighted multi-source shortest paths — SURVEY.md §2.10. The
  * reference repo's domain is distance computation on large graphs; BFS
  * ([[Neighborhood.bfsFrom]]) covers hop-count metrics, and this is its
  * weighted counterpart: distributed Bellman-Ford relaxation (the classic
  * Pregel/GraphX SSSP shape, re-expressed as Dataset joins), computing
  * dist(o→v) = min over paths of ≤ maxRounds edges of the path cost.
  * With maxRounds ≥ |V|−1 that is exact Dijkstra distance; bounded rounds
  * give the standard hop-truncated semantics, matched exactly by the
  * driver oracle's hop-bounded recursive closure (OracleSql.gSssp).
  *
  * Edge costs are INTEGER and per-kind (adjacency = 1, tool-invocation
  * = 2, parallel edges take the min) — deterministic, and they keep the
  * oracle's path-cost state space finitely enumerable. The cost column is
  * a parameter; any integer expression over (src, dst, kind, weight)
  * works.
  *
  * Scale shape: per round ONE frontier⋈edges join + ONE (o, v) min
  * aggregation (map-side partial combine) + a strict-improvement
  * left join — no global sort, no driver-side state beyond the loop
  * counters. State is O(Σ|reachable ball|) rows bucketed by origin; the
  * frontier is only the rows whose distance IMPROVED last round, so work
  * per round tracks the relaxation wavefront, not the accumulated state
  * (the same discipline as the BFS loop and the SCC mark frontier).
  * Durable per round via the standard [[Materializer]] contract; resume
  * restarts with frontier = full committed state, which is correct because
  * relaxation is monotone (re-relaxing settled rows is a no-op).
  */
object ShortestPaths {

  final case class SsspResult(
      dists: DataFrame, // (o, v, dist: int)
      rounds: Int,
      converged: Boolean) // frontier drained before maxRounds

  /** Default per-kind integer cost: turn-adjacency hops cost 1,
    * tool-invocation hops cost 2. */
  val KindCost: org.apache.spark.sql.Column =
    F.when(F.col("kind") === 1, F.lit(1)).otherwise(F.lit(2))

  /** The weighted simple edge set (src, dst, cost): self-loops dropped,
    * parallel edges collapsed to their cheapest kind. */
  def weightedEdges(graph: LinkGraph,
                    cost: org.apache.spark.sql.Column = KindCost): DataFrame =
    graph.edges.where(F.col("src") =!= F.col("dst"))
      .select(F.col("src"), F.col("dst"), cost.cast("int").as("cost"))
      .groupBy("src", "dst").agg(F.min("cost").as("cost"))

  def run(graph: LinkGraph, origins: DataFrame, maxRounds: Int,
          cost: org.apache.spark.sql.Column = KindCost,
          mat: Materializer = new LocalMaterializer): SsspResult =
    IterativeConf(graph.spark, Some(mat.loopPartitions.getOrElse(
      IterativeConf.adaptivePartitions(graph.spark,
        math.max(graph.numVertices, graph.numEdges))))) {
      val fl = new FlatLoop(graph.spark)
      val edges = mat.shared("we",
        weightedEdges(graph, cost).repartition(F.col("src")),
        repartitionKeys = Seq("src"),
        fingerprint = Some("cost=kind:1/2"))

      // Durable commits are the per-round IMPROVEMENT SLICES (o, v, dist):
      // relaxation is monotone, so the committed state is equivalently
      // min-over-slices — total durable write volume tracks the improvement
      // wavefront, not rounds × full state, with no per-round full-state
      // repartition or second materialization (guide §2.4/§1.2; the same
      // slice layout as Betweenness).
      val (start, state0, frontier0) = mat.resumeSlices() match {
        case Nil =>
          val init = origins.select(
            F.col("vid").as("o"), F.col("vid").as("v"), F.lit(0).as("dist"))
          val s = fl.ckpt("state",
            mat.iter(0, init.repartition(F.col("o")), Map("init" -> true)))
          (0, s, s)
        case slices =>
          val t0 = slices.map(_._1).max
          val s = fl.ckpt("state",
            slices.map(_._2.select("o", "v", "dist")).reduce(_ unionByName _)
              .groupBy("o", "v").agg(F.min("dist").as("dist")))
          // monotone relaxation: the full reconstructed state is a correct
          // (if generous) frontier — superseded rows relax to no-ops
          (t0, s, s)
      }
      var state = state0
      var frontier = frontier0
      var t = start
      var active = frontier.count() > 0
      while (t < maxRounds && active) {
        t += 1
        // relax one wavefront: cheapest new distance per (o, v) this round
        val cand = frontier.join(edges.withColumnRenamed("src", "v"), "v")
          .select(F.col("o"), F.col("dst").as("v"),
            (F.col("dist") + F.col("cost")).as("nd"))
          .groupBy("o", "v").agg(F.min("nd").as("nd"))
        // keep strict improvements only — the next frontier
        val fresh = fl.ckpt("frontier",
          cand.join(state, Seq("o", "v"), "left")
            .where(F.col("dist").isNull || F.col("nd") < F.col("dist"))
            .select(F.col("o"), F.col("v"), F.col("nd").as("dist")))
        val nf = fresh.count()
        if (nf == 0) active = false
        else {
          mat.iter(t, fresh, Map("fresh" -> nf)) // slice commit; return unused
          state = fl.ckpt("state",
            state.join(fresh.select("o", "v"), Seq("o", "v"), "left_anti")
              .unionByName(fresh))
          frontier = fresh
        }
        fl.sweep("state", "frontier")
      }
      // the final frontier generation is dead once the loop exits
      fl.releaseAll("state")
      mat.close()
      SsspResult(state, t, converged = !active)
    }
}
