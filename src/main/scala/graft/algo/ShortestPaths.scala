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
  * Scale shape: a [[Fixpoint]] APPEND loop. Round t commits only its
  * IMPROVEMENT SLICE, the (o, v, dist) rows whose distance improved, and
  * the next round relaxes from that slice alone, so the relaxing work
  * tracks the wavefront (the same discipline as the BFS loop and the SCC
  * mark frontier). Per round ONE slice⋈edges join, ONE (o, v) min
  * aggregation and a strict-improvement left join against the best
  * distance so far, the min over every slice (one leaf hashed on (o, v),
  * no exchange) — no global sort, no driver-side state beyond the loop
  * counters. State is O(Σ|reachable ball|) rows.
  * Relaxation is monotone, so durable write volume tracks the wavefront,
  * not rounds × state; resume reads every committed slice back, and the
  * latest is the frontier.
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
    Fixpoint(graph.spark, mat, math.max(graph.numVertices, graph.numEdges)) { fx =>
      val edges = mat.shared("we",
        weightedEdges(graph, cost).repartition(F.col("src")),
        repartitionKeys = Seq("src"),
        fingerprint = Some("cost=kind:1/2"))
        .withColumnRenamed("src", "v")
      def best(slices: DataFrame): DataFrame =
        slices.groupBy("o", "v").agg(F.min("dist").as("dist"))

      // relax one wavefront, keep strict improvements only (the join with
      // the best distances places them on (o, v)), cheapest per (o, v):
      // the next frontier
      def step(round: Fixpoint.Round): DataFrame =
        round.slice.join(edges, "v")
          .select(F.col("o"), F.col("dst").as("v"), (F.col("dist") + F.col("cost")).as("nd"))
          .join(best(round.state), Seq("o", "v"), "left")
          .where(F.col("dist").isNull || F.col("nd") < F.col("dist"))
          .groupBy("o", "v").agg(F.min("nd").as("dist"))

      val r = fx.run(Fixpoint.Loop(
        cols = Seq("o", "v", "dist"),
        maxRounds = maxRounds,
        init = () => origins.select(F.col("vid").as("o"), F.col("vid").as("v"), F.lit(0).as("dist"))
          .repartition(F.col("o"), F.col("v")),
        step = step,
        done = (s, _) => s.rows == 0,
        note = s => Map("fresh" -> s.rows),
        append = Seq("o", "v")))
      SsspResult(best(r.state), r.rounds, converged = r.done)
    }
}
