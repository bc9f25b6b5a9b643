package graft.algo

import org.apache.spark.sql.{DataFrame, functions => F}

import graft.graph.LinkGraph

/** Landmark (hub) distance labels — SURVEY.md §2.10. The
  * reference repo's signature domain is hub labelings for fast
  * point-to-point distance queries on large graphs; the Spark-native
  * re-expression here is the landmark sketch family (Das Sarma et al.
  * "A sketch-based distance oracle", WSDM 2010; Potamias et al. "Fast
  * shortest-path distance estimation in large networks", CIKM 2009 —
  * public lineage): pick the top-L vertices by degree as landmarks, run
  * one multi-source BFS FROM them (edge direction) and one INTO them
  * (reversed edges), and answer dist(u→v) with the label join
  *
  *   dist(u→v) ≤ min_{hub h} d(u→h) + d(h→v)
  *
  * — an upper bound that is EXACT whenever some shortest u→v path passes
  * a landmark (always true when u or v is itself a landmark). Both BFS
  * runs are [[Neighborhood.bfsFrom]] loops: one shuffle per round,
  * label state O(n·L) rows bucketed by origin, durable/resumable via the
  * standard Materializer contract.
  *
  * Truncation: distances are capped at maxT (the BFS horizon), so labels
  * are well-defined and the query bound is over hubs within maxT of both
  * endpoints — the standard sketch truncation, matched exactly by the
  * driver oracle's depth-bounded closures.
  */
object HubLabels {

  final case class HubResult(
      labelsOut: DataFrame, // (vid, hub, d): d = dist(vid → hub)
      labelsIn: DataFrame, // (vid, hub, d): d = dist(hub → vid)
      landmarks: DataFrame) // (vid)

  /** Top-L landmarks by simple-graph degree (out + in occurrences over the
    * distinct directed edge set), ties broken by smaller vid — the classic
    * highest-degree landmark heuristic, deterministic at every SF. */
  def landmarks(graph: LinkGraph, l: Int): DataFrame = {
    val de = graph.directed.where(F.col("src") =!= F.col("dst"))
    de.select(F.col("src").as("vid"))
      .unionAll(de.select(F.col("dst").as("vid")))
      .groupBy("vid").agg(F.count(F.lit(1)).as("deg"))
      .orderBy(F.col("deg").desc, F.col("vid").asc)
      .limit(l).select("vid")
  }

  /** Build both label sides with two landmark-seeded BFS runs. */
  def build(graph: LinkGraph, l: Int, maxT: Int,
            matFwd: Materializer = new LocalMaterializer,
            matBwd: Materializer = new LocalMaterializer): HubResult = {
    val lm = landmarks(graph, l)
    // forward reach (o=hub, v, d): d = dist(hub→v) → the IN label of v
    val fwd = Neighborhood.bfsFrom(graph, lm, maxT, reverse = false, matFwd)
    // reversed reach (o=hub, v, d): d = dist(v→hub) → the OUT label of v
    val bwd = Neighborhood.bfsFrom(graph, lm, maxT, reverse = true, matBwd)
    HubResult(
      labelsOut = bwd.select(F.col("v").as("vid"), F.col("o").as("hub"), F.col("d")),
      labelsIn = fwd.select(F.col("v").as("vid"), F.col("o").as("hub"), F.col("d")),
      landmarks = lm)
  }

  /** Answer a batch of (u, v) pairs from the labels: dist_ub =
    * min over shared hubs of d(u→hub) + d(hub→v). Pairs with no shared
    * hub within the horizon produce no row (unknown distance). Two hash
    * joins + one agg — no BFS at query time, the whole point of labels. */
  def distances(pairs: DataFrame, labels: HubResult): DataFrame =
    pairs
      .join(labels.labelsOut.select(
        F.col("vid").as("u"), F.col("hub"), F.col("d").as("du")), "u")
      .join(labels.labelsIn.select(
        F.col("vid").as("v"), F.col("hub"), F.col("d").as("dv")), Seq("v", "hub"))
      .groupBy("u", "v")
      .agg(F.min(F.col("du") + F.col("dv")).cast("int").as("dist_ub"))
}
