package graft.graph

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window

/** A built link graph: integer-id weighted edges + the entity dictionary.
  * GraphBuilder materializes both (flat checkpoints).
  *
  * edges: (src: long, dst: long, kind: int, weight: double) — kind 1 =
  * adjacency, 2 = invocation; parallel raw edges are collapsed into weight.
  * dict:  (key: string, vid: long) — deterministic dense ids (DenseId).
  */
final case class LinkGraph(edges: DataFrame, dict: DataFrame) {
  def spark = edges.sparkSession
  lazy val numVertices: Long = dict.count()
  lazy val numEdges: Long = edges.count()

  /** All vertex ids (every dict entry appears in ≥1 edge by construction). */
  def vertices: DataFrame = dict.select("vid")

  /** Distinct directed pairs, ignoring kind/weight — MATERIALIZED once per
    * graph on first use: ~8 algo/query consumers (HITS, Katz, betweenness,
    * BFS, SCC, reciprocity, hub landmarks, …) each re-ran this distinct as
    * a full edge shuffle per pass before round 7 (guide §1.2/§2.4). The
    * graph instance is memoized per (session, dir) and dropped by
    * Caches.clear together with its blocks, so the lifetime matches the
    * other shared frames. */
  lazy val directed: DataFrame =
    org.apache.spark.sql.graft.FlatCheckpoint.localCheckpoint(
      edges.select("src", "dst").distinct())

  /** Distinct symmetric closure — undirected semantics for CC/LPA;
    * materialized once per graph for the same reason as [[directed]]. */
  lazy val symmetrized: DataFrame =
    org.apache.spark.sql.graft.FlatCheckpoint.localCheckpoint {
      val d = edges.select("src", "dst")
      d.union(d.select(F.col("dst").as("src"), F.col("src").as("dst"))).distinct()
    }
}

/** Edge derivation from transcript / event tables — SURVEY.md §2.3.
  *
  * All derivations are under stable (conv_id, turn_idx) ordering (E1);
  * adjacency uses a window `lead`, not a self-join — one shuffle on the
  * conversation key, no join (E2). The `text` column is never selected on
  * the graph path, so Parquet column pruning keeps 10^12-turn scans cheap.
  */
object GraphBuilder {

  val KindAdjacency = 1
  val KindInvocation = 2

  /** entity(t) = "tool:"+tool if tool set else "role:"+role (FIXTURES.md §4). */
  def entityKey(role: Column, tool: Column): Column =
    F.when(tool.isNotNull && tool =!= "", F.concat(F.lit("tool:"), tool))
      .otherwise(F.concat(F.lit("role:"), role))

  /** turns: (conv_id, turn_idx, role, text, tool, ts) — binding schema. */
  def fromTranscripts(turns: DataFrame, dictPartitions: Int = 0): LinkGraph = {
    val keyed = turns.select(
      F.col("conv_id"),
      F.col("turn_idx"),
      entityKey(F.col("role"), F.col("tool")).as("key"),
      F.col("tool"))
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
    val adjacency = keyed
      .withColumn("next_key", F.lead("key", 1).over(w))
      .where(F.col("next_key").isNotNull && F.col("key") =!= F.col("next_key"))
      .select(F.col("key").as("src_key"), F.col("next_key").as("dst_key"),
              F.lit(KindAdjacency).as("kind"))
    val invocation = keyed
      .where(F.col("tool").isNotNull && F.col("tool") =!= "")
      .select(F.concat(F.lit("conv:"), F.col("conv_id")).as("src_key"),
              F.concat(F.lit("tool:"), F.col("tool")).as("dst_key"),
              F.lit(KindInvocation).as("kind"))
    build(adjacency.union(invocation), dictPartitions)
  }

  /** Secondary edge source: the `events` table (FIXTURES.md §6) —
    * per-user time-ordered event_type adjacency mirrors turn-adjacency;
    * user→event_type mirrors tool invocation. Must stay in lock-step with
    * the DuckDB oracle in [[graft.queries.OracleSql.eventEdges]].
    */
  def fromEvents(events: DataFrame, dictPartitions: Int = 0): LinkGraph = {
    val keyed = events.select(
      F.col("user_id"),
      F.col("event_id"),
      F.concat(F.lit("etype:"), F.col("event_type")).as("key"),
      F.col("event_type"))
    val w = Window.partitionBy("user_id").orderBy("event_id")
    val adjacency = keyed
      .withColumn("next_key", F.lead("key", 1).over(w))
      .where(F.col("next_key").isNotNull && F.col("key") =!= F.col("next_key"))
      .select(F.col("key").as("src_key"), F.col("next_key").as("dst_key"),
              F.lit(KindAdjacency).as("kind"))
    val invocation = keyed
      .select(F.concat(F.lit("user:"), F.col("user_id").cast("string")).as("src_key"),
              F.concat(F.lit("etype:"), F.col("event_type")).as("dst_key"),
              F.lit(KindInvocation).as("kind"))
    build(adjacency.union(invocation), dictPartitions)
  }

  /** raw: (src_key, dst_key, kind) string edges → dense-id weighted graph.
    * `raw` is consumed three times (key dictionary + two id joins); persist
    * it so the upstream window/scan runs once (spills to disk at scale —
    * the 100 TB variant would stage it to a table instead). The edges are
    * materialized here, once (a flat checkpoint), so no reader of
    * `edges` re-runs the dictionary joins; `raw` is freed after. */
  def build(raw0: DataFrame, dictPartitions: Int = 0): LinkGraph = {
    val raw = raw0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keys = raw.select(F.col("src_key").as("key"))
      .union(raw.select(F.col("dst_key").as("key")))
    val dict = DenseId.assign(keys, "key", dictPartitions)
    val s = dict.withColumnRenamed("key", "src_key").withColumnRenamed("vid", "src")
    val d = dict.withColumnRenamed("key", "dst_key").withColumnRenamed("vid", "dst")
    // Dictionary joins: vertex-dictionary side is per-entity (≪ edges); AQE
    // turns these into broadcast joins when the dict is small enough.
    val edges = org.apache.spark.sql.graft.FlatCheckpoint.localCheckpoint(raw
      .join(s, "src_key")
      .join(d, "dst_key")
      .groupBy("src", "dst", "kind")
      .agg(F.count(F.lit(1)).cast("double").as("weight")))
    raw.unpersist(blocking = false)
    LinkGraph(edges, dict)
  }
}
