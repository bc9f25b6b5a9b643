package graft

import java.sql.Timestamp

/** Core data model — SURVEY.md §1.2 / FIXTURES.md §1,3.
  *
  * Field names are snake_case to match the binding input schema
  * (BASELINE.json:15) byte-for-byte, so `as[Turn]` binds with no renames.
  */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: Option[String],
    ts: Timestamp
)

/** Weighted, typed edge. kind: 1 = turn-adjacency, 2 = tool-invocation. */
final case class Edge(src: Long, dst: Long, kind: Int, weight: Double)

/** PageRank state. */
final case class Rank(vid: Long, rank: Double)

/** CC / LPA state. */
final case class Label(vid: Long, label: Long)

/** Per-iteration convergence + lineage ledger (SURVEY.md §1.2 IterMetrics). */
final case class IterMetrics(
    runId: String,
    iter: Int,
    l1: Double,
    linf: Double,
    changed: Long,
    danglingMass: Double,
    wallMs: Long,
    partLineage: Seq[String],
    ts: Timestamp
)
