package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection, UnknownPartitioning}
import org.apache.spark.sql.classic.{Dataset => CDataset, SparkSession => CSparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Iterative-loop checkpoint that stays FLAT.
  *
  * `Dataset.localCheckpoint` (Spark 3.4+) rewraps the data in a LogicalRDD
  * that carries `originStats`/`originConstraints` referencing the
  * pre-checkpoint plan. In an iterative loop each iteration's leaf then
  * embeds the previous iteration's whole join tree: size-only statistics
  * MULTIPLY `sizeInBytes` across joins, so the BigInt digit count multiplies
  * every round and stats computation goes exponential (observed: >60s/iter
  * by round 10 on a 216-vertex graph, all in BigInteger.multiply).
  *
  * This shim materializes via RDD-level localCheckpoint and rebuilds a bare
  * LogicalRDD leaf: no origin stats, no origin constraints, but WITH the
  * physical `outputPartitioning`/`outputOrdering` — preserving the
  * one-shuffle-per-iteration partitioning contract of graft.algo.
  *
  * Lives under org.apache.spark.sql to reach the `private[sql]` Dataset
  * factory; uses only stable internals (LogicalRDD's public constructor).
  */
object FlatCheckpoint {

  /** Eagerly materialize `df`; returns a flat-leaf frame over the
    * checkpointed blocks. Caller may unpersist via the returned RDD.
    * `keys`: the columns `df` was repartitioned by. Spark plans a
    * one-partition repartition as SinglePartition, which a join does not
    * accept as co-partitioned with another one-partition side (it shuffles
    * both); with `keys` such a leaf reports hash partitioning on them into
    * one partition instead, as it would at any width. */
  def localCheckpoint(df: DataFrame, keys: Seq[String] = Nil): DataFrame =
    localCheckpointTracked(df, keys)._1

  /** Like [[localCheckpoint]] but also returns THE id of the persistent RDD
    * backing the checkpoint. Loop frameworks that reclaim prior generations
    * must unpersist exactly this id: diffing `sc.getPersistentRDDs` around
    * the call attributes every persistent RDD created DURING the frame's
    * computation (e.g. a shared cache persisted by a lazily-built input on
    * its first action) to the checkpoint, and a later sweep then unpersists
    * the unrelated cache (round-4 ADVICE). */
  def localCheckpointTracked(df: DataFrame, keys: Seq[String] = Nil): (DataFrame, Int) = {
    val ref = StateRef.of(df).keyedBy(keys)
    val internal: RDD[InternalRow] = ref.rdd.map(_.copy())
    internal.localCheckpoint()
    internal.count()
    (flatFrame(df.sparkSession.asInstanceOf[CSparkSession], ref.output, internal,
      ref.partitioning, ref.ordering), internal.id)
  }

  /** A frame over `rdd` as a bare LogicalRDD leaf. The leaf is marked
    * analyzed, so the frame costs no analyzer pass; a flat frame's rows are
    * read back with no planning at all (StateRef.of). */
  def flatFrame(session: CSparkSession, output: Seq[Attribute], rdd: RDD[InternalRow],
                partitioning: Partitioning, ordering: Seq[SortOrder]): DataFrame = {
    val logical = LogicalRDD(output, rdd, partitioning, ordering,
      isStreaming = false, stream = None)(session, None, None)
    logical.setAnalyzed()
    CDataset.ofRows(session, logical)
  }

  /** Mirrors Spark's own Dataset.checkpoint normalization — a
    * PartitioningCollection must collapse to ONE concrete partitioning —
    * but picks the member whose referenced columns appear EARLIEST in the
    * output instead of blindly the first. Alias-aware projections list
    * alias candidates first: an init frame `select(vid, vid AS label,
    * vid AS prev)` reports (prev | label | vid), and a head-pick keeps
    * `prev` — which the next round's `select(vid, label)` drops, silently
    * discarding the partitioning and buying an extra state exchange in
    * round 1 of every cold-started loop. The loop key (vid/src/u) is by
    * convention the first output column, so earliest-column wins. */
  private[graft] def pickPartitioning(p: Partitioning, output: Seq[Attribute]): Partitioning =
    p match {
      case c: PartitioningCollection =>
        def score(m: Partitioning): Int = m match {
          case e: Expression =>
            val idxs = e.references.toSeq.map(a => output.indexWhere(_.exprId == a.exprId))
            if (idxs.isEmpty) 0
            else if (idxs.exists(_ < 0)) Int.MaxValue // refs not in output: useless downstream
            else idxs.max
          case _ => 0
        }
        c.partitionings.map(pickPartitioning(_, output))
          .sortBy(score).headOption // stable sort: ties keep Spark's order
          .getOrElse(UnknownPartitioning(c.numPartitions))
      case other => other
    }
}
