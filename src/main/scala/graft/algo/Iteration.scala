package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.FlatCheckpoint

import graft.io.TableIO

/** Per-iteration materialization — SURVEY.md §4.4.
  *
  * Iterative DataFrame loops MUST cut lineage every round: the logical plan
  * otherwise grows super-linearly and analysis cost explodes. Both backends
  * also keep the ITERATION PARTITIONING CONTRACT: the returned frame
  * preserves the physical hash-partitioning of the input plan
  * (localCheckpoint / cache carry `outputPartitioning` through), so a loop
  * that materializes state hash-partitioned by `vid` and its edge invariant
  * by `src` pays exactly ONE exchange per iteration — the message groupBy
  * (none at width 1, where a loop's prepared round drops it).
  * Previous iterations' blocks are freed as the loop advances.
  */
// Deliberately NOT sealed: custom backends — an Iceberg-commit
// materializer in a real deployment, the fault-injecting wrapper the
// kill+resume specs use — extend it outside this file.
trait Materializer {
  /** Partition count the loop should run at, when this backend has an
    * opinion (a bucketed durable checkpoint must keep the loop at its
    * bucket count so the resumed scan's HashPartitioning matches). None ⇒
    * the loop may pick adaptively. */
  def loopPartitions: Option[Int] = None
  /** Materialize iteration `iter`'s state; returns the truncated frame. */
  def iter(iter: Int, df: DataFrame, meta: Map[String, Any]): DataFrame
  /** Materialize a loop-invariant dataset (normalized edges, vertex meta).
    * Caller chooses the partitioning (repartition by the join key first)
    * AND declares it via `repartitionKeys`: a durable backend that finds a
    * previously COMMITTED copy reads it back instead of recomputing —
    * that's the restart-recovery story — and must re-establish the hash
    * partitioning the parquet roundtrip dropped, at the loop's width.
    * At width 1 both backends report the result hash-partitioned on the
    * keys (FlatCheckpoint.localCheckpoint), not SinglePartition, so the
    * invariant stays co-partitioned with the loop state.
    *
    * `fingerprint`: an identity string for the PARAMETERS this invariant
    * was derived with (PageRank's edge weighting, a PPR seed set; the
    * run-level input token comes from the materializer's constructor). A
    * durable backend records it in the commit manifest and RECOMPUTES
    * instead of reading back when the committed value differs — without
    * it, a resumed run whose parameters changed under the same ckpt dir
    * would silently serve the stale snapshot.
    * Deliberately NOT a data fingerprint: read-back must keep working
    * when the input is gone (the restart-recovery contract, ResumeSpec). */
  def shared(name: String, df: DataFrame, repartitionKeys: Seq[String] = Nil,
             fingerprint: Option[String] = None): DataFrame
  /** Resume point: highest committed iteration and its state, if any. */
  def resume(): Option[(Int, DataFrame)]
  /** Every committed iteration ascending — for loops whose commits are
    * per-round SLICES rather than cumulative snapshots (Betweenness commits
    * one (phase, level) slice per round, so total durable write volume is
    * O(state), not O(rounds × state)). Default: the latest cumulative
    * snapshot as a single slice, which is exactly resume(). */
  def resumeSlices(): Seq[(Int, DataFrame)] = resume().toSeq
  /** Record metrics of iter's commit (the loops fold them in the commit
    * job itself, graft.plans.FoldStats) — the IterMetrics ledger
    * [BASELINE.json:6]. */
  def note(iter: Int, meta: Map[String, Any]): Unit
  def log: Seq[Map[String, Any]]
  /** Release loop-invariant resources at end of run (keeps final state). */
  def close(): Unit = ()
}

/** Ephemeral: eager flat localCheckpoint (partitioning-preserving, no
  * origin-stats chaining — see FlatCheckpoint), previous iteration's RDD
  * blocks unpersisted as the loop advances (a one-slot [[FlatLoop]]). Not
  * resumable. */
final class LocalMaterializer extends Materializer {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
  private lazy val loop = new FlatLoop(SparkSession.active)

  override def iter(iter: Int, df: DataFrame, meta: Map[String, Any]): DataFrame = {
    buf += (meta + ("iter" -> iter))
    val out = loop.ckpt("state", df)
    loop.sweep("state")
    out
  }
  override def shared(name: String, df: DataFrame, repartitionKeys: Seq[String],
                      fingerprint: Option[String]): DataFrame =
    FlatCheckpoint.localCheckpoint(df, repartitionKeys) // nothing durable to read back
  override def resume(): Option[(Int, DataFrame)] = None
  override def note(iter: Int, meta: Map[String, Any]): Unit =
    buf += (meta + ("iter" -> iter))
  override def log: Seq[Map[String, Any]] = buf.toSeq
}

/** Durable + resumable: every iteration is an atomic TableIO commit whose
  * manifest carries per-partition lineage; convergence metrics follow as an
  * atomic note. The frame handed back to the loop is the CACHED pre-write
  * plan (partitioning preserved, no re-read), so durability costs one
  * parquet write per iteration, not an extra exchange. With `bucket =
  * Some((key, P))` snapshots are written hash-BUCKETED on the loop key, so
  * a RESUMED loop's state scan reports HashPartitioning(key, P) and the
  * one-shuffle contract holds from the first resumed iteration too (without
  * it, resume pays one recovery re-shuffle).
  *
  * `runFingerprint` identifies the RUN'S INPUT (e.g. Main passes the
  * --input/--events/--conv token): it joins every shared() call's
  * parameter fingerprint, so pointing the same ckpt dir at a different
  * input recomputes the invariants instead of serving stale snapshots. */
final class CheckpointMaterializer(io: TableIO, val stateTable: String,
                                   bucket: Option[(String, Int)] = None,
                                   runFingerprint: Option[String] = None) extends Materializer {
  private lazy val loop = new FlatLoop(SparkSession.active)

  override def iter(iter: Int, df: DataFrame, meta: Map[String, Any]): DataFrame = {
    // One compute: flat checkpoint; the durable parquet write + manifest
    // then stream from the checkpointed blocks, not a recompute.
    val flat = loop.ckpt("state", df)
    // Stamp the run identity on every state commit: resume() verifies it,
    // so mid-run state is as staleness-guarded as the shared invariants
    // (a ppr --resume with a changed seed spec must not silently continue
    // from the old seed set's iteration state).
    val stamped = runFingerprint.map(f => meta + ("run_fingerprint" -> (f: Any))).getOrElse(meta)
    io.commit(stateTable, iter, flat, stamped, bucket)
    // the previous round's blocks go only after the new commit
    loop.sweep("state")
    flat
  }
  /** A committed copy is READ BACK instead of recomputed — a restarted run
    * reuses its invariants (a commit that is never read back gives no
    * recovery). The parquet roundtrip drops hash partitioning, so the
    * caller-declared keys are re-applied at the loop width before the flat
    * checkpoint — the one-shuffle-per-round contract holds from the first
    * resumed round.
    *
    * Staleness guard: the effective fingerprint
    * (runFingerprint + the call's parameter fingerprint) is recorded in
    * the commit manifest; a committed snapshot whose recorded fingerprint
    * DIFFERS from the current one is recomputed and committed as the next
    * snapshot id instead of being trusted by name alone. A snapshot with
    * no recorded fingerprint (older layout) is trusted — back-compat. */
  override def shared(name: String, df: DataFrame, repartitionKeys: Seq[String],
                      fingerprint: Option[String]): DataFrame = {
    val table = s"$stateTable-$name"
    val fp = (runFingerprint.toSeq ++ fingerprint.toSeq).mkString(";") match {
      case "" => None
      case s  => Some(s)
    }
    def commitFresh(iter: Int): DataFrame = {
      val flat = FlatCheckpoint.localCheckpoint(df, repartitionKeys)
      io.commit(table, iter, flat, fp.map(f => "fingerprint" -> (f: Any)).toMap)
      flat
    }
    io.latest(table) match {
      case Some(i) =>
        val recorded = io.commitLog(table)
          .find(_.get("iter").exists(_.toString == i.toString))
          .flatMap(_.get("fingerprint")).map(_.toString)
        val stale = (fp, recorded) match {
          case (Some(f), Some(r)) => f != r
          case _                  => false
        }
        if (stale) {
          Console.err.println(s"[graft] shared invariant $table/iter=$i was " +
            s"committed with fingerprint '${recorded.getOrElse("")}' but this " +
            s"run computes '${fp.get}' — recomputing instead of reusing")
          commitFresh(i + 1)
        } else {
          val back = io.read(table, i)
          val placed =
            if (repartitionKeys.isEmpty) back
            else back.repartition(repartitionKeys.map(org.apache.spark.sql.functions.col): _*)
          FlatCheckpoint.localCheckpoint(placed, repartitionKeys)
        }
      case None => commitFresh(0)
    }
  }
  /** Resume is REFUSED (loudly, not silently recomputed) when the latest
    * committed state carries a run fingerprint different from this run's:
    * unlike a shared invariant — which can just be recomputed — mid-run
    * iteration state from different run parameters is semantically a
    * DIFFERENT computation, and continuing it would produce wrong results.
    * A commit with no recorded fingerprint (older layout) is trusted —
    * back-compat. */
  override def resume(): Option[(Int, DataFrame)] =
    io.latest(stateTable).map { i =>
      for (f <- runFingerprint;
           recorded <- io.commitLog(stateTable)
             .find(_.get("iter").exists(_.toString == i.toString))
             .flatMap(_.get("run_fingerprint")).map(_.toString))
        require(recorded == f,
          s"refusing to resume $stateTable/iter=$i: it was committed under run " +
            s"fingerprint '$recorded' but this run is '$f' — the checkpoint " +
            "belongs to a different input/parameterization; point --ckpt at a " +
            "fresh directory (or drop --resume to recompute)")
      (i, io.read(stateTable, i))
    }
  /** All slices 0..latest. The run-fingerprint guard rides on [[resume]]
    * (it checks the LATEST commit — every slice of a run carries the same
    * fingerprint, since the stamp is per-materializer). */
  override def resumeSlices(): Seq[(Int, DataFrame)] = resume() match {
    case None => Nil
    case Some((latest, df)) =>
      (0 until latest).map(j => (j, io.read(stateTable, j))) :+ ((latest, df))
  }
  override def note(iter: Int, meta: Map[String, Any]): Unit =
    io.note(stateTable, iter, meta)
  override def log: Seq[Map[String, Any]] = io.commitLog(stateTable)
  override def loopPartitions: Option[Int] = bucket.map(_._2)
}

/** Iterative-loop session tuning: AQE re-plans per materialization and
  * re-coalesces shuffle partitions, which breaks the fixed-P partitioning
  * contract and adds per-job planning latency — worth it for one big query,
  * wrong for a 100-round loop. Sort-merge join would re-sort both sides
  * every round; shuffled-hash join keys on the already-aligned hash
  * partitioning. `preferSortMergeJoin=false` alone does not get it: flat
  * checkpoint leaves carry no size statistics, so Spark never judges a
  * side small enough to hash. The PageRank, HashMin CC and LPA rounds
  * therefore hint `shuffle_hash` on their state and message joins, and
  * plan one exchange per round (the message shuffle) with no sort-merge
  * join at widths 1 and 4 (ScaleSpec). At width 1 that exchange moves
  * from one partition into one, and the prepared round drops it
  * (org.apache.spark.sql.graft.PreparedRound): a round is one stage of
  * one task, which then holds the hash tables of both former stages (a
  * huge graph forced to width 1 by `local[1]` needs the memory for both;
  * the aggregates still spill as before). A resumed bucketed state is
  * planned on its own (Fixpoint reads its rows into the state slot), where
  * Spark would drop the bucketing of a bare scan; kept, the resumed state
  * reports its hash partitioning and the first resumed round needs no
  * recovery shuffle and no second plan. Optionally pins
  * `spark.sql.shuffle.partitions` for the loop (the ADAPTIVE LOOP WIDTH
  * below). Restores previous conf on exit. */
object IterativeConf {

  /** How many vertices one loop shuffle partition comfortably holds: the
    * per-round fixed cost (task scheduling + codegen dispatch + one
    * materialize action) is paid PER PARTITION, so a 500-vertex dedup graph
    * looping at P=32 pays 32× scheduling for ~16 rows of work per task.
    * 64k longs+doubles per partition is still far below executor memory. */
  val RowsPerPartition = 65536L

  /** P' = clamp(ceil(rows / 64k), 1, session P): tiny loops collapse to a
    * handful of tasks per round; at web scale rows/64k ≥ P so the session's
    * width is kept. `rows` must be the PER-ROUND SHUFFLE VOLUME, not just the
    * state size — callers pass max(vertices, edges), because the message
    * stream the round shuffles is edge-scale (a dense graph sized by vertex
    * count alone crushes edge-scale shuffles into too few partitions).
    * Everything inside the loop (state repartitions, shared edge invariants,
    * the message groupBy) uses ONE consistent width, so the
    * one-shuffle-per-round contract is preserved — just narrower. */
  def adaptivePartitions(spark: SparkSession, stateRows: Long): Int = {
    val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
    math.max(1, math.min(p.toLong, (stateRows + RowsPerPartition - 1) / RowsPerPartition)).toInt
  }

  def apply[T](spark: SparkSession, loopPartitions: Option[Int] = None)(body: => T): T = {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.join.preferSortMergeJoin",
      "spark.sql.sources.bucketing.autoBucketedScan.enabled",
      "spark.sql.shuffle.partitions").map(k => k -> conf.getOption(k))
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.join.preferSortMergeJoin", "false")
    conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    loopPartitions.foreach(p => conf.set("spark.sql.shuffle.partitions", p.toString))
    try body
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }
}
