package graft.algo

import org.apache.spark.sql.DataFrame

/** Slot-tracked flat checkpointing for multi-frame iterative loops (SCC,
  * BFS, SSSP, betweenness): every loop frame goes through FlatCheckpoint
  * (plain `localCheckpoint` chains origin stats across rounds — see
  * org.apache.spark.sql.graft.FlatCheckpoint), and block reclamation is
  * GENERATIONAL: `ckpt(slot, df)` records the new blocks as the slot's
  * latest generation; `sweep(slots*)` — called at the END of a round, when
  * every frame that read the older generations has been eagerly
  * materialized — frees everything but each slot's latest. Freeing only at
  * the sweep point is what makes multi-frame rounds safe: a frame built
  * THIS round from a predecessor is flat by the time the predecessor's
  * blocks go away. Final (result) generations are never swept away.
  *
  * Each generation tracks EXACTLY the RDD id the checkpoint shim returns —
  * not a before/after diff of `sc.getPersistentRDDs`, which would attribute
  * unrelated side-effect caches created during the frame's computation
  * (e.g. GraphBuilder's shared edge persist on the graph's first action) to
  * the slot and silently unpersist them at the next sweep (round-4 ADVICE).
  */
private[algo] final class FlatLoop(spark: org.apache.spark.sql.SparkSession) {
  private val sc = spark.sparkContext
  private var gens = Map.empty[String, List[Int]]

  def ckpt(slot: String, df: DataFrame): DataFrame = {
    val (out, rddId) = org.apache.spark.sql.graft.FlatCheckpoint.localCheckpointTracked(df)
    gens += slot -> (rddId :: gens.getOrElse(slot, Nil))
    out
  }

  /** Free all but the latest generation of each named slot. */
  def sweep(slots: String*): Unit = slots.foreach { s =>
    gens.get(s).foreach { l =>
      l.drop(1).foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
      gens += s -> l.take(1)
    }
  }

  /** Free EVERY generation of the named slots (for frames that are wholly
    * dead — e.g. the per-round mark parts of a finished SCC phase, already
    * folded into a materialized downstream frame). */
  def drop(slots: String*): Unit = slots.foreach { s =>
    gens.get(s).foreach(_.foreach(id =>
      sc.getPersistentRDDs.get(id).foreach(_.unpersist(false))))
    gens -= s
  }

  /** End-of-run reclamation (round-5 ADVICE): free EVERY tracked
    * generation except the latest of the named `keep` slots. Call only
    * after the kept frames are materialized — everything else (level
    * frames, settled sets, edge invariants) is dead weight once the
    * result is flat. */
  def releaseAll(keep: String*): Unit = {
    val keepIds = keep.flatMap(s => gens.getOrElse(s, Nil).take(1)).toSet
    gens.valuesIterator.flatten.filterNot(keepIds).foreach(id =>
      sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
    gens = gens.collect {
      case (s, l) if keep.contains(s) => s -> l.take(1)
    }
  }
}
