package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession

/** The session-lifetime memo registry. GraphQueries and PipelineQueries
  * share their materializations — the derived link graph, PageRank ranks,
  * shingles, simhash frames, the ANN index — through [[memo]], one entry
  * per (session, dir, name). A memo with a parameter carries it in its
  * name, e.g. `aacand:cap=64`.
  *
  * That is exactly right for the single-run Verify/Bench contract but has
  * no eviction: a long-lived session touching many dirs pins checkpoint
  * blocks forever, and entries go stale if the parquet inputs under a
  * cached path are rewritten mid-session.
  *
  * `clear` is the explicit reset hook: drops every memo and unpersists all
  * persistent RDD blocks. Frames returned BEFORE the clear become invalid
  * (their lineage is truncated to the now-freed blocks), so call it only
  * between independent runs — e.g. Bench calls it between its two
  * measurement passes so pass 2 re-pays the real pipeline cost instead of
  * reading memos.
  */
object Caches {
  private val memos = TrieMap.empty[(SparkSession, String, String), Any]

  /** The memo `name` for (spark, dir), built on first use. `build` runs
    * before the entry is inserted, so one memo's build may read others. */
  def memo[T](spark: SparkSession, dir: String, name: String)(build: => T): T =
    memos.getOrElseUpdate((spark, dir, name), build).asInstanceOf[T]

  def clear(spark: SparkSession): Unit = synchronized {
    memos.clear()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}
