package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

import graft.queries.{GraphQueries, PipelineQueries}

/** `Caches.clear` drops every memo: the graph memos, the pipeline memos,
  * and each parameterized variant of a memo. After the clear every
  * accessor rebuilds over a fresh checkpoint, and the old blocks are gone. */
class CachesSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  /** Id of the checkpoint RDD a memoized frame reads. */
  private def ckptId(df: DataFrame): Int =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd.id }
      .getOrElse(fail(s"not a checkpoint-backed frame:\n${df.queryExecution.analyzed}"))

  private def withCap[T](cap: Int)(body: => T): T = {
    spark.conf.set("spark.graft.aa.hubDegCap", cap.toString)
    try body
    finally spark.conf.unset("spark.graft.aa.hubDegCap")
  }

  test("Caches.clear drops graph, pipeline and per-parameter memos; each rebuilds") {
    val accessors: Seq[(String, () => DataFrame)] = Seq(
      "graph" -> (() => GraphQueries.graph(spark, sf).edges),
      "textgroups" -> (() => PipelineQueries.textGroupsOf(spark, sf)),
      "aacand uncapped" -> (() => GraphQueries.aaCandidates(spark, sf)),
      "aacand cap=3" -> (() => withCap(3)(GraphQueries.aaCandidates(spark, sf))))

    Caches.clear(spark)
    val before = accessors.map { case (name, get) =>
      val df = get()
      assert(get() eq df, s"$name: a second call must return the memo")
      name -> df
    }
    val uncappedCand = before(2)._2
    val cappedCand = before(3)._2
    assert(cappedCand ne uncappedCand, "each cap must have its own memo")
    assert(cappedCand.count() <= uncappedCand.count())

    Caches.clear(spark)
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    accessors.zip(before).foreach { case ((name, get), (_, old)) =>
      val oldId = ckptId(old)
      assert(!persisted.contains(oldId), s"$name: old blocks must be unpersisted")
      val fresh = get()
      assert(fresh ne old, s"$name: must rebuild after clear")
      assert(ckptId(fresh) != oldId, s"$name: must read a new checkpoint RDD")
    }
    Caches.clear(spark)
  }
}
