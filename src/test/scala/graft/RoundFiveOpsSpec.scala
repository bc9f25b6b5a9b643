package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, functions => F}

import graft.algo._
import graft.graph.LinkGraph
import graft.io.ParquetManifestIO

/** Round-5 hardening: PPR seed-set staleness fingerprints + seed∩vertices
  * (round-4 ADVICE), exact-id RDD tracking in loop checkpoints, durable
  * run-fingerprint guard on resume(). */
class RoundFiveOpsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-r5-").toString

  def graphOf(n: Int, edges: Seq[(Long, Long)]): LinkGraph = {
    val e: DataFrame = edges.map { case (s, d) => (s, d, 1, 1.0) }
      .toDF("src", "dst", "kind", "weight")
    val dict = (0 until n).map(i => (s"v:$i", i.toLong)).toDF("key", "vid")
    LinkGraph(e, dict)
  }

  val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 4L), (5L, 2L))

  test("PPR seeds are intersected with the graph's vertices: phantom vids " +
       "neither deflate mass nor change ranks") {
    val g = graphOf(6, edges)
    val clean = PageRank.run(g, PageRankConfig(fixedIters = Some(10)),
        teleport = Some(Seq(0L, 3L).toDF("vid")))
      .ranks.orderBy("vid").as[(Long, Double)].collect().map(_._2)
    // 99 and 123 are not graph vertices; with the raw count |S| would be 4
    // and tele would sum to 0.5 — ranks uniformly deflated (round-4 ADVICE)
    val phantom = PageRank.run(g, PageRankConfig(fixedIters = Some(10)),
        teleport = Some(Seq(0L, 3L, 99L, 123L).toDF("vid")))
      .ranks.orderBy("vid").as[(Long, Double)].collect().map(_._2)
    clean.zip(phantom).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-12, s"$a vs $b") }
    assert(math.abs(phantom.sum - 1.0) < 1e-9)
  }

  test("PPR with a seed set entirely outside the graph is rejected") {
    val g = graphOf(3, Seq((0L, 1L)))
    intercept[IllegalArgumentException] {
      PageRank.run(g, PageRankConfig(fixedIters = Some(1)),
        teleport = Some(Seq(77L).toDF("vid")))
    }
  }

  test("durable PPR under the same ckpt table with a CHANGED seed set " +
       "recomputes the teleport vector (seed fingerprint on vmeta_ppr)") {
    val g = graphOf(6, edges)
    val dir = tmp()
    // converged run with seeds {0}
    PageRank.run(g, PageRankConfig(tol = 1e-10),
      new CheckpointMaterializer(new ParquetManifestIO(spark, dir), "ppr"),
      teleport = Some(Seq(0L).toDF("vid")))
    // same dir + state table (so resume() serves the old state) but seeds
    // {3}: without the seed fingerprint, the stale vmeta_ppr snapshot would
    // keep tele pinned on vertex 0 and the result would stay seeds-{0}
    val resumed = PageRank.run(g, PageRankConfig(tol = 1e-10, maxIters = 200),
      new CheckpointMaterializer(new ParquetManifestIO(spark, dir), "ppr"),
      teleport = Some(Seq(3L).toDF("vid")))
      .ranks.orderBy("vid").as[(Long, Double)].collect().map(_._2)
    val fresh = PageRank.run(g, PageRankConfig(tol = 1e-10, maxIters = 200),
      teleport = Some(Seq(3L).toDF("vid")))
      .ranks.orderBy("vid").as[(Long, Double)].collect().map(_._2)
    resumed.zip(fresh).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-7, s"$a vs $b — stale teleport vector reused") }
  }

  test("resume() refuses state committed under a different run fingerprint") {
    val g = graphOf(6, edges)
    val dir = tmp()
    PageRank.run(g, PageRankConfig(fixedIters = Some(3)),
      new CheckpointMaterializer(new ParquetManifestIO(spark, dir), "ppr",
        runFingerprint = Some("seeds=a")),
      teleport = Some(Seq(0L).toDF("vid")))
    val ex = intercept[IllegalArgumentException] {
      PageRank.run(g, PageRankConfig(fixedIters = Some(6)),
        new CheckpointMaterializer(new ParquetManifestIO(spark, dir), "ppr",
          runFingerprint = Some("seeds=b")),
        teleport = Some(Seq(3L).toDF("vid")))
    }
    assert(ex.getMessage.contains("refusing to resume"))
  }

  test("loop checkpoints track exactly the shim's RDD id: an unrelated " +
       "cache persisted during the frame's computation survives the sweep") {
    val sc = spark.sparkContext
    // a lazily-persisted side cache, NOT yet materialized — its cached RDD
    // registers in sc.getPersistentRDDs during the loop's init commit,
    // the shape of GraphBuilder's `raw` persist
    val side = Seq(1L, 2L, 3L).toDF("x").persist()
    val before = sc.getPersistentRDDs.keySet
    // the loop runner owns the blocks: each round's commit frees the state
    // it replaced, and nothing else
    val r = Fixpoint(spark, new LocalMaterializer, 1L) { fx =>
      fx.run(Fixpoint.Loop(
        cols = Seq("x", "r"),
        maxRounds = 3,
        init = () => Seq((1L, 0.5)).toDF("x", "r").join(side, "x"),
        step = round => round.state.select(F.col("x"), (F.col("r") * 2).as("r"))))
    }
    assert(r.rounds == 3)
    val created = sc.getPersistentRDDs.keySet.diff(before)
    val last = r.state.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
      case other => fail(s"the final state is not a flat frame: $other")
    }
    // exactly the side cache and the final state stay persisted: the three
    // states the later commits replaced are freed
    assert(created.size == 2 && created.contains(last),
      s"expected the side cache and the final state, got $created (final $last)")
    assert(side.count() == 3)
    assert(r.state.as[(Long, Double)].collect().toSeq == Seq((1L, 4.0)))
    side.unpersist()
  }
}
