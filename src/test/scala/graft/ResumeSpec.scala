package graft

import java.nio.file.Files

import graft.algo._
import graft.gen.TranscriptGen
import graft.graph.GraphBuilder
import graft.io.ParquetManifestIO

/** SURVEY.md §5.1 L3: durable checkpoints + mid-iteration resume.
  * A torn write (data files present, no manifest) is exactly the artifact a
  * mid-iteration kill leaves behind; resume must ignore it and converge to
  * the same result as an uninterrupted run.
  */
class ResumeSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-ckpt-").toString

  lazy val graph = {
    val turns = TranscriptGen.transcripts(spark, nConvs = 40, seed = 11).toDF()
    GraphBuilder.fromTranscripts(turns)
  }

  private def ranksOf(mat: Materializer, maxIters: Int = 100): Array[Double] =
    PageRank.run(graph, PageRankConfig(tol = 1e-8, maxIters = maxIters), mat)
      .ranks.orderBy("vid").as[(Long, Double)].collect().map(_._2)

  test("triangles with durable stage materializations == local, commits visible") {
    // explicit graph with known triangles (the seed-11 transcript graph has
    // none): K4 on {0..3} plus a pendant — 4 triangles
    val e = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
      .map { case (s, d) => (s, d, 1, 1.0) }.toDF("src", "dst", "kind", "weight")
    val dict = (0L to 4L).map(v => (s"v$v", v)).toDF("key", "vid")
    val graph = graft.graph.LinkGraph(e, dict)
    val local = Triangles.run(graph)
    assert(local.total == 4)
    val dir = tmp()
    val io = new ParquetManifestIO(spark, dir)
    val durable = Triangles.run(graph, new CheckpointMaterializer(io, "tri"))
    assert(durable.total == local.total)
    assert(durable.perVertex.orderBy("vid").collect().toSeq ==
      local.perVertex.orderBy("vid").collect().toSeq)
    // each stage is a manifested commit a restarted job could reuse
    for (stage <- Seq("tri-und", "tri-oriented", "tri-triangles"))
      assert(io.latest(stage).contains(0), s"missing durable stage $stage")

    // restart recovery is REAL, not write-only: a new run over the same
    // checkpoint root reads the committed stages back — here the input
    // edges are gone (empty), so only snapshot reuse can produce 4
    val emptyGraph = graft.graph.LinkGraph(
      e.where(org.apache.spark.sql.functions.lit(false)), dict)
    val recovered = Triangles.run(emptyGraph,
      new CheckpointMaterializer(new ParquetManifestIO(spark, dir), "tri"))
    assert(recovered.total == 4, "committed stages were not read back on restart")
  }

  test("interrupted run + --resume converges to the uninterrupted result") {
    val full = ranksOf(new CheckpointMaterializer(
      new ParquetManifestIO(spark, tmp()), "pagerank"))

    val dir = tmp()
    // "interrupt" after 3 iterations
    ranksOf(new CheckpointMaterializer(new ParquetManifestIO(spark, dir), "pagerank"),
      maxIters = 3)
    // resume from the same checkpoint root
    val resumed = ranksOf(new CheckpointMaterializer(
      new ParquetManifestIO(spark, dir), "pagerank"))

    full.zip(resumed).foreach { case (a, b) =>
      assert(math.abs(a - b) <= 1e-9, s"$a vs $b")
    }
  }

  test("torn (un-manifested) iteration data is ignored on resume") {
    val dir = tmp()
    val io = new ParquetManifestIO(spark, dir)
    ranksOf(new CheckpointMaterializer(io, "pagerank"), maxIters = 2)
    assert(io.latest("pagerank").contains(2))

    // simulate a kill mid-write of iteration 3: data dir, no manifest
    val torn = java.nio.file.Paths.get(dir, "pagerank", "iter=3")
    Files.createDirectories(torn)
    Files.writeString(torn.resolve("part-00000-garbage.parquet"), "not parquet")
    assert(io.latest("pagerank").contains(2), "torn iter must not be visible")

    val resumed = ranksOf(new CheckpointMaterializer(io, "pagerank"))
    val clean = ranksOf(new CheckpointMaterializer(
      new ParquetManifestIO(spark, tmp()), "pagerank"))
    resumed.zip(clean).foreach { case (a, b) => assert(math.abs(a - b) <= 1e-9) }
  }

  test("manifest ledger carries per-partition lineage + convergence metrics") {
    val dir = tmp()
    val io = new ParquetManifestIO(spark, dir)
    PageRank.run(graph, PageRankConfig(tol = 1e-8, maxIters = 5),
      new CheckpointMaterializer(io, "pagerank"))
    val log = io.commitLog("pagerank")
    assert(log.size == 6) // init + 5 iterations
    // every commit records its file-level lineage
    log.foreach { m =>
      val files = m("files").asInstanceOf[java.util.List[_]]
      assert(!files.isEmpty)
    }
    // iterations carry convergence metrics via notes; linf decreases
    val linfs = log.drop(1).map(_("linf").toString.toDouble)
    assert(linfs.size == 5)
    assert(linfs.last < linfs.head)
    assert(log.drop(1).forall(m => m.contains("dangling_mass") && m.contains("wall_ms")))

    // a fixed-iteration run's rounds carry the same full stats, each round
    val fixed = new ParquetManifestIO(spark, tmp())
    PageRank.run(graph, PageRankConfig(fixedIters = Some(4)),
      new CheckpointMaterializer(fixed, "pagerank"))
    val rounds = fixed.commitLog("pagerank").drop(1)
    assert(rounds.size == 4)
    rounds.foreach { m =>
      for (k <- Seq("linf", "l1", "dangling_mass", "rank_total", "wall_ms"))
        assert(m.contains(k), s"iter ${m("iter")} note lacks $k: $m")
      assert(math.abs(m("rank_total").toString.toDouble - 1.0) < 1e-9)
    }
  }

  test("durable fixed-iteration PageRank at width 4: kill after 1 of 3 rounds, resume bit-identical") {
    val bucket = Some(("vid", 4))
    def bits(mat: Materializer): Seq[(Long, Long)] =
      PageRank.run(graph, PageRankConfig(fixedIters = Some(3)), mat)
        .ranks.orderBy("vid").as[(Long, Double)].collect().toSeq
        .map { case (v, r) => (v, java.lang.Double.doubleToRawLongBits(r)) }
    val whole = bits(new CheckpointMaterializer(new ParquetManifestIO(spark, tmp()), "pagerank", bucket))

    val dir = tmp()
    val killed = new ForwardingMaterializer(
      new CheckpointMaterializer(new ParquetManifestIO(spark, dir), "pagerank", bucket)) {
      override def iter(iter: Int, df: org.apache.spark.sql.DataFrame,
                        meta: Map[String, Any]): org.apache.spark.sql.DataFrame = {
        if (iter == 2) throw new IllegalStateException("killed")
        super.iter(iter, df, meta)
      }
    }
    intercept[IllegalStateException](bits(killed))
    assert(new ParquetManifestIO(spark, dir).latest("pagerank").contains(1))
    val resumed = bits(new CheckpointMaterializer(new ParquetManifestIO(spark, dir), "pagerank", bucket))
    assert(resumed == whole)
  }

  test("bucketed resume: same ranks AND zero recovery shuffle on the state scan") {
    import org.apache.spark.sql.{functions => F}
    val P = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val bucket = Some(("vid", P))
    val dir = tmp()
    ranksOf(new CheckpointMaterializer(
      new ParquetManifestIO(spark, dir), "pagerank", bucket), maxIters = 3)

    // resumed state scan must report HashPartitioning(vid, P): joining it
    // with an em invariant partitioned on the SAME key needs NO exchange on
    // either side — the round's only shuffle stays the message groupBy.
    val mat = new CheckpointMaterializer(new ParquetManifestIO(spark, dir), "pagerank", bucket)
    val Some((k, st)) = mat.resume()
    assert(k == 3)
    graft.algo.IterativeConf(spark) {
      val em = org.apache.spark.sql.graft.FlatCheckpoint.localCheckpoint(
        graph.edges.select(F.col("src"), F.col("dst"), F.lit(0.1).as("p"))
          .repartition(F.col("src")))
      val msgs = em.join(st.select(F.col("vid").as("src"), F.col("rank")), "src")
        .groupBy("dst").agg(F.sum(F.col("p") * F.col("rank")).as("msum"))
      val plan = msgs.queryExecution.executedPlan.toString
      val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(shuffles == 1, s"resumed round must shuffle ONCE (the groupBy), got $shuffles:\n$plan")
    }

    // and the resumed run converges to the uninterrupted result
    val resumed = ranksOf(new CheckpointMaterializer(
      new ParquetManifestIO(spark, dir), "pagerank", bucket))
    val clean = ranksOf(new CheckpointMaterializer(
      new ParquetManifestIO(spark, tmp()), "pagerank"))
    resumed.zip(clean).foreach { case (a, b) => assert(math.abs(a - b) <= 1e-9) }
  }

  test("star CC + durable bucketed ckpt: completes, resumes, labels == HashMin") {
    import org.apache.spark.sql.{functions => F}
    val P = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // star's loop state is the contracted EDGE set (u, v) — bucket on "u"
    // (the round-2 verdict crash: Main hardcoded ("vid", P) for every algo)
    val bucket = Some(("u", P))
    val dir = tmp()
    // "interrupt" after 1 round
    ConnectedComponents.runStar(graph, maxRounds = 1,
      new CheckpointMaterializer(new ParquetManifestIO(spark, dir), "cc-star", bucket))

    // the resumed edge-set scan must report HashPartitioning(u, P): the
    // round's first groupBy("u") then needs no recovery exchange
    val mat = new CheckpointMaterializer(new ParquetManifestIO(spark, dir), "cc-star", bucket)
    val Some((k, st)) = mat.resume()
    assert(k == 1)
    IterativeConf(spark) {
      val plan = st.groupBy("u").agg(F.min("v")).queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"resumed star state must scan pre-bucketed (no exchange):\n$plan")
    }

    val resumed = ConnectedComponents.runStar(graph, maxRounds = 60,
      new CheckpointMaterializer(new ParquetManifestIO(spark, dir), "cc-star", bucket))
    assert(resumed.converged)
    assert(resumed.rounds > 1, "must have resumed past the committed round")
    val clean = ConnectedComponents.runStar(graph)
    val hashMin = ConnectedComponents.run(graph)
    val r = resumed.labels.orderBy("vid").as[(Long, Long)].collect().toSeq
    assert(r == clean.labels.orderBy("vid").as[(Long, Long)].collect().toSeq)
    assert(r == hashMin.labels.orderBy("vid").as[(Long, Long)].collect().toSeq)
  }

  test("CC resume: exact same labels as uninterrupted") {
    val dir = tmp()
    ConnectedComponents.run(graph, maxRounds = 2,
      new CheckpointMaterializer(new ParquetManifestIO(spark, dir), "cc"))
    val resumed = ConnectedComponents.run(graph, maxRounds = 200,
      new CheckpointMaterializer(new ParquetManifestIO(spark, dir), "cc"))
      .labels.orderBy("vid").as[(Long, Long)].collect().toSeq
    val clean = ConnectedComponents.run(graph)
      .labels.orderBy("vid").as[(Long, Long)].collect().toSeq
    assert(resumed == clean)
  }

  private def lg(n: Int, edges: Seq[(Long, Long)]): graft.graph.LinkGraph = {
    val e = edges.map { case (s, d) => (s, d, 1, 1.0) }
      .toDF("src", "dst", "kind", "weight")
    graft.graph.LinkGraph(e,
      (0 until n).map(i => (s"v:$i", i.toLong)).toDF("key", "vid"))
  }

  test("k-core kill-and-resume: bit-identical membership vs uninterrupted") {
    // chain 0-1-2-3-4-5 at k=2 needs 4 peel rounds to reach the (empty)
    // fixpoint — an interrupt at round 2 resumes mid-peel
    val g = lg(6, (0 until 5).map(i => (i.toLong, i + 1L)))
    val dir = tmp()
    val killed = KCore.run(g, k = 2, maxRounds = 2,
      new CheckpointMaterializer(new ParquetManifestIO(spark, dir), "kcore"))
    assert(!killed.converged)
    assert(killed.members.as[Long].collect().sorted.toSeq == Seq(2L, 3L))
    val resumed = KCore.run(g, k = 2, maxRounds = 8,
      new CheckpointMaterializer(new ParquetManifestIO(spark, dir), "kcore"))
    val clean = KCore.run(g, k = 2, maxRounds = 8)
    assert(resumed.converged && clean.converged)
    assert(resumed.rounds == clean.rounds, "round numbering must continue, not restart")
    assert(resumed.members.as[Long].collect().sorted.toSeq ==
      clean.members.as[Long].collect().sorted.toSeq)

    // and on a graph with a non-empty core: K4 + tail, interrupt at round 1
    val k4 = for (i <- 0 until 4; j <- i + 1 until 4) yield (i.toLong, j.toLong)
    val g2 = lg(6, k4 :+ (3L, 4L) :+ (4L, 5L))
    val dir2 = tmp()
    KCore.run(g2, k = 3, maxRounds = 1,
      new CheckpointMaterializer(new ParquetManifestIO(spark, dir2), "kcore"))
    val r2 = KCore.run(g2, k = 3, maxRounds = 8,
      new CheckpointMaterializer(new ParquetManifestIO(spark, dir2), "kcore"))
    assert(r2.converged)
    assert(r2.members.as[Long].collect().sorted.toSeq == Seq(0L, 1L, 2L, 3L))
  }

  test("k-core durable resume with a CHANGED k is refused (run fingerprint)") {
    val g = lg(6, (0 until 5).map(i => (i.toLong, i + 1L)))
    val dir = tmp()
    KCore.run(g, k = 2, maxRounds = 2,
      new CheckpointMaterializer(new ParquetManifestIO(spark, dir), "kcore",
        runFingerprint = Some("k=2")))
    val ex = intercept[IllegalArgumentException] {
      KCore.run(g, k = 3, maxRounds = 8,
        new CheckpointMaterializer(new ParquetManifestIO(spark, dir), "kcore",
          runFingerprint = Some("k=3")))
    }
    assert(ex.getMessage.contains("refusing to resume"))
  }

  test("SCC kill-and-resume at a phase boundary: bit-identical labels") {
    // Two phases: color-0 floods {0,1,2,3} but SCC(0) = {0,3} only (1,2
    // form their own cycle 0 cannot be reached from); 4 is a trim tail.
    //   0→1, 1⇄2 (cycle), 0⇄3 (cycle), 2→4
    val g = lg(5, Seq((0L, 1L), (1L, 2L), (2L, 1L), (0L, 3L), (3L, 0L), (2L, 4L)))
    val clean = Scc.run(g)
    assert(clean.converged && clean.phases == 2)
    val want = clean.labels.orderBy("vid").as[(Long, Long)].collect().toSeq
    assert(want == Seq((0L, 0L), (1L, 1L), (2L, 1L), (3L, 0L), (4L, 4L)))

    val dir = tmp()
    val killed = Scc.run(g, maxPhases = 1,
      mat = new CheckpointMaterializer(new ParquetManifestIO(spark, dir), "scc"))
    assert(!killed.converged)
    val io = new ParquetManifestIO(spark, dir)
    // init + trim commit + phase-1 mark commit are all durable
    assert(io.latest("scc").exists(_ >= 2), s"latest=${io.latest("scc")}")
    val resumed = Scc.run(g,
      mat = new CheckpointMaterializer(new ParquetManifestIO(spark, dir), "scc"))
    assert(resumed.converged)
    assert(resumed.phases == 1, "resume must only pay the remaining phase")
    assert(resumed.labels.orderBy("vid").as[(Long, Long)].collect().toSeq == want)
  }

  test("SCC durable run on the transcript graph == ephemeral labels") {
    val dir = tmp()
    val durable = Scc.run(graph,
      mat = new CheckpointMaterializer(new ParquetManifestIO(spark, dir), "scc"))
    val local = Scc.run(graph)
    assert(durable.converged && local.converged)
    assert(durable.labels.orderBy("vid").as[(Long, Long)].collect().toSeq ==
      local.labels.orderBy("vid").as[(Long, Long)].collect().toSeq)
    // resume on the COMPLETED checkpoint short-circuits: nothing remains
    val again = Scc.run(graph,
      mat = new CheckpointMaterializer(new ParquetManifestIO(spark, dir), "scc"))
    assert(again.converged && again.phases == 0,
      s"completed checkpoint must resume to an immediate no-op, did ${again.phases} phases")
  }
}
