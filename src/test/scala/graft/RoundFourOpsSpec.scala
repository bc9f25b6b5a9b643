package graft

import org.apache.spark.sql.{DataFrame, functions => F}

import graft.algo._
import graft.graph.LinkGraph
import graft.oracle.Oracles
import graft.queries.PipelineQueries

/** Round-4 operators: personalized PageRank (teleport vector), k-core
  * peeling, benchmark decontamination, repetition signals. */
class RoundFourOpsSpec extends SparkSpec {
  import spark.implicits._

  def graphOf(n: Int, edges: Seq[(Long, Long)]): LinkGraph = {
    val e: DataFrame = edges.map { case (s, d) => (s, d, 1, 1.0) }
      .toDF("src", "dst", "kind", "weight")
    val dict = (0 until n).map(i => (s"v:$i", i.toLong)).toDF("key", "vid")
    LinkGraph(e, dict)
  }

  val pprEdges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 4L), (5L, 2L))
  // 4 is dangling; 5 has no in-edges and is NOT a seed; seeds = {0, 3}
  val pprSeeds = Set(0L, 3L)

  test("personalized PageRank matches the dense oracle") {
    val g = graphOf(6, pprEdges)
    val want = Oracles.personalizedPageRank(6, pprEdges, pprSeeds, 0.85, 10)
    val r = PageRank.run(g, PageRankConfig(fixedIters = Some(10)),
      teleport = Some(pprSeeds.toSeq.toDF("vid")))
    val got = r.ranks.orderBy("vid").as[(Long, Double)].collect().map(_._2)
    got.zip(want).zipWithIndex.foreach { case ((a, b), v) =>
      assert(math.abs(a - b) < 1e-9, s"vid $v: $a vs $b")
    }
  }

  test("PPR conserves unit mass; unreachable non-seed gets exactly zero") {
    val g = graphOf(6, pprEdges)
    val r = PageRank.run(g, PageRankConfig(fixedIters = Some(10)),
      teleport = Some(pprSeeds.toSeq.toDF("vid")))
    val ranks = r.ranks.orderBy("vid").as[(Long, Double)].collect().map(_._2)
    assert(math.abs(ranks.sum - 1.0) < 1e-9)
    // 5 is not a seed and nothing points at it: teleport-only mass = 0
    assert(ranks(5) == 0.0)
  }

  test("PPR rejects an empty seed set") {
    val g = graphOf(3, Seq((0L, 1L)))
    intercept[IllegalArgumentException] {
      PageRank.run(g, PageRankConfig(fixedIters = Some(1)),
        teleport = Some(Seq.empty[Long].toDF("vid")))
    }
  }

  test("k-core: K4 with a tail peels to exactly the K4 and converges") {
    val k4 = for (i <- 0 until 4; j <- i + 1 until 4) yield (i.toLong, j.toLong)
    val g = graphOf(6, k4 :+ (3L, 4L) :+ (4L, 5L))
    val r = KCore.run(g, k = 3)
    assert(r.converged)
    val members = r.members.as[Long].collect().sorted
    assert(members.toSeq == Seq(0L, 1L, 2L, 3L))
    val m = KCore.membership(g, 3).orderBy("vid").as[(Long, Boolean)].collect()
    assert(m.map(_._2).toSeq == Seq(true, true, true, true, false, false))
  }

  test("k-core: 2-core of a chain is empty; round cap stops mid-peel") {
    val chain = (0 until 5).map(i => (i.toLong, i + 1L))
    val g = graphOf(6, chain)
    val full = KCore.run(g, k = 2, maxRounds = 8)
    assert(full.converged && full.members.count() == 0)
    // one peel only: endpoints 0 and 5 drop, inner chain vertices survive
    val capped = KCore.run(g, k = 2, maxRounds = 1)
    assert(!capped.converged)
    assert(capped.members.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("SCC: two 3-cycles with a one-way bridge get per-cycle min labels") {
    val g = graphOf(6, Seq((0L, 1L), (1L, 2L), (2L, 0L),
      (3L, 4L), (4L, 5L), (5L, 3L), (2L, 3L)))
    val r = Scc.run(g)
    assert(r.converged)
    val labels = r.labels.orderBy("vid").as[(Long, Long)].collect().map(_._2)
    assert(labels.toSeq == Seq(0L, 0L, 0L, 3L, 3L, 3L))
  }

  test("SCC: a directed chain is all singletons") {
    val g = graphOf(4, Seq((0L, 1L), (1L, 2L), (2L, 3L)))
    val r = Scc.run(g)
    assert(r.converged)
    val labels = r.labels.orderBy("vid").as[(Long, Long)].collect().map(_._2)
    assert(labels.toSeq == Seq(0L, 1L, 2L, 3L))
  }

  test("SCC: cycle + tail + entry — only the cycle is one component") {
    // 4 → (0 → 1 → 2 → 0) → 3 ; 5 isolated-ish (5 → 4)
    val g = graphOf(6, Seq((4L, 0L), (0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (5L, 4L)))
    val r = Scc.run(g)
    assert(r.converged)
    val labels = r.labels.orderBy("vid").as[(Long, Long)].collect().map(_._2)
    assert(labels.toSeq == Seq(0L, 0L, 0L, 3L, 4L, 5L))
  }

  test("SCC on a symmetrized graph equals HashMin CC labels") {
    val edges = Seq((0L, 1L), (1L, 2L), (3L, 4L), (2L, 5L), (6L, 3L))
    val sym = edges ++ edges.map { case (a, b) => (b, a) }
    val g = graphOf(7, sym)
    val scc = Scc.run(g).labels.orderBy("vid").as[(Long, Long)].collect().map(_._2)
    val cc = ConnectedComponents.run(g).labels.orderBy("vid")
      .as[(Long, Long)].collect().map(_._2)
    assert(scc.toSeq == cc.toSeq)
  }

  test("SCC matches an in-driver Tarjan oracle on random directed graphs") {
    val rng = new scala.util.Random(42)
    for (trial <- 1 to 4) {
      val n = 10 + trial * 6
      val m = n * 2
      val edges = Seq.fill(m)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      val g = graphOf(n, edges)
      val r = Scc.run(g)
      assert(r.converged, s"trial $trial did not converge")
      val got = r.labels.orderBy("vid").as[(Long, Long)].collect().map(_._2)
      val want = graft.oracle.Oracles.tarjanScc(n, edges)
      assert(got.toSeq == want.toSeq, s"trial $trial: $n vertices, ${edges.size} edges")
    }
  }

  test("k-core matches an in-driver brute-force peel on random graphs") {
    val rng = new scala.util.Random(7)
    for (trial <- 1 to 3; k <- Seq(2, 3)) {
      val n = 12 + trial * 5
      val und = Seq.fill(n * 2)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      val g = graphOf(n, und)
      // driver oracle: peel to fixpoint over the symmetrized distinct pairs
      var surv = (0 until n).map(_.toLong).toSet
      val nbrs = (und ++ und.map(_.swap)).distinct.groupBy(_._1)
        .map { case (v, es) => v -> es.map(_._2).toSet }
      var stable = false
      while (!stable) {
        val next = surv.filter(v => nbrs.getOrElse(v, Set.empty).count(surv) >= k)
        stable = next == surv; surv = next
      }
      val got = KCore.membership(g, k, maxRounds = 64).orderBy("vid")
        .as[(Long, Boolean)].collect().filter(_._2).map(_._1).toSet
      assert(got == surv, s"trial $trial k=$k")
    }
  }

  private def writeDocs(rows: Seq[(Long, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-r4docs").toString
    rows.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    dir
  }

  test("decontam: copies of a benchmark doc are flagged, others are not") {
    val bench = (0 until 10).map(i => s"w$i").mkString(" ") // doc 0: benchmark
    val dir = writeDocs(Seq(
      0L -> bench,                                          // benchmark member
      1L -> bench,                                          // exact copy -> 3 shared 8-grams
      2L -> (10 until 20).map(i => s"u$i").mkString(" "),   // disjoint vocab
      3L -> "a b c d e",                                    // too short to 8-gram
      25L -> "x0 x1 x2 x3 x4 x5 x6 x7 x8"))                 // second benchmark member
    val out = PipelineQueries.dDecontam(spark, dir)
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(out == Seq((1L, 3L, true), (2L, 0L, false), (3L, 0L, false)))
  }

  test("decontam probe joins against a BROADCAST benchmark n-gram set") {
    val bench = (0 until 10).map(i => s"w$i").mkString(" ")
    val dir = writeDocs(Seq(0L -> bench, 1L -> bench))
    val plan = PipelineQueries.dDecontam(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
  }

  test("unigram LM score: exact hand-computed NLL, broadcast vocab probe") {
    // counts: a:2, b:2, c:1; total 5 → p(a)=p(b)=0.4, p(c)=0.2
    val dir = writeDocs(Seq(0L -> "a a b", 1L -> "b c"))
    val q = PipelineQueries.dUnigramLp(spark, dir)
    val out = q.as[(Long, Double, Long)].collect().toSeq
    assert(out == Seq(
      (0L, BigDecimal(-math.log(0.4)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, 3L),
      (1L, BigDecimal((-math.log(0.4) - math.log(0.2)) / 2)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, 2L)))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
    // single-scan discipline (round-4 verdict "What's wrong #2"): the probe
    // plan reads the corpus exactly once — the vocab side comes from the
    // materialized word-count memo, not a second corpus aggregation
    val corpusScans = "documents\\.parquet".r.findAllIn(plan).length
    assert(corpusScans == 1, s"expected 1 corpus scan in the probe plan, " +
      s"got $corpusScans:\n$plan")
  }

  test("repetition signals: exact fractions, null on degenerate docs") {
    val dir = writeDocs(Seq(
      0L -> "a a a b",   // top word a:3/4, distinct 2/4, top bigram "a a":2/3
      1L -> "x y",
      2L -> "",          // no tokens -> fractions null
      3L -> "solo"))     // one token -> no bigrams
    val out = PipelineQueries.dRepetition(spark, dir).collect()
    def row(i: Int) = out(i)
    assert(row(0).getLong(1) == 4 && row(0).getDouble(2) == 0.5 &&
      row(0).getDouble(3) == 0.75 && row(0).getDouble(4) == 0.666667)
    assert(row(1).getLong(1) == 2 && row(1).getDouble(2) == 0.0 &&
      row(1).getDouble(3) == 0.5 && row(1).getDouble(4) == 1.0)
    assert(row(2).getLong(1) == 0 && row(2).isNullAt(2) && row(2).isNullAt(3) &&
      row(2).isNullAt(4))
    assert(row(3).getLong(1) == 1 && row(3).getDouble(2) == 0.0 &&
      row(3).getDouble(3) == 1.0 && row(3).isNullAt(4))
  }
}
