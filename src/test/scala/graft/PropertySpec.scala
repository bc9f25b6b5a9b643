package graft

import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

import graft.algo._
import graft.gen.TranscriptGen
import graft.graph.GraphBuilder
import graft.oracle.Oracles

/** SURVEY.md §5.1 L2 property layer (seed-parameterized; sizes kept small
  * so the whole suite stays fast).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  val seeds = Seq(1L, 7L, 23L, 101L)

  test("simhash64 is word-order- and duplication-invariant (all seeds)") {
    // the fingerprint must depend only on the distinct word SET — the
    // property array_distinct + the bit-vote construction guarantee
    graft.functions.GraftFunctions.register(spark)
    seeds.foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val rows = (0 until 50).map { i =>
        val words = Vector.fill(3 + rnd.nextInt(20))(s"w${rnd.nextInt(12)}")
        (i.toLong, words.mkString(" "),
          (rnd.shuffle(words) ++ words.take(2)).mkString(" ")) // permuted + dup'd
      }
      val df = rows.toDF("id", "t1", "t2")
      val bad = df.select(
        F.expr("simhash64(array_distinct(filter(split(t1,' '), w -> w <> '')))").as("a"),
        F.expr("simhash64(array_distinct(filter(split(t2,' '), w -> w <> '')))").as("b"))
        .where(F.col("a") =!= F.col("b")).count()
      assert(bad == 0, s"seed $seed: $bad rows with order/dup-sensitive simhash")
    }
  }

  test("per-turn text equality under stable ordering survives ingest/repartition") {
    seeds.foreach { seed =>
      val turns = TranscriptGen.transcripts(spark, nConvs = 25, seed = seed).toDF()
      val dir = java.nio.file.Files.createTempDirectory(s"graft-txt-$seed").toString
      // ingest path: write, read back, shuffle hard
      turns.repartition(7).write.mode("overwrite").parquet(dir)
      val back = spark.read.parquet(dir).repartition(3, F.col("role"))
      // stable (conv_id, turn_idx) ordering: texts re-attach exactly
      val joined = turns.as("a").join(back.as("b"),
        F.col("a.conv_id") === F.col("b.conv_id") &&
        F.col("a.turn_idx") === F.col("b.turn_idx"))
      val n = turns.count()
      assert(joined.count() == n, "join must be 1:1 (turn_idx unique per conv)")
      assert(joined.where(F.col("a.text") =!= F.col("b.text")).count() == 0)
      // self-describing texts: content encodes its own (conv_id, turn_idx)
      val bad = back.where(
        !F.col("text").startsWith(F.concat(F.lit("msg|"), F.col("conv_id"),
          F.lit("|"), F.col("turn_idx"), F.lit("|")))).count()
      assert(bad == 0)
    }
  }

  test("turn_idx is unique per conversation (generator invariant)") {
    seeds.foreach { seed =>
      val turns = TranscriptGen.transcripts(spark, nConvs = 40, seed = seed).toDF()
      val dups = turns.groupBy("conv_id", "turn_idx").count()
        .where(F.col("count") > 1).count()
      assert(dups == 0)
    }
  }

  test("CC == union-find for all seeds (exact)") {
    seeds.foreach { seed =>
      val g = GraphBuilder.fromTranscripts(
        TranscriptGen.transcripts(spark, nConvs = 20, seed = seed).toDF())
      val n = g.numVertices.toInt
      val und = g.edges.select("src", "dst").as[(Long, Long)].collect()
        .map { case (a, b) => (a.toInt, b.toInt) }.toSeq
      val got = ConnectedComponents.run(g)
        .labels.orderBy("vid").as[(Long, Long)].collect().map(_._2)
      assert(got.toSeq == Oracles.connectedComponents(n, und).toSeq, s"seed $seed")
    }
  }

  test("rank mass conservation: sum(rank) == 1 every run") {
    seeds.take(2).foreach { seed =>
      val g = GraphBuilder.fromTranscripts(
        TranscriptGen.transcripts(spark, nConvs = 20, seed = seed).toDF())
      val r = PageRank.run(g, PageRankConfig(fixedIters = Some(6)))
      val total = r.ranks.agg(F.sum("rank")).first().getDouble(0)
      assert(math.abs(total - 1.0) < 1e-9, s"seed $seed: $total")
      // the metrics ledger agrees
      val last = r.metricsLog.last
      assert(math.abs(last("rank_total").toString.toDouble - 1.0) < 1e-9)
    }
  }

  private def lg(n: Int, edges: Seq[(Long, Long)]): graft.graph.LinkGraph = {
    val e = edges.map { case (s, d) => (s, d, 1, 1.0) }
      .toDF("src", "dst", "kind", "weight")
    graft.graph.LinkGraph(e,
      (0 until n).map(i => (s"v:$i", i.toLong)).toDF("key", "vid"))
  }

  test("SCC == Tarjan oracle at n=1000 (property scale, random digraph)") {
    // round-4 verdict "Next round #7": the fixture-scale random graphs were
    // n ≤ 34; this pins the same oracle at three decimal orders up
    val rng = new scala.util.Random(1001)
    val n = 1000
    val edges = Seq.fill(3 * n)((rng.nextLong(n), rng.nextLong(n)))
      .filter { case (a, b) => a != b }.distinct
    val r = Scc.run(lg(n, edges))
    assert(r.converged)
    val got = r.labels.orderBy("vid").as[(Long, Long)].collect().map(_._2)
    assert(got.toSeq == graft.oracle.Oracles.tarjanScc(n, edges).toSeq)
  }

  test("SCC deep-cycle fixture: one 128-cycle with trim tails (depth ≫ trim)") {
    // cycle length far beyond any trim/peel depth: the color fixpoint must
    // run ~128 rounds; every tail vertex trims to a singleton
    val n = 160
    val cycle = (0 until 128).map(i => (i.toLong, ((i + 1) % 128).toLong))
    val tails = (128 until 160).map(i => ((i - 128).toLong, i.toLong)) // cycle → tail
    val r = Scc.run(lg(n, cycle ++ tails))
    assert(r.converged)
    val got = r.labels.orderBy("vid").as[(Long, Long)].collect()
    got.foreach { case (v, l) =>
      assert(l == (if (v < 128) 0L else v), s"vid $v got label $l") }
  }

  test("SCC multi-phase fixture: 4 chained cycles peel one phase each") {
    // cycles C_i = [32i, 32i+32) linked 0→32→64→96: min-vid coloring floods
    // everything with 0, so each phase can only peel the lowest remaining
    // cycle — exercises the outer phase loop 4 deep (incremental mark
    // frontier + per-phase durable commits all get real work)
    val cycles = (0 until 4).flatMap(c =>
      (0 until 32).map(i => ((32 * c + i).toLong, (32 * c + (i + 1) % 32).toLong)))
    val links = Seq((0L, 32L), (32L, 64L), (64L, 96L))
    val r = Scc.run(lg(128, cycles ++ links))
    assert(r.converged)
    assert(r.phases == 4, s"expected 4 phases, got ${r.phases}")
    val got = r.labels.orderBy("vid").as[(Long, Long)].collect()
    got.foreach { case (v, l) => assert(l == (v / 32) * 32, s"vid $v got $l") }
  }

  test("k-core == peel oracle at n=1000 (property scale), k in {2,3,4}") {
    val rng = new scala.util.Random(77)
    val n = 1000
    val und = Seq.fill(3 * n)((rng.nextLong(n), rng.nextLong(n)))
      .filter { case (a, b) => a != b }.distinct
    val g = lg(n, und)
    for (k <- Seq(2, 3, 4)) {
      val got = KCore.membership(g, k, maxRounds = 64).orderBy("vid")
        .as[(Long, Boolean)].collect().filter(_._2).map(_._1).toSet
      assert(got == graft.oracle.Oracles.kcore(n, und, k), s"k=$k")
    }
  }

  test("triangle count invariant under edge direction flips (all seeds)") {
    seeds.take(2).foreach { seed =>
      val g = GraphBuilder.fromTranscripts(
        TranscriptGen.transcripts(spark, nConvs = 20, seed = seed).toDF())
      val flipped = graft.graph.LinkGraph(
        g.edges.select(
          F.when(F.pmod(F.col("src") + F.col("dst"), F.lit(2)) === 0, F.col("dst"))
            .otherwise(F.col("src")).as("src"),
          F.when(F.pmod(F.col("src") + F.col("dst"), F.lit(2)) === 0, F.col("src"))
            .otherwise(F.col("dst")).as("dst"),
          F.col("kind"), F.col("weight")),
        g.dict)
      assert(Triangles.run(g).total == Triangles.run(flipped).total, s"seed $seed")
    }
  }
}
