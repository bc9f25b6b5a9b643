package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.graft.LoopPlanned
import graft.algo._
import graft.gen.TranscriptGen
import graft.graph.{GraphBuilder, LinkGraph}
import graft.oracle.Oracles

class ScaleSpec extends SparkSpec {
  import spark.implicits._

  lazy val graph = {
    val turns = TranscriptGen.transcripts(spark, nConvs = 80, seed = 5).toDF()
    GraphBuilder.fromTranscripts(turns)
  }

  test("mega-hub graph: row-layout PageRank == dense oracle (1e-9)") {
    // hub 0 → 1..200 (degree 200) grafted onto a 200-chain whose end is
    // dangling: the power-law shape, on the one row layout
    val hubDeg = 200
    val pairs = (1 to hubDeg).map(i => (0L, i.toLong)) ++
      (1 until hubDeg).map(i => (i.toLong, i.toLong + 1))
    val edges = pairs.toDF("src", "dst")
      .select(F.col("src"), F.col("dst"), F.lit(1).as("kind"), F.lit(1.0).as("weight"))
    val dict = (0 to hubDeg).map(_.toLong).toDF("vid")
      .select(F.col("vid").cast("string").as("key"), F.col("vid"))
    val n = hubDeg + 1
    val got = PageRank.run(LinkGraph(edges, dict), PageRankConfig(fixedIters = Some(30)))
      .ranks.orderBy("vid").as[(Long, Double)].collect().map(_._2)
    // teleport over every vertex is the global PageRank
    val want = Oracles.personalizedPageRank(n, pairs, (0 until n).map(_.toLong).toSet, 0.85, 30)
    assert(got.length == n)
    got.zip(want).zipWithIndex.foreach { case ((a, b), v) =>
      assert(math.abs(a - b) <= 1e-9, s"vid $v: $a vs $b")
    }
  }

  test("adaptive loop width: tiny states loop narrow; one shuffle per round at the narrow width") {
    val P = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(IterativeConf.adaptivePartitions(spark, 1L) == 1)
    assert(IterativeConf.adaptivePartitions(spark, IterativeConf.RowsPerPartition) == 1)
    assert(IterativeConf.adaptivePartitions(spark, IterativeConf.RowsPerPartition + 1) == 2)
    assert(IterativeConf.adaptivePartitions(spark, Long.MaxValue / 4) == P,
      "web-scale states must keep the session width")

    // a round planned at the adaptive width still pays exactly one exchange,
    // and that exchange is at the NARROW width (the d_dedup_clusters fix:
    // the CC fixpoint on a tiny dup graph must not pay P-wide scheduling)
    IterativeConf(spark, Some(2)) {
      val sym = org.apache.spark.sql.graft.FlatCheckpoint.localCheckpoint(
        graph.symmetrized.repartition(F.col("src")))
      // deliberately the REAL init shape (label/prev are bare aliases of the
      // partition key): FlatCheckpoint must collapse the alias
      // PartitioningCollection onto the SURVIVING loop key (vid), not onto
      // an alias the next round drops — pins the round-1 extra-shuffle fix
      val state = org.apache.spark.sql.graft.FlatCheckpoint.localCheckpoint(
        graph.vertices.repartition(F.col("vid"))
          .select(F.col("vid"), F.col("vid").as("label"), F.col("vid").as("prev")))
        .select("vid", "label")
      val msgs = sym.join(state.withColumnRenamed("vid", "src"), "src")
        .groupBy("dst").agg(F.min("label").as("nbr_min"))
      val plan = msgs.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning\\([^)]*\\)".r.findAllIn(plan).toSeq
      assert(exchanges.length == 1, s"expected 1 shuffle, got $exchanges in:\n$plan")
      assert(exchanges.head.endsWith(", 2)"),
        s"the round's shuffle must run at the loop width 2: ${exchanges.head}")
      assert(state.rdd.getNumPartitions == 2)
    }
  }

  test("iteration plan shape: exactly ONE shuffle exchange per round") {
    IterativeConf(spark) {
      val ew = graph.edges.groupBy("src", "dst")
        .agg(F.sum("weight").as("w"))
      val wdeg = ew.groupBy("src").agg(F.sum("w").as("wdeg"))
      val emRows = ew.join(wdeg, "src").select(
        F.col("src"),
        F.col("dst"),
        (F.col("w") / F.col("wdeg")).as("p"))
      val em = org.apache.spark.sql.graft.FlatCheckpoint.localCheckpoint(
        emRows.repartition(F.col("src")))
      val vmeta = org.apache.spark.sql.graft.FlatCheckpoint.localCheckpoint(
        graph.vertices.repartition(F.col("vid"))
          .withColumn("has_out", F.lit(true)))
      val state0 = org.apache.spark.sql.graft.FlatCheckpoint.localCheckpoint(
        vmeta.select(F.col("vid"),
          F.lit(1.0).as("rank")))

      val msgs = em.join(state0.withColumnRenamed("vid", "src"), "src")
        .groupBy("dst")
        .agg(F.sum(
          F.col("p") * F.col("rank")).as("msum"))
        .withColumnRenamed("dst", "vid")
      val next = vmeta.join(msgs, Seq("vid"), "left")
        .join(state0.withColumnRenamed("rank", "prev"), "vid")

      val plan = next.queryExecution.executedPlan.toString
      val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(shuffles == 1, s"expected 1 shuffle, got $shuffles in plan:\n$plan")
    }
  }

  /** The round plans the loops started by `run` prepared, one per prepare
    * (org.apache.spark.sql.graft.LoopPlanned events). */
  private def roundPlans(run: => Any): Seq[String] = {
    val plans = ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case LoopPlanned(_, plan) => plans.synchronized(plans += plan)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      run
      org.apache.spark.graft.ListenerSync.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    plans.toSeq
  }

  // The real PageRank, HashMin CC and LPA rounds, as the loops plan them:
  // planned once per loop; shuffled-hash joins on the co-partitioned state,
  // invariants and messages (no sort-merge join, so no per-round sorts).
  // At width 4 a round has one exchange, the message shuffle (LPA's
  // explicit dst-clustered repartition), after the messages' map-side
  // partial aggregation. At width 1 it has none: one-partition invariants
  // and state report hash partitioning on their keys, so the joins plan
  // as at width 4, and the prepared round then drops the shuffle from one
  // partition into one, which moves no row; the round is one stage.
  for (width <- Seq(1, 4)) test(s"real round plans at width $width: planned once, " +
      s"shuffled-hash joins, ${if (width == 1) "no exchange" else "one exchange"}") {
    def mat = new ForwardingMaterializer(new LocalMaterializer, Some(width))
    val loops = Seq[(String, () => Any)](
      "pagerank" -> (() => PageRank.run(graph, PageRankConfig(fixedIters = Some(3)), mat)),
      "hashmin cc" -> (() => ConnectedComponents.run(graph, mat = mat)),
      "lpa" -> (() => LabelPropagation.run(graph, maxRounds = 3, mat = mat)))
    loops.foreach { case (name, run) =>
      val plans = roundPlans(run())
      assert(plans.size == 1, s"$name prepared ${plans.size} round plans:\n${plans.mkString("\n")}")
      val plan = plans.head
      assert(!plan.contains("SortMergeJoin"), s"$name round has a sort-merge join:\n$plan")
      assert("ShuffledHashJoin".r.findAllIn(plan).length >= 2, s"$name round:\n$plan")
      val exchanges = "\\bExchange ".r.findAllIn(plan).length
      val want = if (width == 1) 0 else 1
      assert(exchanges == want, s"$name round has $exchanges exchanges at width $width:\n$plan")
    }
  }

  // Star CC commits round 0 on u and every later round on u too (its
  // (u, v) lookup join is put back on u), so it prepares once at any width.
  for (width <- Seq(1, 4)) test(s"star CC plans its round once at width $width") {
    val plans = roundPlans(ConnectedComponents.runStar(graph,
      mat = new ForwardingMaterializer(new LocalMaterializer, Some(width))))
    assert(plans.size == 1, s"star CC prepared ${plans.size} round plans:\n${plans.mkString("\n")}")
  }

  // k-truss commits round 0 partitioned and sorted on (u, v), as every
  // round's support join leaves it, so it prepares once at any width.
  for (width <- Seq(1, 4)) test(s"k-truss plans its round once at width $width") {
    val und = graph.symmetrized.where(F.col("src") =!= F.col("dst"))
    var commits = 0
    val mat = new ForwardingMaterializer(new LocalMaterializer, Some(width)) {
      override def iter(iter: Int, df: org.apache.spark.sql.DataFrame,
                        meta: Map[String, Any]): org.apache.spark.sql.DataFrame = {
        commits += 1
        super.iter(iter, df, meta)
      }
    }
    val plans = roundPlans(Truss.run(und, 3, 6,
      sizeHint = math.max(graph.numVertices, graph.numEdges), mat = mat))
    assert(commits >= 3, s"k-truss ran ${commits - 1} rounds")
    assert(plans.size == 1, s"k-truss prepared ${plans.size} round plans:\n${plans.mkString("\n")}")
  }

  // A HITS round sums authorities over the edges keyed on src and hubs
  // over the same edges keyed on dst: one exchange per direction, and no
  // edge moves.
  test("a HITS round plans at most two exchanges at width 4") {
    val plans = roundPlans(Hits.run(graph, 3,
      new ForwardingMaterializer(new LocalMaterializer, Some(4))))
    assert(plans.size == 1, s"HITS prepared ${plans.size} round plans")
    val exchanges = "\\bExchange ".r.findAllIn(plans.head).length
    assert(exchanges <= 2, s"HITS round has $exchanges exchanges at width 4:\n${plans.head}")
  }

  test("a width-1 loop hands out one partition: a sort after it plans no exchange") {
    val r = PageRank.run(graph, PageRankConfig(fixedIters = Some(2)),
      new ForwardingMaterializer(new LocalMaterializer, Some(1)))
    val plan = r.ranks.orderBy("vid").queryExecution.executedPlan.toString
    assert("\\bExchange ".r.findFirstIn(plan).isEmpty,
      s"sorted width-1 ranks plan an exchange:\n$plan")
  }
}
