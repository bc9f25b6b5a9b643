package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, functions => F}
import org.scalatest.BeforeAndAfterAll

import graft.algo._
import graft.gen.TranscriptGen
import graft.graph.GraphBuilder

/** Counts the Spark jobs started, and the stages and tasks run, in this
  * session. */
final class JobCounter extends SparkListener {
  @volatile private var n, stages, tasks = 0L
  override def onJobStart(e: SparkListenerJobStart): Unit = n += 1
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages += 1
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks += 1
  def jobs(sc: org.apache.spark.SparkContext): Long = {
    org.apache.spark.graft.ListenerSync.drain(sc)
    n
  }
  def stagesAndTasks(sc: org.apache.spark.SparkContext): (Long, Long) = {
    org.apache.spark.graft.ListenerSync.drain(sc)
    (stages, tasks)
  }
}

/** Per-loop cost budgets and the reproducibility of folded loop stats.
  *
  * A loop round is one Spark job, the commit: its convergence or change
  * statistics are folded by that job (graft.plans.FoldStats), not read by
  * a driver action after it. A budget raised later needs a CHANGES.md line
  * saying why. */
class LoopBudgetSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  lazy val graph = {
    val g = GraphBuilder.fromTranscripts(
      TranscriptGen.transcripts(spark, nConvs = 40, seed = 11).toDF())
    // the graph's own memos are built here, not charged to a loop
    g.numVertices; g.numEdges; g.symmetrized; g.directed
    g
  }

  private lazy val counter = {
    val c = new JobCounter
    spark.sparkContext.addSparkListener(c)
    c
  }
  private def jobs: Long = counter.jobs(spark.sparkContext)

  override def afterAll(): Unit = spark.sparkContext.removeSparkListener(counter)

  /** Charges the jobs started inside `shared` calls to the invariants and
    * counts the commits (init + one a round). */
  private final class Budgeted(width: Int)
      extends ForwardingMaterializer(new LocalMaterializer, Some(width)) {
    var sharedJobs = 0L
    var commits = 0L
    override def iter(iter: Int, df: DataFrame, meta: Map[String, Any]): DataFrame = {
      commits += 1
      super.iter(iter, df, meta)
    }
    override def shared(name: String, df: DataFrame, repartitionKeys: Seq[String],
                        fingerprint: Option[String]): DataFrame = {
      val j0 = jobs
      val out = super.shared(name, df, repartitionKeys, fingerprint)
      sharedJobs += jobs - j0
      out
    }
  }

  /** Jobs a loop ran, and its budget: shared invariants + init + 1 a round. */
  private def budget(run: Materializer => Int): (Long, Long) = {
    graph
    val mat = new Budgeted(1)
    val j0 = jobs
    val rounds = run(mat)
    (jobs - j0, mat.sharedJobs + 1 + rounds)
  }

  test("job budget at width 1: PageRank (tolerance and fixed), HashMin CC, LPA") {
    val cases = Seq[(String, Materializer => Int)](
      "pagerank tol" -> (m => PageRank.run(graph, PageRankConfig(tol = 1e-8), m).iterations),
      "pagerank fixed 10" -> (m =>
        PageRank.run(graph, PageRankConfig(fixedIters = Some(10)), m).iterations),
      "hashmin cc" -> (m => ConnectedComponents.run(graph, mat = m).rounds),
      "lpa" -> (m => LabelPropagation.run(graph, maxRounds = 10, mat = m).rounds))
    cases.foreach { case (name, run) =>
      val (used, allowed) = budget(run)
      assert(used <= allowed, s"$name ran $used jobs, budget $allowed")
    }
  }

  test("job budget at width 1: Katz, HITS, MIS, k-core, k-truss, HyperBall, star CC") {
    // A loop that returns a sorted frame flat-checkpoints it after the
    // loop: one job at width 1 (the loop hands out one partition, which
    // the sort takes with no exchange).
    val sortedTail = 1
    lazy val und = graph.symmetrized.where(F.col("src") =!= F.col("dst"))
    lazy val hint = math.max(graph.numVertices, graph.numEdges)
    val cases = Seq[(String, Int, Materializer => Any)](
      ("katz", sortedTail, m => Katz.run(graph, 0.1, 10, m)),
      ("hits", sortedTail, m => Hits.run(graph, 10, m)),
      ("mis", sortedTail, m => Mis.run(graph.vertices, und, 8, sizeHint = hint, mat = m)),
      ("k-core", 0, m => KCore.run(graph, 2, mat = m)),
      ("k-truss", sortedTail, m => Truss.run(und, 3, 6, sizeHint = hint, mat = m)),
      ("hyperball", 0, m => Neighborhood.hyperball(graph, 10, mat = m)),
      ("star cc", 0, m => ConnectedComponents.runStar(graph, mat = m)))
    val over = cases.flatMap { case (name, tail, run) =>
      graph; und; hint
      val mat = new Budgeted(1)
      val j0 = jobs
      run(mat)
      val used = jobs - j0
      val allowed = mat.sharedJobs + mat.commits + tail
      assert(mat.commits > 1, s"$name ran no round")
      if (used <= allowed) None
      else Some(s"$name ran $used jobs, budget $allowed " +
        s"(shared ${mat.sharedJobs} + ${mat.commits} commits + tail $tail)")
    }
    assert(over.isEmpty, over.mkString("; "))
  }

  test("job budget at width 1: exact nhood, hub labels, SSSP, betweenness, SCC") {
    // Betweenness flat-checkpoints its sorted result after its two loops.
    // SCC's trim, color and mark loops commit to a local materializer of
    // their own (only its stage commits reach `mat`): each such loop starts
    // with one commit, then commits once a round.
    val sortedTail = 1L
    lazy val sources = graph.vertices.where(F.col("vid") % 4 === 0)
    val cases = Seq[(String, Materializer => Long)](
      ("exact nhood", m => { Neighborhood.exact(graph, 4, m); 0L }),
      ("hub labels", m => { HubLabels.build(graph, 5, 6, m, m); 0L }),
      ("sssp", m => { ShortestPaths.run(graph, sources, 10, mat = m); 0L }),
      ("betweenness", m => { Betweenness.run(graph, sources, 3, m); sortedTail }),
      ("scc", m => {
        val r = Scc.run(graph, mat = m)
        val innerCommits = 3L * r.phases + r.rounds
        innerCommits
      }))
    val over = cases.flatMap { case (name, run) =>
      graph; sources
      val mat = new Budgeted(1)
      val j0 = jobs
      val tail = run(mat)
      val used = jobs - j0
      val allowed = mat.sharedJobs + mat.commits + tail
      assert(mat.commits > 1, s"$name ran no round")
      if (used <= allowed) None
      else Some(s"$name ran $used jobs, budget $allowed " +
        s"(shared ${mat.sharedJobs} + ${mat.commits} commits + tail $tail)")
    }
    assert(over.isEmpty, over.mkString("; "))
  }

  // The runner frees each state a commit replaced; the materializers free
  // nothing. A PageRank run keeps its two invariants and its final state,
  // an exact-nhood run its edge invariant and its five level slices (the
  // reach it hands out reads them).
  test("a 20-round PageRank and an exact-nhood run keep only their invariants and results") {
    graph
    val sc = spark.sparkContext
    def kept(run: => Any): Int = {
      val before = sc.getPersistentRDDs.keySet
      run
      (sc.getPersistentRDDs.keySet -- before).size
    }
    val pr = kept(PageRank.run(graph, PageRankConfig(fixedIters = Some(20)), new LocalMaterializer))
    val nh = kept(Neighborhood.exact(graph, 4))
    assert(pr <= 3 && nh <= 6, s"persistent RDDs left: PageRank $pr, exact nhood $nh")
  }

  // A round is one job; at width 4 its message shuffle splits it into a
  // map and a reduce stage. At width 1 the prepared round drops the shuffle
  // from one partition into one, so the round is one stage of one task.
  // Katz and HITS join a keyed vertex invariant, so at width 1 their rounds
  // shuffle nothing either. They are checked at width 1 only: a HITS round
  // at width 4 plans two exchanges, one per direction.
  test("stages per round: one stage, one task at width 1; two stages at width 4") {
    graph
    for (width <- Seq(1, 4)) {
      val cases = Seq[(String, Materializer => Int)](
        "pagerank" -> (m =>
          PageRank.run(graph, PageRankConfig(fixedIters = Some(5)), m).iterations),
        "hashmin cc" -> (m => ConnectedComponents.run(graph, mat = m).rounds),
        "lpa" -> (m => LabelPropagation.run(graph, maxRounds = 5, mat = m).rounds)) ++
        (if (width > 1) Nil else Seq[(String, Materializer => Int)](
          "katz" -> { m => Katz.run(graph, 0.1, 5, m); 5 },
          "hits" -> { m => Hits.run(graph, 5, m); 5 }))
      cases.foreach { case (name, run) =>
        val perRound = ArrayBuffer.empty[(Long, Long)]
        val mat = new ForwardingMaterializer(new LocalMaterializer, Some(width)) {
          override def iter(iter: Int, df: DataFrame, meta: Map[String, Any]): DataFrame = {
            val (s0, t0) = counter.stagesAndTasks(spark.sparkContext)
            val out = super.iter(iter, df, meta)
            val (s1, t1) = counter.stagesAndTasks(spark.sparkContext)
            if (iter > 0) perRound += ((s1 - s0, t1 - t0))
            out
          }
        }
        val rounds = run(mat)
        assert(rounds >= 2 && perRound.size == rounds,
          s"$name: $rounds rounds, ${perRound.size} commits")
        val want = if (width == 1) Seq((1L, 1L)) else Seq((2L, 2L * width))
        assert(perRound.distinct == want,
          s"$name at width $width: (stages, tasks) per round ${perRound.mkString(", ")}")
      }
    }
  }

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  test("width 1: folded round stats == the committed-frame agg, bit for bit") {
    val aggs = ArrayBuffer.empty[Seq[Double]]
    val mat = new ForwardingMaterializer(new LocalMaterializer, Some(1)) {
      override def iter(iter: Int, df: DataFrame, meta: Map[String, Any]): DataFrame = {
        val c = super.iter(iter, df, meta)
        val r = c.agg(
          F.max(F.abs(F.col("rank") - F.col("prev"))),
          F.sum(F.abs(F.col("rank") - F.col("prev"))),
          F.sum(F.when(!F.col("has_out"), F.col("rank")).otherwise(0.0)),
          F.sum("rank")).first()
        aggs += (0 until 4).map(r.getDouble)
        c
      }
    }
    val r = PageRank.run(graph, PageRankConfig(tol = 1e-8), mat)
    val notes = r.metricsLog.filter(_.contains("linf"))
    assert(notes.size == r.iterations && r.converged)
    notes.zip(aggs.drop(1)).foreach { case (n, want) =>
      val got = Seq("linf", "l1", "dangling_mass", "rank_total").map(n(_).asInstanceOf[Double])
      assert(got.map(bits) == want.map(bits), s"round ${n("iter")}: $got vs $want")
    }
  }

  test("width 4: three tolerance runs give bit-identical ranks and dangling mass") {
    val runs = (1 to 3).map { _ =>
      val r = PageRank.run(graph, PageRankConfig(tol = 1e-8),
        new ForwardingMaterializer(new LocalMaterializer, Some(4)))
      assert(r.ranks.rdd.getNumPartitions == 4)
      (r.ranks.orderBy("vid").as[(Long, Double)].collect().toSeq.map { case (v, x) => (v, bits(x)) },
        r.metricsLog.flatMap(_.get("dangling_mass")).map(m => bits(m.asInstanceOf[Double])))
    }
    assert(runs.head._2.nonEmpty)
    assert(runs.distinct.size == 1, "ranks or per-round dangling mass differ between runs")
  }

  test("codegen is stable: no compilations after round 3 of a 20-round PageRank") {
    graph
    val compiled = ArrayBuffer.empty[Long]
    val mat = new ForwardingMaterializer(new LocalMaterializer, Some(1)) {
      override def note(iter: Int, meta: Map[String, Any]): Unit = {
        super.note(iter, meta)
        compiled += CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      }
    }
    val r = PageRank.run(graph, PageRankConfig(fixedIters = Some(20)), mat)
    assert(r.iterations == 20 && compiled.size == 20)
    assert(compiled.last == compiled(2),
      s"compilations per round kept growing: ${compiled.mkString(",")}")
  }

  test("a loop plans its round once: no analyzer or optimizer rule runs after round 1") {
    graph
    // Catalyst plan-rule runs so far, by RuleExecutor's per-rule metrics.
    // Expression codegen's canonicalizer is left out: every task that
    // builds a projection runs it, in this JVM at local[4], and it plans
    // nothing.
    val row = """(\S+)\s+\d+ / \d+\s+\d+ / (\d+)\s*""".r
    def ruleRuns: Long = RuleExecutor.dumpTimeSpent().linesIterator.collect {
      case row(rule, runs) if !rule.contains("ExpressionCanonicalizer") => runs.toLong
    }.sum
    val cases = Seq[(String, Materializer => Int)](
      "pagerank" -> (m => PageRank.run(graph, PageRankConfig(fixedIters = Some(20)), m).iterations),
      "hashmin cc" -> (m => ConnectedComponents.run(graph, maxRounds = 20, mat = m).rounds),
      "lpa" -> (m => LabelPropagation.run(graph, maxRounds = 20, mat = m).rounds),
      "bfsFrom" -> { m =>
        Neighborhood.bfsFrom(graph, graph.vertices, 20, mat = m)
        m.log.count(_.contains("wall_ms"))
      })
    cases.foreach { case (name, run) =>
      val runs = ArrayBuffer.empty[Long]
      val mat = new ForwardingMaterializer(new LocalMaterializer, Some(1)) {
        override def note(iter: Int, meta: Map[String, Any]): Unit = {
          super.note(iter, meta)
          runs += ruleRuns
        }
      }
      val rounds = run(mat)
      assert(rounds >= 3 && runs.size == rounds, s"$name: $rounds rounds, ${runs.size} notes")
      assert(runs.head > 0 && runs.last == runs.head,
        s"$name ran Catalyst rules after round 1: ${runs.map(_ - runs.head).mkString(",")}")
    }
  }
}
