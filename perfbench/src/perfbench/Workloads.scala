package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, functions => F}
import org.apache.spark.sql.types.StructType

import graft.{Main, SparkEntry}
import graft.algo._
import graft.gen.TranscriptGen
import graft.graph.{GraphBuilder, LinkGraph}
import graft.queries.{GraphQueries, OracleContext}

/** One workload: how its input is made, what a timed pass runs, and how the
  * pass's outputs are checked. */
abstract class Workload(val h: Harness) {
  import Workloads._

  /** One repetition of the input's generation (part of set-up). */
  def generate(): Unit
  /** The timed operations. */
  def pass(p: Pass): Unit
  /** Output checks on the last pass, once per invocation. */
  def check(passes: Seq[Pass]): Unit
  /** Shape of the input and of the loops on it. */
  def shape(p: Pass): Seq[(String, Any)]
  /** Workload-specific figures: (name, value, unit). */
  def detail(passes: Seq[Pass]): Seq[(String, Double, String)]
  /** Digests of the pass's outputs, taken after its timer stopped. */
  def outputs(p: Pass): Unit

  protected var g: LinkGraph = _

  protected def med(passes: Seq[Pass], phase: String): Double =
    Harness.median(passes.map(_.phaseS.getOrElse(phase, 0.0)))

  /** Builds the graph and forces its dictionary, edges and symmetrized
    * closure, each in its own `graph` span. */
  protected def graph(p: Pass, build: => LinkGraph): LinkGraph = {
    val built = h.op(p, "graph.build", "graph") { val b = build; b.numVertices; b }
    h.step(p, "graph.edges", "graph")(built.numEdges)
    h.step(p, "graph.symmetrized", "graph")(built.symmetrized)
    built
  }

  protected def graphShape: Seq[(String, Any)] = {
    val maxDeg = g.symmetrized.groupBy("src").count().agg(F.max("count")).first().getLong(0)
    Seq("vertices" -> g.numVertices, "edges" -> g.numEdges, "max_degree" -> maxDeg)
  }

  protected def ranksSumToOne(name: String, ranks: DataFrame): Unit = h.check(name) {
    val total = ranks.agg(F.sum("rank")).first().getDouble(0)
    (math.abs(total - 1.0) <= 1e-9, s"sum=$total")
  }
}

object Workloads {
  val Tol = 1e-6
  val Damping = 0.85
  val LpaRounds = 10
  val DurableRounds = 2

  /** ‖T(p) − p‖₁ for one power step T written in plain DataFrame code:
    * weighted transitions w/W(u), dangling mass spread uniformly. */
  def powerStepL1(g: LinkGraph, ranks: DataFrame, d: Double): Double = {
    val n = g.numVertices.toDouble
    val ew = g.edges.groupBy("src", "dst").agg(F.sum("weight").as("w"))
    val out = ew.groupBy("src").agg(F.sum("w").as("wsum"))
    val contrib = ew.join(out, "src")
      .join(ranks.select(F.col("vid").as("src"), F.col("rank")), "src")
      .groupBy(F.col("dst").as("vid"))
      .agg(F.sum(F.col("rank") * F.col("w") / F.col("wsum")).as("msum"))
    val dangling = ranks.join(out.select(F.col("src").as("vid")), Seq("vid"), "left_anti")
      .agg(F.coalesce(F.sum("rank"), F.lit(0.0))).first().getDouble(0)
    ranks.join(contrib, Seq("vid"), "left")
      .select(F.abs(F.lit((1 - d) / n) +
        F.lit(d) * (F.coalesce(F.col("msum"), F.lit(0.0)) + F.lit(dangling / n)) -
        F.col("rank")).as("delta"))
      .agg(F.sum("delta")).first().getDouble(0)
  }
}

/** Many cheap rounds on a small transcript graph: PageRank to tolerance,
  * HashMin CC to its fixpoint and LPA, where the fixed cost of a round
  * dominates; then the durable phase: PageRank through the production
  * checkpoint path, stopped halfway and resumed by a second call on the
  * same checkpoint root, where commits dominate. */
final class Converge(h: Harness, convs: Long) extends Workload(h) {
  import Workloads._
  private val input = h.dir("transcripts")
  private var resumed: PageRankResult = _
  private val ckptRoot = h.dir("ckpt")
  private val ckptBytes = scala.collection.mutable.ArrayBuffer.empty[Double]
  private var pr: PageRankResult = _
  private var cc: CcResult = _
  private var lpa: LpaResult = _

  def generate(): Unit =
    TranscriptGen.transcripts(h.spark, convs, h.seed).write.mode("overwrite").parquet(input)

  def pass(p: Pass): Unit = {
    g = graph(p, GraphBuilder.fromTranscripts(h.spark.read.parquet(input)))
    pr = h.op(p, "pagerank", "pagerank") {
      PageRank.run(g, PageRankConfig(damping = Damping, tol = Tol, maxIters = 1000),
        h.mat("pagerank", new LocalMaterializer))
    }
    cc = h.op(p, "cc", "cc")(ConnectedComponents.run(g, mat = h.mat("cc", new LocalMaterializer)))
    lpa = h.op(p, "lpa", "lpa") {
      LabelPropagation.run(g, maxRounds = LpaRounds, mat = h.mat("lpa", new LocalMaterializer))
    }
    durable(p)
    p.rounds ++= Seq("pagerank" -> pr.iterations, "cc" -> cc.rounds, "lpa" -> lpa.rounds)
  }

  def outputs(p: Pass): Unit = {
    p.digests("durable") = Harness.digest(resumed.ranks, "vid", "rank")
    ckptBytes += Harness.treeBytes(Paths.get(ckptRoot)).toDouble
    p.digests ++= Seq("pagerank" -> Harness.digest(pr.ranks, "vid", "rank"),
      "cc" -> Harness.digest(cc.labels, "vid", "label"),
      "lpa" -> Harness.digest(lpa.labels, "vid", "label"))
  }

  def check(passes: Seq[Pass]): Unit = {
    h.check("pagerank_converged")((pr.converged, s"rounds=${pr.iterations}"))
    ranksSumToOne("pagerank_sum", pr.ranks)
    h.check("pagerank_power_step") {
      // one more power step moves converged ranks by at most d·‖p_t − p_{t−1}‖₁
      val lastL1 = pr.metricsLog.reverse.flatMap(_.get("l1")).headOption
        .map(_.toString.toDouble).getOrElse(g.numVertices * Tol)
      val step = powerStepL1(g, pr.ranks, Damping)
      val bound = Damping * lastL1 * (1 + 1e-6) + 1e-12
      (step <= bound, s"step_l1=$step bound=$bound")
    }
    h.check("cc_converged")((cc.converged, s"rounds=${cc.rounds}"))
    h.check("cc_edges_agree") {
      val l = cc.labels
      val bad = g.edges.select("src", "dst")
        .join(l.select(F.col("vid").as("src"), F.col("label").as("ls")), "src")
        .join(l.select(F.col("vid").as("dst"), F.col("label").as("ld")), "dst")
        .where(F.col("ls") =!= F.col("ld")).count()
      (bad == 0, s"edges_across_labels=$bad")
    }
    h.check("durable_rounds")((resumed.iterations == DurableRounds, s"rounds=${resumed.iterations}"))
    ranksSumToOne("durable_sum", resumed.ranks)
    // The cross-checks below re-run an algorithm. A single-pass run leaves
    // them out (its LPA digest is in the output); the traced run, which
    // makes two passes, does them.
    if (passes.size > 1) {
      h.check("lpa_repeatable") {
        val ds = passes.map(_.digests("lpa")).distinct
        (ds.size == 1, ds.mkString(","))
      }
      h.check("cc_equals_star") {
        h.attempted += 1
        val star = ConnectedComponents.runStar(g)
        val bad = Harness.differing(cc.labels, star.labels, "vid", "label")
        (bad == 0 && star.converged, s"differing=$bad star_rounds=${star.rounds}")
      }
      h.check("durable_resume_bit_identical") {
        h.attempted += 1
        val whole = PageRank.run(g, PageRankConfig(damping = Damping, fixedIters = Some(DurableRounds)),
          Main.materializer(h.spark, durableOpts(h.dir("ckpt_whole")), "pagerank"))
        val bad = Harness.differing(resumed.ranks, whole.ranks, "vid", "rank")
        (bad == 0, s"differing=$bad")
      }
    }
  }

  private def durableOpts(root: String) = Map("ckpt" -> root, "input" -> input)

  private def durable(p: Pass): Unit = {
    h.op(p, "durable", "durable") {
      PageRank.run(g, PageRankConfig(damping = Damping, fixedIters = Some(DurableRounds / 2)),
        h.mat("durable", Main.materializer(h.spark, durableOpts(ckptRoot), "pagerank")))
    }
    resumed = h.op(p, "durable", "resume") {
      PageRank.run(g, PageRankConfig(damping = Damping, fixedIters = Some(DurableRounds)),
        h.mat("durable", Main.materializer(h.spark, durableOpts(ckptRoot) + ("resume" -> "true"),
          "pagerank")))
    }
    p.rounds("durable") = DurableRounds
  }

  /** (manifests, data files) the last pass left under the checkpoint root. */
  def ckptFiles: (Long, Long) = {
    val names = Files.walk(Paths.get(ckptRoot)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(_.getFileName.toString).toSeq
    (names.count(n => n.endsWith(".json") && !n.endsWith(".note.json") && !n.startsWith(".")),
      names.count(_.startsWith("part-")))
  }

  private def durableDetail(passes: Seq[Pass]): Seq[(String, Double, String)] =
    Seq(("durable_s", Harness.median(passes.map(p => Seq("durable", "resume")
        .map(p.phaseS.getOrElse(_, 0.0)).sum)), "s"),
      ("resume_s", med(passes, "resume"), "s"),
      ("ckpt_mb", Harness.median(ckptBytes.toSeq) / 1e6, "MB"))

  def shape(p: Pass): Seq[(String, Any)] =
    Seq("conversations" -> convs) ++ graphShape ++
      p.rounds.toSeq.map { case (k, v) => s"${k}_rounds" -> v } ++
      Seq("lpa_digest" -> p.digests("lpa"))

  def detail(passes: Seq[Pass]): Seq[(String, Double, String)] =
    Seq(("cc_s", med(passes, "cc"), "s"), ("lpa_s", med(passes, "lpa"), "s")) ++
      durableDetail(passes)
}

/** Graph, pipeline and embedding queries of `SparkEntry.queries` with cold
  * memos on generated tables: the workload that reaches the memo and query
  * layers. */
final class Suite(h: Harness, tables: String, val queries: Seq[String]) extends Workload(h) {
  /** Each query's result rows, collected in the timed pass. */
  private val results = scala.collection.mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]

  /** Memo accessors of `GraphQueries`, each first called in its own span. */
  private val memos: Seq[(String, () => Any)] = Seq(
    "undirected" -> (() => GraphQueries.undirected(h.spark, tables)),
    "pagerank" -> (() => GraphQueries.pageRanks(h.spark, tables)),
    "ppr" -> (() => GraphQueries.pprRanks(h.spark, tables)),
    "triangles" -> (() => GraphQueries.triangles(h.spark, tables)),
    "nhood" -> (() => GraphQueries.nhood(h.spark, tables)),
    "hublabels" -> (() => GraphQueries.hubLabels(h.spark, tables)),
    "cc" -> (() => GraphQueries.ccLabels(h.spark, tables)))

  def generate(): Unit = () // the tables are written before the JVM starts

  def pass(p: Pass): Unit = {
    results.clear()
    g = graph(p, GraphQueries.graph(h.spark, tables))
    memos.foreach { case (name, f) =>
      h.op(p, s"memo.$name", if (name == "pagerank") "pagerank" else "memo")(f())
    }
    queries.foreach { q =>
      try h.op(p, s"query.$q", Suite.family(q)) {
        val df = SparkEntry.queries(q)(h.spark, tables)
        results(q) = (df.schema, df.collect())
      } catch { case _: Throwable => () }
    }
    p.rounds("pagerank") = GraphQueries.PrIters
  }

  def outputs(p: Pass): Unit = {
    p.digests("pagerank") = Harness.digest(GraphQueries.pageRanks(h.spark, tables), "vid", "rank")
    p.digests("cc") = Harness.digest(GraphQueries.ccLabels(h.spark, tables), "vid", "label")
    // Row hashes are content hashes; their sum ignores row order
    results.foreach { case (q, (_, rows)) => p.digests(q) = s"${rows.length}:${rows.map(_.##.toLong).sum}" }
  }

  /** Checks the PageRank memo, and writes every query's collected rows with
    * its oracle SQL for the DuckDB compare, which runs after the JVM exits. */
  def check(passes: Seq[Pass]): Unit = {
    ranksSumToOne("pagerank_sum", GraphQueries.pageRanks(h.spark, tables))
    val out = h.dir("results")
    OracleContext.set(h.spark, tables)
    results.foreach { case (q, (schema, rows)) =>
      h.check(s"result_written.$q") {
        h.spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$out/$q")
        (true, "")
      }
    }
    val sql = SparkEntry.oracleSql
    Files.writeString(Paths.get(out, "oracle_sql.json"),
      Harness.json(queries.filter(sql.contains).map(q => q -> sql(q)).toMap))
  }

  def shape(p: Pass): Seq[(String, Any)] =
    Seq("queries" -> queries.size) ++ graphShape ++
      p.rounds.toSeq.map { case (k, v) => s"${k}_rounds" -> v }

  def detail(passes: Seq[Pass]): Seq[(String, Double, String)] = {
    def fam(keys: String*) = Harness.median(passes.map(p => keys.map(p.phaseS.getOrElse(_, 0.0)).sum))
    Seq(("suite_s", Harness.median(passes.map(_.wallS)), "s"),
      ("graph_queries_s", fam("graph", "memo", "pagerank", "query.g"), "s"),
      ("pipeline_queries_s", fam("query.d", "query.e", "query.m"), "s"))
  }
}

object Suite {
  def family(q: String): String = "query." + q.take(1)
}
