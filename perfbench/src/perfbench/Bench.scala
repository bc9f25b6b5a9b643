package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.Caches

/** Benchmark entry point: one workload, one seed, one JVM.
  *
  * {{{
  * perfbench.Bench --workload converge|suite --seed N --seconds S
  *   --trace 0|1 --work DIR --out FILE [--tables DIR --gen-s X]
  *   [--conversations N]
  * }}}
  *
  * Untraced, it runs timed passes until `--seconds` would be exceeded and
  * reports the medians. Traced, it runs one pass under the span ledger,
  * reports its per-layer figures, and then one untraced pass whose outputs
  * the traced ones must equal. Either way the last pass's outputs are
  * checked once. The result goes to `--out` as JSON. `--conversations`
  * overrides the size of the `converge` input.
  */
object Bench {

  /** Conversations in the `converge` workload's transcripts. */
  val ConvergeConversations = 5000L

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // the ephemeral pipeline path, as in graft.Bench: no durable
    // intermediate may be read back by a later pass
    spark.conf.set("spark.graft.pipeline.ckpt", "")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val h = new Harness(spark, work, seed)
    val w: Workload = workload match {
      case "converge" =>
        new Converge(h, opts.get("conversations").fold(ConvergeConversations)(_.toLong))
      case "suite"    => new Suite(h, opts("tables"), Layers.Queries.sorted)
      case other      => sys.error(s"unknown workload $other")
    }

    val genS = opts.get("gen-s").map(_.toDouble).getOrElse(
      Harness.median(Seq.fill(3)(Harness.seconds(w.generate())._2)))

    val jobs = new JobCounter
    spark.sparkContext.addSparkListener(jobs)
    val passes = mutable.ArrayBuffer.empty[Pass]
    var ok = true
    def runPass(): Pass = {
      Caches.clear(spark)
      val p = new Pass
      val j0 = jobs.started(spark.sparkContext)
      val s = System.nanoTime()
      try w.pass(p) catch { case e: Throwable => ok = false; h.errors += s"pass: $e" }
      p.wallS = (System.nanoTime() - s) / 1e9
      p.jobs = jobs.started(spark.sparkContext) - j0
      if (ok) try w.outputs(p) catch { case e: Throwable => ok = false; h.errors += s"outputs: $e" }
      passes += p
      p
    }

    val steal0 = Harness.stealJiffies()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val tracer = if (traced) Some(new Tracer(spark.sparkContext)) else None
    if (traced) {
      // the traced pass runs first, in a cold JVM like every untraced pass
      h.tracer = tracer
      val tp = runPass()
      h.tracer = None
      if (ok) {
        val ref = runPass()
        if (ok) h.check("trace_outputs_equal") {
          (ref.digests == tp.digests, s"untraced=${ref.digests} traced=${tp.digests}")
        }
      }
    } else {
      runPass()
      while (ok && elapsed + Harness.median(passes.map(_.wallS).toSeq) <= seconds) runPass()
    }
    val measuredS = elapsed
    val steal = Harness.stealJiffies() - steal0

    val checkS = Harness.seconds {
      if (ok) {
        try w.check(passes.toSeq) catch { case e: Throwable => h.check("checks")((false, e.toString)) }
      } else h.failed = math.max(h.failed, 1)
    }._2

    val last = passes.last
    val timed = if (traced && passes.size > 1) passes.drop(1).toSeq else passes.toSeq
    def phase(p: Pass, name: String) = p.phaseS.getOrElse(name, 0.0)
    val e2e = Seq(
      ("setup_s", sessionS + genS, "s"),
      ("run_s", Harness.median(timed.map(_.wallS)), "s"),
      ("spark_jobs", Harness.median(timed.map(_.jobs.toDouble)), "count"),
      ("pagerank_s", Harness.median(timed.map(phase(_, "pagerank"))), "s"),
      ("pagerank_rounds_per_s", Harness.median(timed.map(p =>
        p.rounds.getOrElse("pagerank", 0) / phase(p, "pagerank"))), "1/s"))

    val layers = tracer.toSeq.flatMap { t =>
      val ls = Layers.metrics(h, t, w, passes.head)
      Layers.coverage(h, t).foreach { case (loop, ratio) =>
        h.check(s"$loop.span_coverage")((ratio >= 0.95 && ratio <= 1.05, f"span_sum/wall=$ratio%.4f"))
      }
      val spansFile = work.getParent.resolve(s"spans-$workload-$seed.jsonl")
      Files.write(spansFile, t.jsonLines.mkString("", "\n", "\n").getBytes("UTF-8"))
      ls
    }

    val shape = if (ok) try w.shape(last) catch { case e: Throwable => Seq("error" -> e.toString) }
                else Nil
    def metrics(ms: Seq[(String, Double, String)]) =
      ms.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap
    val detail = Seq(
      ("session_s", sessionS, "s"), ("generate_s", genS, "s"),
      ("measured_s", measuredS, "s"), ("passes", passes.size.toDouble, "count"),
      ("steal_jiffies", steal.toDouble, "count"), ("check_s", checkS, "s"),
      ("graph_s", Harness.median(timed.map(phase(_, "graph"))), "s")) ++
      (if (ok) w.detail(timed) else Nil)
    val json = Harness.json(Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores, "traced" -> traced,
      "attempted" -> h.attempted, "failed" -> h.failed, "errors" -> h.errors.toSeq,
      "checks" -> h.checks.toSeq.map { case (n, ok, note) => Map("name" -> n, "ok" -> ok, "note" -> note) },
      "end_to_end" -> metrics(e2e), "per_layer" -> metrics(layers), "detail" -> metrics(detail),
      "shape" -> shape.toMap,
      "queries" -> (w match { case s: Suite => s.queries; case _ => Nil }),
      "passes" -> passes.toSeq.map(p => Map("wall_s" -> p.wallS, "phases" -> p.phaseS.toMap,
        "rounds" -> p.rounds.toMap, "digests" -> p.digests.toMap))))
    Files.write(Paths.get(opts("out")), json.getBytes("UTF-8"))
    spark.stop()
  }
}
