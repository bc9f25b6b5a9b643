package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame

import graft.algo.Materializer

/** Spark work done inside one span (or summed over several). */
final class Counters {
  var jobs, tasks, shuffleRead, shuffleWrite, spill, runMs, cpuNs, gcMs, outBytes = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill; runMs += o.runMs
    cpuNs += o.cpuNs; gcMs += o.gcMs; outBytes += o.outBytes
  }

  def fields: Map[String, Any] = Map(
    "jobs" -> jobs, "tasks" -> tasks, "shuffle_read_bytes" -> shuffleRead,
    "shuffle_write_bytes" -> shuffleWrite, "spill_bytes" -> spill,
    "executor_run_s" -> runMs / 1e3, "executor_cpu_s" -> cpuNs / 1e9,
    "gc_s" -> gcMs / 1e3, "output_bytes" -> outBytes)
}

/** Charges every Spark job, and the tasks of its stages, to the span that
  * was open on the submitting thread: the span id rides in a local property. */
final class Ledger extends SparkListener {
  private val bySpan = mutable.Map.empty[Int, Counters]
  private val stageSpan = mutable.Map.empty[Int, Int]

  private def counters(span: Int): Counters = bySpan.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .map(_.toInt).getOrElse(-1)
    counters(span).jobs += 1
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val c = counters(stageSpan.getOrElse(e.stageId, -1))
      c.tasks += 1
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.outBytes += m.outputMetrics.bytesWritten
    }
  }

  def of(span: Int): Counters = synchronized { bySpan.getOrElse(span, new Counters) }
}

/** Counts the Spark jobs started: the untraced runs' one counter. */
final class JobCounter extends SparkListener {
  @volatile private var n = 0L
  override def onJobStart(e: SparkListenerJobStart): Unit = n += 1
  def started(sc: SparkContext): Long = { ListenerDrain(sc); n }
}

final class SpanRec(val id: Int, val parent: Int, val name: String, val startS: Double) {
  var wallS = 0.0
}

/** Opens named spans on the driver thread. A span nested in another gets
  * the path `outer/inner`; its jobs are charged to it alone. */
final class Tracer(sc: SparkContext) {
  val ledger = new Ledger
  sc.addSparkListener(ledger)
  private val t0 = System.nanoTime()
  private val recs = mutable.ArrayBuffer.empty[SpanRec]
  private val open = mutable.Stack.empty[SpanRec]

  def span[T](name: String)(body: => T): T = {
    val full = open.headOption.map(_.name + "/" + name).getOrElse(name)
    val rec = new SpanRec(recs.size, open.headOption.fold(-1)(_.id), full,
      (System.nanoTime() - t0) / 1e9)
    recs += rec
    val prev = sc.getLocalProperty(Tracer.Key)
    sc.setLocalProperty(Tracer.Key, rec.id.toString)
    open.push(rec)
    val s = System.nanoTime()
    try body
    finally {
      rec.wallS = (System.nanoTime() - s) / 1e9
      open.pop()
      sc.setLocalProperty(Tracer.Key, prev)
    }
  }

  private def under(prefix: String): Seq[SpanRec] =
    recs.toSeq.filter(r => r.name == prefix || r.name.startsWith(prefix + "/"))

  /** Summed wall time of the spans named exactly `name`. */
  def wall(name: String): Double = recs.filter(_.name == name).map(_.wallS).sum

  /** Spark work of the spans named `prefix` and everything nested in them. */
  def counters(prefix: String): Counters = {
    ListenerDrain(sc)
    val c = new Counters
    under(prefix).foreach(r => c += ledger.of(r.id))
    c
  }

  def jsonLines: Seq[String] = {
    ListenerDrain(sc)
    recs.toSeq.map(r => Harness.json(Map("id" -> r.id, "parent" -> r.parent, "span" -> r.name,
      "layer" -> Tracer.layer(r.name), "start_s" -> r.startS, "wall_s" -> r.wallS,
      "spark" -> ledger.of(r.id).fields)))
  }
}

object Tracer {
  val Key = "perfbench.span"

  /** `graph.*`, `memo.*` and `query.*` spans name their layer; the loop
    * spans (`pagerank`, `cc`, `lpa`, `durable` and their Materializer
    * calls) belong to `algo`. */
  def layer(span: String): String = span.takeWhile(_ != '.') match {
    case l @ ("graph" | "memo" | "query") => l
    case _                                => "algo"
  }
}

/** Times a loop's calls into its [[Materializer]] and forwards every member
  * unchanged. `driverS` is the time between consecutive calls: the loop's
  * own driver-side planning and actions. */
final class TracingMaterializer(inner: Materializer, tracer: Tracer) extends Materializer {
  val callS = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val roundS = mutable.ArrayBuffer.empty[Double]
  var driverS = 0.0
  private var lastEnd = -1L
  private var lastIterEnd = -1L

  private def call[T](op: String)(body: => T): T = {
    val s = System.nanoTime()
    if (lastEnd >= 0) driverS += (s - lastEnd) / 1e9
    try tracer.span(op)(body)
    finally {
      lastEnd = System.nanoTime()
      callS(op) += (lastEnd - s) / 1e9
    }
  }

  def coveredS: Double = callS.values.sum + driverS

  override def loopPartitions: Option[Int] = inner.loopPartitions
  override def iter(iter: Int, df: DataFrame, meta: Map[String, Any]): DataFrame = {
    val out = call("iter")(inner.iter(iter, df, meta))
    if (iter > 0 && lastIterEnd >= 0) roundS += (lastEnd - lastIterEnd) / 1e9
    lastIterEnd = lastEnd
    out
  }
  override def shared(name: String, df: DataFrame, repartitionKeys: Seq[String],
                      fingerprint: Option[String]): DataFrame =
    call("shared")(inner.shared(name, df, repartitionKeys, fingerprint))
  override def resume(): Option[(Int, DataFrame)] = {
    val r = call("resume")(inner.resume())
    lastIterEnd = lastEnd
    r
  }
  override def resumeSlices(): Seq[(Int, DataFrame)] = {
    val r = call("resume")(inner.resumeSlices())
    lastIterEnd = lastEnd
    r
  }
  override def note(iter: Int, meta: Map[String, Any]): Unit = call("note")(inner.note(iter, meta))
  override def log: Seq[Map[String, Any]] = inner.log
  override def close(): Unit = inner.close()
}
