package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}

import graft.algo.Materializer

/** What one timed pass over a workload measured. */
final class Pass {
  val phaseS = mutable.LinkedHashMap.empty[String, Double]
  val rounds = mutable.LinkedHashMap.empty[String, Int]
  val digests = mutable.LinkedHashMap.empty[String, String]
  var wallS = 0.0
  var jobs = 0L
}

/** State shared by a workload's set-up, passes and checks in one invocation. */
final class Harness(val spark: SparkSession, val work: Path, val seed: Long) {
  val cores: Int = spark.sparkContext.defaultParallelism
  var tracer: Option[Tracer] = None
  /** Every traced materializer of the traced pass, by loop name. */
  val mats = mutable.ArrayBuffer.empty[(String, TracingMaterializer)]
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer.empty[String]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]

  def dir(name: String): String = work.resolve(name).toString

  /** Runs one operation (an algorithm call or a query), timed into `phase`
    * and, when tracing, inside span `span`. */
  def op[T](p: Pass, span: String, phase: String)(body: => T): T = {
    attempted += 1
    try step(p, span, phase)(body)
    catch {
      case e: Throwable =>
        failed += 1
        errors += s"$span: $e"
        throw e
    }
  }

  /** Work that is timed but is not an operation of its own (forcing a
    * lazily built graph, its closures). */
  def step[T](p: Pass, span: String, phase: String)(body: => T): T = {
    val s = System.nanoTime()
    try tracer.fold(body)(_.span(span)(body))
    finally p.phaseS(phase) = p.phaseS.getOrElse(phase, 0.0) + (System.nanoTime() - s) / 1e9
  }

  /** The loop's materializer, wrapped for tracing in the traced pass. */
  def mat(loop: String, inner: Materializer): Materializer = tracer match {
    case Some(t) =>
      val m = new TracingMaterializer(inner, t)
      mats += loop -> m
      m
    case None => inner
  }

  /** An output check; a failing or throwing check counts as a failure. */
  def check(name: String)(body: => (Boolean, String)): Unit = {
    val s = System.nanoTime()
    val (ok, note) =
      try body catch { case e: Throwable => (false, e.toString) }
    if (!ok) failed += 1
    checks += ((name, ok, f"$note (${(System.nanoTime() - s) / 1e9}%.2f s)"))
  }
}

object Harness {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  /** Scala maps, sequences and scalars as one line of JSON. */
  def json(value: Any): String = mapper.writeValueAsString(value)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def seconds[T](body: => T): (T, Double) = {
    val s = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - s) / 1e9)
  }

  /** Order-free content digest of a frame: row count and the xor of
    * per-row 64-bit hashes over `cols`. */
  def digest(df: DataFrame, cols: String*): String = {
    val r = df.agg(F.count(F.lit(1)), F.coalesce(F.bit_xor(F.xxhash64(cols.map(F.col): _*)), F.lit(0L)))
      .first()
    s"${r.getLong(0)}:${java.lang.Long.toHexString(r.getLong(1))}"
  }

  /** Rows on which two (key, value) frames disagree, null-safe and exact. */
  def differing(a: DataFrame, b: DataFrame, key: String, value: String): Long =
    a.select(F.col(key), F.col(value).as("a"))
      .join(b.select(F.col(key), F.col(value).as("b")), Seq(key), "full_outer")
      .where(!(F.col("a") <=> F.col("b"))).count()

  def treeBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def stealJiffies(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().find(_.startsWith("cpu ")).getOrElse("").trim.split("\\s+")
        if (f.length > 8) f(8).toLong else 0L
      } finally src.close()
    } catch { case _: Throwable => 0L }
}
