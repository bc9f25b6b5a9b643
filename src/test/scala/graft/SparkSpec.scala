package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.algo.Materializer

/** One shared local session for the whole test JVM (forked by sbt). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}

/** Forwards every member to `inner`; `width` pins the loop width. */
class ForwardingMaterializer(inner: Materializer, width: Option[Int] = None) extends Materializer {
  override def loopPartitions: Option[Int] = width.orElse(inner.loopPartitions)
  override def iter(iter: Int, df: DataFrame, meta: Map[String, Any]): DataFrame =
    inner.iter(iter, df, meta)
  override def shared(name: String, df: DataFrame, repartitionKeys: Seq[String],
                      fingerprint: Option[String]): DataFrame =
    inner.shared(name, df, repartitionKeys, fingerprint)
  override def resume(): Option[(Int, DataFrame)] = inner.resume()
  override def resumeSlices(): Seq[(Int, DataFrame)] = inner.resumeSlices()
  override def note(iter: Int, meta: Map[String, Any]): Unit = inner.note(iter, meta)
  override def log: Seq[Map[String, Any]] = inner.log
  override def close(): Unit = inner.close()
}
