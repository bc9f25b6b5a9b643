package graft

import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.graft.FlatCheckpoint

import graft.plans.{Fold, FoldStatsExec, GraftPlans}

/** The pass-through fold operator the loops commit through: rows pass
  * unchanged, and the statistics equal Spark's aggregates over the same
  * rows, merged in partition order. */
class FoldStatsSpec extends SparkSpec {
  import spark.implicits._

  private def frame = (0 until 1000).map(i => (i.toLong, if (i % 7 == 0) None else Some(i * 0.37)))
    .toDF("k", "x").repartition(4, F.col("k"))

  private val folds = Seq(
    Fold.sum("n_odd", F.when(F.col("k") % 2 === 1, 1L).otherwise(0L)),
    Fold.max("k_max", F.col("k")),
    Fold.max("x_max", F.col("x")),
    Fold.sum("x_sum", F.col("x")))

  test("a commit through the fold keeps rows and partitioning; stats == agg") {
    val f = GraftPlans.fold(frame, folds: _*)
    val committed = graft.algo.IterativeConf(spark) {
      assert(f.frame.queryExecution.executedPlan.collectFirst { case e: FoldStatsExec => e }.isDefined)
      FlatCheckpoint.localCheckpoint(f.frame)
    }
    assert(committed.queryExecution.executedPlan.outputPartitioning.isInstanceOf[HashPartitioning])
    val r = f.result()
    assert(committed.as[(Long, Option[Double])].collect().sortBy(_._1).toSeq ==
      frame.as[(Long, Option[Double])].collect().sortBy(_._1).toSeq)

    val want = frame.agg(F.count(F.lit(1)), F.sum(F.when(F.col("k") % 2 === 1, 1L).otherwise(0L)),
      F.max("k"), F.max("x"), F.sum("x")).first()
    assert(r.rows == want.getLong(0))
    assert(r.long("n_odd") == want.getLong(1))
    assert(r.long("k_max") == want.getLong(2))
    assert(r.double("x_max") == want.getDouble(3))
    // width 4: the partials merge in partition order, Spark's agg in its own
    val perPart = frame.groupBy(F.spark_partition_id().as("p")).agg(F.sum("x")).orderBy("p")
      .as[(Int, Double)].collect().map(_._2)
    assert(r.double("x_sum") == perPart.foldLeft(0.0)(_ + _))
    assert(math.abs(r.double("x_sum") - want.getDouble(4)) < 1e-9)
  }

  test("compute() runs the fold as one job; empty frames fold to zero") {
    val r = GraftPlans.fold(frame.where(F.col("k") < 0), folds: _*).compute()
    assert(r.rows == 0L && r.long("n_odd") == 0L && r.double("x_sum") == 0.0 &&
      r.double("x_max") == 0.0)
  }

  test("reading a fold before its frame is materialized fails loudly") {
    val f = GraftPlans.fold(frame, folds: _*)
    val ex = intercept[IllegalArgumentException](f.result())
    assert(ex.getMessage.contains("before its frame was materialized"))
    intercept[IllegalArgumentException](GraftPlans.fold(frame, Fold.sum("s", F.lit("a"))))
  }

  test("plan text does not change between rounds") {
    def plan = GraftPlans.fold(frame, folds: _*).frame.queryExecution.optimizedPlan.toString
      .replaceAll("#\\d+", "")
    assert(plan == plan)
  }
}
