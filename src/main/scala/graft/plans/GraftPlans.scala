package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.graft.{LoopState, LoopStateExec}
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Plans the engine's own logical nodes: [[FoldStats]] → [[FoldStatsExec]]
  * and a loop's state leaf (LoopState) → LoopStateExec. */
object GraftStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case FoldStats(child, folds, sink) => FoldStatsExec(folds, sink, planLater(child)) :: Nil
    case LoopState(output, slot, partitioning, ordering) =>
      LoopStateExec(output, slot, partitioning, ordering) :: Nil
    case _ => Nil
  }
}

object GraftPlans {
  /** Adds [[GraftStrategy]] to the session's planner — idempotent. */
  def install(spark: SparkSession): Unit = synchronized {
    val exp = spark.experimental
    if (!exp.extraStrategies.contains(GraftStrategy))
      exp.extraStrategies = exp.extraStrategies :+ GraftStrategy
  }

  /** `df` with a [[FoldStats]] on top: materializing `frame` (one loop
    * commit) also folds `folds` over its rows, read back with `result()`. */
  def fold(df: DataFrame, folds: Fold*): Folded = fold(df, folds, None)

  /** As above, into `sink` when given (a loop's one sink, reset here and
    * by each round), else into a new registered sink. */
  def fold(df: DataFrame, folds: Seq[Fold], sink: Option[FoldSink]): Folded = {
    val spark = df.sparkSession
    install(spark)
    // resolve the fold columns against df's plan, aliases dropped
    val Project(list, child) = df.select(folds.map(_.column): _*).queryExecution.analyzed
    val exprs = list.map {
      case a: Alias => a.child
      case e        => e
    }
    exprs.zip(folds).foreach { case (e, f) =>
      require(e.dataType == DoubleType || e.dataType == LongType,
        s"fold ${f.name} must be a double or long column, got ${e.dataType}")
    }
    val longs = exprs.map(_.dataType == LongType)
    val s = sink.getOrElse {
      val s = new FoldSink(folds.map(_.name), folds.map(_.kind).toArray, longs.toArray)
      spark.sparkContext.register(s)
      s
    }
    require(s.names == folds.map(_.name) && s.longs.toSeq == longs,
      s"fold (${folds.map(_.name).mkString(", ")}) does not match its sink")
    s.reset()
    new Folded(org.apache.spark.sql.graft.PlanBridge.ofRows(spark, FoldStats(child, exprs, s)), s)
  }
}
