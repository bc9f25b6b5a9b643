package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.util.AccumulatorV2

/** Per-round loop statistics, folded by the job that materializes the round,
  * so a round needs no driver action (a second Spark job) after its commit.
  *
  * [[FoldStats]] is a pass-through operator on top of the round's plan. It
  * hands every row on unchanged and, on the side, folds a few expressions
  * (max or sum) per partition; when a partition's iterator ends, its partial
  * goes into a [[FoldSink]] accumulator keyed by partition index. The driver
  * merges the partials in INDEX order, not in task-completion order, so a
  * merged double is the same on every run at any loop width. At one
  * partition the merge is what Spark's own `agg` computes: rows in
  * partition order, summed from 0.0, with Spark's max ordering for doubles.
  *
  * Why not `Dataset.observe`: its accumulator merges tasks in completion
  * order, so at width > 1 a folded sum that feeds the next round
  * (PageRank's dangling mass) could differ in the last bit between runs, and
  * a resumed run would no longer match an uninterrupted one bit for bit.
  */
sealed trait FoldKind extends Serializable
object FoldKind {
  case object Max extends FoldKind
  case object Sum extends FoldKind
}

/** One named statistic: `kind` over `column`, a double or long expression of
  * the folded frame (longs fold exactly). Null values are skipped, as
  * Spark's aggregates skip them. */
final case class Fold(name: String, kind: FoldKind, column: Column)
object Fold {
  def max(name: String, column: Column): Fold = Fold(name, FoldKind.Max, column)
  def sum(name: String, column: Column): Fold = Fold(name, FoldKind.Sum, column)
}

/** Merged statistics: the frame's row count, and each fold's value (a
  * Double or a Long by the column's type; 0 when no row had a value). */
final case class FoldResult(rows: Long, values: Map[String, Any]) {
  def double(name: String): Double = values(name).asInstanceOf[Double]
  def long(name: String): Long = values(name).asInstanceOf[Long]
}

/** One partition's partial: its row count and, per fold, whether a value
  * was seen and the running double (or long) value. */
final class FoldPartial(n: Int) extends Serializable {
  var rows = 0L
  val seen = new Array[Boolean](n)
  val d = new Array[Double](n)
  val l = new Array[Long](n)

  def update(v: InternalRow, kinds: Array[FoldKind], longs: Array[Boolean]): Unit = {
    rows += 1
    var i = 0
    while (i < kinds.length) {
      if (!v.isNullAt(i)) {
        // sums start at 0, as Spark's sum does; a max takes its first value
        if (longs(i)) {
          val x = v.getLong(i)
          l(i) =
            if (kinds(i) == FoldKind.Sum) l(i) + x
            else if (!seen(i)) x
            else math.max(l(i), x)
        } else {
          val x = v.getDouble(i)
          d(i) =
            if (kinds(i) == FoldKind.Sum) d(i) + x
            else if (!seen(i) || SQLOrderingUtil.compareDoubles(x, d(i)) > 0) x
            else d(i)
        }
        seen(i) = true
      }
      i += 1
    }
  }
}

/** Collects [[FoldPartial]]s keyed by partition index. A re-executed task
  * overwrites its own key with the same value, so retries are harmless. */
final class FoldSink(val names: Seq[String], val kinds: Array[FoldKind], val longs: Array[Boolean])
    extends AccumulatorV2[(Int, FoldPartial), Map[Int, FoldPartial]] {
  private var parts = Map.empty[Int, FoldPartial]
  /** Partition count of the execution feeding this sink, set on the driver
    * when the plan executes; -1 until then. */
  @volatile private[plans] var expected = -1

  override def isZero: Boolean = parts.isEmpty
  override def copy(): FoldSink = {
    val c = new FoldSink(names, kinds, longs)
    c.parts = parts
    c
  }
  override def reset(): Unit = {
    parts = Map.empty
    expected = -1
  }
  override def add(v: (Int, FoldPartial)): Unit = parts += v
  override def merge(other: AccumulatorV2[(Int, FoldPartial), Map[Int, FoldPartial]]): Unit =
    parts ++= other.value
  override def value: Map[Int, FoldPartial] = parts

  /** Merges the partials in partition-index order; fails loudly when the
    * folded frame was not wholly materialized. */
  def result(): FoldResult = {
    require(expected >= 0 && (0 until expected).forall(parts.contains),
      s"fold (${names.mkString(", ")}) read before its frame was materialized: " +
        s"${parts.size} of ${math.max(expected, 0)} partitions reported")
    val ordered = (0 until expected).map(parts)
    val values = names.indices.map { i =>
      val seen = ordered.filter(_.seen(i))
      val v: Any =
        if (longs(i))
          if (seen.isEmpty) 0L
          else if (kinds(i) == FoldKind.Sum) seen.map(_.l(i)).sum
          else seen.map(_.l(i)).max
        else if (kinds(i) == FoldKind.Sum) seen.foldLeft(0.0)(_ + _.d(i))
        else if (seen.isEmpty) 0.0
        else seen.map(_.d(i)).reduceLeft((a, b) => if (SQLOrderingUtil.compareDoubles(b, a) > 0) b else a)
      names(i) -> v
    }
    FoldResult(ordered.map(_.rows).sum, values.toMap)
  }
}

/** Logical pass-through node: output = child output; `folds` are resolved
  * against the child. The sink is left out of the plan text, so a loop's
  * rounds render (and cache generated code) the same. */
case class FoldStats(child: LogicalPlan, folds: Seq[Expression], sink: FoldSink) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def stringArgs: Iterator[Any] = Iterator(folds)
  override protected def withNewChildInternal(newChild: LogicalPlan): FoldStats =
    copy(child = newChild)
}

/** Physical pass-through: keeps the child's partitioning and ordering (the
  * loops' one-shuffle contract reads them off the committed frame), folds
  * each partition's rows through one projection of the fold expressions. */
case class FoldStatsExec(folds: Seq[Expression], sink: FoldSink, child: SparkPlan)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override protected def stringArgs: Iterator[Any] = Iterator(folds)

  override protected def doExecute(): RDD[InternalRow] = {
    val bound = folds.map(BindReferences.bindReference(_, child.output))
    val (s, kinds, longs) = (sink, sink.kinds, sink.longs)
    val rdd = child.execute()
    s.expected = rdd.getNumPartitions
    rdd.mapPartitionsWithIndex({ (idx, it) =>
      val proj = UnsafeProjection.create(bound)
      val part = new FoldPartial(kinds.length)
      new Iterator[InternalRow] {
        private var open = true
        override def hasNext: Boolean = {
          val h = it.hasNext
          if (!h && open) { open = false; s.add(idx -> part) }
          h
        }
        override def next(): InternalRow = {
          val row = it.next()
          part.update(proj(row), kinds, longs)
          row
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): FoldStatsExec =
    copy(child = newChild)
}

/** A frame whose materialization also folds its statistics. Hand `frame` to
  * the job that materializes the round (a Materializer's `iter`), then read
  * `result()`; or call `compute()` to run the fold as a job of its own. */
final class Folded(val frame: DataFrame, val sink: FoldSink) {
  def result(): FoldResult = sink.result()
  def compute(): FoldResult = {
    frame.queryExecution.toRdd.foreach(_ => ())
    result()
  }
}
