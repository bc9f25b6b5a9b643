package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, AttributeSet}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral, JavaCode, UnsafeRowWriter}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CodegenSupport, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graft.{LoopState, LoopStateExec}
import org.apache.spark.sql.types.{DoubleType, LongType}

/** CSR message expansion as a WHOLE-OPERATOR custom plan — SURVEY.md §4.6,
  * the (c) path of the custom-operator preference order: LogicalPlan +
  * Rule[LogicalPlan] + SparkStrategy + SparkPlan, injectable via
  * SparkSessionExtensions.
  *
  * Semantics: over rows carrying a packed adjacency row (dsts: array<long>,
  * ps: array<double>) already joined with vertex state (rank: double), emit
  * one (dst, c = p·rank) message per neighbor — exactly
  * `explode(zip_with(dsts, ps, (d, p) -> struct(d, p * rank)))`, minus its
  * costs: zip_with is CodegenFallback (evicts the projection from
  * whole-stage codegen) and materializes an intermediate array of structs
  * per vertex before Generate re-explodes it. The physical operator walks
  * the two arrays once and writes each message straight into a reused
  * UnsafeRow.
  *
  * The operator is NARROW (per-partition), so the iteration's partitioning
  * contract is untouched: em⋈state needs no exchange, expansion is local,
  * the message groupBy stays the round's only shuffle.
  */
/** What each packed row expands to. One operator, two message kernels:
  * PageRank needs a weighted product per neighbor; CC/LPA need the plain
  * label copied to every neighbor. */
sealed trait CsrExpandMode extends Serializable {
  /** Child columns the kernel consumes (everything else is prunable). */
  def needed: Set[String]
}
object CsrExpandMode {
  /** (dsts, ps, rank) → (dst: long, c = p·rank: double) — PageRank gather. */
  case object MulRank extends CsrExpandMode {
    val needed: Set[String] = Set("dsts", "ps", "rank")
  }
  /** (dsts, label) → (dst: long, label: long) — CC min / LPA count gather. */
  case object CopyLabel extends CsrExpandMode {
    val needed: Set[String] = Set("dsts", "label")
  }
}

case class CsrExpand(child: LogicalPlan, override val output: Seq[Attribute],
                     mode: CsrExpandMode) extends UnaryNode {

  /** The child columns the operator consumes — declared so the optimizer
    * (incl. [[CsrExpandPruning]]) sees real references and never prunes
    * them away under the node. */
  @transient override lazy val references: AttributeSet =
    AttributeSet(child.output.filter(a => mode.needed(a.name)))

  override def producedAttributes: AttributeSet = AttributeSet(output)

  override protected def withNewChildInternal(newChild: LogicalPlan): CsrExpand =
    copy(child = newChild)
}

object CsrExpand {
  /** Output attributes are minted ONCE here; `copy` during plan transforms
    * must keep the same expression ids or parent references break. */
  def apply(child: LogicalPlan, mode: CsrExpandMode = CsrExpandMode.MulRank): CsrExpand =
    mode match {
      case CsrExpandMode.MulRank => new CsrExpand(child, Seq(
        AttributeReference("dst", LongType, nullable = false)(),
        AttributeReference("c", DoubleType, nullable = false)()), mode)
      case CsrExpandMode.CopyLabel => new CsrExpand(child, Seq(
        AttributeReference("dst", LongType, nullable = false)(),
        AttributeReference("label", LongType, nullable = false)()), mode)
    }
}

/** Physical operator: one pass over (dsts, ps, rank), messages written into
  * a reused UnsafeRow (safe: consumers process a row before pulling the
  * next — the same contract codegen'd operators rely on).
  *
  * Implements [[CodegenSupport]] (round-3): inside whole-stage codegen the
  * expansion is a plain `for` loop over the packed arrays feeding the
  * parent's consume directly — the join above and the partial sum-by-dst
  * HashAggregate below fuse into ONE generated function with no iterator
  * boundary or UnsafeRow materialization between them. The interpreted
  * `doExecute` below remains the fallback (spark.sql.codegen.wholeStage
  * off, or >8000-byte methods). */
case class CsrExpandExec(override val output: Seq[Attribute], child: SparkPlan,
                         mode: CsrExpandMode) extends UnaryExecNode with CodegenSupport {

  // the output attrs are minted by this node, not consumed from the child —
  // without this, QueryPlan counts the constructor's Seq[Attribute] as
  // references and renders the node with the missing-input "!" marker
  override def producedAttributes: AttributeSet = AttributeSet(output)

  private def idxOf(name: String): Int = {
    val i = child.output.indexWhere(_.name == name)
    require(i >= 0,
      s"CsrExpandExec($mode) needs '$name' in child output, got ${child.output.map(_.name)}")
    i
  }

  override protected def doExecute(): RDD[InternalRow] = mode match {
    case CsrExpandMode.MulRank =>
      val dstsIdx = idxOf("dsts"); val psIdx = idxOf("ps"); val rankIdx = idxOf("rank")
      child.execute().mapPartitions({ it =>
        val writer = new UnsafeRowWriter(2)
        it.flatMap { row =>
          val dsts = row.getArray(dstsIdx)
          val ps = row.getArray(psIdx)
          val rank = row.getDouble(rankIdx)
          val n = math.min(dsts.numElements(), ps.numElements())
          (0 until n).iterator.map { i =>
            writer.reset()
            writer.write(0, dsts.getLong(i))
            writer.write(1, ps.getDouble(i) * rank)
            writer.getRow
          }
        }
      }, preservesPartitioning = false)
    case CsrExpandMode.CopyLabel =>
      val dstsIdx = idxOf("dsts"); val labelIdx = idxOf("label")
      child.execute().mapPartitions({ it =>
        val writer = new UnsafeRowWriter(2)
        it.flatMap { row =>
          val dsts = row.getArray(dstsIdx)
          val label = row.getLong(labelIdx)
          (0 until dsts.numElements()).iterator.map { i =>
            writer.reset()
            writer.write(0, dsts.getLong(i))
            writer.write(1, label)
            writer.getRow
          }
        }
      }, preservesPartitioning = false)
  }

  // ---- whole-stage codegen ----

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    child.asInstanceOf[CodegenSupport].inputRDDs()

  override protected def doProduce(ctx: CodegenContext): String =
    child.asInstanceOf[CodegenSupport].produce(ctx, this)

  // one input row fans out to many output rows: a buffering parent (sort,
  // bounded-append) must copy, exactly as GenerateExec declares
  override def needCopyResult: Boolean = true

  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode], row: ExprCode): String = {
    val ord = child.output.map(_.name).zipWithIndex.toMap
    def in(name: String): ExprCode = input(ord(name))
    val i = ctx.freshName("i")
    val n = ctx.freshName("n")
    val dst = ctx.freshName("dst")
    val outDst = ExprCode(code"", FalseLiteral, JavaCode.variable(dst, LongType))
    mode match {
      case CsrExpandMode.MulRank =>
        val (dstsV, psV, rankV) = (in("dsts"), in("ps"), in("rank"))
        val c = ctx.freshName("c")
        val outC = ExprCode(code"", FalseLiteral, JavaCode.variable(c, DoubleType))
        s"""
           |${evaluateVariables(input)}
           |final int $n = java.lang.Math.min(${dstsV.value}.numElements(), ${psV.value}.numElements());
           |for (int $i = 0; $i < $n; $i++) {
           |  final long $dst = ${dstsV.value}.getLong($i);
           |  final double $c = ${psV.value}.getDouble($i) * ${rankV.value};
           |  ${consume(ctx, Seq(outDst, outC))}
           |}
         """.stripMargin
      case CsrExpandMode.CopyLabel =>
        val (dstsV, labelV) = (in("dsts"), in("label"))
        val lbl = ctx.freshName("lbl")
        val outLbl = ExprCode(code"", FalseLiteral, JavaCode.variable(lbl, LongType))
        s"""
           |${evaluateVariables(input)}
           |final int $n = ${dstsV.value}.numElements();
           |final long $lbl = ${labelV.value};
           |for (int $i = 0; $i < $n; $i++) {
           |  final long $dst = ${dstsV.value}.getLong($i);
           |  ${consume(ctx, Seq(outDst, outLbl))}
           |}
         """.stripMargin
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): CsrExpandExec =
    copy(child = newChild)
}

/** Plans [[CsrExpand]] → [[CsrExpandExec]], [[FoldStats]] → [[FoldStatsExec]]
  * and a loop's state leaf (LoopState) → LoopStateExec. */
object GraftStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case CsrExpand(child, output, mode) => CsrExpandExec(output, planLater(child), mode) :: Nil
    case FoldStats(child, folds, sink) => FoldStatsExec(folds, sink, planLater(child)) :: Nil
    case LoopState(output, slot, partitioning, ordering) =>
      LoopStateExec(output, slot, partitioning, ordering) :: Nil
    case _ => Nil
  }
}

/** Column pruning for the custom node: built-in ColumnPruning doesn't know
  * it, so without this the child join would materialize every column (e.g.
  * the join key) just to have CsrExpand ignore it. */
object CsrExpandPruning extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case e @ CsrExpand(child, _, _) if child.output.size > e.references.size =>
      e.copy(child = Project(child.output.filter(e.references.contains), child))
  }
}

/** `spark.sql.extensions=graft.plans.GraftSparkExtensions` entry point. */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => GraftStrategy)
    ext.injectOptimizerRule(_ => CsrExpandPruning)
  }
}

object GraftPlans {
  /** Runtime injection for sessions built without the extensions config —
    * idempotent. */
  def install(spark: SparkSession): Unit = synchronized {
    val exp = spark.experimental
    if (!exp.extraStrategies.contains(GraftStrategy))
      exp.extraStrategies = exp.extraStrategies :+ GraftStrategy
    if (!exp.extraOptimizations.contains(CsrExpandPruning))
      exp.extraOptimizations = exp.extraOptimizations :+ CsrExpandPruning
  }

  /** `joined` must carry dsts/ps/rank (packed adjacency ⋈ state); returns
    * the (dst, c = p·rank) message stream via the custom operator. */
  def expandMessages(joined: DataFrame): DataFrame = {
    install(joined.sparkSession)
    org.apache.spark.sql.graft.PlanBridge.ofRows(
      joined.sparkSession, CsrExpand(joined.queryExecution.analyzed))
  }

  /** `joined` must carry dsts/label (packed adjacency ⋈ label state);
    * returns the (dst, label) message stream — the CC/LPA gather input. */
  def expandLabels(joined: DataFrame): DataFrame = {
    install(joined.sparkSession)
    org.apache.spark.sql.graft.PlanBridge.ofRows(
      joined.sparkSession,
      CsrExpand(joined.queryExecution.analyzed, CsrExpandMode.CopyLabel))
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
