package org.apache.spark.sql.graft

import org.apache.spark.{OneToOneDependency, Partition, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, AttributeSet, BindReferences, Expression, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeAndComment, CodeGenerator}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.classic.{SparkSession => CSparkSession}
import org.apache.spark.sql.execution.{CodegenSupport, LeafExecNode, LogicalRDD, SparkPlan, UnaryExecNode, WholeStageCodegenEvaluatorFactory, WholeStageCodegenExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeExec}
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.storage.StorageLevel

/** Holds the RDD of a loop's current committed state; a [[LoopStateExec]]
  * returns it when the round's plan executes. Driver-side only. */
final class StateSlot extends Serializable {
  @transient @volatile var rdd: RDD[InternalRow] = _
}

/** A committed loop state as rows: its RDD, columns, partitioning and
  * ordering. `shape` is what a prepared plan depends on: the schema and
  * the partitioning and ordering by column position. */
final case class StateRef(output: Seq[Attribute], rdd: RDD[InternalRow],
                          partitioning: Partitioning, ordering: Seq[SortOrder]) {
  def shape: Any = (output.map(a => (a.name, a.dataType, a.nullable)),
    LoopState.byPosition(partitioning, output), ordering.map(LoopState.byPosition(_, output)))

  /** The columns' names and types and the partitioning by position: what
    * the co-partitioned slices of an append loop share. */
  def layout: Any = (output.map(a => (a.name, a.dataType)), LoopState.byPosition(partitioning, output))

  /** One partition reported as hash partitioning on `keys` (see
    * FlatCheckpoint.localCheckpoint); any other partitioning as it is. */
  def keyedBy(keys: Seq[String]): StateRef = partitioning match {
    case SinglePartition if keys.nonEmpty =>
      copy(partitioning = HashPartitioning(keys.map(k => output.find(_.name == k).getOrElse(
        throw new IllegalArgumentException(s"no key column $k in ${output.map(_.name)}"))), 1))
    case _ => this
  }

  /** As [[keyedBy]], for any partitioning into one partition: in one
    * partition, every partitioning holds. */
  def rekeyed(keys: Seq[String]): StateRef =
    if (partitioning.numPartitions == 1) copy(partitioning = SinglePartition).keyedBy(keys) else this
}

object StateRef {
  /** A flat frame (a bare [[LogicalRDD]], what FlatCheckpoint returns) is
    * read as it is, with no planning; any other frame is planned once. */
  def of(df: DataFrame): StateRef = df.queryExecution.logical match {
    case r: LogicalRDD if !r.isStreaming =>
      StateRef(r.output, r.rdd, r.outputPartitioning, r.outputOrdering)
    case _ =>
      val qe = df.queryExecution
      val output = qe.analyzed.output
      StateRef(output, qe.toRdd,
        FlatCheckpoint.pickPartitioning(qe.executedPlan.outputPartitioning, output),
        qe.executedPlan.outputOrdering)
  }
}

/** The state leaf a loop round is planned over: a relation whose rows are
  * whatever [[StateSlot]] holds when the plan executes. Like a flat
  * checkpoint leaf it reports the state's partitioning and ordering and no
  * origin statistics. */
case class LoopState(output: Seq[Attribute], slot: StateSlot,
                     partitioning: Partitioning, ordering: Seq[SortOrder])
    extends LeafNode with MultiInstanceRelation {

  override def producedAttributes: AttributeSet = outputSet
  override protected def stringArgs: Iterator[Any] = Iterator(output)
  override def computeStats(): Statistics = Statistics(sizeInBytes = conf.defaultSizeInBytes)

  /** A second reference to the state in one plan (a self-join) gets new
    * attribute ids, its partitioning and ordering rewritten to match. */
  override def newInstance(): LoopState = {
    val fresh = output.map(_.newInstance())
    val rename = AttributeMap(output.zip(fresh))
    def rewrite[E <: Expression](e: E): E =
      e.transform { case a: Attribute => rename.getOrElse(a, a) }.asInstanceOf[E]
    LoopState(fresh, slot,
      partitioning match {
        case p: Expression => rewrite(p).asInstanceOf[Partitioning]
        case p => p
      },
      ordering.map(rewrite(_)))
  }
}

object LoopState {
  /** A committed loop state; in one partition, keyed by `keys` (the loop
    * key): at width 1 the state is then co-partitioned with the keyed
    * invariants, a round plans as it does at any width, and every commit
    * reports the same partitioning. */
  def ref(df: DataFrame, keys: Seq[String]): StateRef = StateRef.of(df).rekeyed(keys)

  /** `df` as a loop hands it out: a flat frame in one partition reports
    * SinglePartition instead of its loop key, which a sort or an
    * aggregate after the loop accepts with no exchange; any other frame as
    * it is. */
  def handOut(df: DataFrame): DataFrame = df.queryExecution.logical match {
    case r: LogicalRDD if !r.isStreaming && r.outputPartitioning.numPartitions == 1 &&
        r.outputPartitioning != SinglePartition =>
      FlatCheckpoint.flatFrame(df.sparkSession.asInstanceOf[CSparkSession], r.output, r.rdd,
        SinglePartition, r.outputOrdering)
    case _ => df
  }

  /** A flat frame over `state`'s rows, as it reports them. */
  def frameOf(spark: org.apache.spark.sql.SparkSession, state: StateRef): DataFrame =
    FlatCheckpoint.flatFrame(spark.asInstanceOf[CSparkSession], state.output, state.rdd,
      state.partitioning, state.ordering)

  /** Frees the blocks of a flat frame's rows (of every slice, for a frame
    * over a [[SliceUnion]]); any other frame holds no blocks of its own. */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => free(r.rdd)
    case _ =>
  }

  def free(rdd: RDD[_]): Unit = rdd match {
    case u: SliceUnion => u.slices.foreach(free)
    case r if r.getStorageLevel != StorageLevel.NONE => r.unpersist(blocking = false)
    case _ =>
  }

  /** A frame over a new leaf shaped like `state`, and the slot it reads. */
  def frame(spark: org.apache.spark.sql.SparkSession, state: StateRef): (DataFrame, StateSlot) = {
    val slot = new StateSlot
    (PlanBridge.ofRows(spark, LoopState(state.output, slot, state.partitioning, state.ordering)), slot)
  }

  /** `e` with its attributes replaced by their positions in `output`. */
  private[graft] def byPosition(e: Any, output: Seq[Attribute]): Any = e match {
    case x: Expression => BindReferences.bindReference(x, output, allowFailures = true)
    case other => other
  }
}

/** Co-partitioned slices read as one RDD: partition i is partition i of
  * every slice, in slice order. No row moves, so the slices' common
  * partitioning holds for the whole. */
final class SliceUnion(val slices: Seq[RDD[InternalRow]])
    extends RDD[InternalRow](slices.head.sparkContext, slices.map(new OneToOneDependency(_))) {
  require(slices.map(_.getNumPartitions).distinct.size == 1,
    s"slices of unequal widths: ${slices.map(_.getNumPartitions)}")

  override protected def getPartitions: Array[Partition] =
    Array.tabulate(slices.head.getNumPartitions)(i => SlicePartition(i, slices.map(_.partitions(i))))

  override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] =
    slices.iterator.zip(split.asInstanceOf[SlicePartition].parts.iterator)
      .flatMap { case (rdd, part) => rdd.iterator(part, context) }
}

private final case class SlicePartition(index: Int, parts: Seq[Partition]) extends Partition

/** Physical [[LoopState]]: the slot's RDD, as the state was committed. */
case class LoopStateExec(output: Seq[Attribute], slot: StateSlot,
                         override val outputPartitioning: Partitioning,
                         override val outputOrdering: Seq[SortOrder])
    extends LeafExecNode {
  override def producedAttributes: AttributeSet = outputSet
  override protected def stringArgs: Iterator[Any] = Iterator(output)

  override protected def doExecute(): RDD[InternalRow] = {
    val rdd = slot.rdd
    require(rdd != null, "a loop round executed before its state slot was filled")
    require(outputPartitioning.isInstanceOf[UnknownPartitioning] ||
      rdd.getNumPartitions == outputPartitioning.numPartitions,
      s"loop state has ${rdd.getNumPartitions} partitions, its plan expects " +
        outputPartitioning.numPartitions)
    rdd
  }
}

/** Posted to the listener bus each time a loop prepares its round plan:
  * the loop's committed columns and the round's physical plan. */
final case class LoopPlanned(columns: Seq[String], plan: String) extends SparkListenerEvent

object LoopPlanned {
  def post(spark: org.apache.spark.sql.SparkSession, columns: Seq[String], plan: SparkPlan): Unit =
    spark.sparkContext.listenerBus.post(LoopPlanned(columns, plan.toString))
}

/** A loop round's physical plan, planned once and executed every round.
  *
  * At width 1 the plan drops every shuffle from one partition into one
  * partition: such an exchange moves no row between partitions, and with
  * one map task and one reduce partition the rows keep their order, so
  * the results are the same bit for bit. The round is then one stage of
  * one task, which holds the hash tables of both former stages at once
  * (the aggregates still spill as before). `plan` is the plan executed.
  *
  * Spark memoizes `execute()` per plan node, and an exchange's shuffle
  * dependency is made once per node, so each round executes a fresh
  * `clone()` of the plan. A clone alone would generate every whole-stage
  * codegen source again (as costly as planning), so each stage here is a
  * [[ReusedCodegenExec]]: its source is generated and compiled on the
  * first round, and later rounds build only the stage's input RDDs.
  *
  * Generated code may hold plan objects and values of the first round
  * (hash-join and aggregate nodes, metrics, UDFs, broadcast relations). A
  * round plan may therefore not contain subqueries, nor broadcast anything
  * computed from its state; per-round scalars enter through UDFs that read
  * a serializable slot when the tasks are serialized. */
final class PreparedRound(planned: SparkPlan) {
  require(planned.find(_.subqueries.nonEmpty).isEmpty,
    s"a loop round may not hold subqueries:\n$planned")
  require(planned.collectFirst {
    case b: BroadcastExchangeLike if b.exists(_.isInstanceOf[LoopStateExec]) => b
  }.isEmpty, s"a loop round may not broadcast its state:\n$planned")

  val plan: SparkPlan = planned.transformUp {
    case s: ShuffleExchangeExec
        if s.outputPartitioning.numPartitions == 1 &&
          s.child.outputPartitioning.numPartitions == 1 => s.child
  }
  private val template = plan.transformUp {
    case w: WholeStageCodegenExec => ReusedCodegenExec(w.child, w.codegenStageId, new StageCode)
  }
  val output: Seq[Attribute] = plan.output
  // As planned: a dropped shuffle went from one partition into one and
  // kept its rows' order, so the planned partitioning and ordering hold.
  val partitioning: Partitioning = FlatCheckpoint.pickPartitioning(planned.outputPartitioning, output)
  val ordering: Seq[SortOrder] = planned.outputOrdering

  /** The round's rows, computed over what the state slots hold now, as a
    * flat frame (a bare LogicalRDD, no planning needed to read it). */
  def execute(): DataFrame = {
    val rdd = template.clone().execute()
    FlatCheckpoint.flatFrame(plan.session, output, rdd, partitioning, ordering)
  }
}

/** One whole-stage codegen stage's generated source, kept across rounds;
  * `source` stays null when the stage does not compile or is too large,
  * and the stage then runs interpreted, as Spark's own fallback does.
  * Driver-side only: tasks that ship plan nodes ship none of it. */
final class StageCode extends Serializable {
  @transient @volatile var ready = false
  @transient var source: Either[Broadcast[CodeAndComment], CodeAndComment] = _
  @transient var metric: SQLMetric = _
  @transient var references: Array[Any] = _

  def generate(stage: WholeStageCodegenExec): Unit = synchronized {
    if (!ready) {
      val (ctx, cleaned) = stage.doCodeGen()
      val fits =
        try CodeGenerator.compile(cleaned)._2.maxMethodCodeSize <= stage.conf.hugeMethodLimit
        catch { case scala.util.control.NonFatal(_) if stage.conf.codegenFallback => false }
      if (fits) {
        source = stage.tryBroadcastCleanedSource(cleaned)
        metric = stage.longMetric("pipelineTime")
        references = ctx.references.toArray
      }
      ready = true
    }
  }
}

/** A whole-stage codegen stage that generates its source once (on a clone
  * that never executes) and reuses it for every execution. */
case class ReusedCodegenExec(child: SparkPlan, stageId: Int, code: StageCode)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override protected def stringArgs: Iterator[Any] = Iterator(stageId)

  override protected def doExecute(): RDD[InternalRow] = {
    if (!code.ready) code.generate(WholeStageCodegenExec(child.clone())(stageId))
    if (code.source == null) child.execute()
    else {
      val factory = new WholeStageCodegenEvaluatorFactory(code.source, code.metric, code.references)
      child.asInstanceOf[CodegenSupport].inputRDDs() match {
        case Seq(one)      => one.mapPartitionsWithEvaluator(factory)
        case Seq(one, two) => one.zipPartitionsWithEvaluator(two, factory)
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): ReusedCodegenExec =
    copy(child = newChild)
}
