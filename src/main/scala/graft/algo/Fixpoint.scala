package graft.algo

import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.graft.{FlatCheckpoint, LoopPlanned, LoopState, PreparedRound,
  SliceUnion, StateRef, StateSlot}

import graft.plans.{Fold, FoldResult, FoldSink, GraftPlans}

/** The one loop skeleton of the engine: PageRank/PPR, HashMin and star CC,
  * LPA, Katz, HITS, MIS, k-core, k-truss and HyperBall hold a cumulative
  * state; BFS, SSSP, betweenness and SCC's mark phase append to theirs.
  * Rounds are the unit of cost (Rastogi et al., ICDE 2013); a round here is
  * ONE Spark job, the commit, whose [[Fold]] stats (graft.plans.FoldStats)
  * stand in for per-round counts, firsts and aggs.
  *
  * A loop supplies its init frame, round step, stats and stop test. The
  * runner owns the [[IterativeConf]] scope (the materializer's width, else
  * the adaptive width for `rows` = max(vertices, edges)); resume, or round
  * 0 committed with `init -> true`; each commit and its note (the stats and
  * `wall_ms`); the stop test and round cap; and `mat.close()`.
  *
  * A round is planned once per loop, not once per round. The step runs
  * over a state LEAF (org.apache.spark.sql.graft.LoopState) whose rows are
  * the committed state held in a slot; the runner plans step + fold +
  * projection to a physical plan once (org.apache.spark.sql.graft
  * .PreparedRound) and each round re-executes it over the slot, with the
  * generated code of the first round: no analysis, optimization, planning
  * or code generation after it. What changes between rounds enters through
  * slot-backed columns, [[Round.n]] and [[Round.last]], never literals. The
  * committed frame is flat and readable until the next commit, so a round
  * reads the last state directly, even inside its own commit.
  *
  * An APPEND loop's step returns only the round's new slice, and each
  * commit holds that slice: durable write volume is O(state), not
  * O(rounds × state), and a resume reads every slice back
  * ([[Materializer.resumeSlices]]). Its state leaf reads every slice so
  * far, concatenated partition by partition (the slices are partitioned
  * alike, so the whole keeps their partitioning); a second leaf,
  * [[Round.slice]], reads the last one. The loop keeps its slices: the
  * state it hands out reads them.
  *
  * The runner owns the loop's blocks: a cumulative loop's commit replaces
  * the last state, whose blocks are then freed; the materializers free
  * nothing.
  *
  * The plan is prepared again only when the committed state's schema or
  * its partitioning (by column position) differs from the leaf it was
  * planned over (a column the leaf calls nullable may hold no null): after
  * a resume from a durable snapshot whose layout differs. Each prepare posts a [[LoopPlanned]] event to the listener
  * bus.
  *
  * With `startStats`, round 0's commit is folded too, and a resumed state's
  * stats cost one fold job (on resume only). One FoldSink serves the loop.
  */
final class Fixpoint private (mat: Materializer) {
  import Fixpoint._

  /** A runner in this one's conf scope, at its width, whose loops commit
    * to `other`; `other` is not closed. */
  def on(other: Materializer): Fixpoint = new Fixpoint(other)

  /** Runs `loop` to its stop test or round cap. */
  def run(loop: Loop): Outcome = {
    import loop._
    val appending = append.nonEmpty
    val keys = if (appending) append else cols.take(1)
    val spark = SparkSession.active
    def keep(df: DataFrame): DataFrame =
      if (df.columns.toSeq == cols) df else df.select(cols.map(F.col): _*)
    var sink = Option.empty[FoldSink]
    def fold(df: DataFrame) = {
      val f = GraftPlans.fold(df, stats, sink)
      sink = Some(f.sink)
      f
    }
    val slots = new Slots

    /** The round planned over leaves shaped like `state`. A step output
      * more nullable than the state is planned again over leaves that say
      * so (twice at most: a nullable state can make more output columns
      * nullable), so that the next commit fits the plan. */
    def prepare(state: StateRef, tries: Int = 2): Prepared = {
      val (leaf, slot) = LoopState.frame(spark, state)
      val (slice, sliceSlot) = if (appending) LoopState.frame(spark, state) else (leaf, slot)
      val round = new PreparedRound(
        keep(fold(step(new Round(leaf, slice, slots, sink))).frame).queryExecution.executedPlan)
      val out = StateRef(round.output, null, round.partitioning,
        if (appending) Nil else round.ordering).rekeyed(keys)
      val widened = state.copy(output = state.output.zip(out.output).map {
        case (a, b) => a.withNullability(a.nullable || b.nullable)
      })
      if (tries > 0 && out.shape != state.shape && widened.shape == out.shape)
        prepare(widened, tries - 1)
      else {
        LoopPlanned.post(spark, cols, round.plan)
        Prepared(state, slot, sliceSlot, round)
      }
    }

    // An append loop's slices, and the state that reads them all.
    var slices = Vector.empty[StateRef]
    def advance(committed: DataFrame): StateRef =
      if (!appending) LoopState.ref(committed, keys)
      else {
        val s = LoopState.ref(committed, keys).copy(ordering = Nil)
        require(slices.forall(_.layout == s.layout),
          s"an append loop's slices must be partitioned alike: ${slices.head.partitioning} " +
            s"then ${s.partitioning}")
        slices :+= s
        s.copy(output = s.output.zipWithIndex.map { case (a, i) =>
          a.withNullability(slices.exists(_.output(i).nullable)) },
          rdd = if (slices.size == 1) s.rdd else new SliceUnion(slices.map(_.rdd)))
      }
    // A resumed slice, placed on the keys at the loop's width like the
    // slices a round commits.
    def placed(df: DataFrame): DataFrame =
      FlatCheckpoint.localCheckpoint(keep(resumed(df)).repartition(keys.map(F.col): _*), keys)
    val resumedState =
      if (!appending) mat.resume()
      else mat.resumeSlices() match {
        case Seq() => None
        case ss =>
          ss.init.foreach { case (_, df) => advance(placed(df)) }
          Some((ss.last._1, placed(ss.last._2)))
      }

    val (start, committed0, stats0) = resumedState match {
      case Some((k, committed)) =>
        val df = if (appending) committed else resumed(committed)
        (k, keep(df), if (startStats) Some(fold(df).compute()) else None)
      case None if startStats =>
        val f = fold(init())
        val st = mat.iter(0, keep(f.frame), Map("init" -> true) ++ meta(0))
        val s = f.result()
        if (noteStart) mat.note(0, note(s))
        (0, st, Some(s))
      case None =>
        (0, mat.iter(0, keep(init()), Map("init" -> true) ++ meta(0)), None)
    }
    var (k, state, seen) = (start, keep(committed0), stats0.map(start -> _).toVector)
    var ref = advance(state)
    var prepared = Option.empty[Prepared]
    def last = seen.lastOption.map(_._2)
    var stopped = last.exists(done(_, None)) // the start may be the fixpoint
    while (k < maxRounds && !stopped) {
      k += 1
      val t0 = System.nanoTime()
      val p = prepared.filter(_.fits(ref)).getOrElse(prepare(ref))
      prepared = Some(p)
      p.slot.rdd = ref.rdd
      if (appending) p.sliceSlot.rdd = slices.last.rdd
      slots.n = k
      slots.last = last.map(_.values).getOrElse(Map.empty)
      sink.get.reset()
      state = keep(mat.iter(k, p.round.execute(), meta(k)))
      val s = sink.get.result()
      mat.note(k, note(s) + ("wall_ms" -> (System.nanoTime() - t0) / 1000000L))
      stopped = done(s, last)
      val replaced = ref.rdd
      ref = advance(state)
      if (!appending) LoopState.free(replaced)
      seen :+= (k -> s)
    }
    Outcome(LoopState.handOut(if (appending) LoopState.frameOf(spark, ref) else state),
      k, stopped, seen)
  }
}

object Fixpoint {

  /** What a loop supplies. `cols` are the committed columns the step sees,
    * the first one the loop key; a resumed loop continues its round
    * numbers up to `maxRounds`. `step` builds a round's frame once per
    * prepared plan (see the class doc); `append` makes an append loop,
    * whose step's frame is the round's new slice, hash-partitioned on the
    * `append` columns like `init`. `done(s, last)` sees each
    * round's stats and the last round's (with `startStats`, the start's
    * first, last = None). `note` is a round's ledger note (`noteStart`: the
    * start's too, as round 0); `meta(k)` goes with round k's commit.
    * `resumed` adds to a resumed frame (each slice, with `append`) what its
    * commit did not hold: stats-only columns, or an older layout's gaps. */
  final case class Loop(
      cols: Seq[String],
      maxRounds: Int,
      init: () => DataFrame,
      step: Round => DataFrame,
      stats: Seq[Fold] = Nil,
      done: (FoldResult, Option[FoldResult]) => Boolean = (_, _) => false,
      note: FoldResult => Map[String, Any] = _ => Map.empty,
      meta: Int => Map[String, Any] = _ => Map.empty,
      startStats: Boolean = false,
      noteStart: Boolean = false,
      resumed: DataFrame => DataFrame = identity,
      append: Seq[String] = Nil)

  /** What a round reads: the last committed state (a frame over the state
    * leaf) and, in an append loop, the last committed slice (over a second
    * leaf; in any other loop, the state); and per-round values as columns
    * that read the runner's slots when the round's tasks are serialized. */
  final class Round private[Fixpoint] (val state: DataFrame, val slice: DataFrame,
                                      slots: Slots, sink: Option[FoldSink]) {
    /** The round's number (an int). */
    def n: Column = {
      val s = slots
      F.udf(() => s.n).withName("loop_round")()
    }

    /** The last round's folded stat `name` (the start's in round 1, which
      * needs `startStats`), a double or long as the fold is. */
    def last(name: String): Column = {
      val names = sink.map(_.names).getOrElse(Nil)
      val (s, i) = (slots, names.indexOf(name))
      require(i >= 0, s"no folded start stat $name in (${names.mkString(", ")})")
      val udf =
        if (sink.get.longs(i)) F.udf(() => s.last(name).asInstanceOf[Long])
        else F.udf(() => s.last(name).asInstanceOf[Double])
      udf.withName(s"last_$name")()
    }
  }

  /** The round's number and the last round's stats, set by the runner
    * before each round; tasks read the copy serialized with them. */
  private final class Slots extends Serializable {
    @volatile var n = 0
    @volatile var last = Map.empty[String, Any]
  }

  /** A prepared round, the state it was planned over and its slots. */
  private final case class Prepared(state: StateRef, slot: StateSlot, sliceSlot: StateSlot,
                                    round: PreparedRound) {
    /** Whether `ref` fits the leaves: their shape, where a column the
      * leaves call nullable may hold no null. */
    def fits(ref: StateRef): Boolean = state.shape == ref.copy(output =
      ref.output.zip(state.output).map { case (a, b) => a.withNullability(a.nullable || b.nullable) }
    ).shape
  }

  /** The last committed state (every slice, for an append loop) and
    * round; whether the stop test fired (false when the cap ended the
    * loop); every (round, stats) seen. A state in one partition reports it
    * as SinglePartition (the loop's own commits are keyed, LoopState.ref),
    * so a sort after the loop needs no exchange. */
  final case class Outcome(state: DataFrame, rounds: Int, done: Boolean,
                           seen: Vector[(Int, FoldResult)])

  /** Opens the loop's conf scope, runs `body` (the invariants, then
    * [[Fixpoint.run]]), then closes `mat`. */
  def apply[T](spark: SparkSession, mat: Materializer, rows: Long)(body: Fixpoint => T): T =
    IterativeConf(spark, Some(mat.loopPartitions.getOrElse(
      IterativeConf.adaptivePartitions(spark, rows)))) {
      val out = body(new Fixpoint(mat))
      mat.close()
      out
    }
}
