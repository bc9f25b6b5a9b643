package graft.algo

import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.graft.{LoopPlanned, LoopState, PreparedRound, StateRef, StateSlot}

import graft.plans.{Fold, FoldResult, FoldSink, GraftPlans}

/** The one loop skeleton of the cumulative-state algorithms: PageRank/PPR,
  * HashMin and star CC, LPA, Katz, HITS, MIS, k-core, k-truss, HyperBall.
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
  * committed frame is flat and readable until the next commit frees it, so
  * a round reads the last state directly, even inside its own commit.
  *
  * The plan is prepared again only when the committed state's schema or
  * its partitioning (by column position) differs from the leaf it was
  * planned over: after the init commit, and after a resume from a durable
  * snapshot whose layout differs. Each prepare posts a [[LoopPlanned]]
  * event to the listener bus.
  *
  * With `startStats`, round 0's commit is folded too, and a resumed state's
  * stats cost one fold job (on resume only). One FoldSink serves the loop.
  */
final class Fixpoint private (mat: Materializer) {
  import Fixpoint._

  /** Runs `loop` to its stop test or round cap. */
  def run(loop: Loop): Outcome = {
    import loop._
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

    /** The round planned over a leaf shaped like `state`. A step output
      * more nullable than the state is planned again over a leaf that
      * says so (twice at most: a nullable state can make more output
      * columns nullable), so that the next commit fits the plan. */
    def prepare(state: StateRef, tries: Int = 2): Prepared = {
      val (leaf, slot) = LoopState.frame(spark, state)
      val round = new PreparedRound(
        keep(fold(step(new Round(leaf, slots, sink))).frame).queryExecution.executedPlan)
      val out = StateRef(round.output, null, round.partitioning, round.ordering)
        .keyedBy(cols.take(1))
      val widened = state.copy(output = state.output.zip(out.output).map {
        case (a, b) => a.withNullability(a.nullable || b.nullable)
      })
      if (tries > 0 && out.shape != state.shape && widened.shape == out.shape)
        prepare(widened, tries - 1)
      else {
        LoopPlanned.post(spark, cols, round.plan)
        Prepared(state.shape, slot, round)
      }
    }

    val (start, committed0, stats0) = mat.resume() match {
      case Some((k, committed)) =>
        val df = resumed(committed)
        (k, keep(df), if (startStats) Some(fold(df).compute()) else None)
      case None if startStats =>
        val f = fold(init())
        val st = mat.iter(0, keep(f.frame), Map("init" -> true))
        val s = f.result()
        if (noteStart) mat.note(0, note(s))
        (0, st, Some(s))
      case None =>
        (0, mat.iter(0, keep(init()), Map("init" -> true)), None)
    }
    var (k, state, seen) = (start, keep(committed0), stats0.map(start -> _).toVector)
    var ref = LoopState.ref(state)
    var prepared = Option.empty[Prepared]
    def last = seen.lastOption.map(_._2)
    var stopped = last.exists(done(_, None)) // the start may be the fixpoint
    while (k < maxRounds && !stopped) {
      k += 1
      val t0 = System.nanoTime()
      val p = prepared.filter(_.shape == ref.shape).getOrElse(prepare(ref))
      prepared = Some(p)
      p.slot.rdd = ref.rdd
      slots.n = k
      slots.last = last.map(_.values).getOrElse(Map.empty)
      sink.get.reset()
      state = keep(mat.iter(k, p.round.execute(), meta))
      val s = sink.get.result()
      mat.note(k, note(s) + ("wall_ms" -> (System.nanoTime() - t0) / 1000000L))
      stopped = done(s, last)
      ref = LoopState.ref(state)
      seen :+= (k -> s)
    }
    Outcome(LoopState.handOut(state), k, stopped, seen)
  }
}

object Fixpoint {

  /** What a loop supplies. `cols` are the committed columns the step sees;
    * a resumed loop continues its round numbers up to `maxRounds`.
    * `step` builds a round's frame once per prepared plan (see the class
    * doc). `done(s, last)` sees each round's stats and the last round's
    * (with `startStats`, the start's first, last = None). `note` is a
    * round's ledger note (`noteStart`: the start's too, as round 0); `meta`
    * goes with each round commit. `resumed` adds to a resumed frame what
    * its commit did not hold: stats-only columns, or an older layout's
    * gaps. */
  final case class Loop(
      cols: Seq[String],
      maxRounds: Int,
      init: () => DataFrame,
      step: Round => DataFrame,
      stats: Seq[Fold] = Nil,
      done: (FoldResult, Option[FoldResult]) => Boolean = (_, _) => false,
      note: FoldResult => Map[String, Any] = _ => Map.empty,
      meta: Map[String, Any] = Map.empty,
      startStats: Boolean = false,
      noteStart: Boolean = false,
      resumed: DataFrame => DataFrame = identity)

  /** What a round reads: the last committed state (a frame over the state
    * leaf), and per-round values as columns that read the runner's slots
    * when the round's tasks are serialized. */
  final class Round private[Fixpoint] (val state: DataFrame, slots: Slots,
                                      sink: Option[FoldSink]) {
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

  /** A prepared round, the state shape it was planned over and its slot. */
  private final case class Prepared(shape: Any, slot: StateSlot, round: PreparedRound)

  /** The last committed state and round; whether the stop test fired
    * (false when the cap ended the loop); every (round, stats) seen. A
    * state in one partition reports it as SinglePartition (the loop's own
    * commits are keyed, LoopState.ref), so a sort after the loop needs no
    * exchange. */
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
