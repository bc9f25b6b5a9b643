package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}

import graft.plans.{Fold, FoldResult, GraftPlans}

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
  * `wall_ms`); the stop test and round cap; and `mat.close()`. A committed
  * frame is flat and readable until the next commit frees it, so a step
  * reads the last state directly, even inside the next commit.
  *
  * With `startStats`, round 0's commit is folded too, and a resumed state's
  * stats cost one fold job (on resume only).
  */
final class Fixpoint private (mat: Materializer) {
  import Fixpoint._

  /** Runs `loop` to its stop test or round cap. */
  def run(loop: Loop): Outcome = {
    import loop._
    def keep(df: DataFrame): DataFrame = df.select(cols.map(F.col): _*)
    // the commit holds `cols` only: a column just the stats read (star
    // CC's `fresh`) is folded beneath the projection
    def commit(k: Int, df: DataFrame, meta: Map[String, Any]): (DataFrame, FoldResult) = {
      val folded = GraftPlans.fold(df, stats: _*)
      val out = if (folded.frame.columns.toSeq == cols) folded.frame else keep(folded.frame)
      (keep(mat.iter(k, out, meta)), folded.result())
    }
    val (start, state0, stats0) = mat.resume() match {
      case Some((k, committed)) =>
        val df = resumed(committed)
        (k, keep(df), if (startStats) Some(GraftPlans.fold(df, stats: _*).compute()) else None)
      case None if startStats =>
        val (st, s) = commit(0, init(), Map("init" -> true))
        if (noteStart) mat.note(0, note(s))
        (0, st, Some(s))
      case None =>
        (0, keep(mat.iter(0, init(), Map("init" -> true))), None)
    }
    var (k, state, seen) = (start, state0, stats0.map(start -> _).toVector)
    def last = seen.lastOption.map(_._2)
    var stopped = last.exists(done(_, None)) // the start may be the fixpoint
    while (k < maxRounds && !stopped) {
      k += 1
      val t0 = System.nanoTime()
      val (st, s) = commit(k, step(Round(k, state, last)), meta)
      mat.note(k, note(s) + ("wall_ms" -> (System.nanoTime() - t0) / 1000000L))
      stopped = done(s, last)
      state = st
      seen :+= (k -> s)
    }
    Outcome(state, k, stopped, seen)
  }
}

object Fixpoint {

  /** What a loop supplies. `cols` are the committed columns the step sees;
    * a resumed loop continues its round numbers up to `maxRounds`.
    * `done(s, last)` sees each round's stats and the last round's (with
    * `startStats`, the start's first, last = None). `note` is a round's
    * ledger note (`noteStart`: the start's too, as round 0); `meta` goes
    * with each round commit. `resumed` adds to a resumed frame what its
    * commit did not hold: stats-only columns, or an older layout's gaps. */
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

  /** A round's number, the last committed state and its stats (None for
    * a start state whose stats are not read). */
  final case class Round(n: Int, state: DataFrame, last: Option[FoldResult])

  /** The last committed state and round; whether the stop test fired
    * (false when the cap ended the loop); every (round, stats) seen. */
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
