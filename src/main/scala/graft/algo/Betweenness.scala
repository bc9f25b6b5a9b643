package graft.algo

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.graft.{FlatCheckpoint, LoopState}

import graft.graph.LinkGraph

/** Hop-bounded approximate betweenness centrality — SURVEY.md §2.10;
  * durable and resumable. Sampled-source Brandes
  * (Brandes '01; the sampling variant is Brandes-Pich '07 / Bader et
  * al.): exact shortest-path counting and dependency accumulation over a
  * deterministic SOURCE SUBSET, truncated at `maxT` hops — bc(v) =
  * Σ_{s∈S} δ_s(v), the k-bounded source-sampled estimator. Both
  * approximations (source sampling, hop bound) are the published
  * web-scale trade for an O(nm) exact algorithm, and both are
  * deterministic here, so the DuckDB oracle reproduces the estimator
  * with unrolled level CTEs. σ is hash-exact by construction (integer
  * path counts carried as doubles — exact under any summation order
  * below 2^53); δ sums NON-integer doubles (σ_v/σ_w·(1+δ_w)) whose
  * accumulation order differs between engines, so the 6dp rounding
  * carries a theoretical 1-ulp boundary risk at scale — the hash gate
  * has held at three scale factors; treat a mismatch in the last
  * printed digit as ULP, not logic.
  *
  * Level-synchronous forward phase: frontier expansion computes
  * dist(s,v) AND σ(s,v) (number of shortest s→v paths) in the same
  * one-join-one-agg round the BFS loop uses — σ(v) at level t = Σ σ(u)
  * over level-(t−1) predecessors, settled vertices excluded by anti-join.
  *
  * Backward phase, levels processed strictly deepest-first (the Brandes
  * invariant: δ(w) is FINAL when its level is processed): per level one
  * edges⋈level join + one agg —
  * δ(v) = Σ_{v→w, dist(s,w)=dist(s,v)+1} σ(v)/σ(w) · (1 + δ(w)).
  * Horizon-boundary vertices (dist = maxT) have δ = 0 by truncation.
  *
  * DURABILITY: each phase is a [[Fixpoint]] APPEND loop on the one
  * materializer, the backward loop's commits numbered on from the
  * forward loop's. Every round — forward level t, backward level k —
  * commits ONLY that level's slice (s, v, sigma, delta, t) with its
  * (phase, level) in the commit meta (re-committing the whole cumulative
  * state each round would cost O(maxT × full-state) durable write volume;
  * slices make it O(full-state) total). Forward slices carry delta = 0,
  * each backward round commits its level's final δ. Resume reads ALL
  * committed slices ([[Materializer.resumeSlices]]) and splits them by
  * phase: no backward slices ⇒ the forward loop resumes at its latest
  * level; backward slices ⇒ the forward levels are read back as they are
  * and the backward loop resumes at its latest level. A 2·maxT-round run
  * over a big graph that loses the driver restarts from its last
  * committed level, not from zero.
  *
  * Scale shape: state is O(Σ|reachable ball within maxT|) rows hashed on
  * (s, v); each of the 2·maxT rounds is one job; no driver-side state
  * beyond the loop counters. Source count |S| and horizon maxT are
  * the two knobs that bound total work — the standard betweenness
  * estimator configuration at web scale.
  */
object Betweenness {

  /** Per-vertex bc over the directed simple graph from the given source
    * set, σ/δ truncated at maxT hops. Returns (vid, bc) for EVERY vertex
    * (0.0 where v is never strictly between a source and a farther
    * vertex), bc rounded to 6dp. */
  def run(graph: LinkGraph, sources: DataFrame, maxT: Int,
          mat: Materializer = new LocalMaterializer): DataFrame =
    Fixpoint(graph.spark, mat, math.max(graph.numVertices, graph.numEdges)) { fx =>
      val de = mat.shared("de",
        graph.directed.where(F.col("src") =!= F.col("dst"))
          .repartition(F.col("src")), repartitionKeys = Seq("src"))
        .withColumnRenamed("src", "v")
      val cols = Seq("s", "v", "sigma", "delta", "t")

      // committed slices by phase (per-commit meta carries the phase)
      val phaseOf = mat.log.flatMap(m =>
        for (i <- m.get("iter"); p <- m.get("phase")) yield i.toString.toInt -> p.toString).toMap
      val (bwdSlices, fwdSlices) =
        mat.resumeSlices().partition { case (i, _) => phaseOf.get(i).contains("backward") }

      // ---- forward: level t = (s, v, sigma) for dist(s,v) = t; σ(v) = Σ σ(u)
      // over level-(t−1) predecessors, settled vertices excluded. Nothing
      // runs when the backward phase has begun.
      val fwd = fx.on(new Phase(mat, 0, fwdSlices)).run(Fixpoint.Loop(
        cols = cols,
        maxRounds = if (bwdSlices.isEmpty) maxT else fwdSlices.map(_._1).max,
        init = () => sources.select(F.col("vid").as("s"), F.col("vid").as("v"),
          F.lit(1.0).as("sigma"), F.lit(0.0).as("delta"), F.lit(0).as("t"))
          .repartition(F.col("s"), F.col("v")),
        step = round => round.slice.select("s", "v", "sigma").join(de, "v")
          .select(F.col("s"), F.col("dst").as("v"), F.col("sigma"))
          .join(round.state, Seq("s", "v"), "left_anti")
          .groupBy("s", "v").agg(F.sum("sigma").as("sigma"))
          .select(F.col("s"), F.col("v"), F.col("sigma"), F.lit(0.0).as("delta"),
            round.n.as("t")),
        done = (s, _) => s.rows == 0,
        meta = t => Map("phase" -> "forward", "level" -> t),
        append = Seq("s", "v")))

      // The deepest level: the first backward commit's, or the forward
      // loop's last non-empty one (a dried frontier's empty level has no
      // successors, so pinning its δ at 0 is what the backward join would
      // compute anyway).
      val deepest = bwdSlices.headOption
        .flatMap { case (i, _) => mat.log.find(_.get("iter").exists(_.toString == i.toString)) }
        .flatMap(_.get("level")).map(_.toString.toInt)
        .getOrElse(if (fwd.done) fwd.rounds - 1 else fwd.rounds)

      // ---- backward: δ per level, deepest-first (the Brandes invariant: δ(w)
      // is FINAL when its level is processed). Level `deepest` has δ = 0 by
      // horizon truncation; round n computes level k = deepest − n:
      // δ(v) = Σ_{v→w, dist(s,w)=dist(s,v)+1} σ(v)/σ(w) · (1 + δ(w)).
      def level(k: Column): DataFrame = fwd.state.where(F.col("t") === k)
      val bwd = fx.on(new Phase(mat, fwd.rounds + 1, bwdSlices)).run(Fixpoint.Loop(
        cols = cols,
        maxRounds = deepest,
        init = () => level(F.lit(deepest)),
        step = { round =>
          val lvl = level(F.lit(deepest) - round.n)
          val contrib = lvl.select("s", "v", "sigma")
            .join(de.withColumnRenamed("dst", "w"), "v")
            .join(round.slice.select(F.col("s"), F.col("v").as("w"),
              F.col("sigma").as("sigma_w"), F.col("delta").as("delta_w")), Seq("s", "w"))
            .groupBy("s", "v")
            .agg(F.sum(F.col("sigma") / F.col("sigma_w") * (F.col("delta_w") + 1.0)).as("delta"))
          lvl.select("s", "v", "sigma", "t").join(contrib, Seq("s", "v"), "left")
            .select(F.col("s"), F.col("v"), F.col("sigma"),
              F.coalesce(F.col("delta"), F.lit(0.0)).as("delta"), F.col("t"))
        },
        meta = n => Map("phase" -> "backward", "level" -> (deepest - n)),
        append = Seq("s", "v")))

      // bc = Σ δ over levels ≥ 1 (level 0 is the s=v diagonal — endpoints
      // carry no betweenness mass).
      val bc = bwd.state.where(F.col("t") >= 1).groupBy("v").agg(F.sum("delta").as("bc"))
      val out = FlatCheckpoint.localCheckpoint(graph.vertices
        .join(bc.withColumnRenamed("v", "vid"), Seq("vid"), "left")
        .select(F.col("vid"), F.round(F.coalesce(F.col("bc"), F.lit(0.0)), 6).as("bc"))
        .orderBy("vid"))
      // every level slice is dead once the result is materialized
      LoopState.release(fwd.state)
      LoopState.release(bwd.state)
      out
    }

  /** `mat` as one phase's loop sees it: the phase's round k commits as
    * iteration `offset + k`, and it resumes from its own slices only. */
  private final class Phase(mat: Materializer, offset: Int, own: Seq[(Int, DataFrame)])
      extends Materializer {
    override def loopPartitions: Option[Int] = mat.loopPartitions
    override def iter(iter: Int, df: DataFrame, meta: Map[String, Any]): DataFrame =
      mat.iter(offset + iter, df, meta)
    override def shared(name: String, df: DataFrame, repartitionKeys: Seq[String],
                        fingerprint: Option[String]): DataFrame =
      mat.shared(name, df, repartitionKeys, fingerprint)
    override def resume(): Option[(Int, DataFrame)] = resumeSlices().lastOption
    override def resumeSlices(): Seq[(Int, DataFrame)] =
      own.map { case (i, df) => (i - offset, df) }
    override def note(iter: Int, meta: Map[String, Any]): Unit = mat.note(offset + iter, meta)
    override def log: Seq[Map[String, Any]] = mat.log
  }
}
