package graft.algo

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.graft.LoopState

import graft.graph.LinkGraph
import graft.plans.Fold

/** Strongly connected components — SURVEY.md §2.10: durable, resumable,
  * with an incremental mark frontier.
  *
  * Contract: `label(v)` = min vid in v's SCC (v→*u AND u→*v) — like the
  * HashMin CC label, order-independent and therefore EXACT-comparable
  * against a closed-form reachability oracle; no round-count coupling.
  *
  * Algorithm: the classic distributed coloring / FW-BW-style SCC
  * (Orzan-style min-label coloring):
  *
  *  0. TRIM — iterate: a vertex with no in-edge or no out-edge in the
  *     remaining subgraph cannot sit on a cycle ⇒ singleton SCC. Peels
  *     whole DAG peripheries (every user→etype source vertex) for the
  *     cost of two semi-joins per pass; the loop's state is the remaining
  *     edge set, so the later loops read it already restricted.
  *  1. COLOR — propagate min vid along FORWARD edges to fixpoint:
  *     color(v) = min{u : u →* v} (v included). One HashMin-shaped
  *     shuffle per round, rounds ≈ remaining diameter.
  *  2. ROOTS — classes whose color equals their own id. A root's color
  *     class is closed under paths back to the root (proof sketch at
  *     [[markPhase]]), so:
  *  3. MARK — backward-propagate (reverse edges, SAME-color constraint)
  *     from each root to fixpoint: marked(v, c) ⇔ color(v) = c ∧ v →* c.
  *     Marked vertices form SCC(c); label them c and REMOVE them.
  *  4. Repeat on the remaining subgraph. Every phase removes at least the
  *     global-min-vid root's SCC, so the outer loop terminates; in
  *     practice phase count is small (each phase peels every root class).
  *
  * ==Durable state==
  *
  * The committed state is the LABELED frame (vid, label): the remaining
  * subgraph is a pure function of it (verts = vertices ∖ labeled, edges =
  * directed ∩ verts²), so one vertex-keyed table carries the whole
  * computation. Commits land after every trim fixpoint and after every
  * phase's mark peel — a killed multi-phase run over a 100-TB graph resumes
  * at its last completed stage instead of from zero. Resume from ANY such
  * snapshot is confluent: labels are canonical (min vid of the SCC,
  * independent of peel order), so resumed and uninterrupted runs are
  * bit-identical (ResumeSpec). `phases` counts work done by THIS run.
  *
  * Scale shape: trim, color and mark are [[Fixpoint]] loops, run at the
  * outer loop's width on a local materializer (their rounds are not
  * durable; the stage commits are): each round is one prepared plan and
  * one job, the engine's message-passing kernel (join on a key +
  * min/exists aggregation) over a monotonically SHRINKING edge set. The
  * trim's fixpoint (an unchanged edge count), the color's (no changed
  * label) and the mark's (an empty frontier) are folded stats, and the
  * remaining vertex count follows from them, so no round runs a driver
  * action. The mark loop appends: it propagates only the newly-marked
  * FRONTIER per round, so per-round work tracks the frontier's edge
  * neighborhood, not the accumulated mark set.
  */
object Scc {

  /** `rounds`: the rounds of every trim, color and mark loop this run. */
  final case class SccResult(labels: DataFrame, phases: Int, converged: Boolean, rounds: Int)

  def run(graph: LinkGraph, maxPhases: Int = 20, maxRounds: Int = 200,
          mat: Materializer = new LocalMaterializer): SccResult =
    Fixpoint(graph.spark, mat, math.max(graph.numVertices, graph.numEdges)) { fx =>
      val spark = graph.spark
      import spark.implicits._
      val inner = fx.on(new LocalMaterializer)

      val directed = mat.shared("edges",
        graph.directed.where(F.col("src") =!= F.col("dst"))
          .repartition(F.col("src")), repartitionKeys = Seq("src"))

      def restrict(e: DataFrame, gone: DataFrame): DataFrame = e
        .join(gone.select(F.col("vid").as("src")), Seq("src"), "left_anti")
        .join(gone.select(F.col("vid").as("dst")), Seq("dst"), "left_anti")
        .select("src", "dst")
        .repartition(F.col("src"))

      // The labeled set, its commit index and the remaining vertex count;
      // a resume counts the labeled rows once.
      var (commitIdx, labeled, remaining) = mat.resume() match {
        case Some((idx, df)) =>
          val lab = df.select("vid", "label")
          (idx, lab, graph.numVertices - lab.count())
        case None =>
          (0, mat.iter(0, Seq.empty[(Long, Long)].toDF("vid", "label").repartition(F.col("vid")),
            Map("init" -> true)), graph.numVertices)
      }
      // the next trim's input, the edges among the remaining vertices, and
      // the flat frames it reads, freed once it has run
      var edges = if (commitIdx == 0) directed else restrict(directed, labeled)
      var held = Seq(directed)
      var phases = 0
      var rounds = 0

      /** Durable checkpoint of the labeled set (trim/mark stage boundary). */
      def commitLabeled(more: DataFrame, stage: String): Unit = {
        commitIdx += 1
        val old = labeled
        labeled = mat.iter(commitIdx, labeled.unionByName(more).repartition(F.col("vid")),
          Map("stage" -> stage, "labeled_rows" -> (graph.numVertices - remaining)))
        LoopState.release(old)
      }

      def finish(converged: Boolean): SccResult = {
        held.foreach(LoopState.release)
        SccResult(labeled.withColumnRenamed("label", "scc_label"), phases, converged, rounds)
      }

      while (remaining > 0 && phases < maxPhases) {
        phases += 1

        // -- 0. TRIM to fixpoint: keep the edges whose both ends have an
        // in-edge and an out-edge among them. One union + one max-agg
        // shuffle finds those vertices; an unchanged edge count is the
        // fixpoint, where every vertex of an edge has both.
        val trim = inner.run(Fixpoint.Loop(
          cols = Seq("src", "dst"),
          maxRounds = Int.MaxValue,
          init = () => edges,
          step = { round =>
            val e = round.state
            val core = e.select(F.col("src").as("vid"), F.lit(1).as("o"), F.lit(0).as("i"))
              .unionByName(e.select(F.col("dst").as("vid"), F.lit(0).as("o"), F.lit(1).as("i")))
              .groupBy("vid").agg(F.max("o").as("ho"), F.max("i").as("hi"))
              .where(F.col("ho") === 1 && F.col("hi") === 1)
            e.join(core.select(F.col("vid").as("src")), Seq("src"), "left_semi")
              .join(core.select(F.col("vid").as("dst")), Seq("dst"), "left_semi")
              .select("src", "dst")
              .repartition(F.col("src"))
          },
          done = (s, last) => s.rows == 0 || last.exists(_.rows == s.rows),
          startStats = true))
        held.foreach(LoopState.release)
        edges = trim.state
        held = Seq(edges)

        // -- 1. forward min-color fixpoint over the trimmed edges' vertices:
        // color(v) = min{u : u →* v} ∪ {v}. Its start counts the core.
        val color = inner.run(Fixpoint.Loop(
          cols = Seq("vid", "color"),
          maxRounds = maxRounds,
          init = () => edges.select(F.col("src").as("vid")).distinct()
            .select(F.col("vid"), F.col("vid").as("color"), F.col("vid").as("prev")),
          step = { round =>
            val state = round.state
            val msgs = edges.join(state.withColumnRenamed("vid", "src"), "src")
              .groupBy(F.col("dst").as("vid")).agg(F.min("color").as("mc"))
            state.withColumnRenamed("color", "prev")
              .join(msgs, Seq("vid"), "left")
              .select(F.col("vid"),
                F.least(F.col("prev"), F.coalesce(F.col("mc"), F.col("prev"))).as("color"),
                F.col("prev"))
          },
          stats = Seq(Fold.sum("changed", F.when(F.col("color") < F.col("prev"), 1L).otherwise(0L))),
          done = (s, last) => s.rows == 0 || last.isDefined && s.long("changed") == 0L,
          startStats = true))
        rounds += trim.rounds + color.rounds
        val core = color.seen.head._2.rows
        if (core < remaining) {
          // the trimmed vertices are singleton SCCs
          remaining = core
          commitLabeled(graph.vertices
            .join(labeled.select("vid"), Seq("vid"), "left_anti")
            .join(color.state.select("vid"), Seq("vid"), "left_anti")
            .select(F.col("vid"), F.col("vid").as("label")), "trim")
        }
        held :+= color.state

        if (remaining > 0) {
          // -- 2+3. backward same-color containment from the roots
          val mark = markPhase(inner, edges, color.state, maxRounds)
          rounds += mark.rounds

          // -- 4. peel the labeled SCCs off and continue
          val scc = mark.state.select(F.col("vid"), F.col("color").as("label"))
          remaining -= mark.seen.map(_._2.rows).sum
          commitLabeled(scc, "mark")
          edges = restrict(edges, scc)
          held :+= mark.state
        }
      }
      finish(converged = remaining == 0)
    }

  /** marked(v, c) ⇔ color(v) = c ∧ v →* c, computed by reverse-edge
    * propagation restricted to same-color vertices. Why the restriction is
    * sound: color(v) = c means c →* v; if additionally v →* c then v and c
    * are mutually reachable (one SCC), and EVERY vertex w on a v→c path
    * satisfies c →* w (via v) and w →* c, so w's color is exactly c —
    * were color(w) = c' < c, then c' →* w →* c would force color(c) ≤ c'
    * < c, contradicting c being a root. Hence backward paths from c never
    * need to leave the color class, and crossing classes would only mark
    * vertices provably outside SCC(c).
    *
    * Propagation is FRONTIER-INCREMENTAL:
    * each round expands only the vertices marked LAST round (one edge join
    * against the frontier + an anti-join against the accumulated mark set),
    * instead of re-distincting the whole accumulated set — per-round cost
    * tracks the frontier's in-neighborhood, which is what keeps a
    * 10⁹-vertex SCC's peel from quadratic blow-up. The anti-join keys on
    * `vid` alone: a vid has exactly one color, and both sides carry that
    * same color(vid). */
  private def markPhase(fx: Fixpoint, edges: DataFrame, color: DataFrame,
                        maxRounds: Int): Fixpoint.Outcome =
    fx.run(Fixpoint.Loop(
      cols = Seq("vid", "color"),
      maxRounds = maxRounds,
      init = () => color.where(F.col("vid") === F.col("color")).select("vid", "color"),
      // u joins SCC(c) when some frontier v has an edge u→v and color(u) = c
      step = round => edges
        .join(round.slice.withColumnRenamed("vid", "dst"), "dst")
        .select(F.col("src").as("vid"), F.col("color"))
        .join(color.withColumnRenamed("color", "c2"), "vid")
        .where(F.col("color") === F.col("c2"))
        .select("vid", "color")
        .distinct()
        .join(round.state.select("vid"), Seq("vid"), "left_anti"),
      done = (s, _) => s.rows == 0,
      startStats = true,
      append = Seq("vid")))
}
