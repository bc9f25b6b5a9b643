package graft.algo

import org.apache.spark.sql.{DataFrame, functions => F}

import graft.graph.LinkGraph

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
  *     cost of two semi-joins per pass, no fixpoint rounds.
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
  * Scale shape: all loops are the engine's one-shuffle-per-round
  * message-passing kernel (join on a key + min/exists aggregation) over a
  * monotonically SHRINKING vertex/edge set. Every frame goes through
  * FlatCheckpoint via [[FlatLoop]] (lineage truncated each round, prior
  * generations' blocks reclaimed at round end — SURVEY §4.4); the mark
  * phase propagates only the newly-marked FRONTIER per round, so
  * per-round work tracks the frontier's edge
  * neighborhood, not the accumulated mark set.
  */
object Scc {

  final case class SccResult(labels: DataFrame, phases: Int, converged: Boolean)

  def run(graph: LinkGraph, maxPhases: Int = 20, maxRounds: Int = 200,
          mat: Materializer = new LocalMaterializer): SccResult =
    IterativeConf(graph.spark, Some(mat.loopPartitions.getOrElse(
      IterativeConf.adaptivePartitions(graph.spark,
        math.max(graph.numVertices, graph.numEdges))))) {
      val spark = graph.spark
      import spark.implicits._
      val fl = new FlatLoop(spark)

      val directed = mat.shared("edges",
        graph.directed.where(F.col("src") =!= F.col("dst"))
          .repartition(F.col("src")), repartitionKeys = Seq("src"))

      def restrict(e: DataFrame, vs: DataFrame): DataFrame = e
        .join(vs.withColumnRenamed("vid", "src"), Seq("src"), "left_semi")
        .join(vs.withColumnRenamed("vid", "dst"), Seq("dst"), "left_semi")
        .select("src", "dst")

      var commitIdx = 0
      var (labeled, verts, edges) = mat.resume() match {
        case Some((idx, df)) =>
          commitIdx = idx
          val lab = fl.ckpt("labeled", df.select("vid", "label"))
          val vs = fl.ckpt("verts", graph.vertices.join(lab, Seq("vid"), "left_anti"))
          (lab, vs, fl.ckpt("edges", restrict(directed, vs)))
        case None =>
          val lab = fl.ckpt("labeled", Seq.empty[(Long, Long)].toDF("vid", "label"))
          mat.iter(0, lab.repartition(F.col("vid")), Map("init" -> true))
          (lab, fl.ckpt("verts", graph.vertices), fl.ckpt("edges", directed))
      }
      var phases = 0
      var remaining = verts.count()

      /** Durable checkpoint of the labeled set (trim/mark stage boundary). */
      def commitLabeled(stage: String): Unit = {
        commitIdx += 1
        labeled = mat.iter(commitIdx, labeled.repartition(F.col("vid")),
          Map("stage" -> stage, "labeled_rows" -> (graph.numVertices - remaining)))
      }

      def finish(converged: Boolean): SccResult = {
        val out = SccResult(labeled.withColumnRenamed("label", "scc_label"),
          phases, converged)
        mat.close()
        out
      }

      while (remaining > 0 && phases < maxPhases) {
        phases += 1

        // -- 0. TRIM to fixpoint
        var trimming = true
        var trimmed = false
        while (trimming && remaining > 0) {
          // survivors = vertices with ≥1 out-edge AND ≥1 in-edge in the
          // remaining subgraph. One union + one max-agg shuffle — the
          // previous shape paid two distincts plus two semi-joins per trim
          // round for the same set (guide §2.4). Edges are restricted to
          // verts, so every endpoint is in verts and the agg IS the core.
          val core = fl.ckpt("verts", edges
            .select(F.col("src").as("vid"), F.lit(1).as("o"), F.lit(0).as("i"))
            .unionByName(edges
              .select(F.col("dst").as("vid"), F.lit(0).as("o"), F.lit(1).as("i")))
            .groupBy("vid").agg(F.max("o").as("ho"), F.max("i").as("hi"))
            .where(F.col("ho") === 1 && F.col("hi") === 1)
            .select("vid"))
          val nCore = core.count()
          if (nCore == remaining) {
            // fixpoint: core is row-identical to verts — rebind before the
            // sweep frees the older generation's blocks
            verts = core
            trimming = false
          } else {
            val singles = verts.join(core, Seq("vid"), "left_anti")
              .select(F.col("vid"), F.col("vid").as("label"))
            labeled = fl.ckpt("labeled", labeled.unionByName(singles))
            verts = core
            edges = fl.ckpt("edges", restrict(edges, core))
            remaining = nCore
            trimmed = true
          }
          fl.sweep("verts", "labeled", "edges")
        }
        if (trimmed) commitLabeled("trim")
        if (remaining == 0) return finish(converged = true)

        // -- 1. forward min-color fixpoint: color(v) = min{u : u →* v} ∪ {v}
        var color = fl.ckpt("color", verts.select(F.col("vid"), F.col("vid").as("color")))
        var changed = 1L
        var rounds = 0
        while (changed > 0 && rounds < maxRounds) {
          rounds += 1
          val msgs = edges.join(color.withColumnRenamed("vid", "src"), "src")
            .groupBy(F.col("dst").as("vid")).agg(F.min("color").as("mc"))
          // carry prev through the checkpoint so the change count is one
          // cheap agg over the committed blocks instead of a second
          // state⋈state join per round (the CC/LPA discipline)
          val next = fl.ckpt("color", color.join(msgs, Seq("vid"), "left")
            .select(F.col("vid"),
              F.least(F.col("color"), F.coalesce(F.col("mc"), F.col("color"))).as("color"),
              F.col("color").as("prev")))
          changed = next
            .agg(F.coalesce(F.sum(F.when(F.col("color") < F.col("prev"), 1L)
              .otherwise(0L)), F.lit(0L))).first().getLong(0)
          color = next.select("vid", "color")
          fl.sweep("color")
        }

        // -- 2+3. backward same-color containment from the roots
        val scc = markPhase(fl, edges, color, maxRounds)

        // -- 4. peel the labeled SCCs off and continue
        labeled = fl.ckpt("labeled", labeled.unionByName(scc))
        verts = fl.ckpt("verts", verts.join(scc, Seq("vid"), "left_anti"))
        edges = fl.ckpt("edges", restrict(edges, verts))
        remaining = verts.count()
        fl.sweep("verts", "labeled", "edges", "color")
        // the phase's mark parts are folded into labeled (materialized
        // above) — free every generation, not just the stale ones
        fl.drop((0 to maxRounds).map(i => s"mark$i"): _*)
        commitLabeled("mark")
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
  private def markPhase(fl: FlatLoop, edges: DataFrame, color: DataFrame,
                        maxRounds: Int): DataFrame = {
    // The accumulated mark set is APPEND-ONLY: keep it as a lazy union of
    // the per-round flat frontier frames instead of re-materializing the
    // whole cumulative set every round (guide §1.2 — the bfsFrom shape).
    var markParts = Vector(fl.ckpt("mark0",
      color.where(F.col("vid") === F.col("color"))
        .select(F.col("vid"), F.col("color"))))
    def mark: DataFrame = markParts.reduce(_ unionByName _)
    var frontier = markParts.head
    var growing = true
    var rounds = 0
    while (growing && rounds < maxRounds) {
      rounds += 1
      // u joins SCC(c) when some frontier v has an edge u→v and color(u) = c
      val cand = edges
        .join(frontier.withColumnRenamed("vid", "dst"), "dst")
        .select(F.col("src").as("vid"), F.col("color"))
        .join(color.withColumnRenamed("color", "c2"), "vid")
        .where(F.col("color") === F.col("c2"))
        .select("vid", "color")
        .distinct()
      val fresh = fl.ckpt(s"mark$rounds", cand.join(mark, Seq("vid"), "left_anti"))
      val nf = fresh.count()
      if (nf == 0) growing = false
      else {
        markParts = markParts :+ fresh
        frontier = fresh
      }
    }
    mark.select(F.col("vid"), F.col("color").as("label"))
  }
}
