package graft.algo

import org.apache.spark.sql.{DataFrame, functions => F}

import graft.graph.LinkGraph
import graft.plans.{Fold, GraftPlans}

/** Connected components, HashMin — SURVEY.md §2.10; semantics per
  * Rastogi et al., "Finding connected components in map-reduce in
  * logarithmic rounds" (ICDE 2013) [PAPERS.md].
  *
  *   label0(v)    = vid
  *   label_t+1(v) = min(label_t(v), min_{u∈N(v)} label_t(u))   (symmetrized)
  *
  * Fixpoint when no label changes. Final label = min vid of the component —
  * independent of execution order, hence EXACT and deterministic
  * (BASELINE.json:6). Rounds ≈ graph diameter; transcript graphs are
  * shallow stars/chains, so HashMin beats star-contraction constants here.
  *
  * Per round: edges⋈labels (J1) + min-by-dst (A2) + least() merge; the
  * changed count is folded by the commit job itself (graft.plans.FoldStats),
  * so a round is one Spark job.
  */
final case class CcResult(
    labels: DataFrame, // (vid: long, label: long)
    rounds: Int,
    converged: Boolean, // false ⇒ maxRounds hit before the fixpoint: labels
                        // may not be component minima (esp. star contraction)
    metricsLog: Seq[Map[String, Any]])

object ConnectedComponents {

  /** The shared symmetrized edges of CC and LPA, partitioned by src. With
    * `packedAdjacency` they are hub-split vertex-major arrays
    * (Csr.packAdjacencyKeys) and the label messages expand through the
    * CsrExpand custom operator (CopyLabel mode) instead of the row-level
    * join — identical labels, one row per vertex segment on the probe side. */
  private[algo] def symEdges(graph: LinkGraph, mat: Materializer,
                             packedAdjacency: Boolean, packedSegment: Int): DataFrame =
    if (packedAdjacency)
      mat.shared("sym_packed", graft.scale.Csr
        .packAdjacencyKeys(graph.symmetrized, packedSegment)
        .repartition(F.col("src")), repartitionKeys = Seq("src"),
        fingerprint = Some(s"segment=$packedSegment"))
    else mat.shared("sym", graph.symmetrized.repartition(F.col("src")), repartitionKeys = Seq("src"))

  /** `packedAdjacency`: see [[symEdges]]. `warmStart`: (vid, label) from a
    * PREVIOUS converged run on an append-only-grown graph (remap via dict
    * keys if ids changed). Valid because HashMin's fixpoint is the min over
    * init labels reachable in the component, and with edges only ADDED every
    * prior label is a member id whose minimum over merged old components
    * equals the new component minimum. NOT valid after edge/vertex REMOVAL —
    * a prior label may then name a vertex outside the component; cold-start
    * there. New vertices init to their own vid. */
  def run(graph: LinkGraph, maxRounds: Int = 200,
          mat: Materializer = new LocalMaterializer,
          packedAdjacency: Boolean = false,
          packedSegment: Int = graft.scale.Csr.DefaultSegment,
          warmStart: Option[DataFrame] = None): CcResult =
    Fixpoint(graph.spark, mat, math.max(graph.numVertices, graph.numEdges)) { fx =>
      val sym = symEdges(graph, mat, packedAdjacency, packedSegment)

      def init(): DataFrame = {
        val base = graph.vertices.repartition(F.col("vid"))
        warmStart match {
          case Some(prior) => base
            .join(prior.select(F.col("vid"), F.col("label").as("warm")), Seq("vid"), "left")
            .select(F.col("vid"),
              F.coalesce(F.col("warm"), F.col("vid")).as("label"),
              F.col("vid").as("prev"))
          case None =>
            base.select(F.col("vid"), F.col("vid").as("label"), F.col("vid").as("prev"))
        }
      }

      def step(round: Fixpoint.Round): DataFrame = {
        val state = round.state
        val joined = sym.join(state.withColumnRenamed("vid", "src").hint("shuffle_hash"), "src")
        val flat =
          if (packedAdjacency) GraftPlans.expandLabels(joined)
          else joined.select(F.col("dst"), F.col("label"))
        val msgs = flat
          .groupBy("dst")                                     // THE shuffle (width > 1)
          .agg(F.min("label").as("nbr_min"))
          .withColumnRenamed("dst", "vid")
        state
          .withColumnRenamed("label", "prev")
          .join(msgs.hint("shuffle_hash"), Seq("vid"), "left") // no exchange
          .select(F.col("vid"),
            F.least(F.col("prev"), F.coalesce(F.col("nbr_min"), F.col("prev"))).as("label"),
            F.col("prev"))
      }

      val r = fx.run(Fixpoint.Loop(
        cols = Seq("vid", "label"),
        maxRounds = maxRounds,
        init = () => init(),
        step = step,
        stats = Seq(Fold.sum("changed", F.when(F.col("label") < F.col("prev"), 1L).otherwise(0L))),
        done = (s, _) => s.long("changed") == 0L,
        note = s => Map("changed" -> s.long("changed"))))
      CcResult(r.state, r.rounds, converged = r.done, mat.log)
    }

  /** Alternating small-star/large-star contraction — Kiveris et al.,
    * "Connected Components in MapReduce and Beyond" (SoCC 2014)
    * [PAPERS.md]. O(log n) rounds regardless of diameter, vs HashMin's
    * rounds ≈ diameter: the scale path for DEEP graphs (long reply chains
    * at 10¹²-turn scale), while HashMin stays the default for shallow
    * transcript stars (g_cc oracle unchanged).
    *
    *   large-star(u): ∀v ∈ Γ(u), v > u: emit (v, min(Γ(u) ∪ {u}))
    *   small-star(u): Γ⁻ = {v ∈ Γ(u): v < u}, m = min(Γ⁻):
    *                  emit (u, m) and ∀v ∈ Γ⁻ \ {m}: emit (v, m)
    *
    * Fixpoint = star graphs centered at component minima, so labels equal
    * HashMin's EXACTLY (asserted in StarCcSpec). Convergence test is exact:
    * equal edge-set cardinality + no new edge (both sets distinct), both
    * folded by the commit job, so a round is one Spark job. Per round:
    * 2 groupBy-min shuffles + distinct — constant factor above HashMin's
    * single shuffle, paid back logarithmically. */
  def runStar(graph: LinkGraph, maxRounds: Int = 60,
              mat: Materializer = new LocalMaterializer): CcResult =
    Fixpoint(graph.spark, mat, math.max(graph.numVertices, graph.numEdges)) { fx =>
      // This loop's durable state is the contracted EDGE set (u, v) — NOT a
      // per-vertex frame — so a CheckpointMaterializer must bucket on "u"
      // (Main picks the bucket key per algorithm; round-2 verdict bug).
      // Round 0 is the canonical edge set (u > v): the symmetrized closure
      // is distinct and holds both directions, so its src > dst half is
      // every undirected edge once, self-loops dropped. Each round's edges
      // carry `fresh` (absent from the previous edge set; round 0's all
      // are) into the commit's fold; the commit holds (u, v) only.
      def init(): DataFrame = graph.symmetrized.where(F.col("src") > F.col("dst"))
        .select(F.col("src").as("u"), F.col("dst").as("v"))
        .repartition(F.col("u"))
        .withColumn("fresh", F.lit(true))

      def step(round: Fixpoint.Round): DataFrame = {
        val e = round.state
        val sym = e.select(F.col("u"), F.col("v"))
          .union(e.select(F.col("v").as("u"), F.col("u").as("v")))
        val lsMins = sym.groupBy("u").agg(F.min("v").as("mn"))
          .select(F.col("u"), F.least(F.col("u"), F.col("mn")).as("m"))
        val ls = sym.join(lsMins, "u").where(F.col("v") > F.col("u"))
          .select(F.col("v").as("u"), F.col("m").as("v")).distinct()
        // ls edges all have u > v; small-star needs no re-canonicalization
        val ssMins = ls.groupBy("u").agg(F.min("v").as("m"))
        val ss = ls.join(ssMins, "u").where(F.col("v") =!= F.col("m"))
          .select(F.col("v").as("u"), F.col("m").as("v"))
          .union(ssMins.select(F.col("u"), F.col("m").as("v")))
          .distinct()
        // The change test rides the commit: each new edge is looked up in
        // the previous set e, which the materializer frees only after this
        // commit. Both sets are distinct, so no fresh edge and |ss| == |e|
        // means ss == e: exact, no hashing shortcut. The lookup joins on
        // (u, v), so the commit is put back on u, as round 0 committed it:
        // the loop then prepares its round once.
        ss.join(e.withColumn("seen", F.lit(true)), Seq("u", "v"), "left")
          .select(F.col("u"), F.col("v"), F.col("seen").isNull.as("fresh"))
          .repartition(F.col("u"))
      }

      val r = fx.run(Fixpoint.Loop(
        cols = Seq("u", "v"),
        maxRounds = maxRounds,
        init = () => init(),
        step = step,
        stats = Seq(Fold.sum("fresh", F.when(F.col("fresh"), 1L).otherwise(0L))),
        done = (s, last) =>
          s.rows == 0L || last.exists(_.rows == s.rows) && s.long("fresh") == 0L,
        note = s => Map("edges" -> s.rows),
        startStats = true,
        // a resumed start is only tested for emptiness; its freshness is moot
        resumed = _.withColumn("fresh", F.lit(false))))
      // star edges point member -> center; centers/isolated label themselves
      if (!r.done)
        Console.err.println(s"[graft] star CC hit maxRounds=$maxRounds before " +
          "the star fixpoint: labels below may not be component minima " +
          "(CcResult.converged = false)")
      val labels = graph.vertices
        .join(r.state.groupBy(F.col("u").as("vid")).agg(F.min("v").as("lbl")), Seq("vid"), "left")
        .select(F.col("vid"), F.coalesce(F.col("lbl"), F.col("vid")).as("label"))
      CcResult(labels, r.rounds, r.done, mat.log)
    }
}
