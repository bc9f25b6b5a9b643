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

  /** `packedAdjacency`: consume the symmetrized edges as hub-split
    * vertex-major arrays (Csr.packAdjacencyKeys) and expand the per-round
    * label messages through the CsrExpand custom operator (CopyLabel mode)
    * instead of the row-level join — identical labels, one row per vertex
    * segment on the join's probe side. */
  /** `warmStart`: (vid, label) from a PREVIOUS converged run on an
    * append-only-grown graph (remap via dict keys if ids changed). Valid
    * because HashMin's fixpoint is the min over init labels reachable in
    * the component, and with edges only ADDED every prior label is a
    * member id whose minimum over merged old components equals the new
    * component minimum. NOT valid after edge/vertex REMOVAL — a prior
    * label may then name a vertex outside the component; cold-start there.
    * New vertices init to their own vid. */
  def run(graph: LinkGraph, maxRounds: Int = 200,
          mat: Materializer = new LocalMaterializer,
          packedAdjacency: Boolean = false,
          packedSegment: Int = graft.scale.Csr.DefaultSegment,
          warmStart: Option[DataFrame] = None): CcResult =
    IterativeConf(graph.spark, Some(mat.loopPartitions.getOrElse(
      IterativeConf.adaptivePartitions(graph.spark, math.max(graph.numVertices, graph.numEdges))))) {
      val sym =
        if (packedAdjacency)
          mat.shared("sym_packed", graft.scale.Csr
            .packAdjacencyKeys(graph.symmetrized, packedSegment)
            .repartition(F.col("src")), repartitionKeys = Seq("src"),
            fingerprint = Some(s"segment=$packedSegment"))
        else mat.shared("sym", graph.symmetrized.repartition(F.col("src")), repartitionKeys = Seq("src"))

      val (startIter, st0) = mat.resume() match {
        case Some((k, df)) => (k, df.select("vid", "label"))
        case None =>
          val base = graph.vertices.repartition(F.col("vid"))
          val init = warmStart match {
            case Some(prior) => base
              .join(prior.select(F.col("vid"), F.col("label").as("warm")), Seq("vid"), "left")
              .select(F.col("vid"),
                F.coalesce(F.col("warm"), F.col("vid")).as("label"),
                F.col("vid").as("prev"))
            case None =>
              base.select(F.col("vid"), F.col("vid").as("label"), F.col("vid").as("prev"))
          }
          (0, mat.iter(0, init, Map("init" -> true)).select("vid", "label"))
      }
      var state = st0

      var round = startIter
      var changed = -1L
      while (changed != 0L && round < maxRounds) {
        round += 1
        val t0 = System.nanoTime()
        val joined = sym.join(state.withColumnRenamed("vid", "src"), "src") // no exchange
        val flat =
          if (packedAdjacency) GraftPlans.expandLabels(joined)
          else joined.select(F.col("dst"), F.col("label"))
        val msgs = flat
          .groupBy("dst")                                     // THE shuffle
          .agg(F.min("label").as("nbr_min"))
          .withColumnRenamed("dst", "vid")
        val next = state
          .withColumnRenamed("label", "prev")
          .join(msgs, Seq("vid"), "left")                     // no exchange
          .select(F.col("vid"),
            F.least(F.col("prev"), F.coalesce(F.col("nbr_min"), F.col("prev"))).as("label"),
            F.col("prev"))
        // the change count is folded by the commit job (graft.plans.FoldStats)
        val folded = GraftPlans.fold(next,
          Fold.sum("changed", F.when(F.col("label") < F.col("prev"), 1L).otherwise(0L)))
        val committed = mat.iter(round, folded.frame, Map.empty)
        changed = folded.result().long("changed")
        mat.note(round, Map("changed" -> changed,
          "wall_ms" -> (System.nanoTime() - t0) / 1000000L))
        state = committed.select("vid", "label")
      }
      val out = CcResult(state, round, converged = changed == 0L, mat.log)
      mat.close()
      out
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
    * equal edge-set cardinality + empty one-sided anti-join (both sides
    * distinct). Per round: 2 groupBy-min shuffles + distinct — constant
    * factor above HashMin's single shuffle, paid back logarithmically. */
  def runStar(graph: LinkGraph, maxRounds: Int = 60,
              mat: Materializer = new LocalMaterializer): CcResult =
    // width proxy: the contracted edge set starts at O(edges) but vertices
    // bound its fixpoint size; symmetrized edges/vertex is small on link
    // graphs, so vertex count is the stable sizing signal here too
    IterativeConf(graph.spark, Some(mat.loopPartitions.getOrElse(
      IterativeConf.adaptivePartitions(graph.spark, math.max(graph.numVertices, graph.numEdges))))) {
      // This loop's durable state is the contracted EDGE set (u, v) — NOT a
      // per-vertex frame — so a CheckpointMaterializer must bucket on "u"
      // (Main picks the bucket key per algorithm; round-2 verdict bug).
      // Edge counts are the row counts the commit jobs fold; a resumed edge
      // set is counted by one run of the same fold.
      val (startRound, e0, cnt0) = mat.resume() match {
        case Some((k, df)) =>
          val st = df.select("u", "v")
          (k, st, GraftPlans.fold(st).compute().rows)
        case None =>
          val init = graph.edges.select(
              F.greatest(F.col("src"), F.col("dst")).as("u"),
              F.least(F.col("src"), F.col("dst")).as("v"))
            .where(F.col("u") =!= F.col("v")).distinct()
          val folded = GraftPlans.fold(init.repartition(F.col("u")))
          (0, mat.iter(0, folded.frame, Map("init" -> true)), folded.result().rows)
      }
      var e = e0
      var prevCnt = cnt0
      var round = startRound
      var changed = -1L
      while (changed != 0L && round < maxRounds && prevCnt > 0) {
        round += 1
        val t0 = System.nanoTime()
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
        // change test BEFORE commit: mat.iter unpersists e's blocks, so e
        // must not be touched afterwards. ss ⊆ e (anti == 0) ∧ |ss| == |e|
        // ⇒ sets equal (both distinct) — exact, no hashing shortcut.
        val anti = ss.join(e, Seq("u", "v"), "left_anti").count()
        val folded = GraftPlans.fold(ss.repartition(F.col("u")))
        val committed = mat.iter(round, folded.frame, Map.empty)
        val cnt = folded.result().rows
        changed = if (cnt == prevCnt && anti == 0L) 0L else 1L
        mat.note(round, Map("edges" -> cnt,
          "wall_ms" -> (System.nanoTime() - t0) / 1000000L))
        prevCnt = cnt
        e = committed
      }
      // star edges point member -> center; centers/isolated label themselves
      val converged = changed == 0L || prevCnt == 0
      if (!converged)
        Console.err.println(s"[graft] star CC hit maxRounds=$maxRounds before " +
          "the star fixpoint: labels below may not be component minima " +
          "(CcResult.converged = false)")
      val labels = graph.vertices
        .join(e.groupBy(F.col("u").as("vid")).agg(F.min("v").as("lbl")), Seq("vid"), "left")
        .select(F.col("vid"), F.coalesce(F.col("lbl"), F.col("vid")).as("label"))
      val out = CcResult(labels, round, converged, mat.log)
      mat.close()
      out
    }
}
