package graft.algo

import org.apache.spark.sql.{DataFrame, functions => F}

import graft.graph.LinkGraph
import graft.scale.Csr

/** PageRank — SURVEY.md §2.10. Classic normalized power iteration:
  *
  *   p0(v)    = 1/N
  *   p_t+1(v) = (1-d)/N + d * ( Σ_{u→v} p_t(u)·w(u,v)/W(u) + D_t/N )
  *
  * where W(u) is u's out-strength and D_t = Σ_{W(u)=0} p_t(u) is the
  * dangling mass (redistributed uniformly). Synchronous updates; stop at
  * ‖p_{t+1}−p_t‖∞ < tol, or run exactly `fixedIters` (oracle mode).
  *
  * Execution shape per iteration (SURVEY.md §3.2/§4.3): transition edges
  * are materialized ONCE hash-partitioned by the join key; state stays
  * hash-partitioned by `vid` across iterations (the materializer preserves
  * physical partitioning), so the state⋈edges join and both vertex-side
  * joins need NO exchange — the only shuffle per round is the sum-by-dst
  * message aggregation (A1). Two edge layouts, identical results:
  *
  *  - plain rows (default): edge-level shuffled-hash join
  *  - `packedAdjacency`: vertex-major CSR arrays (Csr.packAdjacency) — the
  *    join touches one row per vertex SEGMENT (hubs split at packedSegment
  *    neighbors/row, so no task owns a whole mega-hub); expansion is the
  *    CsrExpand custom operator. Hub splitting is the engine's one skew
  *    mechanism.
  */
final case class PageRankConfig(
    damping: Double = 0.85,
    tol: Double = 1e-6,
    maxIters: Int = 100,
    fixedIters: Option[Int] = None,
    weighted: Boolean = true,
    packedAdjacency: Boolean = false,
    packedSegment: Int = graft.scale.Csr.DefaultSegment)

final case class PageRankResult(
    ranks: DataFrame, // (vid: long, rank: double)
    iterations: Int,
    converged: Boolean,
    metricsLog: Seq[Map[String, Any]])

object PageRank {

  /** `warmStart`: a (vid, rank) frame from a PREVIOUS converged run — the
    * incremental-ingest path (SURVEY §2.9 ST1): after new turns land, the
    * near-fixpoint prior ranks re-converge in a few rounds instead of from
    * 1/N. Vertices absent from the prior run start at 1/N; the vector is
    * renormalized to unit mass. Ignored when a durable resume point exists
    * (mid-run recovery beats cross-run seeding).
    *
    * `teleport`: PERSONALIZED PageRank — a one-column (vid) seed frame.
    * The teleport vector becomes uniform over the seed set instead of
    * uniform over all vertices: p0 = tele, and each round
    *
    *   p_t+1(v) = (1-d)·tele(v) + d·( Σ_{u→v} p_t(u)·w(u,v)/W(u) + D_t·tele(v) )
    *
    * with tele(v) = 1/|S| for seeds, 0 otherwise — dangling mass D_t flows
    * back to the seeds, which is what keeps Σp = 1 under personalization.
    * The message kernel (and hence both edge layouts — plain rows and
    * packed CSR + CsrExpand) is untouched: personalization only
    * changes the per-vertex base term. `teleport = None` keeps the global
    * formula on its original expression tree, so uniform-PageRank results
    * stay bit-identical to prior rounds. */
  def run(graph: LinkGraph, cfg: PageRankConfig = PageRankConfig(),
          mat: Materializer = new LocalMaterializer,
          warmStart: Option[DataFrame] = None,
          teleport: Option[DataFrame] = None): PageRankResult =
    IterativeConf(graph.spark, Some(mat.loopPartitions.getOrElse(
      IterativeConf.adaptivePartitions(graph.spark, math.max(graph.numVertices, graph.numEdges))))) {
      val d = cfg.damping
      val n = graph.numVertices.toDouble

      // Loop-invariant transition edges p(u→v) = w/W(u).
      val ew =
        if (cfg.weighted)
          graph.edges.groupBy("src", "dst").agg(F.sum("weight").as("w"))
        else
          graph.directed.withColumn("w", F.lit(1.0))
      val wdeg = ew.groupBy("src").agg(F.sum("w").as("wdeg"))
      val emRows = ew.join(wdeg, "src")
        .select(F.col("src"), F.col("dst"), (F.col("w") / F.col("wdeg")).as("p"))

      // Vertex metadata (has_out marks non-dangling), partitioned by vid.
      // Personalized runs carry the per-vertex teleport weight alongside —
      // 1/|seeds| on the seed set, 0 elsewhere (a one-time broadcast-sized
      // left join; the seed set is tiny relative to the vertex set).
      val vmetaBase = graph.vertices
        .join(wdeg.select(F.col("src").as("vid")).withColumn("has_out", F.lit(true)),
              Seq("vid"), "left")
        .select(F.col("vid"), F.coalesce(F.col("has_out"), F.lit(false)).as("has_out"))
      val vmeta = teleport match {
        case Some(seedsRaw) =>
          // Seeds are intersected with the graph's vertex set BEFORE |S| is
          // counted (round-4 ADVICE): a --seeds parquet carrying vids absent
          // from the graph would otherwise inflate |S|, making tele sum to
          // < 1 and silently breaking the Σp = 1 invariant.
          val rawDistinct = seedsRaw.select("vid").distinct()
          val seeds = rawDistinct.join(graph.vertices, Seq("vid"), "left_semi")
          // One tiny action: |S| + an order-independent content signature
          // (xor-fold of per-vid hashes — no ANSI overflow, unlike sum).
          val seedRow = seeds.agg(
            F.count(F.lit(1)).as("n"),
            F.coalesce(F.bit_xor(F.xxhash64(F.col("vid"))), F.lit(0L)).as("sig")).first()
          val ns = seedRow.getLong(0).toDouble
          require(ns > 0, "personalized PageRank requires a non-empty teleport " +
            "seed set intersecting the graph's vertices")
          // The teleport vector is a function of the SEED SET, so its durable
          // snapshot must be fingerprinted by it (round-4 ADVICE): a --resume
          // under the same ckpt dir with a different seed spec recomputes
          // instead of silently reusing the stale vector.
          val seedFp = Some(s"seeds:n=${seedRow.getLong(0)};sig=${seedRow.getLong(1)}")
          mat.shared("vmeta_ppr",
            vmetaBase
              .join(seeds.withColumn("is_seed", F.lit(true)), Seq("vid"), "left")
              .select(F.col("vid"), F.col("has_out"),
                F.when(F.col("is_seed"), F.lit(1.0 / ns)).otherwise(F.lit(0.0)).as("tele"))
              .repartition(F.col("vid")), repartitionKeys = Seq("vid"),
            fingerprint = seedFp)
        case None =>
          mat.shared("vmeta", vmetaBase.repartition(F.col("vid")),
            repartitionKeys = Seq("vid"))
      }

      // Parameter fingerprint for the durable invariants: a resumed run
      // whose layout knobs changed under the same ckpt dir must recompute,
      // not silently read the stale snapshot.
      val layoutFp = Some(s"weighted=${cfg.weighted};segment=${cfg.packedSegment}")

      // Edge layout materialization, partitioned on the join key.
      val em =
        if (cfg.packedAdjacency)
          mat.shared("em_packed",
            Csr.packAdjacency(emRows, cfg.packedSegment).repartition(F.col("src")),
            repartitionKeys = Seq("src"), fingerprint = layoutFp)
        else
          mat.shared("em", emRows.repartition(F.col("src")),
            repartitionKeys = Seq("src"), fingerprint = layoutFp)

      val maxIters = cfg.fixedIters.getOrElse(cfg.maxIters)

      def danglingOf(df: DataFrame): Double =
        df.agg(F.coalesce(F.sum(F.when(!F.col("has_out"), F.col("rank")).otherwise(0.0)), F.lit(0.0)))
          .first().getDouble(0)

      // Fixed-iteration (oracle) runs need no per-round convergence test on
      // the driver, so the dangling mass rides as an IN-PLAN broadcast
      // aggregate over the previous committed frame instead of a separate
      // driver action per round — one action per round, not two (guide
      // §1.2/§5: the driver should do almost no data work). The aggregation
      // is the identical Spark agg over the identical flat frame, so the
      // double it injects is bit-identical to the driver-computed one.
      // Tolerance-mode runs keep the driver path: linf gates the loop.
      val inPlanDangling = cfg.fixedIters.isDefined

      // Resume (BASELINE.json:6 "resumable mid-iteration"), warm start
      // from a prior run's ranks, or cold start at 1/N.
      val (startIter, full0, dang0) = mat.resume() match {
        case Some((k, df)) =>
          (k, df.select("vid", "rank", "prev", "has_out"),
            if (inPlanDangling) 0.0 else danglingOf(df))
        case None =>
          // Cold-start vector: uniform 1/N globally, or the teleport vector
          // itself when personalized (unit mass over the seed set).
          val coldRank: org.apache.spark.sql.Column =
            if (teleport.isDefined) F.col("tele") else F.lit(1.0 / n)
          val init = warmStart match {
            case Some(prior) =>
              val filled = vmeta
                .join(prior.select(F.col("vid"), F.col("rank").as("warm")), Seq("vid"), "left")
                .select(F.col("vid"),
                  F.coalesce(F.col("warm"), coldRank).as("r0"), F.col("has_out"))
              // renormalize to unit mass (vertex set may have changed)
              val mass = filled.agg(F.sum("r0")).first().getDouble(0)
              filled.select(F.col("vid"), (F.col("r0") / F.lit(mass)).as("rank"),
                F.lit(0.0).as("prev"), F.col("has_out"))
            case None =>
              vmeta.select(F.col("vid"), coldRank.as("rank"),
                F.lit(0.0).as("prev"), F.col("has_out"))
          }
          val committed = mat.iter(0, init, Map("init" -> true))
          (0, committed.select("vid", "rank", "prev", "has_out"),
            if (inPlanDangling) 0.0 else danglingOf(committed))
      }
      var full = full0 // the committed frame incl. prev/has_out
      def state = full.select("vid", "rank")
      var dangling = dang0

      def messages(state: DataFrame): DataFrame = {
        val st = state.withColumnRenamed("vid", "src")
        val contribs =
          if (cfg.packedAdjacency)
            // custom whole-operator plan (graft.plans.CsrExpand): one pass
            // over the packed arrays, no CodegenFallback zip_with, no
            // intermediate struct array; still narrow — no exchange
            graft.plans.GraftPlans.expandMessages(em.join(st, "src"))
          else
            em.join(st, "src")                                // no exchange
              .select(F.col("dst"), (F.col("p") * F.col("rank")).as("c"))
        contribs.groupBy("dst")                               // THE shuffle
          .agg(F.sum(F.col("c")).as("msum"))
          .withColumnRenamed("dst", "vid")
      }

      val danglingExpr = F.coalesce(
        F.sum(F.when(!F.col("has_out"), F.col("rank")).otherwise(0.0)), F.lit(0.0))

      var iter = startIter
      var converged = false
      var lastWallMs = 0L
      while (iter < maxIters && !converged) {
        iter += 1
        val t0 = System.nanoTime()
        val msgs = messages(state)
        // The per-iteration dangling mass enters via a one-row broadcast,
        // NOT a literal: inlining a changing constant would make every
        // iteration's generated code unique and force a Janino recompile
        // per round. With a stable plan source, codegen compiles once for
        // the whole loop. Fixed-iteration runs derive the row IN-PLAN from
        // the previous committed frame (no driver action); tolerance runs
        // reuse the driver-computed value from the convergence agg.
        val consts =
          if (inPlanDangling) full.agg(danglingExpr.as("dang_mass"))
          else graph.spark.createDataFrame(Seq(Tuple1(dangling))).toDF("dang_mass")
        // Base-term: global runs keep the ORIGINAL expression tree (so
        // uniform-PageRank results stay bit-identical run-to-run); the
        // personalized branch substitutes tele(v) for 1/N in both the
        // teleport and the dangling-redistribution terms.
        val rankExpr =
          if (teleport.isDefined)
            F.lit(1.0 - d) * F.col("tele") +
              F.lit(d) * (F.coalesce(F.col("msum"), F.lit(0.0)) +
                F.col("dang_mass") * F.col("tele"))
          else
            F.lit((1.0 - d) / n) +
              F.lit(d) * (F.coalesce(F.col("msum"), F.lit(0.0)) + F.col("dang_mass") / F.lit(n))
        val next = vmeta
          .join(msgs, Seq("vid"), "left")                     // no exchange
          .join(state.withColumnRenamed("rank", "prev"), "vid") // no exchange
          .crossJoin(F.broadcast(consts))
          .select(
            F.col("vid"),
            rankExpr.as("rank"),
            F.col("prev"),
            F.col("has_out"))
        val committed = mat.iter(iter, next, Map.empty)
        if (inPlanDangling) {
          // no driver agg: the next round's dangling subquery reads the
          // committed blocks; note the round's wall only
          lastWallMs = (System.nanoTime() - t0) / 1000000L
          mat.note(iter, Map("wall_ms" -> lastWallMs))
        } else {
          // One cheap agg over committed blocks: convergence + next dangling.
          val row = committed.agg(
            F.max(F.abs(F.col("rank") - F.col("prev"))).as("linf"),
            F.sum(F.abs(F.col("rank") - F.col("prev"))).as("l1"),
            F.sum(F.when(!F.col("has_out"), F.col("rank")).otherwise(0.0)).as("dang"),
            F.sum("rank").as("total")).first()
          val linf = row.getDouble(0)
          dangling = row.getDouble(2)
          mat.note(iter, Map(
            "linf" -> linf, "l1" -> row.getDouble(1),
            "dangling_mass" -> dangling, "rank_total" -> row.getDouble(3),
            "wall_ms" -> (System.nanoTime() - t0) / 1000000L))
          converged = linf < cfg.tol
        }
        full = committed
      }
      // Fixed-iteration runs report the final state's convergence metrics
      // with ONE agg after the loop (the per-round ledger carries wall_ms;
      // the ledger's LAST entry keeps the full stats contract).
      if (inPlanDangling && iter > startIter) {
        val row = full.agg(
          F.max(F.abs(F.col("rank") - F.col("prev"))).as("linf"),
          F.sum(F.abs(F.col("rank") - F.col("prev"))).as("l1"),
          danglingExpr.as("dang"),
          F.sum("rank").as("total")).first()
        mat.note(iter, Map(
          "linf" -> row.getDouble(0), "l1" -> row.getDouble(1),
          "dangling_mass" -> row.getDouble(2), "rank_total" -> row.getDouble(3),
          "wall_ms" -> lastWallMs))
      }
      val out = PageRankResult(state, iter, converged, mat.log)
      mat.close()
      out
    }
}
