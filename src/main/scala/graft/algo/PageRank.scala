package graft.algo

import org.apache.spark.sql.{DataFrame, functions => F}

import graft.graph.LinkGraph
import graft.plans.Fold

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
  * physical partitioning; at width 1 the one-partition invariants and
  * state report hash partitioning on their keys), so the state⋈edges join
  * and both vertex-side joins need NO exchange — the only exchange per
  * round is the sum-by-dst message shuffle (A1), after a map-side partial
  * sum. At width 1 the prepared round drops that shuffle too (one
  * partition into one moves no row), so the round is one stage of one
  * task, which holds both aggregates' hash tables at once; they still
  * spill as before. The three joins are shuffled-hash joins (hinted:
  * flat leaves carry no size statistics), building on the state and the
  * messages, so a round sorts nothing. A round is ONE Spark job, the
  * commit: it also folds the round's linf, l1, dangling mass and rank
  * total (graft.plans.FoldStats), and the dangling mass rides into the next
  * round's plan as a slot-backed column, with no driver action or
  * broadcast between commits. The round is planned and compiled once per
  * loop ([[Fixpoint]]).
  *
  * The adjacency is one row table of transition edges (src, dst, p),
  * hash-partitioned on src and materialized once per loop as a keyed
  * invariant; a round joins it edge by edge with the state. Hub skew has
  * no special handling: all of a hub's out-edges are in its src partition.
  */
final case class PageRankConfig(
    damping: Double = 0.85,
    tol: Double = 1e-6,
    maxIters: Int = 100,
    fixedIters: Option[Int] = None,
    weighted: Boolean = true)

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
    * The message kernel is untouched: personalization only changes the
    * per-vertex base term. `teleport = None` keeps the global formula on
    * its original expression tree, so uniform-PageRank results stay
    * bit-identical to the unpersonalized kernel. */
  def run(graph: LinkGraph, cfg: PageRankConfig = PageRankConfig(),
          mat: Materializer = new LocalMaterializer,
          warmStart: Option[DataFrame] = None,
          teleport: Option[DataFrame] = None): PageRankResult =
    Fixpoint(graph.spark, mat, math.max(graph.numVertices, graph.numEdges)) { fx =>
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
          // counted: a --seeds parquet carrying vids absent from the graph
          // would otherwise inflate |S|, making tele sum to < 1 and silently
          // breaking the Σp = 1 invariant.
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
          // snapshot must be fingerprinted by it: a --resume under the same
          // ckpt dir with a different seed spec recomputes instead of
          // silently reusing the stale vector.
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

      // Parameter fingerprint for the durable edge table: a resumed run
      // whose weighting changed under the same ckpt dir must recompute,
      // not silently read the stale snapshot.
      val layoutFp = Some(s"weighted=${cfg.weighted}")

      // The transition edges, materialized once, partitioned on the join key.
      val em = mat.shared("em", emRows.repartition(F.col("src")),
        repartitionKeys = Seq("src"), fingerprint = layoutFp)

      // Every commit folds its round's statistics in the same job
      // (graft.plans.FoldStats): linf gates tolerance runs, the dangling
      // mass feeds the next round, and each round's note records all four.
      // Partials merge in partition order, so the values repeat bit for bit
      // on every run, at any loop width.
      val stats = Seq(
        Fold.max("linf", F.abs(F.col("rank") - F.col("prev"))),
        Fold.sum("l1", F.abs(F.col("rank") - F.col("prev"))),
        Fold.sum("dangling_mass", F.when(!F.col("has_out"), F.col("rank")).otherwise(0.0)),
        Fold.sum("rank_total", F.col("rank")))

      // Warm start from a prior run's ranks, or cold start at 1/N.
      def init(): DataFrame = {
        // Cold-start vector: uniform 1/N globally, or the teleport vector
        // itself when personalized (unit mass over the seed set).
        val coldRank: org.apache.spark.sql.Column =
          if (teleport.isDefined) F.col("tele") else F.lit(1.0 / n)
        warmStart match {
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
      }

      def messages(state: DataFrame): DataFrame = {
        val st = state.withColumnRenamed("vid", "src")
        em.join(st.hint("shuffle_hash"), "src")               // no exchange
          .select(F.col("dst"), (F.col("p") * F.col("rank")).as("c"))
          .groupBy("dst")                                     // THE shuffle (width > 1)
          .agg(F.sum(F.col("c")).as("msum"))
          .withColumnRenamed("dst", "vid")
      }

      def step(round: Fixpoint.Round): DataFrame = {
        val state = round.state.select("vid", "rank")
        val msgs = messages(state)
        // The last round's dangling mass is a slot-backed column, not a
        // literal or a broadcast row: the plan is the same in every round,
        // so it is planned and compiled once (a literal would change the
        // plan; a broadcast costs a job per round).
        val dangMass = round.last("dangling_mass")
        // Base-term: global runs keep the ORIGINAL expression tree (so
        // uniform-PageRank results stay bit-identical run-to-run); the
        // personalized branch substitutes tele(v) for 1/N in both the
        // teleport and the dangling-redistribution terms.
        val rankExpr =
          if (teleport.isDefined)
            F.lit(1.0 - d) * F.col("tele") +
              F.lit(d) * (F.coalesce(F.col("msum"), F.lit(0.0)) + dangMass * F.col("tele"))
          else
            F.lit((1.0 - d) / n) +
              F.lit(d) * (F.coalesce(F.col("msum"), F.lit(0.0)) + dangMass / F.lit(n))
        vmeta
          .join(msgs.hint("shuffle_hash"), Seq("vid"), "left") // no exchange
          .join(state.withColumnRenamed("rank", "prev").hint("shuffle_hash"), "vid")
          .select(
            F.col("vid"),
            rankExpr.as("rank"),
            F.col("prev"),
            F.col("has_out"))
      }

      // The committed frame carries prev and has_out for the stats.
      // Fixed-iteration (oracle) runs go exactly fixedIters rounds; a start
      // state never counts as converged.
      val r = fx.run(Fixpoint.Loop(
        cols = Seq("vid", "rank", "prev", "has_out"),
        maxRounds = cfg.fixedIters.getOrElse(cfg.maxIters),
        init = () => init(),
        step = step,
        stats = stats,
        done = (s, last) =>
          last.isDefined && cfg.fixedIters.isEmpty && s.double("linf") < cfg.tol,
        note = _.values,
        startStats = true))
      PageRankResult(r.state.select("vid", "rank"), r.rounds, r.done, mat.log)
    }
}
