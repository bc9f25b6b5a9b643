package graft.algo

import org.apache.spark.sql.{DataFrame, functions => F}

import graft.graph.LinkGraph
import graft.plans.{Fold, FoldResult}

/** Neighborhood function + distance-based centrality — SURVEY.md §2.10
  * The neighborhood function N(t) = |{(u, v) : dist(u→v) ≤ t}|
  * is the backbone of distance distribution / effective-diameter analysis
  * on large graphs (Palmer et al. ANF, KDD 2002; Boldi-Rosa-Vigna
  * HyperANF/HyperBall, WWW 2011 — the same lineage of compact-structure
  * big-graph tooling as the reference's INRIA group).
  *
  * Two implementations, one contract:
  *
  *  - [[exact]] — multi-source BFS with explicit (origin, vertex, dist)
  *    pairs. O(Σ_t |ball frontier| · deg) work and O(n²) worst-case state:
  *    the CORRECTNESS surface (driver-oracled via unrolled reachability
  *    CTEs) and fine up to ~10⁵ vertices; inherently not the 100-TB path.
  *  - [[hyperball]] — the scale path: each vertex keeps a HyperLogLog
  *    sketch of its in-t-ball, one sketch-union message round per t
  *    (Spark-native Datasketches `hll_sketch_agg`/`hll_union_agg`, state =
  *    (vid, ~2^lgK bytes)). N(t) estimates carry the standard HLL relative
  *    error (~1.04/√2^lgK); per-round cost is one edges⋈state join + one
  *    union aggregation — the engine's standard one-shuffle kernel, state
  *    linear in vertices regardless of ball sizes.
  *
  * Both accept a [[Materializer]]: per-round state commits (reach pairs
  * keyed by origin / sketches keyed by vid) make multi-round runs over big
  * graphs resumable mid-iteration like every other loop in the engine.
  *
  * Both run a FIXED t = 0..maxT horizon (the oracle's unrolled-CTE
  * discipline); rounds whose frontier dries early are skipped and N(t)
  * stays flat, exactly like the oracle's cumulative sets.
  */
object Neighborhood {

  /** The shared distinct directed simple edges (src, dst), partitioned by
    * src; `reverse` flips every edge. */
  private[algo] def directedEdges(graph: LinkGraph, mat: Materializer, reverse: Boolean,
                                  fingerprint: Option[String]): DataFrame = {
    val de = graph.directed.where(F.col("src") =!= F.col("dst"))
    val flipped = if (reverse) de.select(F.col("dst").as("src"), F.col("src").as("dst")) else de
    mat.shared("de", flipped.repartition(F.col("src")), repartitionKeys = Seq("src"),
      fingerprint = fingerprint)
  }

  final case class NhoodResult(
      counts: DataFrame, // (t: int, pairs: long) — exact; est double for HB
      reach: Option[DataFrame], // exact only: (o, v, d)
      rounds: Int,
      // hyperball only: per-vertex sketch-derived centralities —
      // (vid, reached_est, harmonic_est, sumdist_est, closeness_est, ecc_est)
      perVertex: Option[DataFrame] = None)

  /** Exact truncated neighborhood function. Returns counts (t, pairs) for
    * t = 0..maxT AND the reach frame (o, v, d) with d = dist(o→v) — the
    * input for [[harmonic]]. Durable state per round: the cumulative reach
    * frame (bucket on "o"); resume recovers the frontier as the max-d
    * slice. */
  def exact(graph: LinkGraph, maxT: Int,
            mat: Materializer = new LocalMaterializer): NhoodResult = {
    val reach = bfsFrom(graph, graph.vertices, maxT, reverse = false, mat)
    NhoodResult(cumulativeCounts(graph, reach, maxT), Some(reach), maxT)
  }

  /** Multi-source BFS from an explicit origin set: reach rows (o, v, d)
    * with d = dist(o→v) ≤ maxT (`reverse = true` walks edges dst→src, so
    * d = dist(v→o) — distances INTO the origins). The workhorse behind
    * [[exact]] and HubLabels, run as a [[Fixpoint]] APPEND loop: round t
    * commits only level t, the rows first reached at distance t, and
    * reads the reach so far as one leaf (every level, concatenated
    * partition by partition, each hashed on (o, v)). Per round one frontier⋈edges join
    * and an anti-join against that reach; levels are append-only, so the
    * reach is never copied. Durable write volume is O(reach), not
    * O(maxT·reach); resume reads every committed level back, and the
    * latest is the frontier. The loop stops at maxT or at the first empty
    * level. The reach comes back as one frame over the levels. Closes
    * `mat`. */
  def bfsFrom(graph: LinkGraph, origins: DataFrame, maxT: Int,
              reverse: Boolean = false,
              mat: Materializer = new LocalMaterializer): DataFrame =
    Fixpoint(graph.spark, mat, math.max(graph.numVertices, graph.numEdges)) { fx =>
      val edges = directedEdges(graph, mat, reverse, Some(s"reverse=$reverse"))
        .withColumnRenamed("src", "v")
      // expand the frontier one hop, drop anything already reached (the
      // anti-join places the hop on (o, v), like the reach), then dedupe
      def step(round: Fixpoint.Round): DataFrame =
        round.slice.join(edges, "v")
          .select(F.col("o"), F.col("dst").as("v"))
          .join(round.state, Seq("o", "v"), "left_anti")
          .distinct()
          .withColumn("d", round.n)
      fx.run(Fixpoint.Loop(
        cols = Seq("o", "v", "d"),
        maxRounds = maxT,
        init = () => origins.select(F.col("vid").as("o"), F.col("vid").as("v"), F.lit(0).as("d"))
          .repartition(F.col("o"), F.col("v")),
        step = step,
        done = (s, _) => s.rows == 0,
        note = s => Map("fresh" -> s.rows),
        append = Seq("o", "v"))).state
    }

  /** (t, pairs): cumulative count of reach rows with d ≤ t for every t in
    * 0..maxT — including flat tail rounds the BFS never ran. */
  private def cumulativeCounts(graph: LinkGraph, reach: DataFrame, maxT: Int): DataFrame = {
    val byD = reach.groupBy("d").agg(F.count(F.lit(1)).as("fresh"))
    graph.spark.range(0, maxT + 1L).select(F.col("id").cast("int").as("t"))
      .join(byD, F.col("d") <= F.col("t"), "left")
      .groupBy("t").agg(F.coalesce(F.sum("fresh"), F.lit(0L)).as("pairs"))
      .orderBy("t")
  }

  /** T-truncated harmonic centrality from an exact reach frame:
    * H(v) = Σ_{o ≠ v, dist(o→v) ≤ maxT} 1 / dist(o→v), rounded to 6 dp.
    * (Distances follow edge direction INTO v — the standard in-harmonic;
    * Boldi-Vigna "Axioms for centrality" 2014.) */
  def harmonic(graph: LinkGraph, reach: DataFrame): DataFrame = {
    val h = reach.where(F.col("d") > 0)
      .groupBy(F.col("v").as("vid"))
      .agg(F.sum(F.lit(1.0) / F.col("d")).as("h"))
    graph.vertices.join(h, Seq("vid"), "left")
      .select(F.col("vid"), F.round(F.coalesce(F.col("h"), F.lit(0.0)), 6).as("harmonic"))
      .orderBy("vid")
  }

  /** HyperBall: per-vertex HLL sketch of the in-t-ball, grown by one
    * sketch-union message round per t. Returns (t, est_pairs: double) —
    * the HLL estimate of N(t) — AND the per-vertex sketch-derived
    * centralities (the HyperANF trick, Boldi-Rosa-Vigna WWW 2011 §4:
    * per vertex, est(ball_t) − est(ball_{t−1}) estimates |{u : dist = t}|,
    * so Σ_t δ_t/t is harmonic centrality, Σ_t δ_t·t the distance sum
    * behind closeness, and the last round with δ_t > 0 the truncated
    * eccentricity). The accumulators ride INSIDE the one union-agg
    * shuffle per round (max over the single pre-existing state row), so
    * the sketch-path centralities cost zero extra exchanges — this is
    * the 100-TB surface for harmonic/closeness/ecc, whose exact
    * counterparts need the O(n²)-state all-origins BFS.
    *
    * `reverse = false` grows in-balls ({o : dist(o→v) ≤ t} — messages
    * flow src→dst), matching g_harmonic's in-direction; `reverse = true`
    * grows out-balls, matching g_closeness/g_ecc's origin-side grouping.
    *
    * Saturation: a round whose global (rounded) estimate is flat can
    * still hide raw register growth, so early exit requires TWO
    * consecutive flat rounds (one plateau round must not freeze N(t)
    * while sketches are still growing).
    *
    * Durable state per round: (vid, sk, est, hacc, sacc, ecc_t). */
  def hyperball(graph: LinkGraph, maxT: Int, lgK: Int = 12,
                mat: Materializer = new LocalMaterializer,
                reverse: Boolean = false): NhoodResult =
    Fixpoint(graph.spark, mat, math.max(graph.numVertices, graph.numEdges)) { fx =>
      val spark = graph.spark
      import spark.implicits._
      // messages flow src→dst: dst's ball absorbs src's ball (dist(o→dst)
      // ≤ dist(o→src) + 1), so partition the shared edges by the probe key
      val edges = directedEdges(graph, mat, reverse, Some(s"lgK=$lgK;reverse=$reverse"))

      // ball(v, 0) = {v}: one single-element sketch per vertex
      def init(): DataFrame = graph.vertices.groupBy("vid")
        .agg(F.hll_sketch_agg(F.col("vid"), F.lit(lgK)).as("sk"))
        .select(F.col("vid"), F.col("sk"),
          F.hll_sketch_estimate(F.col("sk")).cast("double").as("est"),
          F.lit(0.0).as("hacc"), F.lit(0.0).as("sacc"),
          F.lit(0).as("ecc_t"))
        .repartition(F.col("vid"))

      def step(round: Fixpoint.Round): DataFrame = {
        val (t, state) = (round.n, round.state)
        val msgs = edges.join(
            state.select(F.col("vid").as("src"), F.col("sk")), "src")
          .select(F.col("dst").as("vid"), F.col("sk"))
        // one shuffle: sketch union + accumulator carry (each vid has
        // exactly ONE pre-existing state row, so max() recovers its
        // accumulators; message rows contribute nulls)
        val unioned = state.unionByName(
          msgs.withColumn("est", F.lit(null).cast("double"))
            .withColumn("hacc", F.lit(null).cast("double"))
            .withColumn("sacc", F.lit(null).cast("double"))
            .withColumn("ecc_t", F.lit(null).cast("int")))
        val agg = unioned.groupBy("vid").agg(
          F.hll_union_agg(F.col("sk")).as("sk"),
          F.max("est").as("prev_est"), F.max("hacc").as("hacc0"),
          F.max("sacc").as("sacc0"), F.max("ecc_t").as("ecc0"))
        val cur = F.hll_sketch_estimate(F.col("sk")).cast("double")
        val delta = F.greatest(cur - F.col("prev_est"), F.lit(0.0))
        agg.select(F.col("vid"), F.col("sk"),
          cur.as("est"),
          (F.col("hacc0") + delta / t).as("hacc"),
          (F.col("sacc0") + delta * t).as("sacc"),
          F.when(delta > 0, t).otherwise(F.col("ecc0")).as("ecc_t"))
      }

      var flatRounds = 0 // saturation: two consecutive flat rounds
      def saturated(s: FoldResult, last: Option[FoldResult]): Boolean =
        last.exists { l =>
          flatRounds = if (s.double("est") > l.double("est")) 0 else flatRounds + 1
          flatRounds >= 2
        }

      // N(t) is the folded sum of the per-vertex estimates: hll_sketch_estimate
      // rounds to a whole number, so the sum is exact in any merge order
      val r = fx.run(Fixpoint.Loop(
        cols = Seq("vid", "sk", "est", "hacc", "sacc", "ecc_t"),
        maxRounds = maxT,
        init = () => init(),
        step = step,
        stats = Seq(Fold.sum("est", F.col("est"))),
        done = saturated,
        note = s => Map("est_pairs" -> s.double("est")),
        startStats = true,
        noteStart = true))
      // Rounds before a RESUME point come from the durable ledger's
      // est_pairs notes; rounds after the early-exit stay flat at the
      // saturated estimate.
      val noted = mat.log.flatMap(m =>
        for (i <- m.get("iter"); e <- m.get("est_pairs"))
          yield (i.toString.toInt, e.toString.toDouble)).toMap
      val known = noted ++ r.seen.map { case (i, s) => i -> s.double("est") }
      val last = r.seen.last._2.double("est")
      val rows = (0 to maxT).map(i => (i, known.getOrElse(i, last))).toSeq
      val perVertex = r.state.select(F.col("vid"),
        F.col("est").as("reached_est"),
        F.round(F.col("hacc"), 6).as("harmonic_est"),
        F.col("sacc").as("sumdist_est"),
        F.round(F.when(F.col("sacc") > 0,
          (F.col("est") - 1.0) / F.col("sacc")).otherwise(F.lit(0.0)), 6)
          .as("closeness_est"),
        F.col("ecc_t").as("ecc_est"))
      NhoodResult(rows.toDF("t", "est_pairs").orderBy("t"), None, r.rounds,
        Some(perVertex))
    }

  /** q-effective diameter from a (t, pairs) frame: the smallest t with
    * N(t) ≥ q · N(maxT) (integer-valued convention; the frame is tiny —
    * one row per t — so this is a driver-side fold). */
  def effectiveDiameter(counts: DataFrame, q: Double = 0.9): Int = {
    val rows = counts.orderBy("t").collect()
      .map(r => (r.getInt(0), r.get(1).toString.toDouble))
    val target = q * rows.last._2
    rows.collectFirst { case (t, p) if p >= target => t }.getOrElse(rows.last._1)
  }
}
