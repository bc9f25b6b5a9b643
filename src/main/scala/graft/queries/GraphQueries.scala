package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}

import org.apache.spark.sql.graft.FlatCheckpoint

import graft.Caches
import graft.algo._
import graft.graph.{GraphBuilder, LinkGraph}

/** Graph-algorithm queries over the events-derived link graph — every entry
  * has a DuckDB oracle in [[OracleSql]] (the driver's correctness gate).
  * The events table mirrors the transcript shape (FIXTURES.md §6): per-user
  * time-ordered event_type adjacency ≙ turn-adjacency; user→event_type ≙
  * tool invocation.
  */
object GraphQueries {

  val PrIters = 10
  val PrDamping = 0.85
  val LpaRounds = 5
  val TopK = 10
  val KCoreK = 3
  val KCoreRounds = 8
  val NhoodT = 4
  val HubL = 4
  val HubT = 6
  val HubPairStride = 7
  val HubPairOffsets = 4
  val SsspStride = 5
  val SsspRounds = 8
  val AaStride = 3
  val AaK = 5
  val AaCount = 48
  val BcStride = 4
  val BcT = 4
  val KatzAlpha = 0.1
  val KatzRounds = 6
  val HitsRounds = 3
  val MisRounds = 8
  val KTrussK = 4
  val KTrussRounds = 6

  private def events(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/events.parquet")

  // Every memo below lives in graft.Caches, one entry per (session, dir,
  // name). Result frames are checkpoint-backed flat leaves, so holding
  // them for the session is safe.

  // One graph build: all g_* queries in a Verify/Bench pass share the
  // derived edge set.
  def graph(spark: SparkSession, dir: String): LinkGraph =
    Caches.memo(spark, dir, "graph") {
      GraphBuilder.fromEvents(events(spark, dir))
    }

  // g_pagerank and g_top_pagerank share one run. The iterative graph
  // queries (PageRank, PPR, CC, LPA) run on the row adjacency, as every
  // other caller does.
  def pageRanks(spark: SparkSession, dir: String): DataFrame =
    Caches.memo(spark, dir, "pagerank") {
      PageRank.run(graph(spark, dir),
        PageRankConfig(damping = PrDamping, fixedIters = Some(PrIters))).ranks
    }

  // Personalized PageRank, seeded on the user entities: the "which event
  // types matter to users" view of the link graph. Same engine and layout;
  // only the teleport vector differs.
  def pprRanks(spark: SparkSession, dir: String): DataFrame =
    Caches.memo(spark, dir, "ppr") {
      val g = graph(spark, dir)
      val seeds = g.dict.where(F.col("key").startsWith("user:")).select("vid")
      PageRank.run(g,
        PageRankConfig(damping = PrDamping, fixedIters = Some(PrIters)),
        teleport = Some(seeds)).ranks
    }

  // g_triangles and g_tri_pervertex share one wedge join.
  def triangles(spark: SparkSession, dir: String): TriangleResult =
    Caches.memo(spark, dir, "triangles") {
      // the shared symmetric frame + degree memo feed the canonical edge
      // set and the orientation degrees — no second distinct/degree pass
      Triangles.run(graph(spark, dir), shared = Some(undirected(spark, dir)))
    }

  /** (undirected simple edges, per-vertex degrees), shared + materialized:
    * g_clustering, g_degdist, g_assortativity, g_adamic_adar and the
    * k-core/k-truss/MIS queries all start from the same distinct symmetric
    * closure instead of each re-running the union+distinct shuffle. */
  def undirected(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    Caches.memo(spark, dir, "undirected") {
      val g = graph(spark, dir)
      val und = FlatCheckpoint.localCheckpoint(
        g.symmetrized.where(F.col("src") =!= F.col("dst")))
      val deg = FlatCheckpoint.localCheckpoint(
        und.groupBy(F.col("src").as("vid")).agg(F.count(F.lit(1)).as("deg")))
      (und, deg)
    }

  // One exact-BFS run: g_nhood, g_harmonic, g_ecc, g_closeness and
  // g_effdiam share the reach frame, one leaf over the BFS loop's level
  // slices keyed on o, so g_ecc/g_closeness group by o with no exchange.
  def nhood(spark: SparkSession, dir: String): Neighborhood.NhoodResult =
    Caches.memo(spark, dir, "nhood")(Neighborhood.exact(graph(spark, dir), NhoodT))

  // g_hub_labels and g_hub_distq share the two BFS runs.
  def hubLabels(spark: SparkSession, dir: String): HubLabels.HubResult =
    Caches.memo(spark, dir, "hublabels")(HubLabels.build(graph(spark, dir), HubL, HubT))

  // g_cc and g_compsizes share the label frame: the size histogram is a
  // two-agg derivation, not a second HashMin fixpoint.
  def ccLabels(s: SparkSession, d: String): DataFrame =
    Caches.memo(s, d, "cc") {
      FlatCheckpoint.localCheckpoint(
        ConnectedComponents.run(graph(s, d))
          .labels.orderBy("vid"))
    }

  /** Fixed-COUNT deterministic anchor set for the link-prediction queries:
    * the first AaCount vids among the stride multiples. Bounded at any
    * graph size (stride-only anchors scale ∝ n, making
    * g_adamic_adar/g_jaccard the exact all-sources cost at 100×); ≤ AaCount
    * rows, so the anchor side of the 2-hop expansion broadcasts. */
  private def aaAnchors(g: LinkGraph): DataFrame =
    g.vertices.where(F.col("vid") % AaStride === 0)
      .orderBy("vid").limit(AaCount).select(F.col("vid").as("u"))

  /** Optional hub-degree cap on the intermediate w of the 2-hop expansion
    * (`spark.graft.aa.hubDegCap`, 0 = off, the default): a DOCUMENTED
    * approximation — w vertices above the cap are skipped, so capped
    * scores/counts are a lower bound of the uncapped ones (pinned in
    * RoundSixOpsSpec). At web scale this bounds per-anchor fan-out by
    * cap² instead of the heaviest hub's degree. */
  private def hubDegCap(s: SparkSession): Int = {
    val cap = s.conf.getOption("spark.graft.aa.hubDegCap").map(_.toInt).getOrElse(0)
    // The cap reshapes g_adamic_adar/g_jaccard results but the DuckDB
    // oracle SQL is uncapped — warn loudly so a capped session failing the
    // hash gate is traceable to this knob, not to logic.
    if (cap > 0) Console.err.println(
      s"[graft] spark.graft.aa.hubDegCap=$cap is set: g_adamic_adar/g_jaccard " +
        "results are the documented capped approximation and will NOT match " +
        "the (uncapped) DuckDB oracle SQL")
    cap
  }

  /** (u, v, dw): one row per (anchor u, candidate v, common neighbor w)
    * wedge surviving the existing-edge anti-join; dw = deg(w).
    *
    * ONE anchor 2-hop candidate expansion per cap, shared by g_adamic_adar
    * and g_jaccard: both run the identical anchors ⋈ und ⋈ deg ⋈ und ⟕anti
    * und join chain and differ only in the final aggregation. The `dw > 1`
    * prune is semantics-free for Jaccard too: a w with deg 1 has u as its
    * only neighbor, so its second hop can only produce v = u, which the
    * v ≠ u filter drops. The memo name carries the hub-degree cap because
    * the cap reshapes the expansion (RoundSixOpsSpec varies it within one
    * session). */
  private[graft] def aaCandidates(s: SparkSession, d: String): DataFrame = {
    val cap = hubDegCap(s)
    Caches.memo(s, d, s"aacand:cap=$cap") {
      val g = graph(s, d)
      val (und, deg) = undirected(s, d)
      val anchors = aaAnchors(g)
      val hop1 = anchors
        .join(und.select(F.col("src").as("u"), F.col("dst").as("w")), "u")
        .join(deg.select(F.col("vid").as("w"), F.col("deg").as("dw")), "w")
        .where(F.col("dw") > 1 &&
          (if (cap > 0) F.col("dw") <= cap else F.lit(true)))
      val cand = hop1
        .join(und.select(F.col("src").as("w"), F.col("dst").as("v")), "w")
        .where(F.col("v") =!= F.col("u"))
        .join(und.select(F.col("src").as("u"), F.col("dst").as("v")),
          Seq("u", "v"), "left_anti")
        .select("u", "v", "dw")
      FlatCheckpoint.localCheckpoint(cand)
    }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g_edges" -> ((s, d) =>
      graph(s, d).edges.orderBy("src", "dst", "kind")),

    "g_dict" -> ((s, d) =>
      graph(s, d).dict.orderBy("vid")),

    "g_degree" -> ((s, d) => {
      val g = graph(s, d)
      val o = g.edges.groupBy(F.col("src").as("vid")).agg(
        F.count(F.lit(1)).as("out_deg"), F.round(F.sum("weight"), 6).as("out_wdeg"))
      val i = g.edges.groupBy(F.col("dst").as("vid")).agg(
        F.count(F.lit(1)).as("in_deg"), F.round(F.sum("weight"), 6).as("in_wdeg"))
      g.vertices
        .join(o, Seq("vid"), "left").join(i, Seq("vid"), "left")
        .select(F.col("vid"),
          F.coalesce(F.col("out_deg"), F.lit(0L)).as("out_deg"),
          F.coalesce(F.col("out_wdeg"), F.lit(0.0)).as("out_wdeg"),
          F.coalesce(F.col("in_deg"), F.lit(0L)).as("in_deg"),
          F.coalesce(F.col("in_wdeg"), F.lit(0.0)).as("in_wdeg"))
        .orderBy("vid")
    }),

    "g_pagerank" -> ((s, d) =>
      pageRanks(s, d)
        .select(F.col("vid"), F.round(F.col("rank"), 7).as("rank")).orderBy("vid")),

    "g_top_pagerank" -> ((s, d) =>
      pageRanks(s, d)
        .join(graph(s, d).dict, "vid")
        .select(F.col("key"), F.col("vid"), F.round(F.col("rank"), 7).as("rank"))
        .orderBy(F.col("rank").desc, F.col("vid"))
        .limit(TopK)),

    "g_ppr" -> ((s, d) =>
      pprRanks(s, d)
        .select(F.col("vid"), F.round(F.col("rank"), 7).as("rank")).orderBy("vid")),

    "g_kcore" -> ((s, d) =>
      KCore.membership(graph(s, d), KCoreK, KCoreRounds,
        sharedSym = Some(undirected(s, d)._1)).orderBy("vid")),

    "g_scc" -> ((s, d) => {
      val r = Scc.run(graph(s, d))
      require(r.converged, s"SCC did not converge in ${r.phases} phases")
      r.labels.orderBy("vid")
    }),

    "g_cc" -> ((s, d) => ccLabels(s, d)),

    // Component size histogram (size → how many components): two tiny
    // hash aggs over the SHARED g_cc label frame — the standard first
    // question asked of any CC run, derived for free from the memo.
    "g_compsizes" -> ((s, d) =>
      ccLabels(s, d).groupBy("label").agg(F.count(F.lit(1)).as("sz"))
        .groupBy(F.col("sz").as("size"))
        .agg(F.count(F.lit(1)).as("n_components"))
        .orderBy("size")),

    // Truncated HITS: integer alternating-walk counts (exact under any
    // summation order) normalized ONCE at the end — Hits scaladoc.
    "g_hits" -> ((s, d) => Caches.memo(s, d, "hits")(Hits.run(graph(s, d), HitsRounds))),

    // k-truss decomposition over the shared undirected frame: surviving
    // canonical edges with fixpoint support (Truss scaladoc — monotone
    // edge peel, the cohesive-community analogue of k-core).
    "g_ktruss" -> ((s, d) => Caches.memo(s, d, "ktruss") {
      val g = graph(s, d)
      val (und, _) = undirected(s, d)
      Truss.run(und, KTrussK, KTrussRounds, math.max(g.numVertices, g.numEdges))
    }),

    // Deterministic local-min MIS over the shared undirected frame,
    // round-capped (Mis scaladoc — vid-priority Luby skeleton).
    "g_mis" -> ((s, d) => Caches.memo(s, d, "mis") {
      val g = graph(s, d)
      val (und, _) = undirected(s, d)
      Mis.run(g.vertices, und, MisRounds, math.max(g.numVertices, g.numEdges))
    }),

    "g_lpa" -> ((s, d) =>
      LabelPropagation.run(graph(s, d), maxRounds = LpaRounds).labels.orderBy("vid")),

    "g_triangles" -> ((s, d) => {
      import s.implicits._
      Seq(triangles(s, d).total).toDF("n_triangles")
    }),

    "g_tri_pervertex" -> ((s, d) =>
      triangles(s, d).perVertex.orderBy("vid")),

    "g_nhood" -> ((s, d) => nhood(s, d).counts),

    "g_harmonic" -> ((s, d) =>
      Neighborhood.harmonic(graph(s, d), nhood(s, d).reach.get)),

    "g_hub_labels" -> ((s, d) => {
      val h = hubLabels(s, d)
      h.labelsOut.withColumn("dir", F.lit("to_hub"))
        .unionByName(h.labelsIn.withColumn("dir", F.lit("from_hub")))
        .orderBy("vid", "hub", "dir")
    }),

    "g_hub_distq" -> ((s, d) => {
      val g = graph(s, d)
      // Linear, deterministic pair sample: u ↔ u + j·stride for j =
      // −Offsets..Offsets (self-pair included), kept only when the offset
      // vid exists — ≤ (2·Offsets+1)·n/stride pairs, generated map-side
      // (explode, no join). Cross-joining the stride sample with itself
      // would make (n/stride)² pairs, ~2·10¹⁶ at 10⁹ vertices. The label
      // join itself is HubLabels.distances.
      val us = g.vertices.where(F.col("vid") % HubPairStride === 0)
      val pairs = us.select(F.col("vid").as("u"),
          F.explode(F.array(
            (-HubPairOffsets to HubPairOffsets).map(F.lit): _*)).as("j"))
        .select(F.col("u"), (F.col("u") + F.col("j") * HubPairStride).as("v"))
        .join(g.vertices.select(F.col("vid").as("v")), Seq("v"), "left_semi")
      HubLabels.distances(pairs, hubLabels(s, d)).orderBy("u", "v")
    }),

    // Weighted SSSP (Bellman-Ford relaxation, per-kind integer costs) from
    // a deterministic vid-stride origin set — the weighted counterpart of
    // the BFS-backed queries above.
    "g_sssp" -> ((s, d) => Caches.memo(s, d, "sssp") {
      val g = graph(s, d)
      val origins = g.vertices.where(F.col("vid") % SsspStride === 0)
      FlatCheckpoint.localCheckpoint(
        ShortestPaths.run(g, origins, SsspRounds).dists.orderBy("o", "v"))
    }),

    // Truncated out-eccentricity + reachable-ball size per vertex, derived
    // from the SHARED exact-BFS reach frame (no extra BFS run).
    "g_ecc" -> ((s, d) =>
      nhood(s, d).reach.get.groupBy(F.col("o").as("vid"))
        .agg(F.max("d").cast("int").as("ecc"),
          F.count(F.lit(1)).as("reached"))
        .orderBy("vid")),

    // Local clustering coefficient over the undirected simple graph:
    // lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)), 0 when deg ≤ 1 — derived
    // from the SHARED triangle run + one degree agg (no extra wedge join).
    "g_clustering" -> ((s, d) => {
      val g = graph(s, d)
      val (_, deg) = undirected(s, d)
      g.vertices
        .join(deg, Seq("vid"), "left")
        .join(triangles(s, d).perVertex, Seq("vid"), "left")
        .select(F.col("vid"),
          F.coalesce(F.col("deg"), F.lit(0L)).as("deg"),
          F.coalesce(F.col("triangles"), F.lit(0L)).as("triangles"),
          F.round(F.when(F.coalesce(F.col("deg"), F.lit(0L)) <= 1, F.lit(0.0))
            .otherwise(F.coalesce(F.col("triangles"), F.lit(0L)) * 2.0 /
              (F.col("deg") * (F.col("deg") - 1))), 6).as("lcc"))
        .orderBy("vid")
    }),

    // Degree histogram over the undirected simple graph — the first thing
    // anyone plots about a link graph. Two aggs: per-vertex degree (one
    // shuffle on vid), then the tiny deg→count rollup.
    "g_degdist" -> ((s, d) => {
      val g = graph(s, d)
      val (_, deg) = undirected(s, d)
      g.vertices.join(deg, Seq("vid"), "left")
        .select(F.coalesce(F.col("deg"), F.lit(0L)).as("deg"))
        .groupBy("deg").agg(F.count(F.lit(1)).as("n_vertices"))
        .orderBy("deg")
    }),

    // Degree assortativity (Pearson r of endpoint degrees over the
    // symmetric simple edge list). All moments are accumulated as EXACT
    // integer sums (degrees are ints) and the float formula is applied
    // once at the end — so Spark's and DuckDB's aggregation orders cannot
    // produce different doubles, unlike a naive corr() over floats. The
    // Pearson products are computed in DOUBLE: n·sxy at
    // web-scale edge counts overflows 64-bit ints, which Spark (non-ANSI)
    // wraps silently while DuckDB errors; both engines now evaluate the
    // identical IEEE double expression, so the hash match is preserved.
    "g_assortativity" -> ((s, d) => {
      val (und, deg) = undirected(s, d)
      val pairs = und
        .join(deg.select(F.col("vid").as("src"), F.col("deg").as("dx")), "src")
        .join(deg.select(F.col("vid").as("dst"), F.col("deg").as("dy")), "dst")
      val m = pairs.agg(
        F.count(F.lit(1)).as("n"),
        F.sum("dx").as("sx"), F.sum("dy").as("sy"),
        F.sum(F.col("dx") * F.col("dy")).as("sxy"),
        F.sum(F.col("dx") * F.col("dx")).as("sxx"),
        F.sum(F.col("dy") * F.col("dy")).as("syy"))
      def dbl(c: String) = F.col(c).cast("double")
      m.select(F.col("n").as("n_dir_edges"),
        F.round(
          (dbl("n") * dbl("sxy") - dbl("sx") * dbl("sy")) /
            (F.sqrt(dbl("n") * dbl("sxx") - dbl("sx") * dbl("sx")) *
             F.sqrt(dbl("n") * dbl("syy") - dbl("sy") * dbl("sy"))),
          6).as("assortativity"))
    }),

    // Hop-bounded sampled-source Brandes betweenness: deterministic
    // vid-stride source set, horizon BcT — both standard web-scale
    // approximations, both deterministic, so the unrolled DuckDB oracle
    // reproduces the estimator exactly.
    "g_betweenness" -> ((s, d) => Caches.memo(s, d, "betweenness") {
      val g = graph(s, d)
      val sources = g.vertices.where(F.col("vid") % BcStride === 0)
      Betweenness.run(g, sources, BcT)
    }),

    // Truncated Katz centrality: Σ_{k≤R} α^k · (paths of length k into
    // v) — R-round recurrence c = α·Aᵀ(1+c), one shuffle per round.
    "g_katz" -> ((s, d) => Caches.memo(s, d, "katz")(
      Katz.run(graph(s, d), KatzAlpha, KatzRounds))),

    // Truncated out-closeness: C(o) = (reached−1)/Σ dist within the BFS
    // horizon (0 when nothing beyond o itself is reached) — one agg over
    // the SHARED exact reach frame; integer sums, division applied once.
    "g_closeness" -> ((s, d) =>
      nhood(s, d).reach.get.groupBy(F.col("o").as("vid"))
        .agg(F.count(F.lit(1)).as("reached"), F.sum("d").as("sumd"))
        .select(F.col("vid"), F.col("reached"),
          F.round(F.when(F.col("sumd") > 0,
            (F.col("reached") - 1) / F.col("sumd")).otherwise(F.lit(0.0)), 6)
            .as("closeness"))
        .orderBy("vid")),

    // Jaccard neighbor similarity from the same fixed-count deterministic
    // anchor set as Adamic-Adar (aaAnchors; optional hub-degree cap on
    // the intermediate w): J(u,v) = |N(u)∩N(v)| / (deg(u)+deg(v)−|N∩|) — all
    // integer counts, ONE division at the end, so the Spark and DuckDB
    // paths are bit-identical by construction (no float sums at all).
    "g_jaccard" -> ((s, d) => {
      val (_, deg) = undirected(s, d)
      val cand = aaCandidates(s, d) // shared expansion with g_adamic_adar
        .groupBy("u", "v").agg(F.count(F.lit(1)).as("cn"))
        .join(deg.select(F.col("vid").as("u"), F.col("deg").as("du")), "u")
        .join(deg.select(F.col("vid").as("v"), F.col("deg").as("dv")), "v")
        .select(F.col("u"), F.col("v"), F.col("cn"),
          F.round(F.col("cn") / (F.col("du") + F.col("dv") - F.col("cn")), 6)
            .as("jaccard"))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy("u").orderBy(F.col("jaccard").desc, F.col("v"))
      cand.withColumn("rk", F.row_number().over(win).cast("int"))
        .where(F.col("rk") <= AaK)
        .select("u", "rk", "v", "cn", "jaccard")
        .orderBy("u", "rk")
    }),

    // Reciprocity: fraction of distinct directed simple edges whose
    // reverse edge also exists — exact integer counts, one semi-join
    // against the swapped edge set, final division applied once.
    "g_reciprocity" -> ((s, d) => {
      val de = graph(s, d).directed.where(F.col("src") =!= F.col("dst"))
      val rec = de.join(
        de.select(F.col("dst").as("src"), F.col("src").as("dst")),
        Seq("src", "dst"), "left_semi")
      de.agg(F.count(F.lit(1)).as("n_edges"))
        .crossJoin(rec.agg(F.count(F.lit(1)).as("n_reciprocal")))
        .select(F.col("n_edges"), F.col("n_reciprocal"),
          F.round(F.col("n_reciprocal") / F.col("n_edges"), 6).as("reciprocity"))
    }),

    // Effective diameter at q ∈ {0.5, 0.9} from the SHARED exact N(t)
    // counts (ANF's headline statistic): smallest t with N(t) ≥ q·N(T) —
    // the same integer definition as Neighborhood.effectiveDiameter,
    // computed distributed over the (T+1)-row counts frame (the
    // inequality join is a nested loop over ≤ 2(T+1) rows).
    "g_effdiam" -> ((s, d) => {
      val c = nhood(s, d).counts
      val tot = c.agg(F.max("pairs").as("total_pairs"))
      val qs = s.range(1).select(
        F.explode(F.array(F.lit(0.5), F.lit(0.9))).as("q"))
      qs.crossJoin(tot)
        .join(c, F.col("pairs") >= F.col("q") * F.col("total_pairs"))
        .groupBy("q", "total_pairs")
        .agg(F.min("t").cast("int").as("eff_diameter"))
        .select("q", "eff_diameter", "total_pairs")
        .orderBy("q")
    }),

    // Adamic-Adar link prediction from the fixed-count deterministic
    // anchor set (aaAnchors — bounded at any graph size, so the total
    // work no longer scales with n): score(u,v) = Σ_{w ∈ N(u)∩N(v)}
    // 1/ln(deg(w)) over candidate v at 2 hops, existing edges excluded,
    // top-K per anchor. Work is one 2-hop expansion from the ANCHORS
    // (Σ_{w∈N(u)} deg(w) rows per anchor, optionally hub-capped), not a
    // corpus-wide wedge join; the top-K window partitions by anchor.
    // Ranked on the ROUNDED score (d_tfidf discipline) so float paths
    // agree.
    "g_adamic_adar" -> ((s, d) => {
      val cand = aaCandidates(s, d) // shared expansion with g_jaccard
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).as("cn"),
          F.round(F.sum(F.lit(1.0) / F.log(F.col("dw"))), 6).as("score"))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy("u").orderBy(F.col("score").desc, F.col("v"))
      cand.withColumn("rk", F.row_number().over(win).cast("int"))
        .where(F.col("rk") <= AaK)
        .select("u", "rk", "v", "cn", "score")
        .orderBy("u", "rk")
    })
  )

  def oracles: Map[String, String] = Map(
    "g_edges" -> OracleSql.gEdges,
    "g_dict" -> OracleSql.gDict,
    "g_degree" -> OracleSql.gDegree,
    "g_pagerank" -> OracleSql.gPageRank(PrIters, PrDamping),
    "g_top_pagerank" -> OracleSql.gTopPageRank(PrIters, PrDamping, TopK),
    "g_ppr" -> OracleSql.gPpr(PrIters, PrDamping),
    "g_kcore" -> OracleSql.gKcore(KCoreK, KCoreRounds),
    "g_scc" -> OracleSql.gScc,
    "g_cc" -> OracleSql.gCc,
    "g_compsizes" -> OracleSql.gCompsizes,
    "g_hits" -> OracleSql.gHits(HitsRounds),
    "g_mis" -> OracleSql.gMis(MisRounds),
    "g_ktruss" -> OracleSql.gKtruss(KTrussK, KTrussRounds),
    "g_lpa" -> OracleSql.gLpa(LpaRounds),
    "g_triangles" -> OracleSql.gTriangles,
    "g_tri_pervertex" -> OracleSql.gTriPerVertex,
    "g_nhood" -> OracleSql.gNhood(NhoodT),
    "g_harmonic" -> OracleSql.gHarmonic(NhoodT),
    "g_hub_labels" -> OracleSql.gHubLabels(HubL, HubT),
    "g_hub_distq" -> OracleSql.gHubDistq(HubL, HubT, HubPairStride, HubPairOffsets),
    "g_sssp" -> OracleSql.gSssp(SsspStride, SsspRounds),
    "g_ecc" -> OracleSql.gEcc(NhoodT),
    "g_clustering" -> OracleSql.gClustering,
    "g_degdist" -> OracleSql.gDegdist,
    "g_assortativity" -> OracleSql.gAssortativity,
    "g_adamic_adar" -> OracleSql.gAdamicAdar(AaStride, AaCount, AaK),
    "g_reciprocity" -> OracleSql.gReciprocity,
    "g_effdiam" -> OracleSql.gEffdiam(NhoodT),
    "g_betweenness" -> OracleSql.gBetweenness(BcStride, BcT),
    "g_closeness" -> OracleSql.gCloseness(NhoodT),
    "g_jaccard" -> OracleSql.gJaccard(AaStride, AaCount, AaK),
    "g_katz" -> OracleSql.gKatz(KatzAlpha, KatzRounds)
  )
}
