package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.expressions.Window

import graft.Caches

/** Training-data pipeline operators over `documents` / `embeddings`:
  * dedup (exact, n-gram Jaccard, MinHash+LSH, SimHash), text analysis
  * (lang-id, quality, tokens, fingerprints), similarity search (brute-force
  * cosine top-k), multimodal binary plumbing. Every query here has a DuckDB
  * oracle; the cross-engine deterministic hash is md5 (identical hex in
  * Spark and DuckDB), so even the hash-based sketches are oracle-checked.
  */
object PipelineQueries {

  val NumMinhash = 16
  val BandSize = 4 // 4 bands x 4 rows
  val JaccardThreshold = 0.5
  val ShingleDfCap = 64 // drop shingles held by more docs (non-discriminative)
  val SimhashBits = 16
  val HammingMax = 3
  val AnnQueries = 20
  val AnnK = 5
  // Driver-testdata embedding width at every SF (verified); the ORACLE SQL
  // needs it at string-build time. The Spark path never uses it — it
  // derives the width from the data (Similarity.dimOf).
  val AnnDim = 64
  // Near-random fixture embeddings: max pairwise cosine ≈ 0.5, so a "real"
  // 0.9 dup bar would be vacuously empty. The bar is a config; the fixture
  // value exercises the candidate->verify path with non-trivial output.
  val EmbedDupThreshold = 0.42

  private def docs(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"$d/documents.parquet")
  private def embs(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"$d/embeddings.parquet")

  /** Distinct word-3-gram shingles per doc: (doc_id, sh). */
  private def shingles(df: DataFrame): DataFrame =
    df.select(F.col("doc_id"), F.split(F.col("text"), " ").as("words"))
      .where(F.size(F.col("words")) >= 3)
      .select(F.col("doc_id"), F.explode(F.expr(
        "transform(sequence(0, size(words) - 3), i -> concat_ws(' ', slice(words, i + 1, 3)))"))
        .as("sh"))
      .distinct()

  // ------------------------------------------------- shared materializations
  //
  // Cross-query intermediates (shingles, simhash frames, LSH index, norms)
  // are computed once per (session, dir) — memos in graft.Caches (no
  // eviction; single-run contract documented there).
  //
  // HOW they materialize: the default is an eager localCheckpoint —
  // executor-memory-resident, lineage truncated, fast, but NOT
  // fault-tolerant: on a real cluster one lost executor kills a 100-TB
  // pipeline mid-run. With
  // `spark.graft.pipeline.ckpt=<dir>` (or env GRAFT_PIPELINE_CKPT) the same
  // intermediates become atomic TableIO commits: manifested parquet
  // snapshots that survive executor loss, are reusable across sessions
  // (io.latest → io.read instead of recompute), and keep query results
  // byte-identical (DurablePipelineSpec; the CORRECTNESS gate passes
  // flag-on).

  /** Table name = part name + md5 of the source-dir path (collision-proof,
    * unlike 32-bit String.hashCode). Snapshot semantics are SNAPSHOT-OF-
    * FIRST-RUN: a commit is keyed by the input PATH, not an input
    * fingerprint — rewriting the parquet under a cached path keeps serving
    * the old snapshot (same single-run contract as the in-memory memos;
    * point the ckpt root somewhere fresh, or delete the table dirs, when
    * the input changes). */
  private[graft] def durableTableName(d: String, name: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"$name-${md.take(16)}"
  }

  private def durableRoot(s: SparkSession): Option[String] =
    s.conf.getOption("spark.graft.pipeline.ckpt")
      .orElse(sys.env.get("GRAFT_PIPELINE_CKPT")).filter(_.nonEmpty)

  private def materialize(s: SparkSession, d: String, name: String)(df: => DataFrame): DataFrame =
    durableRoot(s) match {
      case Some(root) =>
        val io = new graft.io.ParquetManifestIO(s, root)
        val table = durableTableName(d, name)
        io.latest(table) match {
          case Some(i) => io.read(table, i)
          case None    => io.commit(table, 0, df, Map("source_dir" -> d))
        }
      case None => df.localCheckpoint(true)
    }

  /** The memo `name` for (s, d), materialized as above under the same name. */
  private def memoized(s: SparkSession, d: String, name: String)(df: => DataFrame): DataFrame =
    Caches.memo(s, d, name)(materialize(s, d, name)(df))

  // Four dedup/fingerprint queries consume the same shingle set.
  private def shinglesOf(s: SparkSession, d: String): DataFrame =
    memoized(s, d, "shingles")(shingles(docs(s, d)))

  // Rep-filtered shingles (one representative per distinct text): consumed
  // by the LSH candidate build, d_minhash_lsh and d_dedup_clusters — each
  // would re-run the semi-join (and d_dedup_clusters read it four times
  // inside one query: sizes, both sides of the verify join, shingledReps)
  // otherwise. One materialization, many block reads (guide §1.2/§5).
  private def shinglesRepsOf(s: SparkSession, d: String): DataFrame =
    memoized(s, d, "shreps") {
      val repsOnly = textGroupsOf(s, d)
        .where(F.col("doc_id") === F.col("rep")).select("doc_id")
      shinglesOf(s, d).join(repsOnly, Seq("doc_id"), "left_semi")
    }

  // (doc_id, rep): EXACT-DUP GROUPS by text content — the bucket-occupancy
  // guard. Every near-dup banding join (minhash-LSH, simhash pigeonhole)
  // operates on ONE REPRESENTATIVE (min doc_id) per distinct text, so bucket
  // occupancy — and hence the Σ|bucket|² candidate volume — is bounded by the
  // DISTINCT-content count, not the corpus size: a dup-heavy corpus (10⁶
  // copies of one boilerplate page, all with identical signatures) lands ONE
  // row per band bucket instead of 10⁶, and member-level pairs are
  // reconstituted afterwards by group expansion — a streamed join whose size
  // is the OUTPUT contract, never an intermediate blow-up. Semantics are
  // identical because identical text ⇒ identical shingles/signatures
  // (DedupGuardSpec pins both the equivalence and the bound).
  private[graft] def textGroupsOf(s: SparkSession, d: String): DataFrame =
    memoized(s, d, "textgroups") {
      // NULL-safe group key: md5(NULL) is NULL, and an equi-join on a NULL
      // key would silently drop null-text docs from their group.
      val k = docs(s, d).select(F.col("doc_id"),
        F.coalesce(F.md5(F.col("text")), F.lit("<null-text>")).as("gk"))
      val rep = k.groupBy("gk").agg(F.min("doc_id").as("rep"))
      k.join(rep, "gk").select("doc_id", "rep")
    }

  /** Member-level expansion of rep-level pairs: (ra, rb, extra...) →
    * (da, db, extra...) over every cross-group member combination. Groups
    * are disjoint and ra ≠ rb, so da ≠ db always; least/greatest restores
    * the da < db canonical orientation (member ids interleave across
    * groups even though reps are ordered). */
  private def expandRepPairs(repPairs: DataFrame, groups: DataFrame): DataFrame = {
    val extra = repPairs.columns.filterNot(c => c == "ra" || c == "rb").map(F.col).toSeq
    repPairs
      .join(groups.select(F.col("rep").as("ra"), F.col("doc_id").as("ma")), "ra")
      .join(groups.select(F.col("rep").as("rb"), F.col("doc_id").as("mb")), "rb")
      .select(F.least(F.col("ma"), F.col("mb")).as("da") +:
        F.greatest(F.col("ma"), F.col("mb")).as("db") +: extra: _*)
  }

  /** Intra-group member pairs (da < db) for groups whose REP passes the
    * semi-join filter `repFilter` (a one-column (rep) frame) — e.g. only
    * groups whose text actually shingles participate in shingle-based
    * operators, matching the pairwise definition exactly. */
  private def intraGroupPairs(groups: DataFrame, repFilter: DataFrame): DataFrame = {
    val gm = groups.join(repFilter, Seq("rep"), "left_semi")
    gm.select(F.col("rep"), F.col("doc_id").as("da"))
      .join(gm.select(F.col("rep"), F.col("doc_id").as("db")), "rep")
      .where(F.col("da") < F.col("db"))
      .select("da", "db")
  }

  // d_minhash_lsh and d_dedup_clusters run the IDENTICAL rep-level banded
  // LSH candidate join (minhash signatures over the rep-collapsed shingle
  // set → band buckets → bucket self-join). Computed once per (session,
  // dir) and materialized like the other shared intermediates — without
  // this memo each pass paid the 16-way md5 minhash aggregation and the
  // bucket self-join twice (guide §1.2: don't compute things twice).
  // Columns: (da, db, n_bands), da < db, rep ids only.
  private def repLshCandidates(s: SparkSession, d: String): DataFrame =
    memoized(s, d, "lshcand")(lshCandidates(shinglesRepsOf(s, d)))

  // ONE (vec_id, v, nrm) norms frame per (session, dir), shared by the LSH
  // index, the IVF index, and the brute-force cosine baseline — one corpus
  // scan (and in durable mode one snapshot) instead of three identical ones.
  // Zero-norm (all-zero) embeddings are FILTERED here: cosine against them
  // is 0/0 = NaN, which would silently disorder the bounded top-k buffer.
  // Every oracle's norms CTE applies the identical `nrm > 0` filter, so
  // both engines exclude them in lock-step.
  private def normsOf(s: SparkSession, d: String): DataFrame =
    Caches.memo(s, d, "norms") {
      graft.functions.GraftFunctions.register(s)
      materialize(s, d, "norms")(
        embs(s, d).select(F.col("vec_id"), F.col("embedding").as("v"))
          .select(F.col("vec_id"), F.col("v"),
            F.sqrt(F.expr("vector_dot(v, v)")).as("nrm"))
          .where(F.col("nrm") > 0))
    }

  // e_ann_lsh and e_embed_neardup share one LSH index (buckets + norms).
  // Planes are DERIVED from the corpus size (one metadata-cheap count),
  // memoized separately so the oracle generator reads the identical value.
  private[graft] def annPlanes(s: SparkSession, d: String): Int =
    Caches.memo(s, d, "annplanes")(
      graft.pipeline.Similarity.derivePlanes(embs(s, d).count()))

  private def annIndex(s: SparkSession, d: String): graft.pipeline.Similarity.AnnIndex =
    Caches.memo(s, d, "annindex")(graft.pipeline.Similarity.buildIndex(embs(s, d),
      planes = annPlanes(s, d),
      persist = (part, df) => materialize(s, d, s"ann_$part")(df),
      norms = Some(normsOf(s, d))))

  // e_ann_ivf: cells derived from corpus size (√n), index shared the same
  // way — and the oracle generator reads the identical derived value.
  private[graft] def ivfCells(s: SparkSession, d: String): Int =
    Caches.memo(s, d, "ivfcells")(
      graft.pipeline.IvfAnn.deriveCells(embs(s, d).count()))

  private def ivfIndex(s: SparkSession, d: String): graft.pipeline.IvfAnn.IvfIndex =
    Caches.memo(s, d, "ivfindex")(graft.pipeline.IvfAnn.buildIndex(embs(s, d),
      cells = ivfCells(s, d),
      persist = (part, df) => materialize(s, d, s"ivf_$part")(df),
      norms = Some(normsOf(s, d))))

  // Corpus word counts — the d_unigram_lp vocabulary source, MATERIALIZED:
  // the total and the top-V vocab both
  // derive from this memo, so the corpus-wide word aggregation runs ONCE
  // per pass instead of once per consumer (the previous shape re-ran it for
  // the driver-side total AND inside the probe plan — two full corpus scans
  // at 100 TB for one operator).
  private def wordCountsOf(s: SparkSession, d: String): DataFrame =
    memoized(s, d, "wordcounts")(
      docs(s, d)
        .select(F.explode(F.expr("filter(split(text, ' '), w -> w <> '')")).as("w"))
        .groupBy("w").agg(F.count(F.lit(1)).as("c")))

  private val shinglesSql: String =
    """w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
      |idx AS (SELECT doc_id, words, unnest(range(len(words) - 2)) AS i
      |        FROM w WHERE len(words) >= 3),
      |sh AS MATERIALIZED (SELECT DISTINCT doc_id, array_to_string(words[i+1:i+3], ' ') AS sh
      |      FROM idx)""".stripMargin

  // ---------------------------------------------------------------- dedup

  def dExactDedup(s: SparkSession, d: String): DataFrame = {
    // canonical_id IS the text-group rep (min doc_id per identical text) —
    // read the shared memo instead of re-running the md5 group + join the
    // other dedup queries already paid for (guide §1.2). text_md5 is
    // recomputed in the final projection so the output keeps the exact
    // md5(text) contract (NULL for null text, unlike the memo's null-safe
    // group key).
    val dd = docs(s, d).select(F.col("doc_id"), F.md5(F.col("text")).as("text_md5"))
    dd.join(textGroupsOf(s, d), "doc_id")
      .select(F.col("doc_id"), F.col("text_md5"),
        F.col("rep").as("canonical_id"),
        (F.col("doc_id") =!= F.col("rep")).as("is_dup"))
      .orderBy("doc_id")
  }

  val dExactDedupSql: String =
    """WITH dd AS (SELECT doc_id, md5(text) AS text_md5 FROM documents),
      |canon AS (SELECT text_md5, min(doc_id) AS canonical_id FROM dd GROUP BY text_md5)
      |SELECT doc_id, dd.text_md5, canonical_id, doc_id <> canonical_id AS is_dup
      |FROM dd JOIN canon USING (text_md5) ORDER BY doc_id""".stripMargin

  /** Contract: Jaccard over the DF-CAPPED shingle universe — shingles held
    * by more than ShingleDfCap documents are dropped as non-discriminative
    * BEFORE sizes and intersections. Without the cap, one hot shingle
    * ("of the and" at web scale) makes the per-shingle self-join quadratic
    * in its document frequency; with it, per-shingle fan-out is bounded by
    * ShingleDfCap² regardless of corpus size. The fixtures' max df is 25
    * (sf0.1), so the cap is output-invariant there — the oracle applies the
    * identical cap. */
  def dNgramJaccard(s: SparkSession, d: String): DataFrame = {
    val shAll = shinglesOf(s, d)
    val kept = shAll.groupBy("sh").agg(F.count(F.lit(1)).as("df"))
      .where(F.col("df") <= ShingleDfCap).select("sh")
    // three consumers below (sizes + both self-join sides): materialize the
    // df-capped set once instead of re-running the cap agg + semi-join per
    // consumer (guide §5: cache exactly the reused intermediate)
    val sh = org.apache.spark.sql.graft.FlatCheckpoint.localCheckpoint(
      shAll.join(kept, Seq("sh"), "left_semi"))
    val sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).as("sz"))
    val a = sh.select(F.col("doc_id").as("da"), F.col("sh"))
    val b = sh.select(F.col("doc_id").as("db"), F.col("sh"))
    a.join(b, Seq("sh")).where(F.col("da") < F.col("db"))
      .groupBy("da", "db").agg(F.count(F.lit(1)).as("inter"))
      .join(sz.select(F.col("doc_id").as("da"), F.col("sz").as("sza")), "da")
      .join(sz.select(F.col("doc_id").as("db"), F.col("sz").as("szb")), "db")
      .select(F.col("da"), F.col("db"),
        F.round(F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")), 6).as("jaccard"))
      .where(F.col("jaccard") >= JaccardThreshold)
      .orderBy("da", "db")
  }

  val dNgramJaccardSql: String =
    s"""WITH $shinglesSql,
       |dfreq AS MATERIALIZED (SELECT sh, count(*) AS df FROM sh GROUP BY sh),
       |shc AS MATERIALIZED (
       |  SELECT s.doc_id, s.sh FROM sh s JOIN dfreq f ON f.sh = s.sh
       |  WHERE f.df <= $ShingleDfCap),
       |sz AS (SELECT doc_id, count(*) AS sz FROM shc GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
       |          FROM shc a JOIN shc b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2)
       |SELECT da, db,
       |       round(inter * 1.0 / (sa.sz + sb.sz - inter), 6) AS jaccard
       |FROM inter JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
       |WHERE round(inter * 1.0 / (sa.sz + sb.sz - inter), 6) >= $JaccardThreshold
       |ORDER BY da, db""".stripMargin

  /** Banded-LSH candidate pairs over MinHash signatures (md5-based):
    * (da, db, n_bands) for all pairs agreeing on >= 1 band. Bucketed join
    * on (band_idx, band_value) — the scalable dedup shape, never all-pairs. */
  private def lshCandidates(sh: DataFrame): DataFrame = {
    val hashAggs = (0 until NumMinhash).map(j =>
      F.min(F.md5(F.concat(F.lit(s"$j|"), F.col("sh")))).as(s"h$j"))
    val minhashes = sh.groupBy("doc_id").agg(hashAggs.head, hashAggs.tail: _*)
    val nBands = NumMinhash / BandSize
    val bandCols = (0 until nBands).map { b =>
      F.md5(F.concat_ws("|",
        (0 until BandSize).map(r => F.col(s"h${b * BandSize + r}")): _*)).as(s"b$b")
    }
    val banded = minhashes.select(F.col("doc_id") +: bandCols: _*)
    val long = banded.select(F.col("doc_id"), F.explode(F.array(
      (0 until nBands).map(b => F.struct(F.lit(b).as("band_idx"), F.col(s"b$b").as("bv"))): _*))
      .as("e"))
      .select(F.col("doc_id"), F.col("e.band_idx"), F.col("e.bv"))
    val l = long.select(F.col("doc_id").as("da"), F.col("band_idx"), F.col("bv"))
    val r = long.select(F.col("doc_id").as("db"), F.col("band_idx"), F.col("bv"))
    l.join(r, Seq("band_idx", "bv")).where(F.col("da") < F.col("db"))
      .groupBy("da", "db").agg(F.countDistinct("band_idx").cast("long").as("n_bands"))
  }

  /** MinHash signatures + banded LSH candidate pairs. Bands one
    * representative per distinct text (see [[textGroupsOf]]); member pairs
    * are reconstituted by group expansion — intra-group pairs agree on ALL
    * bands by construction (identical signatures), cross-group pairs carry
    * the rep pair's band count. */
  def dMinhashLsh(s: SparkSession, d: String): DataFrame = {
    val groups = textGroupsOf(s, d)
    val shReps = shinglesRepsOf(s, d)
    val repCand = repLshCandidates(s, d) // shared with d_dedup_clusters
      .select(F.col("da").as("ra"), F.col("db").as("rb"), F.col("n_bands"))
    val cross = expandRepPairs(repCand, groups)
    val shingledReps = shReps.select("doc_id").distinct().withColumnRenamed("doc_id", "rep")
    val intra = intraGroupPairs(groups, shingledReps)
      .select(F.col("da"), F.col("db"), F.lit((NumMinhash / BandSize).toLong).as("n_bands"))
    cross.unionByName(intra).orderBy("da", "db")
  }

  /** Dedup END-TO-END — what a training pipeline actually runs: LSH
    * candidates → exact-Jaccard verification (candidate-bounded, not
    * all-pairs) → connected components over the duplicate graph → one
    * canonical doc (min doc_id) per cluster. Exercises the graph engine
    * (HashMin CC, one shuffle per round) on non-graph data. Every doc is
    * emitted — singletons are their own canonical cluster. */
  def dDedupClusters(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    // Band + verify over one representative per distinct text (the bucket-
    // occupancy guard, see textGroupsOf); exact-dup members then join their
    // rep through STAR edges — connectivity (and hence min-id labels) is
    // identical to the full pairwise dup graph, at rep-level join cost.
    val groups = textGroupsOf(s, d)
    val sh = shinglesRepsOf(s, d)
    val sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).as("sz"))
    val cand = repLshCandidates(s, d).select("da", "db") // shared memo
    // exact verify, bounded by |candidates| x shingles-per-doc
    val inter = cand
      .join(sh.select(F.col("doc_id").as("da"), F.col("sh")), "da")
      .join(sh.select(F.col("doc_id").as("db"), F.col("sh")), Seq("db", "sh"))
      .groupBy("da", "db").agg(F.count(F.lit(1)).as("inter"))
    val verified = inter
      .join(sz.select(F.col("doc_id").as("da"), F.col("sz").as("sza")), "da")
      .join(sz.select(F.col("doc_id").as("db"), F.col("sz").as("szb")), "db")
      .where(F.round(F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")), 6)
        >= JaccardThreshold)
      .select("da", "db")
    // member → rep star edges, only for groups whose text SHINGLES (exact
    // dups of a <3-word text are not candidates in the pairwise definition
    // either — Jaccard over empty shingle sets is undefined there)
    val shingledReps = sh.select("doc_id").distinct().withColumnRenamed("doc_id", "rep")
    val intraEdges = groups
      .join(shingledReps, Seq("rep"), "left_semi")
      .where(F.col("doc_id") =!= F.col("rep"))
      .select(F.col("rep").as("da"), F.col("doc_id").as("db"))
    // Materialize the dup-edge set ONCE: ConnectedComponents sizes the loop
    // via numEdges (an action) and then reads the symmetric closure — on a
    // lazy frame the whole candidate+verify chain would execute twice
    // (guide §1.2/§5: cache exactly the reused intermediate).
    val dupEdges = org.apache.spark.sql.graft.FlatCheckpoint.localCheckpoint(
      verified.unionByName(intraEdges))
    // The CC fixpoint runs over the EDGE ENDPOINTS only — docs in no dup
    // edge are their own singleton cluster by definition, so hauling the
    // whole corpus's vertex set through every HashMin round (the previous
    // shape) multiplied the loop state by corpus/|dup docs| for labels the
    // final left join fills with coalesce anyway (guide §1.2: don't
    // compute things you throw away). Labels are identical: a vertex
    // outside every edge keeps label = vid in HashMin too.
    val endpoints = dupEdges.select(F.col("da").as("key"))
      .unionByName(dupEdges.select(F.col("db").as("key"))).distinct()
      .select(F.col("key").cast("string").as("key"), F.col("key").as("vid"))
    val dupGraph = graft.graph.LinkGraph(
      edges = dupEdges.select(F.col("da").as("src"), F.col("db").as("dst"),
        F.lit(1).as("kind"), F.lit(1.0).as("weight")),
      dict = endpoints)
    // A width-1 loop hands out its labels as one partition, which gives the
    // join no key partitioning to copy: a plain join would shuffle both
    // sides first. Labels that fit one loop partition (one row per vertex;
    // the loop's own size hint already counted them) are broadcast instead.
    val labels = graft.algo.ConnectedComponents.run(dupGraph).labels
      .withColumnRenamed("vid", "doc_id")
    val small = dupGraph.numVertices <= graft.algo.IterativeConf.RowsPerPartition
    dd.select("doc_id")
      .join(if (small) F.broadcast(labels) else labels, Seq("doc_id"), "left")
      .select(F.col("doc_id"),
        F.coalesce(F.col("label"), F.col("doc_id")).as("cluster_id"),
        (F.coalesce(F.col("label"), F.col("doc_id")) === F.col("doc_id")).as("is_canonical"))
      .orderBy("doc_id")
  }

  /** Shared CTE text: shingles → minhash signatures → banded long form. */
  private val lshCtes: String = {
    val hashAggs = (0 until NumMinhash)
      .map(j => s"min(md5('$j|' || sh)) AS h$j").mkString(",\n    ")
    val nBands = NumMinhash / BandSize
    val bandExprs = (0 until nBands).map { b =>
      val cols = (0 until BandSize).map(r => s"h${b * BandSize + r}").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band_idx, md5($cols) AS bv FROM mh"
    }.mkString("\n  UNION ALL ")
    s"""$shinglesSql,
       |mh AS MATERIALIZED (
       |  SELECT doc_id,
       |    $hashAggs
       |  FROM sh GROUP BY doc_id),
       |long AS MATERIALIZED (
       |  $bandExprs)""".stripMargin
  }

  val dMinhashLshSql: String =
    s"""WITH $lshCtes
       |SELECT l.doc_id AS da, r.doc_id AS db,
       |       CAST(count(DISTINCT l.band_idx) AS BIGINT) AS n_bands
       |FROM long l JOIN long r ON l.band_idx = r.band_idx AND l.bv = r.bv
       |     AND l.doc_id < r.doc_id
       |GROUP BY 1, 2 ORDER BY da, db""".stripMargin

  /** LSH candidates → exact-Jaccard verify → recursive min-reachability
    * (= HashMin CC fixpoint by definition) → min-doc_id canonical. */
  val dDedupClustersSql: String =
    s"""WITH RECURSIVE $lshCtes,
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT l.doc_id AS da, r.doc_id AS db
       |  FROM long l JOIN long r ON l.band_idx = r.band_idx AND l.bv = r.bv
       |       AND l.doc_id < r.doc_id),
       |sz AS MATERIALIZED (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT c.da, c.db, count(*) AS inter
       |  FROM cand c JOIN sh a ON a.doc_id = c.da
       |       JOIN sh b ON b.doc_id = c.db AND b.sh = a.sh
       |  GROUP BY 1, 2),
       |ver AS MATERIALIZED (
       |  SELECT da, db FROM inter
       |  JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
       |  WHERE round(inter * 1.0 / (sa.sz + sb.sz - inter), 6) >= $JaccardThreshold),
       |sym AS MATERIALIZED (
       |  SELECT da AS src, db AS dst FROM ver UNION SELECT db, da FROM ver),
       |reach AS (
       |  SELECT doc_id AS vid, doc_id AS r FROM documents
       |  UNION
       |  SELECT reach.vid, sym.dst AS r FROM reach JOIN sym ON sym.src = reach.r)
       |SELECT vid AS doc_id, min(r) AS cluster_id, (vid = min(r)) AS is_canonical
       |FROM reach GROUP BY vid ORDER BY doc_id""".stripMargin

  /** 16-bit SimHash over distinct words (md5 bit sampling); d_simhash and
    * d_simhash_pairs share the memoized signature frame. */
  def dSimhash(s: SparkSession, d: String): DataFrame =
    memoized(s, d, "simhash16")(dSimhashUncached(s, d))

  private def dSimhashUncached(s: SparkSession, d: String): DataFrame = {
    val words = docs(s, d)
      .select(F.col("doc_id"), F.explode(F.split(F.col("text"), " ")).as("word"))
      .where(F.col("word") =!= "").distinct()
      // md5 once per (doc, word) row as a projected column: inside the 16
      // per-bit sum() expressions the digest was re-evaluated per aggregate
      // (subexpression elimination does not reach across aggregate update
      // expressions) — 16 md5 calls per row for one value (guide §1.2
      // "per-task work").
      .select(F.col("doc_id"), F.md5(F.col("word")).as("wmd5"))
    val bitSumCols = (0 until SimhashBits).map { b =>
      val dig = b / 4 + 1
      val mask = 8 >> (b % 4)
      F.sum(F.when(
        (F.instr(F.lit("0123456789abcdef"),
          F.substring(F.col("wmd5"), dig, 1)) - 1)
          .cast("int").bitwiseAND(F.lit(mask)) > 0, 1).otherwise(-1)).as(s"s$b")
    }
    val sums = words.groupBy("doc_id").agg(bitSumCols.head, bitSumCols.tail: _*)
    val sim = (0 until SimhashBits).map { b =>
      F.when(F.col(s"s$b") > 0, F.lit(1 << b)).otherwise(F.lit(0))
    }.reduce(_ + _)
    sums.select(F.col("doc_id"), sim.cast("int").as("simhash16")).orderBy("doc_id")
  }

  val dSimhashSql: String = {
    val bitSums = (0 until SimhashBits).map { b =>
      val dig = b / 4 + 1
      val mask = 8 >> (b % 4)
      s"sum(CASE WHEN ((strpos('0123456789abcdef', substr(md5(word), $dig, 1)) - 1) & $mask) > 0 THEN 1 ELSE -1 END) AS s$b"
    }.mkString(",\n    ")
    val assemble = (0 until SimhashBits)
      .map(b => s"CASE WHEN s$b > 0 THEN ${1 << b} ELSE 0 END").mkString(" + ")
    s"""WITH words0 AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
       |w2 AS (SELECT DISTINCT doc_id, word FROM words0 WHERE word <> ''),
       |sums AS (SELECT doc_id,
       |    $bitSums
       |  FROM w2 GROUP BY doc_id)
       |SELECT doc_id, CAST($assemble AS INTEGER) AS simhash16
       |FROM sums ORDER BY doc_id""".stripMargin
  }

  /** Near-dup pairs at Hamming <= HammingMax via PIGEONHOLE BANDING, not a
    * cartesian: split the simhash into HammingMax+1 disjoint chunks — any
    * pair within Hamming distance HammingMax differs in at most HammingMax
    * chunks, so it matches EXACTLY in at least one. Equi-join on
    * (chunk_idx, chunk_value) generates candidates (Σ per-bucket |bucket|²,
    * not n²), then bit_count verifies. Output identical to the all-pairs
    * definition ⇒ same oracle. At 16 bits the 4-bit chunks give only 16
    * bucket values per chunk — d_simhash64 (64-bit, 16-bit chunks, 65536
    * values) is the shape for real corpora; this keeps the published 16-bit
    * contract. */
  def dSimhashPairs(s: SparkSession, d: String): DataFrame = {
    val sh = dSimhash(s, d) // cached + checkpointed
    val groups = textGroupsOf(s, d)
    val repsOnly = groups.where(F.col("doc_id") === F.col("rep")).select("doc_id")
    val shReps = sh.join(repsOnly, Seq("doc_id"), "left_semi")
    val repPairs = bandedHammingPairs(shReps, "simhash16", SimhashBits)
    val cross = expandRepPairs(repPairs, groups)
    // 16-bit simhash drops wordless docs (no signature row) — only groups
    // whose rep HAS a signature participate, matching the pairwise form
    val hashedReps = shReps.select("doc_id").distinct().withColumnRenamed("doc_id", "rep")
    val intra = intraGroupPairs(groups, hashedReps)
      .select(F.col("da"), F.col("db"), F.lit(0).cast("int").as("hamming"))
    cross.unionByName(intra).orderBy("da", "db")
  }

  /** Rep-level pigeonhole band join (SURVEY.md §2.12): split the hash into
    * HammingMax+1 disjoint chunks; any pair within Hamming ≤ HammingMax
    * matches exactly in ≥ 1 chunk, so an equi-join on (chunk_idx, value)
    * generates Σ per-bucket |bucket|² candidates, then bit_count verifies.
    * Callers pass the REP-collapsed signature frame, so |bucket| is bounded
    * by distinct-content count (the occupancy guard). Returns
    * (ra, rb, hamming), ra < rb, distinct. */
  private def bandedHammingPairs(sh: DataFrame, hashCol: String, bits: Int): DataFrame = {
    val nChunks = HammingMax + 1
    val chunkBits = bits / nChunks
    def cv(c: Int): Column =
      if (bits == 64)
        F.shiftrightunsigned(F.col(hashCol), c * chunkBits)
          .bitwiseAND(F.lit((1L << chunkBits) - 1))
      else
        F.shiftright(F.col(hashCol), c * chunkBits)
          .bitwiseAND(F.lit((1 << chunkBits) - 1))
    val long = sh.select(F.col("doc_id"), F.col(hashCol), F.explode(F.array(
        (0 until nChunks).map(c => F.struct(
          F.lit(c).as("chunk_idx"), cv(c).as("cv"))): _*))
        .as("e"))
      .select(F.col("doc_id"), F.col(hashCol), F.col("e.chunk_idx"), F.col("e.cv"))
    val a = long.select(F.col("doc_id").as("ra"), F.col(hashCol).as("ha"),
      F.col("chunk_idx"), F.col("cv"))
    val b = long.select(F.col("doc_id").as("rb"), F.col(hashCol).as("hb"),
      F.col("chunk_idx"), F.col("cv"))
    // verify BEFORE dedup: most candidates fail the Hamming bar, so the
    // distinct sees only true pairs, not the full per-chunk fan-out
    a.join(b, Seq("chunk_idx", "cv")).where(F.col("ra") < F.col("rb"))
      .select(F.col("ra"), F.col("rb"),
        F.bit_count(F.expr("ha ^ hb")).cast("int").as("hamming"))
      .where(F.col("hamming") <= HammingMax)
      .distinct()
  }

  val dSimhashPairsSql: String = {
    val inner = dSimhashSql.replace("ORDER BY doc_id", "")
    s"""WITH sh AS MATERIALIZED ($inner)
       |SELECT a.doc_id AS da, b.doc_id AS db,
       |       CAST(bit_count(xor(a.simhash16, b.simhash16)) AS INTEGER) AS hamming
       |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash16, b.simhash16)) <= $HammingMax
       |ORDER BY da, db""".stripMargin
  }

  /** 64-bit SimHash via the native [[graft.functions.SimHash64]] Expression:
    * per-doc distinct words with array_distinct (NO explode+distinct
    * shuffle — the 16-bit tower's main scale cost), one codegen-resident
    * call per row. Oracle = the 16-bit SQL tower generalized to 64 bits
    * with exact two's-complement BIGINT assembly. */
  def dSimhash64(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    // coalesce(…, array()): a NULL text must hash to 0 (empty word set),
    // matching the oracle's LEFT JOIN + CASE-over-NULL-sums convention —
    // without it the native expression would return NULL.
    docs(s, d).select(F.col("doc_id"),
        F.expr("simhash64(array_distinct(filter(coalesce(split(text, ' '), array()), w -> w <> '')))")
          .as("simhash64"))
      .orderBy("doc_id")
  }

  val dSimhash64Sql: String = {
    val bitSums = (0 until 64).map { b =>
      val dig = b / 4 + 1
      val mask = 8 >> (b % 4)
      s"sum(CASE WHEN ((strpos('0123456789abcdef', substr(md5(word), $dig, 1)) - 1) & $mask) > 0 THEN 1 ELSE -1 END) AS s$b"
    }.mkString(",\n    ")
    // exact two's complement: bit 63 contributes -2^63, bits 0..62 positive
    val assemble = (0 until 64).map { b =>
      val v = if (b == 63) "(-9223372036854775807 - 1)" else (1L << b).toString
      s"CASE WHEN s$b > 0 THEN $v ELSE 0 END"
    }.mkString(" + ")
    s"""WITH words0 AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
       |w2 AS (SELECT DISTINCT doc_id, word FROM words0 WHERE word <> ''),
       |sums AS MATERIALIZED (SELECT doc_id,
       |    $bitSums
       |  FROM w2 GROUP BY doc_id)
       |SELECT d.doc_id, CAST($assemble AS BIGINT) AS simhash64
       |FROM documents d LEFT JOIN sums ON sums.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Pigeonhole banding over the 64-bit simhash: HammingMax+1 = 4 chunks of
    * SIXTEEN bits each (65536 values per chunk) — the genuinely scalable
    * shape the 16-bit variant's 4-bit chunks only gesture at. */
  /** Rep-level near-dup pairs BEFORE group expansion — the frame whose
    * cardinality the occupancy guard bounds (exposed for DedupGuardSpec:
    * on a dup-heavy corpus this stays tiny while the expanded output is
    * quadratic in group size, as the contract demands). */
  private[graft] def simhash64RepPairs(s: SparkSession, d: String): DataFrame = {
    val sh = materialize(s, d, "simhash64")(dSimhash64(s, d))
    val groups = textGroupsOf(s, d)
    val repsOnly = groups.where(F.col("doc_id") === F.col("rep")).select("doc_id")
    val shReps = sh.join(repsOnly, Seq("doc_id"), "left_semi")
    bandedHammingPairs(shReps, "simhash64", 64)
  }

  def dSimhash64Pairs(s: SparkSession, d: String): DataFrame = {
    val groups = textGroupsOf(s, d)
    val repPairs = simhash64RepPairs(s, d)
    val cross = expandRepPairs(repPairs, groups)
    // the 64-bit variant hashes EVERY doc (wordless → 0), so every
    // multi-member group contributes its intra pairs at Hamming 0
    val intra = intraGroupPairs(groups, groups.select("rep").distinct())
      .select(F.col("da"), F.col("db"), F.lit(0).cast("int").as("hamming"))
    cross.unionByName(intra).orderBy("da", "db")
  }

  val dSimhash64PairsSql: String = {
    val inner = dSimhash64Sql.replace("ORDER BY d.doc_id", "")
    s"""WITH sh AS MATERIALIZED ($inner)
       |SELECT a.doc_id AS da, b.doc_id AS db,
       |       CAST(bit_count(xor(a.simhash64, b.simhash64)) AS INTEGER) AS hamming
       |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash64, b.simhash64)) <= $HammingMax
       |ORDER BY da, db""".stripMargin
  }

  // -------------------------------------------------------- text analysis

  private val stopwords = Map(
    "en" -> Seq("the", "a", "and", "of", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "los", "las", "y", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "he2")) // pinyin-ish stand-ins

  /** #occurrences of ` w ` in ` text ` via length arithmetic — literal
    * replace() in both engines so semantics match exactly. */
  private def hits(w: String): Column =
    F.expr(s"cast((length(concat(' ', text, ' ')) - " +
      s"length(replace(concat(' ', text, ' '), ' $w ', ''))) / ${w.length + 2} as int)")

  def dLangid(s: SparkSession, d: String): DataFrame = {
    val scoreCols = stopwords.toSeq.sortBy(_._1).map { case (lang, ws) =>
      ws.map(hits).reduce(_ + _).as(s"score_$lang")
    }
    val scored = docs(s, d).select(F.col("doc_id") +: scoreCols: _*)
    val langs = stopwords.keys.toSeq.sorted
    // argmax with deterministic first-wins tie-break in sorted lang order
    val pred = langs.foldRight(F.lit("und"): Column) { (l, acc) =>
      F.when(langs.map(o => F.col(s"score_$l") >= F.col(s"score_$o")).reduce(_ && _) &&
             F.col(s"score_$l") > 0, F.lit(l)).otherwise(acc)
    }
    scored.select(F.col("doc_id") +: langs.map(l => F.col(s"score_$l")) :+ pred.as("pred_lang"): _*)
      .orderBy("doc_id")
  }

  val dLangidSql: String = {
    def hitsSql(w: String): String =
      s"CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' $w ', ''))) / ${w.length + 2} AS INTEGER)"
    val scores = stopwords.toSeq.sortBy(_._1).map { case (lang, ws) =>
      ws.map(hitsSql).mkString(" + ") + s" AS score_$lang"
    }.mkString(",\n    ")
    val langs = stopwords.keys.toSeq.sorted
    val pred = langs.foldRight("'und'") { (l, acc) =>
      val ge = langs.map(o => s"score_$l >= score_$o").mkString(" AND ")
      s"CASE WHEN $ge AND score_$l > 0 THEN '$l' ELSE $acc END"
    }
    s"""WITH scored AS (
       |  SELECT doc_id,
       |    $scores
       |  FROM documents)
       |SELECT doc_id, ${langs.map(l => s"score_$l").mkString(", ")},
       |       $pred AS pred_lang
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  def dQuality(s: SparkSession, d: String): DataFrame = {
    val enHits = stopwords("en").map(hits).reduce(_ + _)
    docs(s, d).select(
        F.col("doc_id"),
        F.length(F.col("text")).cast("long").as("n_chars_obs"),
        (F.length(F.col("text")) - F.length(F.regexp_replace(F.col("text"), " ", "")) + 1)
          .cast("long").as("n_tokens"),
        enHits.cast("long").as("stop_hits"))
      .select(F.col("doc_id"), F.col("n_chars_obs"), F.col("n_tokens"), F.col("stop_hits"),
        F.round(
          F.least(F.lit(1.0), F.col("n_tokens") / 60.0) *
          (F.lit(0.5) + F.least(F.lit(0.5), F.col("stop_hits") * 5.0 / F.col("n_tokens"))), 6)
          .as("quality"))
      .orderBy("doc_id")
  }

  val dQualitySql: String = {
    val enHits = stopwords("en").map(w =>
      s"CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' $w ', ''))) / ${w.length + 2} AS INTEGER)")
      .mkString(" + ")
    s"""WITH b AS (
       |  SELECT doc_id,
       |    CAST(length(text) AS BIGINT) AS n_chars_obs,
       |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
       |    CAST($enHits AS BIGINT) AS stop_hits
       |  FROM documents)
       |SELECT doc_id, n_chars_obs, n_tokens, stop_hits,
       |  round(least(1.0, n_tokens / 60.0) *
       |        (0.5 + least(0.5, stop_hits * 5.0 / n_tokens)), 6) AS quality
       |FROM b ORDER BY doc_id""".stripMargin
  }

  def dTokens(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(
        F.col("doc_id"),
        (F.length(F.col("text")) - F.length(F.regexp_replace(F.col("text"), " ", "")) + 1)
          .cast("long").as("n_ws_tokens"),
        F.expr("aggregate(transform(split(text, ' '), w -> cast(ceil(length(w) / 4.0) as bigint)), 0L, (acc, x) -> acc + x)")
          .as("n_bpe_tokens"))
      .orderBy("doc_id")

  val dTokensSql: String =
    """SELECT doc_id,
      |  CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_ws_tokens,
      |  CAST(list_sum(list_transform(string_split(text, ' '),
      |       w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS BIGINT) AS n_bpe_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  def dFingerprint(s: SparkSession, d: String): DataFrame = {
    val sh = shinglesOf(s, d)
    val minSh = sh.groupBy("doc_id").agg(F.min(F.md5(F.col("sh"))).as("fp_min_shingle"))
    docs(s, d)
      .select(F.col("doc_id"), F.md5(F.lower(F.col("text"))).as("fp_norm"))
      .join(minSh, Seq("doc_id"), "left")
      .orderBy("doc_id")
  }

  val dFingerprintSql: String =
    s"""WITH $shinglesSql,
       |m AS (SELECT doc_id, min(md5(sh)) AS fp_min_shingle FROM sh GROUP BY doc_id)
       |SELECT d.doc_id, md5(lower(d.text)) AS fp_norm, m.fp_min_shingle
       |FROM documents d LEFT JOIN m ON m.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ----------------------------------------------------------- decontamination

  val DecontamNgram = 8 // word n-gram width for benchmark overlap
  val BenchmarkMod = 25 // doc_id % BenchmarkMod == 0 ⇒ benchmark member

  /** Benchmark decontamination — the training-pipeline operator that keeps
    * eval sets out of the training corpus: flag every training document
    * sharing at least one word-`DecontamNgram`-gram with the benchmark set.
    *
    * The benchmark here is a deterministic corpus slice (doc_id divisible
    * by BenchmarkMod — a stand-in for MMLU/GSM8K/etc; no external data in
    * this sandbox). Scale shape: a real benchmark set is FIXED-size (a few
    * MB of n-grams) while the corpus is 100 TB, so the benchmark n-gram set
    * is BROADCAST (plan-asserted) and the probe is a map-side hash join
    * over the exploded training n-grams — no shuffle of the corpus side at
    * all; the only aggregation is the per-doc hit count, keyed by doc_id.
    */
  def dDecontam(s: SparkSession, d: String): DataFrame = {
    val t = docs(s, d).select(F.col("doc_id"), F.split(F.col("text"), " ").as("words"))
    def grams(df: DataFrame): DataFrame =
      df.where(F.size(F.col("words")) >= DecontamNgram)
        .select(F.col("doc_id"), F.explode(F.expr(
          s"transform(sequence(0, size(words) - $DecontamNgram), " +
            s"i -> concat_ws(' ', slice(words, i + 1, $DecontamNgram)))")).as("g"))
        .distinct()
    val isBench = F.pmod(F.col("doc_id"), F.lit(BenchmarkMod)) === 0
    val bench = grams(t.where(isBench)).select("g").distinct()
    val train = t.where(!isBench)
    val hits = grams(train).join(F.broadcast(bench), "g")
      .groupBy("doc_id").agg(F.count(F.lit(1)).as("n_hits"))
    train.select("doc_id").join(hits, Seq("doc_id"), "left")
      .select(F.col("doc_id"),
        F.coalesce(F.col("n_hits"), F.lit(0L)).as("n_hits"),
        (F.coalesce(F.col("n_hits"), F.lit(0L)) > 0).as("contaminated"))
      .orderBy("doc_id")
  }

  val dDecontamSql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
       |g8 AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, array_to_string(words[i+1:i+$DecontamNgram], ' ') AS g
       |  FROM (SELECT doc_id, words, unnest(range(len(words) - ${DecontamNgram - 1})) AS i
       |        FROM w WHERE len(words) >= $DecontamNgram)),
       |bench AS (SELECT DISTINCT g FROM g8 WHERE doc_id % $BenchmarkMod = 0),
       |hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
       |         FROM g8 JOIN bench USING (g)
       |         WHERE doc_id % $BenchmarkMod <> 0 GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits,
       |       coalesce(h.n_hits, 0) > 0 AS contaminated
       |FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
       |WHERE d.doc_id % $BenchmarkMod <> 0
       |ORDER BY d.doc_id""".stripMargin

  // -------------------------------------------------------- repetition signals

  /** Gopher-style within-document repetition signals — the quality filter
    * that catches boilerplate/spam which per-row length heuristics miss:
    *
    *  - dup_word_frac:   1 − |distinct words| / |words|
    *  - top_word_frac:   occurrences of the most frequent word / |words|
    *  - top_bigram_frac: occurrences of the most frequent word bigram
    *                     / |bigrams|
    *
    * Tokens are the same empty-filtered whitespace split the simhash path
    * uses. Everything is keyed by doc_id — explode → two hash aggregations,
    * embarrassingly parallel at corpus scale (no cross-document state). The
    * max-count aggregation needs no tie-break: only the COUNT of the top
    * item enters the fractions, never its identity. */
  def dRepetition(s: SparkSession, d: String): DataFrame = {
    val toks = docs(s, d).select(F.col("doc_id"),
      F.expr("filter(split(text, ' '), w -> w <> '')").as("ws"))
    val words = toks.select(F.col("doc_id"), F.explode(F.col("ws")).as("w"))
      .groupBy("doc_id", "w").agg(F.count(F.lit(1)).as("c"))
      .groupBy("doc_id").agg(
        F.sum("c").as("n_words"),
        F.count(F.lit(1)).as("n_distinct"),
        F.max("c").as("top_c"))
    val bigrams = toks.where(F.size(F.col("ws")) >= 2)
      .select(F.col("doc_id"), F.explode(F.expr(
        "transform(sequence(0, size(ws) - 2), i -> concat_ws(' ', slice(ws, i + 1, 2)))")).as("b"))
      .groupBy("doc_id", "b").agg(F.count(F.lit(1)).as("c"))
      .groupBy("doc_id").agg(F.sum("c").as("n_bigrams"), F.max("c").as("top_bc"))
    docs(s, d).select("doc_id")
      .join(words, Seq("doc_id"), "left")
      .join(bigrams, Seq("doc_id"), "left")
      .select(F.col("doc_id"),
        F.coalesce(F.col("n_words"), F.lit(0L)).as("n_words"),
        F.round(F.lit(1.0) - F.col("n_distinct") / F.col("n_words"), 6).as("dup_word_frac"),
        F.round(F.col("top_c") / F.col("n_words"), 6).as("top_word_frac"),
        F.round(F.col("top_bc") / F.col("n_bigrams"), 6).as("top_bigram_frac"))
      .orderBy("doc_id")
  }

  val dRepetitionSql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
      |  FROM documents),
      |wc AS (SELECT doc_id, w, count(*) AS c
      |       FROM (SELECT doc_id, unnest(ws) AS w FROM toks) GROUP BY doc_id, w),
      |words AS (SELECT doc_id, sum(c) AS n_words, count(*) AS n_distinct, max(c) AS top_c
      |          FROM wc GROUP BY doc_id),
      |bg AS (SELECT doc_id, b, count(*) AS c
      |       FROM (SELECT doc_id, ws[i+1] || ' ' || ws[i+2] AS b
      |             FROM (SELECT doc_id, ws, unnest(range(len(ws) - 1)) AS i
      |                   FROM toks WHERE len(ws) >= 2))
      |       GROUP BY doc_id, b),
      |bigrams AS (SELECT doc_id, sum(c) AS n_bigrams, max(c) AS top_bc
      |            FROM bg GROUP BY doc_id)
      |SELECT d.doc_id,
      |       CAST(coalesce(w.n_words, 0) AS BIGINT) AS n_words,
      |       round(1.0 - CAST(w.n_distinct AS DOUBLE) / w.n_words, 6) AS dup_word_frac,
      |       round(CAST(w.top_c AS DOUBLE) / w.n_words, 6) AS top_word_frac,
      |       round(CAST(b.top_bc AS DOUBLE) / b.n_bigrams, 6) AS top_bigram_frac
      |FROM documents d
      |LEFT JOIN words w ON w.doc_id = d.doc_id
      |LEFT JOIN bigrams b ON b.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // ------------------------------------------------- unigram LM quality score

  val VocabCap = 65536 // top-V corpus words kept in the broadcast vocab

  /** Corpus-unigram log-probability score — the cheap stand-in for the
    * KenLM-perplexity quality filter every training pipeline runs: score =
    * mean over the document's tokens of −ln p(w), p(w) = corpus count /
    * corpus total. Low score ⇒ stereotyped high-frequency text; high ⇒
    * rare-token soup. Out-of-vocabulary tokens (beyond the top-`VocabCap`
    * words, deterministic count-desc/word-asc order) take the floor
    * p = 1/total.
    *
    * Scale shape: the corpus-wide word count is MATERIALIZED once (the
    * classic map-side-combining word-count agg) and both the total and the
    * Zipf-truncated top-V vocab read that memo, so exactly ONE corpus
    * aggregation runs per pass; the vocab (a few MB) is BROADCAST and the
    * exploded corpus tokens probe it map-side, then one doc_id-keyed
    * aggregation — the probe plan scans the corpus exactly once
    * (plan-asserted, RoundFourOpsSpec). */
  def dUnigramLp(s: SparkSession, d: String): DataFrame = {
    val counts = wordCountsOf(s, d) // ONE corpus agg, shared + materialized
    val total = counts.agg(F.sum("c")).first().getLong(0).toDouble // memo scan
    val vocab = counts.orderBy(F.col("c").desc, F.col("w")).limit(VocabCap)
    docs(s, d).select(F.col("doc_id"),
        F.explode(F.expr("filter(split(text, ' '), w -> w <> '')")).as("w"))
      .join(F.broadcast(vocab), Seq("w"), "left")
      .select(F.col("doc_id"),
        (-F.log(F.coalesce(F.col("c"), F.lit(1L)) / F.lit(total))).as("nll"))
      .groupBy("doc_id")
      .agg(F.round(F.avg("nll"), 6).as("unigram_nll"),
        F.count(F.lit(1)).as("n_tokens"))
      .orderBy("doc_id")
  }

  val dUnigramLpSql: String =
    s"""WITH toks AS MATERIALIZED (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS w
       |  FROM documents),
       |counts AS MATERIALIZED (SELECT w, count(*) AS c FROM toks GROUP BY w),
       |total AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM counts),
       |vocab AS (SELECT w, c FROM counts ORDER BY c DESC, w LIMIT $VocabCap)
       |SELECT t.doc_id,
       |       round(avg(-ln(coalesce(v.c, 1) / tt.t)), 6) AS unigram_nll,
       |       CAST(count(*) AS BIGINT) AS n_tokens
       |FROM toks t LEFT JOIN vocab v ON v.w = t.w CROSS JOIN total tt
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  // --------------------------------------------------- deterministic sampling

  /** Keep ≈ bound/0x10000 of DISTINCT CONTENTS: hex-prefix threshold on
    * md5(text). Content-keyed (not doc_id-keyed) on purpose — identical
    * texts always land on the same side of the cut, so the sample is
    * stable across corpus snapshots and dedup runs (the training-pipeline
    * "hash sampling" discipline). Pure map-side: a projection + filter,
    * no shuffle, scales embarrassingly. */
  val SampleHexBound = "2000" // 0x2000/0x10000 = 1/8 of distinct contents

  def dSampleHash(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(F.col("doc_id"), F.col("lang"),
        F.substring(F.md5(F.col("text")), 1, 4).as("sample_key"))
      .where(F.col("sample_key") < SampleHexBound)
      .orderBy("doc_id")

  val dSampleHashSql: String =
    s"""SELECT doc_id, lang, substr(md5(text), 1, 4) AS sample_key
       |FROM documents
       |WHERE substr(md5(text), 1, 4) < '$SampleHexBound'
       |ORDER BY doc_id""".stripMargin

  /** Per-language balanced sample: the K docs with the smallest
    * (md5(text), doc_id) per lang — a deterministic stratified
    * downsampler. Implemented with the bounded BottomKByKey Aggregator,
    * NOT a window: row_number-over-stratum would shuffle + sort the WHOLE
    * corpus into a handful of lang reducers (terabytes each at 100 TB);
    * the Aggregator partial-combines map-side, so each partition sends ≤ K
    * rows per lang to the exchange and nothing is globally sorted.
    * Ordering contract identical to the window (parity in SampleSpec). */
  val StratK = 20

  def dSampleStratified(s: SparkSession, d: String): DataFrame = {
    val bk = F.udaf(new graft.functions.BottomKByKey(StratK),
      org.apache.spark.sql.Encoders.product[(String, Long)])
    docs(s, d)
      .select(F.col("lang"), F.col("doc_id"), F.md5(F.col("text")).as("sample_key"))
      .groupBy("lang").agg(bk(F.col("sample_key"), F.col("doc_id")).as("picked"))
      .select(F.col("lang"), F.posexplode(F.col("picked")).as(Seq("pos", "m")))
      .select(F.col("lang"), (F.col("pos") + 1).cast("int").as("rk"),
        F.col("m._1").as("sample_key"), F.col("m._2").as("doc_id"))
      .orderBy("lang", "rk")
  }

  val dSampleStratifiedSql: String =
    s"""WITH r AS (
       |  SELECT lang, doc_id, md5(text) AS sample_key,
       |         row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rk
       |  FROM documents)
       |SELECT lang, CAST(rk AS INT) AS rk, sample_key, doc_id
       |FROM r WHERE rk <= $StratK ORDER BY lang, rk""".stripMargin

  // -------------------------------------------------------- corpus statistics

  /** Top-[[TfidfK]] terms per doc by tf·idf, idf = ln(N/df) (no smoothing:
    * df ≥ 1 for every term that appears). The per-doc ranking is a window
    * PARTITIONED BY doc_id — scale-correct, unlike the per-stratum window
    * d_sample_stratified avoids: doc_id cardinality ≈ corpus size, so the
    * exchange is a uniform hash repartition and each partition sorts only
    * single-document term lists (bounded by doc length). Ties broken by
    * term text; scores rounded to 6dp AND ranked on the rounded value so
    * the Spark and DuckDB float paths cannot disagree about the cut. */
  val TfidfK = 3

  def dTfidf(s: SparkSession, d: String): DataFrame = {
    val toks = docs(s, d).select(F.col("doc_id"),
      F.explode(F.expr("filter(split(text, ' '), w -> w <> '')")).as("w"))
    val tf = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).as("tf"))
    // df derives from tf: tf has exactly one row per distinct (doc_id, w),
    // so counting tf rows per w IS the document frequency — this replaces
    // a second corpus-wide explode + (doc_id, w) distinct shuffle with one
    // agg over the already-aggregated tf frame (guide §2.3/§2.4: one
    // corpus token pass instead of two; identical integer counts). The
    // always-true `tf >= 1` (count(1) ≥ 1 by construction) blocks column
    // pruning from rewriting this branch's inner aggregate into a DISTINCT
    // — with the filter, both branches' shuffle subtrees are canonically
    // identical and AQE reuses ONE exchange for the whole token pass
    // (verified in the final adaptive plan: ReusedExchange/stage reuse).
    val df = tf.where(F.col("tf") >= 1).groupBy("w").agg(F.count(F.lit(1)).as("df"))
    val n = docs(s, d).count().toDouble
    val scored = tf.join(df, "w")
      .select(F.col("doc_id"), F.col("w"), F.col("tf"),
        F.round(F.col("tf") * F.log(F.lit(n) / F.col("df")), 6).as("tfidf"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(F.col("tfidf").desc, F.col("w"))
    scored.withColumn("rk", F.row_number().over(win).cast("int"))
      .where(F.col("rk") <= TfidfK)
      .select("doc_id", "rk", "w", "tf", "tfidf")
      .orderBy("doc_id", "rk")
  }

  val dTfidfSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, w FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w <> ''),
       |tf AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY doc_id, w),
       |df AS (SELECT w, count(*) AS df FROM (SELECT DISTINCT doc_id, w FROM toks) GROUP BY w),
       |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
       |scored AS (
       |  SELECT tf.doc_id, tf.w, tf.tf, round(tf.tf * ln(n.n / df.df), 6) AS tfidf
       |  FROM tf JOIN df ON df.w = tf.w CROSS JOIN n),
       |ranked AS (
       |  SELECT doc_id, w, tf, tfidf,
       |         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, w) AS INT) AS rk
       |  FROM scored)
       |SELECT doc_id, rk, w, tf, tfidf FROM ranked
       |WHERE rk <= $TfidfK ORDER BY doc_id, rk""".stripMargin

  /** Per-language sampling weights with temperature α = [[MixAlpha]] —
    * the multilingual mixing discipline (upsample the tail so low-resource
    * strata are not drowned by the head): weight_l ∝ share_l^α,
    * normalized to sum 1. One token-count agg over the corpus (map-side
    * combinable) + a broadcast-sized per-lang table; the fixture has a
    * handful of langs but the agg shape is correct at any stratum count. */
  val MixAlpha = 0.3

  def dMixWeights(s: SparkSession, d: String): DataFrame = {
    val perLang = docs(s, d)
      .select(F.col("lang"),
        F.size(F.expr("filter(split(text, ' '), w -> w <> '')")).cast("long").as("toks"))
      .groupBy("lang").agg(F.sum("toks").as("n_tokens"), F.count(F.lit(1)).as("n_docs"))
    // the lang table is broadcast-sized by definition; window-over-all here
    // is a single-partition agg over |langs| rows, not over the corpus
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(F.lit(1)).rowsBetween(Long.MinValue, Long.MaxValue)
    perLang
      .withColumn("share", F.col("n_tokens") / F.sum("n_tokens").over(win))
      .withColumn("w_raw", F.pow(F.col("share"), F.lit(MixAlpha)))
      .withColumn("weight", F.round(F.col("w_raw") / F.sum("w_raw").over(win), 6))
      .select(F.col("lang"), F.col("n_docs"), F.col("n_tokens"),
        F.round(F.col("share"), 6).as("share"), F.col("weight"))
      .orderBy("lang")
  }

  val dMixWeightsSql: String =
    s"""WITH perlang AS (
       |  SELECT lang,
       |         CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(len(list_filter(string_split(text, ' '), w -> w <> ''))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY lang),
       |shared AS (
       |  SELECT lang, n_docs, n_tokens,
       |         n_tokens / CAST(sum(n_tokens) OVER () AS DOUBLE) AS share
       |  FROM perlang),
       |weighted AS (
       |  SELECT lang, n_docs, n_tokens, share,
       |         pow(share, $MixAlpha) / sum(pow(share, $MixAlpha)) OVER () AS weight
       |  FROM shared)
       |SELECT lang, n_docs, n_tokens, round(share, 6) AS share,
       |       round(weight, 6) AS weight
       |FROM weighted ORDER BY lang""".stripMargin

  /** Per-doc PII-shaped pattern counts — the redaction-signal pass every
    * training pipeline runs before release: email-like tokens, URL-like
    * tokens, long digit runs. Pure per-row regexp counting, zero shuffle.
    * Patterns deliberately avoid backslash escapes (character classes
    * only) so the Java-regex (Spark) and RE2 (DuckDB) dialects are
    * literally the same string with the same semantics. */
  val PiiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
  val PiiUrlRe = "https?://[A-Za-z0-9./_-]+"
  val PiiDigitsRe = "[0-9]{7,}"

  def dPiiCounts(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(
      F.col("doc_id"),
      F.size(F.expr(s"regexp_extract_all(text, '$PiiEmailRe', 0)")).cast("long").as("n_emails"),
      F.size(F.expr(s"regexp_extract_all(text, '$PiiUrlRe', 0)")).cast("long").as("n_urls"),
      F.size(F.expr(s"regexp_extract_all(text, '$PiiDigitsRe', 0)")).cast("long").as("n_digit_runs"))
      .withColumn("has_pii",
        F.col("n_emails") + F.col("n_urls") + F.col("n_digit_runs") > 0)
      .orderBy("doc_id")

  val dPiiCountsSql: String =
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$PiiEmailRe')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(text, '$PiiUrlRe')) AS BIGINT) AS n_urls,
       |  CAST(len(regexp_extract_all(text, '$PiiDigitsRe')) AS BIGINT) AS n_digit_runs,
       |  (len(regexp_extract_all(text, '$PiiEmailRe'))
       |   + len(regexp_extract_all(text, '$PiiUrlRe'))
       |   + len(regexp_extract_all(text, '$PiiDigitsRe'))) > 0 AS has_pii
       |FROM documents ORDER BY doc_id""".stripMargin

  /** PII redaction transform — the output side of [[dPiiCounts]]: URLs,
    * then emails, then long digit runs replaced by typed tokens, applied
    * in that fixed order (replacement tokens contain no pattern
    * characters, so later passes cannot re-match earlier output; URLs go
    * FIRST — an email-shaped substring inside a URL like
    * 'https://user@host.com/x' would otherwise break the URL match —
    * and digit runs inside URLs are protected by the preceding URL
    * pass). `n_redactions` counts matches of each pattern on the
    * PRE-redaction text (the documented convention; matches dPiiCounts).
    * Pure per-row, zero shuffle. */
  def dRedact(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(
      F.col("doc_id"),
      F.regexp_replace(
        F.regexp_replace(
          F.regexp_replace(F.col("text"), F.lit(PiiUrlRe), F.lit("<URL>")),
          F.lit(PiiEmailRe), F.lit("<EMAIL>")),
        F.lit(PiiDigitsRe), F.lit("<NUM>")).as("text_redacted"),
      (F.size(F.expr(s"regexp_extract_all(text, '$PiiEmailRe', 0)"))
        + F.size(F.expr(s"regexp_extract_all(text, '$PiiUrlRe', 0)"))
        + F.size(F.expr(s"regexp_extract_all(text, '$PiiDigitsRe', 0)")))
        .cast("long").as("n_redactions"))
      .orderBy("doc_id")

  val dRedactSql: String =
    s"""SELECT doc_id,
       |  regexp_replace(regexp_replace(regexp_replace(text,
       |    '$PiiUrlRe', '<URL>', 'g'),
       |    '$PiiEmailRe', '<EMAIL>', 'g'),
       |    '$PiiDigitsRe', '<NUM>', 'g') AS text_redacted,
       |  CAST(len(regexp_extract_all(text, '$PiiEmailRe'))
       |   + len(regexp_extract_all(text, '$PiiUrlRe'))
       |   + len(regexp_extract_all(text, '$PiiDigitsRe')) AS BIGINT) AS n_redactions
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Per-source corpus accounting (the common-crawl "domain table"):
    * doc/char/token totals and means per source. One map-side-combinable
    * agg keyed by source; means derive from EXACT integer sums, so the
    * float paths cannot disagree. */
  def dSourceStats(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(F.col("source"), F.col("lang"), F.col("n_chars"),
        F.size(F.expr("filter(split(text, ' '), w -> w <> '')")).cast("long").as("toks"))
      .groupBy("source")
      .agg(
        F.count(F.lit(1)).as("n_docs"),
        F.sum("n_chars").as("total_chars"),
        F.sum("toks").as("total_tokens"),
        F.countDistinct("lang").as("n_langs"))
      .select(F.col("source"), F.col("n_docs"), F.col("total_chars"),
        F.col("total_tokens"), F.col("n_langs"),
        F.round(F.col("total_chars") / F.col("n_docs"), 6).as("mean_chars"),
        F.round(F.col("total_tokens") / F.col("n_docs"), 6).as("mean_tokens"))
      .orderBy("source")

  val dSourceStatsSql: String =
    """SELECT source,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  CAST(sum(len(list_filter(string_split(text, ' '), w -> w <> ''))) AS BIGINT) AS total_tokens,
      |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      |  round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS mean_chars,
      |  round(CAST(sum(len(list_filter(string_split(text, ' '), w -> w <> ''))) AS DOUBLE) / count(*), 6) AS mean_tokens
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** Words per dedup block for [[dBlockDedup]]: 3 keeps real duplicate
    * signal on the fixture vocabulary while staying a faithful stand-in
    * for the production 50–100-token window. */
  val DedupBlockW = 3

  /** Block-level exact dedup — the chunked approximation of
    * suffix-array substring dedup (Lee et al. "Deduplicating Training
    * Data Makes Language Models Better", which dedups exact 50-token
    * spans): split each doc into consecutive NON-overlapping
    * [[DedupBlockW]]-word blocks and report, per doc, how many of its
    * blocks also appear in ≥ 2 distinct docs. Complements d_dedup_exact
    * (whole-doc) and d_minhash_lsh (near-dup): this one finds copied
    * PASSAGES inside otherwise-distinct docs.
    *
    * Scale shape: the corpus-wide agg groups on md5(block) — 32 bytes
    * per block through the exchange regardless of block text, the
    * embedding-digest discipline; per-doc work is one split + explode.
    * Counts are integers, ONE division at the end (6dp).
    *
    * Blocks are whole chunks only (a trailing partial block is not a
    * unit); docs under [[DedupBlockW]] words have n_blocks = 0 and
    * dup_frac = 0 by convention. */
  def dBlockDedup(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d)
    val blocks = base
      .select(F.col("doc_id"), F.split(F.col("text"), " ").as("words"))
      .where(F.size(F.col("words")) >= DedupBlockW)
      .select(F.col("doc_id"), F.explode(F.expr(
        s"transform(sequence(1, size(words) div $DedupBlockW), " +
          s"i -> concat_ws(' ', slice(words, (i - 1) * $DedupBlockW + 1, $DedupBlockW)))"))
        .as("blk"))
      .select(F.col("doc_id"), F.md5(F.col("blk")).as("bk"))
    val dup = blocks.groupBy("bk")
      .agg(F.countDistinct("doc_id").as("nd"))
      .where(F.col("nd") >= 2).select("bk")
    val per = blocks.join(dup.withColumn("isdup", F.lit(1L)), Seq("bk"), "left")
      .groupBy("doc_id")
      .agg(F.count(F.lit(1)).as("nb"),
        F.sum(F.coalesce(F.col("isdup"), F.lit(0L))).as("ndup"))
    base.select("doc_id").join(per, Seq("doc_id"), "left")
      .select(F.col("doc_id"),
        F.coalesce(F.col("nb"), F.lit(0L)).as("n_blocks"),
        F.coalesce(F.col("ndup"), F.lit(0L)).as("n_dup_blocks"),
        F.round(F.when(F.col("nb") > 0,
          F.col("ndup").cast("double") / F.col("nb"))
          .otherwise(F.lit(0.0)), 6).as("dup_frac"))
      .orderBy("doc_id")
  }

  val dBlockDedupSql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
       |b AS (
       |  SELECT doc_id, md5(array_to_string(
       |    words[(i - 1) * $DedupBlockW + 1 : i * $DedupBlockW], ' ')) AS bk
       |  FROM w, unnest(range(1, len(words) // $DedupBlockW + 1)) AS t(i)
       |  WHERE len(words) >= $DedupBlockW),
       |dup AS (SELECT bk FROM b GROUP BY bk HAVING count(DISTINCT doc_id) >= 2),
       |per AS (
       |  SELECT b.doc_id, CAST(count(*) AS BIGINT) AS nb,
       |         CAST(sum(CASE WHEN d.bk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS ndup
       |  FROM b LEFT JOIN dup d ON d.bk = b.bk GROUP BY b.doc_id)
       |SELECT doc.doc_id,
       |  coalesce(p.nb, 0) AS n_blocks,
       |  coalesce(p.ndup, 0) AS n_dup_blocks,
       |  round(CASE WHEN coalesce(p.nb, 0) > 0
       |    THEN CAST(p.ndup AS DOUBLE) / p.nb ELSE CAST(0 AS DOUBLE) END, 6) AS dup_frac
       |FROM documents doc LEFT JOIN per p ON p.doc_id = doc.doc_id
       |ORDER BY doc.doc_id""".stripMargin

  // ------------------------------------------------------------ similarity

  def eCosineTopk(s: SparkSession, d: String): DataFrame = {
    // vector_dot (native codegen'd Expression) over the raw float arrays:
    // bitwise-equal to the zip_with/aggregate double fold (VectorDotSpec),
    // but stays inside whole-stage codegen — the HOF fold is CodegenFallback
    // and evicts the entire projection from WSCG.
    graft.functions.GraftFunctions.register(s)
    val n = normsOf(s, d)
    val q = n.where(F.col("vec_id") < AnnQueries)
      .select(F.col("vec_id").as("qid"), F.col("v").as("qv"), F.col("nrm").as("qn"))
    val pairs = n.crossJoin(F.broadcast(q)).where(F.col("vec_id") =!= F.col("qid"))
      .select(F.col("qid"), F.col("vec_id"),
        F.round(
          F.expr("vector_dot(qv, v)") /
            (F.col("qn") * F.col("nrm")), 6).as("cosine"))
    // bounded partial top-k tail: the n×q scored rows never shuffle —
    // each partition ships ≤ k rows per query (Similarity.topKPerQuery)
    graft.pipeline.Similarity.topKPerQuery(pairs, AnnK)
      .orderBy("qid", "rk")
  }

  val eCosineTopkSql: String =
    s"""WITH v AS MATERIALIZED (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |n AS MATERIALIZED (
       |  SELECT * FROM (
       |    SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM v)
       |  WHERE nrm > 0),
       |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n WHERE vec_id < $AnnQueries),
       |pairs AS (
       |  SELECT q.qid, n.vec_id,
       |         round(list_sum(list_transform(range(len(q.qv)),
       |               i -> q.qv[i+1] * n.v[i+1])) / (q.qn * n.nrm), 6) AS cosine
       |  FROM n CROSS JOIN q WHERE n.vec_id <> q.qid),
       |ranked AS (
       |  SELECT qid, vec_id, cosine,
       |         CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS INTEGER) AS rk
       |  FROM pairs)
       |SELECT qid, vec_id, cosine, rk FROM ranked WHERE rk <= $AnnK
       |ORDER BY qid, rk""".stripMargin

  // ------------------------------------------------------------ multimodal

  /** Binary-column plumbing: utf8 bytes as the opaque payload, md5 content
    * id, deterministic fake decode metadata (real decode is stubbed —
    * image/audio libs absent in this environment; see graft.pipeline.Multimodal). */
  def mBinaryMeta(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(
        F.col("doc_id"),
        F.length(F.encode(F.col("text"), "UTF-8")).cast("long").as("n_bytes"),
        F.md5(F.encode(F.col("text"), "UTF-8")).as("content_md5"),
        F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
          (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int")).as("modality"),
        (F.pmod(F.col("n_chars"), F.lit(64)) + 1).cast("int").as("fake_width"),
        (F.pmod(F.col("n_chars"), F.lit(48)) + 1).cast("int").as("fake_height"))
      .orderBy("doc_id")

  /** Batched typed feature extraction over a real binary column (payload =
    * utf8 bytes of text — the only honest payload in a container without
    * media libs). The mapPartitions batch plumbing is graft.pipeline
    * .Multimodal; the stub decoder's outputs are SHA-256-derived and thus
    * DuckDB-replayable, so the whole path gets a driver CORRECTNESS row.
    * (embedding column dropped here: float-array parity is asserted in
    * PipelineSpec instead of the hash gate.) */
  def mFeatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = docs(s, d).select(F.col("doc_id"),
        F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
          (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int")).as("modality"),
        F.encode(F.col("text"), "UTF-8").as("payload"))
      .as[graft.pipeline.Multimodal.MediaRow]
    graft.pipeline.Multimodal.extractFeatures(media)
      .toDF()
      .select(F.col("doc_id"), F.col("modality"), F.col("n_bytes"),
        F.col("sha256"), F.col("width"), F.col("height"), F.col("frames"))
      .orderBy("doc_id")
  }

  val mFeaturesSql: String = {
    // byte k of the digest from hex chars 2k+1, 2k+2
    def byteAt(k: Int): String =
      s"((strpos('0123456789abcdef', substr(sha256, ${2 * k + 1}, 1)) - 1) * 16 + " +
        s"(strpos('0123456789abcdef', substr(sha256, ${2 * k + 2}, 1)) - 1))"
    s"""WITH h AS (
       |  SELECT doc_id,
       |    ['image', 'audio', 'video'][CAST(doc_id % 3 AS INTEGER) + 1] AS modality,
       |    CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
       |    sha256(text) AS sha256
       |  FROM documents),
       |b AS (
       |  SELECT *, ${byteAt(0)} AS d0, ${byteAt(1)} AS d1, ${byteAt(2)} AS d2 FROM h)
       |SELECT doc_id, modality, n_bytes, sha256,
       |  CAST((d0 & 63) + 1 AS INTEGER) AS width,
       |  CAST((d1 & 47) + 1 AS INTEGER) AS height,
       |  CAST(CASE WHEN modality = 'video' THEN (d2 & 23) + 1
       |            WHEN modality = 'audio' THEN (d2 & 7) + 1
       |            ELSE 1 END AS INTEGER) AS frames
       |FROM b ORDER BY doc_id""".stripMargin
  }

  val mBinaryMetaSql: String =
    """SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  md5(text) AS content_md5,
      |  ['image', 'audio', 'video'][CAST(doc_id % 3 AS INTEGER) + 1] AS modality,
      |  CAST(n_chars % 64 + 1 AS INTEGER) AS fake_width,
      |  CAST(n_chars % 48 + 1 AS INTEGER) AS fake_height
      |FROM documents ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------- registry

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d_dedup_exact" -> (dExactDedup _),
    "d_ngram_jaccard" -> (dNgramJaccard _),
    "d_minhash_lsh" -> (dMinhashLsh _),
    "d_dedup_clusters" -> (dDedupClusters _),
    "d_simhash" -> (dSimhash _),
    "d_simhash_pairs" -> (dSimhashPairs _),
    "d_simhash64" -> (dSimhash64 _),
    "d_simhash64_pairs" -> (dSimhash64Pairs _),
    "d_langid" -> (dLangid _),
    "d_quality" -> (dQuality _),
    "d_tokens" -> (dTokens _),
    "d_fingerprint" -> (dFingerprint _),
    "d_decontam" -> (dDecontam _),
    "d_repetition" -> (dRepetition _),
    "d_unigram_lp" -> (dUnigramLp _),
    "d_sample_hash" -> (dSampleHash _),
    "d_sample_stratified" -> (dSampleStratified _),
    "d_tfidf" -> (dTfidf _),
    "d_mix_weights" -> (dMixWeights _),
    "d_pii_counts" -> (dPiiCounts _),
    "d_redact" -> (dRedact _),
    "d_source_stats" -> (dSourceStats _),
    "d_block_dedup" -> (dBlockDedup _),
    "e_cosine_topk" -> (eCosineTopk _),
    // LSH-bucketed ANN, the scale path of e_cosine_topk; hyperplanes are
    // deterministic, so the bucket assignment + top-k has a full DuckDB
    // oracle; recall vs brute force is additionally asserted in PipelineSpec.
    "e_ann_lsh" -> ((s: SparkSession, d: String) =>
      graft.pipeline.Similarity.annLshFrom(annIndex(s, d), AnnQueries, AnnK)),
    // embedding-cosine near-dup: LSH-bucketed candidates over the WHOLE
    // corpus, exact cosine verify at the threshold — the dedup-family
    // operator for embedding columns.
    "e_embed_neardup" -> ((s: SparkSession, d: String) =>
      graft.pipeline.Similarity.embedNearDupFrom(annIndex(s, d), EmbedDupThreshold)),
    // IVF cell-probing ANN: seeded centroid sample (√n cells), broadcast +
    // max_by nearest-centroid assignment, nprobe-cell search — the
    // data-adaptive counterpart to e_ann_lsh's fixed hyperplanes.
    "e_ann_ivf" -> ((s: SparkSession, d: String) =>
      graft.pipeline.IvfAnn.annIvfFrom(ivfIndex(s, d), AnnQueries, AnnK)),
    "m_binary_meta" -> (mBinaryMeta _),
    "m_features" -> (mFeatures _)
  )

  /** Planes value the ANN oracle SQL is generated with. Verify pins the
    * (session, dir) it is about to dump oracles for via [[OracleContext]],
    * so the VALUES literal carries exactly the planes the Spark plan
    * derived for that corpus. An UNSET context FAILS LOUDLY: a silent
    * corpus-independent default here would bake planes that diverge from
    * the Spark plan at non-fixture sizes and fail the oracle hash
    * compare far from the cause. */
  private def oracleContextFor(what: String): (SparkSession, String) =
    OracleContext.get.getOrElse(throw new IllegalStateException(
      s"OracleContext is unset: the $what oracle SQL derives corpus-size " +
        "parameters (LSH planes / IVF cells) and must be generated for a " +
        "pinned (session, dir) — call OracleContext.set(spark, sfDir) " +
        "before reading oracles (Verify does this)"))

  private def oraclePlanes: Int = {
    val (s, d) = oracleContextFor("ANN-LSH"); annPlanes(s, d)
  }

  private def oracleIvfCells: Int = {
    val (s, d) = oracleContextFor("ANN-IVF"); ivfCells(s, d)
  }

  def oracles: Map[String, String] = Map(
    "d_dedup_exact" -> dExactDedupSql,
    "d_ngram_jaccard" -> dNgramJaccardSql,
    "d_minhash_lsh" -> dMinhashLshSql,
    "d_dedup_clusters" -> dDedupClustersSql,
    "d_simhash" -> dSimhashSql,
    "d_simhash_pairs" -> dSimhashPairsSql,
    "d_simhash64" -> dSimhash64Sql,
    "d_simhash64_pairs" -> dSimhash64PairsSql,
    "d_langid" -> dLangidSql,
    "d_quality" -> dQualitySql,
    "d_tokens" -> dTokensSql,
    "d_fingerprint" -> dFingerprintSql,
    "d_decontam" -> dDecontamSql,
    "d_repetition" -> dRepetitionSql,
    "d_unigram_lp" -> dUnigramLpSql,
    "d_sample_hash" -> dSampleHashSql,
    "d_sample_stratified" -> dSampleStratifiedSql,
    "d_tfidf" -> dTfidfSql,
    "d_mix_weights" -> dMixWeightsSql,
    "d_pii_counts" -> dPiiCountsSql,
    "d_redact" -> dRedactSql,
    "d_source_stats" -> dSourceStatsSql,
    "d_block_dedup" -> dBlockDedupSql,
    "e_cosine_topk" -> eCosineTopkSql,
    "e_ann_lsh" -> graft.pipeline.Similarity.annLshSql(AnnQueries, AnnK, AnnDim,
      planes = oraclePlanes),
    "e_embed_neardup" -> graft.pipeline.Similarity.embedNearDupSql(EmbedDupThreshold, AnnDim,
      planes = oraclePlanes),
    "e_ann_ivf" -> graft.pipeline.IvfAnn.annIvfSql(AnnQueries, AnnK, cells = oracleIvfCells),
    "m_binary_meta" -> mBinaryMetaSql,
    "m_features" -> mFeaturesSql
  )
}
