package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.expressions.Window

/** Approximate nearest neighbors over an embedding column.
  *
  * Baseline: brute-force cosine top-k (PipelineQueries.eCosineTopk, oracle
  * checked). Scale path here: random-hyperplane LSH — L independent tables
  * of P sign bits each; vectors sharing a bucket in ANY table are
  * candidates, so cost is Σ per-bucket |bucket|² instead of n². Defaults
  * give 2^8 = 256 buckets per table × 4 tables; 1-bit MULTIPROBE (query
  * probes every bucket at Hamming distance ≤ 1 of its own) recovers the
  * recall lost to finer buckets without coarsening them — candidate volume
  * per query is (planes+1)·tables·(n/2^planes), sub-linear in n for
  * planes ≳ log2(n / bucket_target).
  *
  * Hyperplanes are derived deterministically from a seed (no RNG at plan
  * time), so results are reproducible run-to-run, across parallelism
  * levels, AND expressible as a DuckDB VALUES literal — [[annLshSql]] emits
  * the exact oracle SQL for the driver's correctness gate.
  */
object Similarity {

  val DefaultSeed = 42
  val DefaultTables = 4
  val DefaultPlanes = 8
  val MultiProbeBits = 1 // probe all buckets within Hamming 1 of the query's
  val BucketTarget = 32 // target expected bucket occupancy for derived planes

  /** Planes as a function of corpus size: expected bucket occupancy
    * n/2^planes stays ≤ bucketTarget, i.e.
    * planes = max(DefaultPlanes, ⌈log2(n / bucketTarget)⌉). At the driver
    * fixtures (n ≤ 2000) this is the constant 8 — derived, not
    * assumed — and at 10⁹ vectors it is 25, keeping Σ|bucket|² candidate
    * volume sub-quadratic without any retuning. The oracle generator takes
    * the same derived value (PipelineQueries.annPlanes), so the VALUES
    * literal stays in lock-step with the Spark plan at every corpus size. */
  def derivePlanes(n: Long, bucketTarget: Int = BucketTarget): Int =
    math.max(DefaultPlanes, math.ceil(
      math.log(math.max(1L, n).toDouble / bucketTarget) / math.log(2.0)).toInt)

  /** Deterministic pseudo-random hyperplane weights in [-1, 1). */
  def hyperplanes(seed: Int, tables: Int, planes: Int, dim: Int): Seq[(Int, Int, Seq[Double])] =
    for (t <- 0 until tables; p <- 0 until planes) yield {
      val w = Seq.tabulate(dim) { i =>
        val h = scala.util.hashing.MurmurHash3.productHash((seed, t, p, i))
        ((((h % 2001) + 2001) % 2001) - 1000) / 1000.0
      }
      (t, p, w)
    }

  /** Embedding width, from the data (never hard-code it — a wider
    * embedding would silently bucket on a prefix under vector_dot's
    * min-length semantics). One-row action; the generator emits a uniform
    * width so the first row is authoritative. */
  def dimOf(emb: DataFrame): Int =
    emb.select(F.size(F.col("embedding"))).limit(1).first().getInt(0)

  /** (vec_id, table_id, bucket) LSH bucket assignment — PURE MAP-SIDE
    * the hyperplane weights are plan-time constants, so each
    * table's bucket is one projection of tables×planes native vector_dot
    * calls per row followed by a 4-way explode. The previous shape
    * broadcast-cross-joined the hyperplane table (tables·planes rows per
    * vector) and re-assembled buckets with a groupBy — a corpus-wide
    * shuffle of tables·planes·n rows that computed the identical integers
    * (guide §2.4: remove shuffles outright). Dot products accumulate
    * index-ascending in both shapes (same native expression, literal
    * array vs broadcast array), so bucket bits are bit-identical and the
    * oracle VALUES literal is untouched. */
  def buckets(emb: DataFrame, seed: Int = DefaultSeed, tables: Int = DefaultTables,
              planes: Int = DefaultPlanes): DataFrame = {
    val spark = emb.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val hp = hyperplanes(seed, tables, planes, dimOf(emb))
      .map { case (t, p, w) => (t, p) -> w }.toMap
    val tableCols = (0 until tables).map { t =>
      val bucket = (0 until planes).map { p =>
        F.shiftleft(
          (F.call_function("vector_dot", F.col("v"), F.typedlit(hp((t, p)))) > 0)
            .cast("int"), p)
      }.reduce(_ + _)
      F.struct(F.lit(t).as("table_id"), bucket.cast("int").as("bucket"))
    }
    emb
      .select(F.col("vec_id"), F.col("embedding").as("v"))
      .select(F.col("vec_id"), F.explode(F.array(tableCols: _*)).as("e"))
      .select(F.col("vec_id"), F.col("e.table_id"), F.col("e.bucket"))
  }

  /** The reusable part of the LSH machinery: bucket assignment + norms,
    * both materialized once. ann top-k and embedding near-dup share it
    * (PipelineQueries caches one per (session, dir)). */
  final case class AnnIndex(buckets: DataFrame, norms: DataFrame, planes: Int)

  /** `persist` routes the index parts to storage: default eager
    * localCheckpoint (fast, executor-memory-resident); PipelineQueries
    * passes its TableIO-backed materializer so a durable run commits the
    * index as manifested parquet snapshots instead. `norms` injects an
    * ALREADY-materialized (vec_id, v, nrm) frame — PipelineQueries shares
    * one across the LSH index, the IVF index, and the brute-force baseline
    * instead of scanning the corpus three times. */
  def buildIndex(emb: DataFrame, seed: Int = DefaultSeed, tables: Int = DefaultTables,
                 planes: Int = DefaultPlanes,
                 persist: (String, DataFrame) => DataFrame =
                   (_, df) => df.localCheckpoint(true),
                 norms: Option[DataFrame] = None): AnnIndex = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val b = persist("buckets", buckets(emb, seed, tables, planes))
    // nrm > 0: zero vectors have no direction — cosine against them is NaN
    // and would disorder the top-k tail. The oracle SQL filters identically.
    val v = norms.getOrElse(persist("norms",
      emb.select(F.col("vec_id"), F.col("embedding").as("v"))
        .select(F.col("vec_id"), F.col("v"),
          F.sqrt(F.expr("vector_dot(v, v)")).as("nrm"))
        .where(F.col("nrm") > 0)))
    AnnIndex(b, v, planes)
  }

  /** LSH-bucketed ANN: top-k cosine among same-bucket candidates for the
    * query set (vec_id < nQueries), with 1-bit multiprobe on the query
    * side only (the corpus is indexed once; probing is per-query work). */
  def annLsh(emb: DataFrame, nQueries: Int, k: Int,
             seed: Int = DefaultSeed, tables: Int = DefaultTables,
             planes: Int = DefaultPlanes, multiprobe: Boolean = true): DataFrame =
    annLshFrom(buildIndex(emb, seed, tables, planes), nQueries, k, multiprobe)

  /** Shared top-k tail for the ANN paths: the k best (cosine, vec_id) per
    * qid via the bounded [[graft.functions.TopKCosine]] Aggregator — an
    * ObjectHashAggregate with map-side PARTIAL top-k, so each upstream
    * partition ships ≤ k rows per query into the exchange. The window
    * formulation this replaces (`row_number over (partition by qid order
    * by cosine desc, vec_id)`) shuffles AND sorts every scored candidate —
    * Σ|candidates| rows, the tail's scale bottleneck at 10⁹ vectors.
    * Output rows (and rk assignment) are identical; parity + plan shape
    * are pinned in TopKAggSpec. Non-NaN cosines are GUARANTEED upstream:
    * every norms frame feeding the scored joins filters `nrm > 0`
    * (zero-norm embeddings are excluded in both engines; PipelineSpec
    * pins the zero-vector case). */
  def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val topk = F.udaf(new graft.functions.TopKCosine(k),
      org.apache.spark.sql.Encoders.product[(Long, Double)])
    scored.groupBy("qid").agg(topk(F.col("vec_id"), F.col("cosine")).as("top"))
      .select(F.col("qid"), F.posexplode(F.col("top")).as(Seq("pos", "m")))
      .select(F.col("qid"), F.col("m._1").as("vec_id"), F.col("m._2").as("cosine"),
        (F.col("pos") + 1).cast("int").as("rk"))
      .orderBy("qid", "rk")
  }

  def annLshFrom(idx: AnnIndex, nQueries: Int, k: Int,
                 multiprobe: Boolean = true): DataFrame = {
    val planes = idx.planes
    val b = idx.buckets
    val v = idx.norms
    val probeCols: Seq[org.apache.spark.sql.Column] =
      F.col("bucket") +: (if (multiprobe)
        (0 until planes).map(p => F.expr(s"bucket ^ ${1 << p}").cast("int"))
      else Nil)
    val qb = b.where(F.col("vec_id") < nQueries)
      .select(F.col("vec_id").as("qid"), F.col("table_id"),
        F.explode(F.array(probeCols: _*)).as("bucket"))
    val cand = qb.join(b, Seq("table_id", "bucket"))
      .where(F.col("vec_id") =!= F.col("qid"))
      .select("qid", "vec_id").distinct()
    val qv = v.select(F.col("vec_id").as("qid"), F.col("v").as("qv"), F.col("nrm").as("qn"))
    val scored = cand.join(v, "vec_id").join(F.broadcast(qv), "qid")
      .select(F.col("qid"), F.col("vec_id"),
        F.round(F.expr("vector_dot(qv, v)") / (F.col("qn") * F.col("nrm")), 6).as("cosine"))
    topKPerQuery(scored, k)
  }

  /** Embedding-cosine near-dup pairs — the dedup-family member that works
    * on EMBEDDINGS instead of text: LSH-bucketed candidates over the whole
    * corpus (Σ|bucket|², never n²), then exact cosine-threshold verify.
    * Output: (da, db, cosine) for all pairs with cosine >= threshold. */
  def embedNearDup(emb: DataFrame, threshold: Double,
                   seed: Int = DefaultSeed, tables: Int = DefaultTables,
                   planes: Int = DefaultPlanes): DataFrame =
    embedNearDupFrom(buildIndex(emb, seed, tables, planes), threshold)

  def embedNearDupFrom(idx: AnnIndex, threshold: Double): DataFrame = {
    graft.functions.GraftFunctions.register(idx.norms.sparkSession)
    val v = idx.norms
    // EXACT-DUP COLLAPSE: one
    // representative (min vec_id) per DISTINCT embedding enters the bucket
    // self-join, so Σ|bucket|² is bounded by distinct-vector count — a
    // corpus with 10⁶ copies of one vector lands ONE row per bucket, not
    // 10⁶. Identical vectors get identical buckets (bucket is a pure
    // function of v), so candidate semantics are unchanged; member pairs
    // are reconstituted by group expansion below.
    //
    // The group key is a DIGEST of the vector's canonical encoding, not the
    // raw array (grouping on the array would ship full vectors as
    // corpus-wide SHUFFLE KEYS — 16-byte digests shuffle instead, and the
    // agg input prunes to (dg, vec_id)). Digest groups are then
    // EXACT-ARRAY VERIFIED against their rep's vector: a
    // member whose vector differs (an md5 collision — cryptographically
    // negligible, but never assumed away) falls back to a singleton group
    // of itself, which is always semantically safe.
    val vd = v.select(F.col("vec_id"), F.col("v"),
      F.md5(F.to_json(F.col("v")).cast("binary")).as("dg"))
    val rep = vd.groupBy("dg").agg(F.min("vec_id").as("rep"))
    val groups = vd.join(rep, "dg")
      .join(vd.select(F.col("vec_id").as("rep"), F.col("v").as("repv")), "rep")
      .select(F.col("vec_id"),
        F.when(F.col("v") === F.col("repv"), F.col("rep"))
          .otherwise(F.col("vec_id")).as("rep"))
    val repB = idx.buckets
      .join(groups.where(F.col("vec_id") === F.col("rep")).select("vec_id"),
        Seq("vec_id"), "left_semi")
    val l = repB.select(F.col("vec_id").as("ra"), F.col("table_id"), F.col("bucket"))
    val r = repB.select(F.col("vec_id").as("rb"), F.col("table_id"), F.col("bucket"))
    val cand = l.join(r, Seq("table_id", "bucket"))
      .where(F.col("ra") < F.col("rb"))
      .select("ra", "rb").distinct()
    val repPairs = cand
      .join(v.select(F.col("vec_id").as("ra"), F.col("v").as("va"), F.col("nrm").as("na")), "ra")
      .join(v.select(F.col("vec_id").as("rb"), F.col("v").as("vb"), F.col("nrm").as("nb")), "rb")
      .select(F.col("ra"), F.col("rb"),
        F.round(F.expr("vector_dot(va, vb)") / (F.col("na") * F.col("nb")), 6).as("cosine"))
      .where(F.col("cosine") >= threshold)
    // cross-group member pairs: identical vectors ⇒ identical cosine, so
    // the rep pair's value carries over bit-for-bit
    val cross = repPairs
      .join(groups.select(F.col("rep").as("ra"), F.col("vec_id").as("ma")), "ra")
      .join(groups.select(F.col("rep").as("rb"), F.col("vec_id").as("mb")), "rb")
      .select(F.least(F.col("ma"), F.col("mb")).as("da"),
        F.greatest(F.col("ma"), F.col("mb")).as("db"), F.col("cosine"))
    // intra-group member pairs: self-cosine computed HONESTLY from the
    // rep's vector (same accumulation order as the oracle — ≈1.0 but never
    // assumed), threshold applied like any other pair
    val repSelf = v.select(F.col("vec_id").as("rep"),
        F.round(F.expr("vector_dot(v, v)") / (F.col("nrm") * F.col("nrm")), 6).as("cosine"))
      .where(F.col("cosine") >= threshold)
    val intra = groups.select(F.col("rep"), F.col("vec_id").as("da"))
      .join(groups.select(F.col("rep"), F.col("vec_id").as("db")), "rep")
      .where(F.col("da") < F.col("db"))
      .join(repSelf, "rep")
      .select("da", "db", "cosine")
    cross.unionByName(intra).orderBy("da", "db")
  }

  /** DuckDB oracle for [[embedNearDup]] — same hyperplane VALUES literal,
    * whole-corpus bucket self-join, exact cosine verify. */
  def embedNearDupSql(threshold: Double, dim: Int,
                      seed: Int = DefaultSeed, tables: Int = DefaultTables,
                      planes: Int = DefaultPlanes): String = {
    val values = hyperplanes(seed, tables, planes, dim)
      .map { case (t, p, w) => s"($t, $p, [${w.mkString(", ")}]::DOUBLE[])" }
      .mkString(",\n    ")
    s"""WITH hp AS MATERIALIZED (
       |  SELECT * FROM (VALUES
       |    $values) AS t(table_id, plane_id, w)),
       |v AS MATERIALIZED (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |n AS MATERIALIZED (
       |  SELECT * FROM (
       |    SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM v)
       |  WHERE nrm > 0),
       |dots AS (
       |  SELECT v.vec_id, hp.table_id, hp.plane_id,
       |         list_sum(list_transform(range(1, len(hp.w) + 1), i -> hp.w[i] * v.v[i])) AS dot
       |  FROM v CROSS JOIN hp),
       |b AS MATERIALIZED (
       |  SELECT vec_id, table_id,
       |         CAST(sum(CASE WHEN dot > 0 THEN 1 << plane_id ELSE 0 END) AS INTEGER) AS bucket
       |  FROM dots GROUP BY 1, 2),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT l.vec_id AS da, r.vec_id AS db
       |  FROM b l JOIN b r ON l.table_id = r.table_id AND l.bucket = r.bucket
       |       AND l.vec_id < r.vec_id),
       |scored AS (
       |  SELECT c.da, c.db,
       |         round(list_sum(list_transform(range(1, len(a.v) + 1),
       |               i -> a.v[i] * z.v[i])) / (a.nrm * z.nrm), 6) AS cosine
       |  FROM cand c JOIN n a ON a.vec_id = c.da JOIN n z ON z.vec_id = c.db)
       |SELECT da, db, cosine FROM scored WHERE cosine >= $threshold
       |ORDER BY da, db""".stripMargin
  }

  /** DuckDB oracle for [[annLsh]]: the deterministic hyperplanes become a
    * VALUES literal, bucket assignment / multiprobe / top-k are plain SQL.
    * `dim` must match the data's embedding width (64 in the driver's
    * testdata at every SF). Dot products accumulate index-ascending in
    * both engines, so bucket bits and 6dp cosines agree exactly. */
  def annLshSql(nQueries: Int, k: Int, dim: Int,
                seed: Int = DefaultSeed, tables: Int = DefaultTables,
                planes: Int = DefaultPlanes, multiprobe: Boolean = true): String = {
    val values = hyperplanes(seed, tables, planes, dim)
      .map { case (t, p, w) => s"($t, $p, [${w.mkString(", ")}]::DOUBLE[])" }
      .mkString(",\n    ")
    val probeArray =
      if (multiprobe)
        "[bucket" + (0 until planes).map(p => s", xor(bucket, ${1 << p})").mkString + "]"
      else "[bucket]"
    s"""WITH hp AS MATERIALIZED (
       |  SELECT * FROM (VALUES
       |    $values) AS t(table_id, plane_id, w)),
       |v AS MATERIALIZED (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |n AS MATERIALIZED (
       |  SELECT * FROM (
       |    SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM v)
       |  WHERE nrm > 0),
       |dots AS (
       |  SELECT v.vec_id, hp.table_id, hp.plane_id,
       |         list_sum(list_transform(range(1, len(hp.w) + 1), i -> hp.w[i] * v.v[i])) AS dot
       |  FROM v CROSS JOIN hp),
       |b AS MATERIALIZED (
       |  SELECT vec_id, table_id,
       |         CAST(sum(CASE WHEN dot > 0 THEN 1 << plane_id ELSE 0 END) AS INTEGER) AS bucket
       |  FROM dots GROUP BY 1, 2),
       |qb AS (
       |  SELECT vec_id AS qid, table_id, unnest($probeArray) AS bucket
       |  FROM b WHERE vec_id < $nQueries),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT qb.qid, b.vec_id
       |  FROM qb JOIN b ON b.table_id = qb.table_id AND b.bucket = qb.bucket
       |  WHERE b.vec_id <> qb.qid),
       |scored AS (
       |  SELECT c.qid, c.vec_id,
       |         round(list_sum(list_transform(range(1, len(q.v) + 1),
       |               i -> q.v[i] * n.v[i])) / (q.nrm * n.nrm), 6) AS cosine
       |  FROM cand c JOIN n ON n.vec_id = c.vec_id JOIN n q ON q.vec_id = c.qid),
       |ranked AS (
       |  SELECT qid, vec_id, cosine,
       |         CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS INTEGER) AS rk
       |  FROM scored)
       |SELECT qid, vec_id, cosine, rk FROM ranked WHERE rk <= $k
       |ORDER BY qid, rk""".stripMargin
  }
}
