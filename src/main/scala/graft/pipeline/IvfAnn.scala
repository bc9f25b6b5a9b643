package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window

/** IVF-style approximate nearest neighbors — the cell-probing counterpart
  * to [[Similarity]]'s random-hyperplane LSH (SURVEY.md §2.12: "an IVF or
  * LSH-bucketed variant as the scale path").
  *
  * Index: C coarse centroids chosen DETERMINISTICALLY from the corpus
  * itself — the C vectors with the smallest md5("ivf:<seed>:" || vec_id),
  * i.e. a seeded uniform sample with no RNG at plan time (reproducible
  * across runs/parallelism AND replayable as DuckDB SQL, same discipline as
  * the LSH hyperplane VALUES literal). Every vector is assigned to its
  * nearest centroid by cosine (ties → smallest centroid id).
  *
  * Scale shape: C = ⌈√n⌉ (so cells average √n vectors and the broadcast
  * centroid table stays tiny — 31623 × 64 floats ≈ 8 MB at 10⁹ vectors);
  * assignment is a broadcast cross-join + map-side `max_by` hash-agg — the
  * n×C similarity rows are combined PER PARTITION, never shuffled; the
  * per-query search is an equi-join on cell id touching nprobe·√n
  * candidates instead of n. No window over n×C rows anywhere.
  *
  * Vs LSH: cells adapt to the data distribution (centroids are corpus
  * points), so clustered corpora get balanced cells where fixed hyperplanes
  * would overload one bucket; the cost is the up-front assignment pass.
  * Both share the exact-cosine verify + top-k tail.
  */
object IvfAnn {

  val DefaultSeed = 42
  val DefaultNProbe = 4
  val MinCells = 4

  /** C = max(4, ⌈√n⌉): average cell size √n, centroid table √n — both
    * sub-linear, the classic IVF balance point. Derived from a cheap
    * count, like Similarity.derivePlanes; the oracle bakes the same value. */
  def deriveCells(n: Long): Int =
    math.max(MinCells, math.ceil(math.sqrt(math.max(1L, n).toDouble)).toInt)

  private def withNorm(emb: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    // nrm > 0: zero vectors can't be centroids or candidates — cosine is
    // NaN; the oracle's norms CTE filters identically.
    emb.select(F.col("vec_id"), F.col("embedding").as("v"))
      .select(F.col("vec_id"), F.col("v"),
        F.sqrt(F.expr("vector_dot(v, v)")).as("nrm"))
      .where(F.col("nrm") > 0)
  }

  /** (cid, cv, cnrm): the C seeded-sample centroids. TakeOrdered on the
    * md5 key — a top-C, not a global sort. */
  def centroids(norms: DataFrame, cells: Int, seed: Int = DefaultSeed): DataFrame =
    norms
      .withColumn("h", F.md5(F.concat(F.lit(s"ivf:$seed:"), F.col("vec_id").cast("string"))))
      .orderBy("h", "vec_id").limit(cells)
      .select(F.col("vec_id").as("cid"), F.col("v").as("cv"), F.col("nrm").as("cnrm"))

  private def cosToCentroid: Column =
    F.expr("vector_dot(v, cv)") / (F.col("nrm") * F.col("cnrm"))

  /** (vec_id, cell): nearest-centroid assignment. Broadcast + max_by
    * hash-agg: the n×C rows partial-aggregate map-side, so the only
    * exchange is the final C-ary combine per vec_id — and vec_id is the
    * scan's natural key, so with the corpus pre-partitioned even that
    * collapses. Tie-break: highest cosine, then smallest cid (negate). */
  def assign(norms: DataFrame, cent: DataFrame): DataFrame =
    norms.crossJoin(F.broadcast(cent))
      .select(F.col("vec_id"), F.col("cid"), cosToCentroid.as("cos"))
      .groupBy("vec_id")
      .agg(F.expr("max_by(cid, struct(cos, -cid))").as("cell"))

  final case class IvfIndex(norms: DataFrame, cent: DataFrame, assigned: DataFrame)

  /** Build the reusable index parts; `persist` routes them to storage
    * exactly like Similarity.buildIndex (localCheckpoint by default,
    * TableIO commits in durable mode). `norms` injects a shared
    * pre-materialized (vec_id, v, nrm) frame. */
  def buildIndex(emb: DataFrame, cells: Int, seed: Int = DefaultSeed,
                 persist: (String, DataFrame) => DataFrame =
                   (_, df) => df.localCheckpoint(true),
                 norms: Option[DataFrame] = None): IvfIndex = {
    val n = norms.getOrElse(persist("norms", withNorm(emb)))
    val c = persist("centroids", centroids(n, cells, seed))
    val a = persist("assigned", assign(n, c))
    IvfIndex(n, c, a)
  }

  /** Top-k cosine among the vectors in the `nprobe` cells nearest to each
    * query (vec_id < nQueries). Cells are disjoint (each vector lives in
    * exactly one), so candidates need no dedup — unlike LSH's multi-table
    * union. Output matches e_ann_lsh: (qid, vec_id, cosine, rk). */
  def annIvfFrom(idx: IvfIndex, nQueries: Int, k: Int,
                 nprobe: Int = DefaultNProbe): DataFrame = {
    val q = idx.norms.where(F.col("vec_id") < nQueries)
      .select(F.col("vec_id").as("qid"), F.col("v").as("qv"), F.col("nrm").as("qn"))
    // nQueries × C rows: rank centroids per query, keep nprobe. Tiny
    // (queries are a handful), so a window is fine HERE — not on the corpus.
    val probes = q.crossJoin(F.broadcast(idx.cent))
      .select(F.col("qid"),
        (F.expr("vector_dot(qv, cv)") / (F.col("qn") * F.col("cnrm"))).as("cos"),
        F.col("cid"))
      .withColumn("rn", F.row_number().over(
        Window.partitionBy("qid").orderBy(F.col("cos").desc, F.col("cid"))))
      .where(F.col("rn") <= nprobe)
      .select(F.col("qid"), F.col("cid").as("cell"))
    val cand = idx.assigned.join(F.broadcast(probes), "cell")
      .where(F.col("vec_id") =!= F.col("qid"))
      .select("qid", "vec_id")
    val scored = cand.join(idx.norms, "vec_id").join(F.broadcast(q), "qid")
      .select(F.col("qid"), F.col("vec_id"),
        F.round(F.expr("vector_dot(qv, v)") / (F.col("qn") * F.col("nrm")), 6).as("cosine"))
    // bounded partial top-k tail (see Similarity.topKPerQuery): each
    // partition ships ≤ k candidates per query, no corpus-wide sort
    Similarity.topKPerQuery(scored, k)
  }

  def annIvf(emb: DataFrame, nQueries: Int, k: Int, cells: Int,
             nprobe: Int = DefaultNProbe, seed: Int = DefaultSeed): DataFrame =
    annIvfFrom(buildIndex(emb, cells, seed), nQueries, k, nprobe)

  /** DuckDB oracle: seeded centroid sample, nearest-centroid assignment,
    * nprobe probing, exact-cosine top-k — the same computation in plain
    * SQL. Assignment/probing rank on UNROUNDED cosines in both engines
    * (identical index-ascending double accumulation, the property the
    * LSH oracle already relies on); only the output cosine is
    * rounded. */
  def annIvfSql(nQueries: Int, k: Int, cells: Int,
                nprobe: Int = DefaultNProbe, seed: Int = DefaultSeed): String =
    s"""WITH v AS MATERIALIZED (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |n AS MATERIALIZED (
       |  SELECT * FROM (
       |    SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM v)
       |  WHERE nrm > 0),
       |cent AS MATERIALIZED (
       |  SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n
       |  ORDER BY md5('ivf:$seed:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT $cells),
       |sims AS MATERIALIZED (
       |  SELECT n.vec_id, c.cid,
       |         list_sum(list_transform(range(1, len(n.v) + 1), i -> n.v[i] * c.cv[i]))
       |           / (n.nrm * c.cnrm) AS cos
       |  FROM n CROSS JOIN cent c),
       |asg AS MATERIALIZED (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT vec_id, cid,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
       |    FROM sims) WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS qid, cid AS cell FROM (
       |    SELECT vec_id, cid,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
       |    FROM sims WHERE vec_id < $nQueries) WHERE rn <= $nprobe),
       |cand AS (
       |  SELECT p.qid, a.vec_id FROM probes p JOIN asg a ON a.cell = p.cell
       |  WHERE a.vec_id <> p.qid),
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
