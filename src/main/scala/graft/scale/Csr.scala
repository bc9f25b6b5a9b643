package graft.scale

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window

/** Compact adjacency — SURVEY.md §2.3 E8 / §4.3, the Spark rendition of the
  * reference's compact structure (BASELINE.json:6 "per-partition CSR-packed
  * Datasets"): VERTEX-MAJOR PACKING (`packAdjacency` /
  * `packAdjacencyKeys`) — rows of (src, neighbor arrays) as Tungsten array
  * columns, sorted by dst for determinism, HUB-SPLIT: no row carries more
  * than `maxSegment` neighbors; a vertex of degree d packs into
  * ⌈d/maxSegment⌉ segment rows (same src, disjoint contiguous dst slices).
  * The iteration loops consume this layer: the state⋈edges join touches
  * one row per vertex-SEGMENT instead of one per edge, message expansion is
  * the CsrExpand custom operator, and — because segments are bounded — a
  * 10⁸-degree hub becomes ~25k modest rows spread across tasks instead of
  * one giant array row pinned to one task. Hub splitting is the engine's
  * one skew mechanism.
  */
object Csr {

  /** Default per-row neighbor cap: 4096 longs+doubles ≈ 64 KiB per segment
    * row — big enough that expansion amortizes, small enough that the agg
    * buffer and any single task stay bounded under power-law degrees. */
  val DefaultSegment = 4096

  /** Segment id = position of the edge in its vertex's dst-ordered neighbor
    * list, divided by the cap. The window's sort exchange is on `src`, so
    * the groupBy(src, seg) that follows needs NO second exchange
    * (HashPartitioning(src) satisfies clustering by (src, seg)), and groups
    * are bounded by maxSegment — the collect_list buffer never exceeds the
    * cap even while packing a mega-hub. Deterministic: dst is unique per
    * src (weights pre-aggregated), so segments are stable contiguous
    * dst-ranges. */
  private def segmented(em: DataFrame, maxSegment: Int): DataFrame = {
    require(maxSegment > 0, s"maxSegment must be positive, got $maxSegment")
    val w = Window.partitionBy("src").orderBy("dst")
    em.withColumn("seg",
      F.floor((F.row_number().over(w) - 1) / F.lit(maxSegment)))
  }

  /** edges (src, dst, p) → (src, dsts: array<long>, ps: array<double>),
    * ≤ maxSegment neighbors per row. */
  def packAdjacency(em: DataFrame, maxSegment: Int = DefaultSegment): DataFrame =
    segmented(em.select(F.col("src"), F.col("dst"), F.col("p")), maxSegment)
      .groupBy("src", "seg")
      .agg(F.sort_array(F.collect_list(F.struct(F.col("dst"), F.col("p")))).as("adj"))
      .select(F.col("src"),
        F.expr("transform(adj, x -> x.dst)").as("dsts"),
        F.expr("transform(adj, x -> x.p)").as("ps"))

  /** Unweighted variant for CC/LPA message expansion:
    * edges (src, dst) → (src, dsts: array<long>), ≤ maxSegment per row. */
  def packAdjacencyKeys(edges: DataFrame, maxSegment: Int = DefaultSegment): DataFrame =
    segmented(edges.select(F.col("src"), F.col("dst")), maxSegment)
      .groupBy("src", "seg")
      .agg(F.sort_array(F.collect_list(F.col("dst"))).as("dsts"))
      .select(F.col("src"), F.col("dsts"))
}
