package graft.tools

import org.apache.spark.sql.{functions => F}

import graft.GraftSession
import graft.algo._
import graft.gen.TranscriptGen
import graft.graph.{GraphBuilder, LinkGraph}

/** Two-cluster-size scaling evidence — BASELINE.md protocol.
  *
  * No real cluster exists in this sandbox; per the driver's instruction the
  * N vs 4N executor criterion is evidenced by running the IDENTICAL job on
  * the IDENTICAL deterministic input at two parallelism levels (local[8]
  * and local[32]) and reporting throughput at both plus efficiency.
  *
  * Modes (one JVM = one SparkContext, so one level per invocation;
  * scripts/scaling.sh orchestrates the runs and logs them as JSON lines):
  *
  *   prep <nConvs> <dir> [cores]     -- generate transcripts (seed 42),
  *                                      build the graph once, write
  *                                      edges+dict parquet
  *   run <cores> <dir> <iters> <algo> -- read the prepped graph, run the
  *                                      algorithm, print one JSON line
  *
  * algo: pagerank | pagerank_packed | cc | triangles | scan_derive
  */
object ScalingBench {

  def main(args: Array[String]): Unit = args(0) match {
    case "prep" => prep(args(1).toLong, args(2),
      if (args.length > 3) args(3).toInt else 32)
    case "run" => run(args(1).toInt, args(2), args(3).toInt,
      if (args.length > 4) args(4) else "pagerank")
    case other => sys.error(s"unknown mode $other (prep|run)")
  }

  def prep(nConvs: Long, dir: String, cores: Int): Unit = {
    val spark = GraftSession.build(s"local[$cores]", "scaling-prep", cores)
    val t0 = System.nanoTime()
    val turns = TranscriptGen.transcripts(spark, nConvs, seed = 42,
      numPartitions = cores * 4).toDF()
    val graph = GraphBuilder.fromTranscripts(turns)
    graph.edges.groupBy("src", "dst")
      .agg(F.sum("weight").as("weight"), F.min("kind").as("kind"))
      .select("src", "dst", "kind", "weight")
      .write.mode("overwrite").parquet(s"$dir/edges")
    graph.dict.write.mode("overwrite").parquet(s"$dir/dict")
    val spk = spark.read.parquet(s"$dir/edges")
    println(s"""{"mode":"prep","n_convs":$nConvs,"edges":${spk.count()},"vertices":${spark.read.parquet(s"$dir/dict").count()},"wall_sec":${(System.nanoTime() - t0) / 1e9}}""")
    spark.stop()
  }

  def run(cores: Int, dir: String, iters: Int, algo: String): Unit = {
    // IDENTICAL job config at both levels (the protocol's requirement):
    // fixed 64 shuffle partitions — enough slack for 32 cores, sequential
    // batches of 8 tasks at local[8]. Shuffle dirs should point at tmpfs
    // (SPARK_LOCAL_DIRS=/dev/shm/...) so single-box disk bandwidth doesn't
    // masquerade as a scaling ceiling.
    val spark = GraftSession.build(s"local[$cores]", s"scaling-$algo", 64)
    val g = LinkGraph(spark.read.parquet(s"$dir/edges"),
      spark.read.parquet(s"$dir/dict"))
    val nEdges = g.edges.count()
    val nVerts = g.numVertices

    val walls: Seq[Double] = algo match {
      case "pagerank" =>
        val r = PageRank.run(g, PageRankConfig(fixedIters = Some(iters)))
        r.metricsLog.flatMap(_.get("wall_ms")).map(_.toString.toDouble / 1000.0)
      case "pagerank_packed" =>
        val r = PageRank.run(g, PageRankConfig(fixedIters = Some(iters),
          packedAdjacency = true))
        r.metricsLog.flatMap(_.get("wall_ms")).map(_.toString.toDouble / 1000.0)
      case "cc" =>
        val r = ConnectedComponents.run(g, maxRounds = iters)
        r.metricsLog.flatMap(_.get("wall_ms")).map(_.toString.toDouble / 1000.0)
      case "triangles" =>
        val t = System.nanoTime()
        Triangles.run(g)
        Seq((System.nanoTime() - t) / 1e9)
      case "scan_derive" =>
        // CPU-bound kernel: S1 scan + E2 entity derivation (generation +
        // SHA-1 text + key derivation + filter), zero shuffle. On one box
        // the shuffle-heavy PageRank iteration is DRAM-bandwidth-bound
        // (cores share one memory bus), so this kernel is the clean probe
        // of the job's PARALLEL STRUCTURE — the thing executor-count
        // scaling actually exercises on a real cluster.
        val spark2 = g.edges.sparkSession
        (1 to iters).map { _ =>
          val t = System.nanoTime()
          val turns = TranscriptGen.transcripts(spark2,
            sys.env.getOrElse("SPARK_GRAFT_SCAN_CONVS", "12000000").toLong,
            seed = 42, numPartitions = 256).toDF()
          turns.select(
              graft.graph.GraphBuilder.entityKey(F.col("role"), F.col("tool")).as("key"))
            .where(F.col("key").startsWith("tool:")).count()
          (System.nanoTime() - t) / 1e9
        }
    }
    // steady-state: drop the first two iterations (codegen + cache warmup)
    val steady = if (walls.size > 4) walls.drop(2) else walls
    val med = steady.sorted.apply(steady.size / 2)
    println(s"""{"mode":"run","algo":"$algo","cores":$cores,"vertices":$nVerts,"edges":$nEdges,"iters":${walls.size},"iter_sec":[${walls.mkString(",")}],"median_iter_sec":$med,"edges_per_sec":${nEdges / med}}""")
    spark.stop()
  }
}
