package graft

import java.nio.file.Files

import graft.algo.{HubLabels, Neighborhood, Scc}
import graft.gen.TranscriptGen
import graft.graph.GraphBuilder

/** End-to-end CLI coverage for the commands added in rounds 4-5 (scc,
  * nhood exact/hyperball, hubs) — `Main.run` driven in-process against the
  * shared session, outputs read back from `--out` parquet and compared to
  * direct API runs on the identical generated input. The dict snapshot
  * must ride along with every graph command's output (it is what makes the
  * output consumable as a future --warm seed / joinable back to keys).
  */
class CliSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-cli-").toString

  private val Conv = "30"
  private lazy val graph = GraphBuilder.fromTranscripts(
    TranscriptGen.transcripts(spark, nConvs = Conv.toLong, seed = 42).toDF())

  test("scc CLI: labels match a direct Scc.run; dict snapshot written") {
    val out = tmp()
    Main.run(spark, Array("scc", "--conv", Conv, "--out", out))
    val cli = spark.read.parquet(s"$out/scc").orderBy("vid")
      .as[(Long, Long)].collect().toSeq
    val api = Scc.run(graph).labels.orderBy("vid")
      .as[(Long, Long)].collect().toSeq
    assert(cli == api)
    val dict = spark.read.parquet(s"$out/dict")
    assert(dict.count() == graph.dict.count())
  }

  test("nhood CLI (exact): N(t) and harmonic match the API; ckpt + resume-less rerun identical") {
    val out = tmp()
    val maxT = 3
    Main.run(spark, Array("nhood", "--conv", Conv, "--max-t", maxT.toString,
      "--out", out, "--ckpt", tmp()))
    val cliCounts = spark.read.parquet(s"$out/nhood").orderBy("t")
      .as[(Int, Long)].collect().toSeq
    val r = Neighborhood.exact(graph, maxT)
    val apiCounts = r.counts.orderBy("t").as[(Int, Long)].collect().toSeq
    assert(cliCounts == apiCounts)
    val cliHarm = spark.read.parquet(s"$out/harmonic").orderBy("vid")
      .as[(Long, Double)].collect().toSeq
    val apiHarm = Neighborhood.harmonic(graph, r.reach.get).orderBy("vid")
      .as[(Long, Double)].collect().toSeq
    assert(cliHarm.map(_._1) == apiHarm.map(_._1))
    cliHarm.zip(apiHarm).foreach { case ((v, a), (_, b)) =>
      assert(math.abs(a - b) < 1e-12, s"vid $v: $a vs $b") }
  }

  test("nhood CLI (hyperball): writes estimates within HLL error of exact N(t)") {
    val out = tmp()
    val maxT = 3
    Main.run(spark, Array("nhood", "--conv", Conv, "--mode", "hyperball",
      "--max-t", maxT.toString, "--lgk", "12", "--out", out))
    val est = spark.read.parquet(s"$out/nhood").orderBy("t")
      .select("t", "est_pairs").as[(Int, Double)].collect().toSeq
    val exact = Neighborhood.exact(graph, maxT).counts.orderBy("t")
      .as[(Int, Long)].collect().toMap
    assert(est.map(_._1) == (0 to maxT))
    est.foreach { case (t, e) =>
      val truth = exact(t).toDouble
      // 2^12 registers → ~1.6% relative standard error; allow 5 sigma
      assert(math.abs(e - truth) / truth < 0.09, s"t=$t: est $e vs $truth")
    }
  }

  test("hubs CLI: both label sides match HubLabels.build; distances answerable from the output") {
    val out = tmp()
    val (l, maxT) = (4, 4)
    Main.run(spark, Array("hubs", "--conv", Conv, "--landmarks", l.toString,
      "--max-t", maxT.toString, "--out", out))
    val api = HubLabels.build(graph, l, maxT)
    def slurp(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("vid", "hub").as[(Long, Long, Int)].collect().toSeq
    assert(slurp(spark.read.parquet(s"$out/labels_in")) == slurp(api.labelsIn))
    assert(slurp(spark.read.parquet(s"$out/labels_out")) == slurp(api.labelsOut))

    // the written labels answer distance queries exactly like the API
    // path; probe endpoints are drawn from label-carrying vertices so at
    // least some pairs share a hub within the horizon
    val us = spark.read.parquet(s"$out/labels_out")
      .select("vid").distinct().orderBy("vid").limit(4)
    val vs = spark.read.parquet(s"$out/labels_in")
      .select("vid").distinct().orderBy("vid").limit(4)
    val pairs = us.select(F2.col("vid").as("u"))
      .crossJoin(vs.select(F2.col("vid").as("v")))
      .where(F2.col("u") =!= F2.col("v"))
    val fromDisk = HubLabels.HubResult(
      labelsOut = spark.read.parquet(s"$out/labels_out"),
      labelsIn = spark.read.parquet(s"$out/labels_in"),
      landmarks = spark.emptyDataFrame)
    val a = HubLabels.distances(pairs, fromDisk).orderBy("u", "v")
      .as[(Long, Long, Int)].collect().toSeq
    val b = HubLabels.distances(pairs, api).orderBy("u", "v")
      .as[(Long, Long, Int)].collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("sssp CLI: distances match a direct ShortestPaths.run; durable resume continues") {
    val out = tmp(); val ckpt = tmp()
    Main.run(spark, Array("sssp", "--conv", Conv, "--origin-stride", "4",
      "--max-rounds", "10", "--out", out, "--ckpt", ckpt))
    val cli = spark.read.parquet(s"$out/sssp").orderBy("o", "v")
      .as[(Long, Long, Int)].collect().toSeq
    val origins = graph.vertices.where(F2.col("vid") % 4 === 0)
    val api = graft.algo.ShortestPaths.run(graph, origins, 10)
      .dists.orderBy("o", "v").as[(Long, Long, Int)].collect().toSeq
    assert(cli == api && cli.nonEmpty)
    assert(spark.read.parquet(s"$out/dict").count() == graph.dict.count())

    // --resume against the committed state reproduces identical distances
    // (monotone relaxation: re-relaxing settled rows is a no-op)
    val out2 = tmp()
    Main.run(spark, Array("sssp", "--conv", Conv, "--origin-stride", "4",
      "--max-rounds", "10", "--out", out2, "--ckpt", ckpt, "--resume"))
    val resumed = spark.read.parquet(s"$out2/sssp").orderBy("o", "v")
      .as[(Long, Long, Int)].collect().toSeq
    assert(resumed == api)
  }

  test("betweenness CLI: bc matches a direct run; durable resume identical") {
    val out = tmp(); val ckpt = tmp()
    Main.run(spark, Array("betweenness", "--conv", Conv, "--source-stride", "4",
      "--max-t", "3", "--out", out, "--ckpt", ckpt))
    val cli = spark.read.parquet(s"$out/betweenness").orderBy("vid")
      .as[(Long, Double)].collect().toSeq
    val sources = graph.vertices.where(F2.col("vid") % 4 === 0)
    val api = graft.algo.Betweenness.run(graph, sources, 3)
      .orderBy("vid").as[(Long, Double)].collect().toSeq
    assert(cli == api && cli.nonEmpty)
    assert(spark.read.parquet(s"$out/dict").count() == graph.dict.count())

    // --resume over the fully-committed run reconstructs the same bc
    val out2 = tmp()
    Main.run(spark, Array("betweenness", "--conv", Conv, "--source-stride", "4",
      "--max-t", "3", "--out", out2, "--ckpt", ckpt, "--resume"))
    val resumed = spark.read.parquet(s"$out2/betweenness").orderBy("vid")
      .as[(Long, Double)].collect().toSeq
    assert(resumed == api)
  }

  test("katz CLI: scores match a direct run; dict snapshot written") {
    val out = tmp()
    Main.run(spark, Array("katz", "--conv", Conv, "--alpha", "0.1",
      "--rounds", "5", "--out", out, "--ckpt", tmp()))
    val cli = spark.read.parquet(s"$out/katz").orderBy("vid")
      .as[(Long, Double)].collect().toSeq
    val api = graft.algo.Katz.run(graph, 0.1, 5)
      .orderBy("vid").as[(Long, Double)].collect().toSeq
    assert(cli == api && cli.nonEmpty)
    assert(spark.read.parquet(s"$out/dict").count() == graph.dict.count())
  }

  test("hits CLI: scores match a direct run; dict snapshot written") {
    val out = tmp()
    Main.run(spark, Array("hits", "--conv", Conv, "--rounds", "3",
      "--out", out, "--ckpt", tmp()))
    val cli = spark.read.parquet(s"$out/hits").orderBy("vid")
      .as[(Long, Double, Double)].collect().toSeq
    val api = graft.algo.Hits.run(graph, 3)
      .orderBy("vid").as[(Long, Double, Double)].collect().toSeq
    assert(cli == api && cli.nonEmpty)
    assert(spark.read.parquet(s"$out/dict").count() == graph.dict.count())
  }

  test("mis CLI: states match a direct run over the symmetric closure") {
    val out = tmp()
    Main.run(spark, Array("mis", "--conv", Conv, "--max-rounds", "8",
      "--out", out, "--ckpt", tmp()))
    val cli = spark.read.parquet(s"$out/mis").orderBy("vid")
      .as[(Long, Int)].collect().toSeq
    val und = graph.symmetrized.where(F2.col("src") =!= F2.col("dst"))
    // the CLI sizes this graph at width 1; the API run is pinned at 4
    val api = graft.algo.Mis.run(graph.vertices, und, 8,
      math.max(graph.numVertices, graph.numEdges),
      new ForwardingMaterializer(new graft.algo.LocalMaterializer, Some(4)))
      .orderBy("vid").as[(Long, Int)].collect().toSeq
    assert(cli == api && cli.nonEmpty)
    // a fixpoint run leaves nothing undecided on this fixture
    assert(cli.forall(_._2 != 0))
  }

  test("ktruss CLI: surviving edges match a direct Truss.run (non-empty truss)") {
    // the transcript fixture is triangle-free (its truss is honestly
    // empty) — drive the CLI on the events fixture instead, whose
    // 4-truss is non-empty, so the parity check has teeth
    val events = "/root/testdata/sf0.001/events.parquet"
    val out = tmp()
    Main.run(spark, Array("ktruss", "--events", events, "--k", "4",
      "--max-rounds", "10", "--out", out, "--ckpt", tmp()))
    val cli = spark.read.parquet(s"$out/ktruss").orderBy("u", "v")
      .as[(Long, Long, Long)].collect().toSeq
    val eg = GraphBuilder.fromEvents(spark.read.parquet(events))
    val und = eg.symmetrized.where(F2.col("src") =!= F2.col("dst"))
    val api = graft.algo.Truss.run(und, 4, 10, math.max(eg.numVertices, eg.numEdges),
      new ForwardingMaterializer(new graft.algo.LocalMaterializer, Some(4)))
      .as[(Long, Long, Long)].collect().toSeq
    assert(cli == api && cli.nonEmpty)
    // every surviving edge sits in >= 2 triangles of the survivors (k=4)
    assert(cli.forall(_._3 >= 2))
  }

  test("nhood CLI (hyperball): per-vertex HyperANF centrality frame written") {
    val out = tmp()
    Main.run(spark, Array("nhood", "--conv", Conv, "--mode", "hyperball",
      "--max-t", "3", "--lgk", "12", "--out", out))
    val cent = spark.read.parquet(s"$out/centrality")
    assert(cent.count() == graph.dict.count())
    assert(cent.columns.sorted.toSeq == Seq("closeness_est", "ecc_est",
      "harmonic_est", "reached_est", "sumdist_est", "vid"))
  }

  private val F2 = org.apache.spark.sql.functions
}
