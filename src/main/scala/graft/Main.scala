package graft

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}

import graft.algo._
import graft.gen.TranscriptGen
import graft.graph.{GraphBuilder, LinkGraph}
import graft.io.ParquetManifestIO

/** spark-submit entry point — SURVEY.md §3.3.
  *
  * {{{
  * spark-submit --class graft.Main --master <cluster|local[N]> engine.jar \
  *   pagerank --input <transcripts.parquet> --out <dir> --ckpt <dir> [--resume] \
  *            [--tol 1e-6] [--damping 0.85] [--max-iters 100]
  * }}}
  *
  * Sources (one of): --input <transcripts parquet>, --events <events parquet>,
  * or --conv N [--seed 42] (deterministic synthetic transcripts).
  * Commands: pagerank | ppr | cc | lpa | triangles | kcore | scc | sssp |
  * nhood | hubs | betweenness | katz | hits | mis | ktruss | dedup | ann.
  * Without --resume, a fresh run clears the checkpoint root first;
  * with --resume, the loop continues from the last committed iteration.
  */
object Main {

  def parseArgs(args: Array[String]): (String, Map[String, String]) = {
    require(args.nonEmpty, usage)
    val cmd = args(0)
    val opts = scala.collection.mutable.Map.empty[String, String]
    var i = 1
    while (i < args.length) {
      val a = args(i)
      require(a.startsWith("--"), s"expected --option, got $a\n$usage")
      val key = a.drop(2)
      if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
        opts(key) = args(i + 1); i += 2
      } else { opts(key) = "true"; i += 1 }
    }
    (cmd, opts.toMap)
  }

  val usage: String =
    """usage: graft.Main <pagerank|ppr|cc|lpa|triangles|kcore|scc|sssp|nhood|hubs|betweenness|katz|hits|mis|ktruss|dedup|ann> ...
      |graph commands: [--input P|--events P|--conv N]
      |  [--seed 42] [--out DIR] [--ckpt DIR] [--resume] [--tol 1e-6]
      |  [--damping 0.85] [--max-iters 100] [--rounds 10] [--local N]
      |  [--algo hashmin|star]  (cc only)
      |  [--seed-prefix user:|--seeds P]  (ppr: teleport set — entity-key
      |               prefix over the dict, or a (vid) parquet)
      |  [--k 3] [--max-rounds 8]  (kcore)
      |  [--max-phases 20]  (scc)
      |  [--origins P|--origin-prefix user:|--origin-stride 5] [--max-rounds 20]  (sssp)
      |  [--mode exact|hyperball] [--max-t 8] [--lgk 12] [--reverse]  (nhood;
      |               hyperball also writes per-vertex HyperANF centrality
      |               estimates — harmonic/closeness/ecc; --reverse = out-balls)
      |  [--landmarks 16] [--max-t 6]  (hubs)
      |  [--sources P|--source-prefix user:|--source-stride 4] [--max-t 4]  (betweenness)
      |  [--alpha 0.1] [--rounds 6]  (katz)
      |  [--rounds 3]  (hits)
      |  [--max-rounds 8]  (mis)
      |  [--k 4] [--max-rounds 6]  (ktruss)
      |  [--warm P]  (pagerank / cc hashmin: seed from a prior run's --out dir —
      |               ranks/labels are remapped onto the current graph's ids via
      |               the dict snapshot written next to them; append-only growth
      |               only for cc — see ConnectedComponents.run)
      |pipeline commands (over a testdata-shaped dir with documents/embeddings):
      |  dedup --dir D [--mode exact|clusters|embed] [--out DIR] [--pipeline-ckpt DIR]
      |  ann   --dir D [--index lsh|ivf|brute] [--out DIR] [--pipeline-ckpt DIR]""".stripMargin

  /** Resolve `--warm P` state. P may be (a) a prior `--out` dir written by
    * this CLI — containing `<what>` AND `dict` — in which case the prior
    * per-vertex state is REMAPPED through entity keys onto the CURRENT
    * graph's dense ids: ids shift whenever the dictionary changes, so
    * passing raw vids from a grown graph would silently seed the wrong
    * vertices (for CC that can make final labels WRONG, not just slow;
    * WarmStartSpec's negative control demonstrates it). Or (b) a bare
    * state parquet, accepted with a loud warning under the ids-unchanged
    * assumption (back-compat).
    *
    * For labels (`remapLabelIds`), the LABEL id is itself a vid and is
    * remapped through its own key too — a prior label must name the same
    * ENTITY in the new id space for the HashMin warm-start argument to
    * hold (see ConnectedComponents.run). Prior entities whose label entity
    * vanished from the new dict drop out (inner join) and cold-start. */
  private[graft] def loadWarmState(spark: SparkSession, path: String, graph: LinkGraph,
                                   what: String, stateCol: String,
                                   remapLabelIds: Boolean): DataFrame = {
    val sub = java.nio.file.Paths.get(path, what)
    val dictDir = java.nio.file.Paths.get(path, "dict")
    if (java.nio.file.Files.exists(sub) && java.nio.file.Files.exists(dictDir)) {
      val prior = spark.read.parquet(sub.toString)
      val priorDict = spark.read.parquet(dictDir.toString)
      if (!remapLabelIds)
        prior.join(priorDict, "vid").select(F.col("key"), F.col(stateCol))
          .join(graph.dict, "key").select(F.col("vid"), F.col(stateCol))
      else
        prior
          .join(priorDict, "vid").select(F.col("key"), F.col("label"))
          .join(priorDict.select(F.col("key").as("label_key"), F.col("vid").as("label")), "label")
          .select(F.col("key"), F.col("label_key"))
          .join(graph.dict, "key").select(F.col("vid"), F.col("label_key"))
          .join(graph.dict.select(F.col("key").as("label_key"), F.col("vid").as("label")), "label_key")
          .select("vid", "label")
    } else {
      Console.err.println(s"[graft] --warm $path has no {$what, dict} layout — " +
        "reading it as a raw state parquet and ASSUMING dense ids are " +
        "unchanged (WRONG if the dictionary changed; pass a prior --out " +
        "dir to get key-based remapping)")
      spark.read.parquet(path)
    }
  }

  def loadGraph(spark: SparkSession, opts: Map[String, String]): LinkGraph =
    if (opts.contains("input"))
      GraphBuilder.fromTranscripts(spark.read.parquet(opts("input")))
    else if (opts.contains("events"))
      GraphBuilder.fromEvents(spark.read.parquet(opts("events")))
    else if (opts.contains("conv"))
      GraphBuilder.fromTranscripts(
        TranscriptGen.transcripts(spark, opts("conv").toLong,
          opts.getOrElse("seed", "42").toLong).toDF())
    else sys.error(s"need --input, --events or --conv\n$usage")

  /** Durable snapshots are hash-BUCKETED on the LOOP'S OWN key so a resumed
    * round keeps the one-shuffle contract — and that key is per-algorithm:
    * vertex-state loops (pagerank / hashmin CC / LPA) commit frames keyed by
    * `vid`, but star CC's loop state is the contracted EDGE set (u, v).
    * Hardcoding "vid" here would crash every durable star run. */
  def materializer(spark: SparkSession, opts: Map[String, String], table: String,
                   bucketCol: String = "vid",
                   extraTokens: Seq[String] = Nil): Materializer =
    opts.get("ckpt") match {
      case Some(dir) =>
        if (!opts.contains("resume")) wipeCheckpointDir(dir)
        // run-level input token: a --resume against the same ckpt dir but a
        // DIFFERENT input recomputes the shared invariants instead of
        // silently reusing them (joined with each shared() call's layout
        // fingerprint in CheckpointMaterializer). Commands whose computation
        // depends on more than the input add their own tokens — ppr passes
        // its seed spec (a resumed ppr with a different --seeds/--seed-prefix
        // must not reuse the stale teleport vector or mid-run state).
        val inputToken = opts.get("input").map("input=" + _)
          .orElse(opts.get("events").map("events=" + _))
          .orElse(opts.get("conv").map(c =>
            s"conv=$c;seed=${opts.getOrElse("seed", "42")}"))
        val runToken = (inputToken.toSeq ++ extraTokens).mkString("|") match {
          case "" => None
          case s  => Some(s)
        }
        new CheckpointMaterializer(new ParquetManifestIO(spark, dir), table,
          bucket = Some((bucketCol, spark.conf.get("spark.sql.shuffle.partitions").toInt)),
          runFingerprint = runToken)
      case None => new LocalMaterializer
    }

  /** Fresh-run wipe of the checkpoint root, GUARDED: a recursive delete
    * of whatever `--ckpt` points at would destroy a mistyped data
    * directory. Only an empty dir or one carrying a graft `_commits`
    * manifest dir (what CheckpointMaterializer writes) is eligible;
    * anything else is refused with a clear error. */
  private[graft] def wipeCheckpointDir(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) return
    val entries = java.nio.file.Files.list(p).iterator().asScala.toSeq
    require(entries.isEmpty ||
        entries.exists(_.getFileName.toString == "_commits"),
      s"refusing to wipe --ckpt $dir: directory is non-empty and contains " +
        "no graft _commits manifest — is this really a checkpoint root? " +
        "(pass --resume to keep it, or point --ckpt at a fresh directory)")
    java.nio.file.Files.walk(p)
      .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .iterator().asScala.foreach(java.nio.file.Files.delete)
  }

  def main(args: Array[String]): Unit = {
    val (cmd, opts) = parseArgs(args)
    val spark = sys.props.get("spark.master") match {
      case Some(_) => // under spark-submit: respect the submitted master
        SparkSession.builder().appName(s"graft-$cmd")
          .config("spark.sql.shuffle.partitions",
            opts.getOrElse("shuffle-partitions", "32"))
          .config("spark.sql.session.timeZone", "UTC").getOrCreate()
      case None =>
        GraftSession.build(s"local[${opts.getOrElse("local", "8")}]", s"graft-$cmd",
          opts.getOrElse("shuffle-partitions", "32").toInt)
    }
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args) finally spark.stop()
  }

  /** The CLI body against a CALLER-OWNED session — what `main` wraps with
    * session setup/stop, and what CliSpec drives end-to-end in-process
    * (stopping the shared test session is not an option there). */
  private[graft] def run(spark: SparkSession, args: Array[String]): Unit = {
    val (cmd, opts) = parseArgs(args)
    val t0 = System.nanoTime()
    lazy val graph = loadGraph(spark, opts) // pipeline commands need no graph

    def write(df: DataFrame, what: String): Unit = opts.get("out") match {
      case Some(dir) => df.write.mode("overwrite").parquet(s"$dir/$what")
      case None      => df.show(20, truncate = false)
    }

    // The dict snapshot rides along with every graph command's --out: it is
    // what makes the output consumable as a FUTURE --warm seed (vids remap
    // through entity keys — see loadWarmState).
    def writeDict(): Unit = opts.get("out").foreach(dir =>
      graph.dict.write.mode("overwrite").parquet(s"$dir/dict"))

    /** write + row count with ONE pipeline evaluation: with --out, count
      * the written parquet (a cheap metadata scan) instead of re-running
      * the plan; without it, count() is the single evaluation and a
      * 20-row preview goes to stdout from the counted frame. */
    def writeAndCount(df: DataFrame, what: String): Long = opts.get("out") match {
      case Some(dir) =>
        df.write.mode("overwrite").parquet(s"$dir/$what")
        spark.read.parquet(s"$dir/$what").count()
      case None =>
        val cached = df.localCheckpoint(true)
        cached.show(20, truncate = false)
        cached.count()
    }

    cmd match {
      case "pagerank" =>
        // --warm P: seed from a prior run's --out dir (ranks + dict → ids
        // remapped through entity keys) — the incremental path after new
        // transcripts land. See loadWarmState.
        val r = PageRank.run(graph,
          PageRankConfig(
            damping = opts.getOrElse("damping", "0.85").toDouble,
            tol = opts.getOrElse("tol", "1e-6").toDouble,
            maxIters = opts.getOrElse("max-iters", "100").toInt),
          materializer(spark, opts, "pagerank"),
          warmStart = opts.get("warm").map(p =>
            loadWarmState(spark, p, graph, "ranks", "rank", remapLabelIds = false)))
        write(r.ranks.orderBy(F.col("rank").desc, F.col("vid")), "ranks")
        writeDict()
        println(s"""{"cmd":"pagerank","iterations":${r.iterations},"converged":${r.converged},"vertices":${graph.numVertices},"wall_sec":${(System.nanoTime() - t0) / 1e9}}""")
      case "ppr" =>
        // Personalized PageRank: teleport uniform over a seed set — by
        // entity-key prefix (default: the user entities) or an explicit
        // (vid) parquet. Same engine/layouts as pagerank.
        val seeds = opts.get("seeds") match {
          case Some(p) => spark.read.parquet(p).select("vid")
          case None =>
            val prefix = opts.getOrElse("seed-prefix", "user:")
            graph.dict.where(F.col("key").startsWith(prefix)).select("vid")
        }
        // Seed spec enters the run fingerprint: PageRank additionally
        // fingerprints vmeta_ppr with the resolved seed set's content
        // signature, so both the CLI spec and the actual set are guarded.
        val seedToken = opts.get("seeds").map("seeds=" + _)
          .getOrElse(s"seed-prefix=${opts.getOrElse("seed-prefix", "user:")}")
        val r = PageRank.run(graph,
          PageRankConfig(
            damping = opts.getOrElse("damping", "0.85").toDouble,
            tol = opts.getOrElse("tol", "1e-6").toDouble,
            maxIters = opts.getOrElse("max-iters", "100").toInt),
          materializer(spark, opts, "ppr", extraTokens = Seq(seedToken)),
          teleport = Some(seeds))
        write(r.ranks.orderBy(F.col("rank").desc, F.col("vid")), "ranks")
        writeDict()
        println(s"""{"cmd":"ppr","iterations":${r.iterations},"converged":${r.converged},"vertices":${graph.numVertices},"wall_sec":${(System.nanoTime() - t0) / 1e9}}""")
      case "sssp" =>
        // Weighted multi-source shortest paths (Bellman-Ford relaxation,
        // per-kind integer costs). Origins: an explicit (vid) parquet, an
        // entity-key prefix over the dict, or the vid-stride default (the
        // g_sssp driver-query shape). Origin spec + horizon enter the run
        // fingerprint: a durable --resume with a different origin set or
        // maxRounds recomputes instead of mixing state (the ppr lesson).
        val origins = opts.get("origins") match {
          case Some(p) => spark.read.parquet(p).select("vid")
          case None => opts.get("origin-prefix") match {
            case Some(prefix) =>
              graph.dict.where(F.col("key").startsWith(prefix)).select("vid")
            case None =>
              val stride = opts.getOrElse("origin-stride", "5").toInt
              graph.vertices.where(F.col("vid") % stride === 0)
          }
        }
        val originToken = opts.get("origins").map("origins=" + _)
          .orElse(opts.get("origin-prefix").map("origin-prefix=" + _))
          .getOrElse(s"origin-stride=${opts.getOrElse("origin-stride", "5")}")
        val maxRounds = opts.getOrElse("max-rounds", "20").toInt
        val r = ShortestPaths.run(graph, origins, maxRounds,
          mat = materializer(spark, opts, "sssp", bucketCol = "o",
            extraTokens = Seq(originToken, s"maxRounds=$maxRounds")))
        write(r.dists.orderBy("o", "v"), "sssp")
        writeDict()
        println(s"""{"cmd":"sssp","rounds":${r.rounds},"converged":${r.converged},"vertices":${graph.numVertices},"wall_sec":${(System.nanoTime() - t0) / 1e9}}""")
      case "kcore" =>
        // k is part of the run identity: a durable --resume with a changed
        // k is refused by the run-fingerprint guard instead of silently
        // continuing a k-mixed peel.
        val k = opts.getOrElse("k", "3").toInt
        val r = KCore.run(graph, k, opts.getOrElse("max-rounds", "8").toInt,
          materializer(spark, opts, "kcore", extraTokens = Seq(s"k=$k")))
        write(r.members.orderBy("vid"), "kcore")
        writeDict()
        println(s"""{"cmd":"kcore","k":$k,"rounds":${r.rounds},"converged":${r.converged},"members":${r.members.count()},"wall_sec":${(System.nanoTime() - t0) / 1e9}}""")
      case "scc" =>
        val r = Scc.run(graph,
          maxPhases = opts.getOrElse("max-phases", "20").toInt,
          maxRounds = opts.getOrElse("max-rounds", "200").toInt,
          mat = materializer(spark, opts, "scc"))
        write(r.labels.orderBy("vid"), "scc")
        writeDict()
        println(s"""{"cmd":"scc","phases":${r.phases},"converged":${r.converged},"vertices":${graph.numVertices},"wall_sec":${(System.nanoTime() - t0) / 1e9}}""")
      case "cc" =>
        // --algo star: small-star/large-star contraction — O(log n) rounds,
        // for deep graphs; default HashMin (rounds ≈ diameter) wins on
        // shallow transcript stars. Labels are identical by construction.
        val star = opts.getOrElse("algo", "hashmin") == "star"
        val r =
          if (star) ConnectedComponents.runStar(graph,
            opts.getOrElse("max-rounds", "60").toInt,
            materializer(spark, opts, "cc", bucketCol = "u")) // edge-set state
          else ConnectedComponents.run(graph,
            opts.getOrElse("max-rounds", "200").toInt, materializer(spark, opts, "cc"),
            warmStart = opts.get("warm").map(p =>
              loadWarmState(spark, p, graph, "labels", "label", remapLabelIds = true)))
        write(r.labels.orderBy("vid"), "labels")
        writeDict()
        println(s"""{"cmd":"cc","algo":"${if (star) "star" else "hashmin"}","rounds":${r.rounds},"converged":${r.converged},"vertices":${graph.numVertices},"wall_sec":${(System.nanoTime() - t0) / 1e9}}""")
      case "lpa" =>
        val r = LabelPropagation.run(graph,
          opts.getOrElse("rounds", "10").toInt, materializer(spark, opts, "lpa"))
        write(r.labels.orderBy("vid"), "labels")
        writeDict()
        println(s"""{"cmd":"lpa","rounds":${r.rounds},"converged":${r.converged},"vertices":${graph.numVertices},"wall_sec":${(System.nanoTime() - t0) / 1e9}}""")
      case "triangles" =>
        // --ckpt: stage materializations (canonical/oriented edges, triangle
        // list) become durable TableIO commits instead of localCheckpoints
        val r = Triangles.run(graph, materializer(spark, opts, "triangles"))
        write(r.perVertex.orderBy("vid"), "triangles")
        println(s"""{"cmd":"triangles","total":${r.total},"vertices":${graph.numVertices},"wall_sec":${(System.nanoTime() - t0) / 1e9}}""")
      case "betweenness" =>
        // Sampled-source hop-bounded Brandes; durable per (phase, level)
        // round — forward σ levels, then δ levels deepest-first. Source
        // spec + horizon enter the run fingerprint (the ppr lesson).
        val sources = opts.get("sources") match {
          case Some(p) => spark.read.parquet(p).select("vid")
          case None => opts.get("source-prefix") match {
            case Some(prefix) =>
              graph.dict.where(F.col("key").startsWith(prefix)).select("vid")
            case None =>
              val stride = opts.getOrElse("source-stride", "4").toInt
              graph.vertices.where(F.col("vid") % stride === 0)
          }
        }
        val srcToken = opts.get("sources").map("sources=" + _)
          .orElse(opts.get("source-prefix").map("source-prefix=" + _))
          .getOrElse(s"source-stride=${opts.getOrElse("source-stride", "4")}")
        val maxT = opts.getOrElse("max-t", "4").toInt
        val bc = Betweenness.run(graph, sources, maxT,
          materializer(spark, opts, "betweenness", bucketCol = "s",
            extraTokens = Seq(srcToken, s"maxT=$maxT")))
        write(bc.orderBy("vid"), "betweenness")
        writeDict()
        println(s"""{"cmd":"betweenness","max_t":$maxT,"vertices":${graph.numVertices},"wall_sec":${(System.nanoTime() - t0) / 1e9}}""")
      case "katz" =>
        // Truncated Katz recurrence, one durable (vid, c) commit per round.
        val alpha = opts.getOrElse("alpha", "0.1").toDouble
        val rounds = opts.getOrElse("rounds", "6").toInt
        val kz = Katz.run(graph, alpha, rounds,
          materializer(spark, opts, "katz",
            extraTokens = Seq(s"alpha=$alpha", s"rounds=$rounds")))
        write(kz.orderBy("vid"), "katz")
        writeDict()
        println(s"""{"cmd":"katz","alpha":$alpha,"rounds":$rounds,"vertices":${graph.numVertices},"wall_sec":${(System.nanoTime() - t0) / 1e9}}""")
      case "hits" =>
        // Truncated HITS, one durable (vid, a, h) commit per round.
        val rounds = opts.getOrElse("rounds", "3").toInt
        val hs = Hits.run(graph, rounds,
          materializer(spark, opts, "hits", extraTokens = Seq(s"rounds=$rounds")))
        write(hs.orderBy("vid"), "hits")
        writeDict()
        println(s"""{"cmd":"hits","rounds":$rounds,"vertices":${graph.numVertices},"wall_sec":${(System.nanoTime() - t0) / 1e9}}""")
      case "mis" =>
        // Deterministic local-min MIS over the symmetric simple closure,
        // round-capped, one durable (vid, st) commit per round.
        val rounds = opts.getOrElse("max-rounds", "8").toInt
        val und = graph.symmetrized.where(F.col("src") =!= F.col("dst"))
        val ms = Mis.run(graph.vertices, und, rounds,
          math.max(graph.numVertices, graph.numEdges),
          materializer(spark, opts, "mis", extraTokens = Seq(s"rounds=$rounds")))
        write(ms.orderBy("vid"), "mis")
        writeDict()
        val undecided = ms.where(F.col("st") === 0).count()
        println(s"""{"cmd":"mis","rounds":$rounds,"vertices":${graph.numVertices},"undecided":$undecided,"wall_sec":${(System.nanoTime() - t0) / 1e9}}""")
      case "ktruss" =>
        // k-truss edge peel over the symmetric simple closure, one durable
        // surviving-edge-set commit per round.
        val k = opts.getOrElse("k", "4").toInt
        val rounds = opts.getOrElse("max-rounds", "6").toInt
        val und = graph.symmetrized.where(F.col("src") =!= F.col("dst"))
        val tr = Truss.run(und, k, rounds,
          math.max(graph.numVertices, graph.numEdges),
          materializer(spark, opts, "ktruss", bucketCol = "u",
            extraTokens = Seq(s"k=$k", s"rounds=$rounds")))
        write(tr.orderBy("u", "v"), "ktruss")
        writeDict()
        println(s"""{"cmd":"ktruss","k":$k,"rounds":$rounds,"edges_kept":${tr.count()},"wall_sec":${(System.nanoTime() - t0) / 1e9}}""")
      case "nhood" =>
        // Neighborhood function N(t), t = 0..--max-t. --mode exact (BFS
        // pairs; also writes harmonic centrality) or hyperball (HLL
        // sketches — the 10⁹-vertex shape; estimates, no reach frame).
        // maxT/lgK enter the run fingerprint: a durable --resume with a
        // changed horizon or sketch width recomputes instead of mixing.
        val maxT = opts.getOrElse("max-t", "8").toInt
        val mode = opts.getOrElse("mode", "exact")
        mode match {
          case "exact" =>
            val r = Neighborhood.exact(graph, maxT,
              materializer(spark, opts, "nhood", bucketCol = "o",
                extraTokens = Seq(s"maxT=$maxT", "mode=exact")))
            write(r.counts, "nhood")
            write(Neighborhood.harmonic(graph, r.reach.get), "harmonic")
          case "hyperball" =>
            // --reverse grows out-balls (origin-side closeness/ecc); the
            // default in-balls match g_harmonic's direction. The per-vertex
            // HyperANF centralities (harmonic/closeness/ecc estimates) ride
            // the same sketch state — written as `centrality`.
            val lgK = opts.getOrElse("lgk", "12").toInt
            val rev = opts.contains("reverse")
            val r = Neighborhood.hyperball(graph, maxT, lgK,
              materializer(spark, opts, "hyperball", bucketCol = "vid",
                extraTokens = Seq(s"maxT=$maxT", s"lgK=$lgK", s"reverse=$rev",
                  "mode=hyperball")),
              reverse = rev)
            write(r.counts, "nhood")
            write(r.perVertex.get.orderBy("vid"), "centrality")
          case m => sys.error(s"unknown nhood mode $m\n$usage")
        }
        writeDict()
        println(s"""{"cmd":"nhood","mode":"$mode","max_t":$maxT,"vertices":${graph.numVertices},"wall_sec":${(System.nanoTime() - t0) / 1e9}}""")
      case "hubs" =>
        // Landmark distance labels: top-L degree landmarks, BFS from/into
        // them; labels answer dist(u→v) ≤ min_h d(u→h)+d(h→v) by join.
        val l = opts.getOrElse("landmarks", "16").toInt
        val maxT = opts.getOrElse("max-t", "6").toInt
        val r = HubLabels.build(graph, l, maxT,
          matFwd = materializer(spark, opts, "hubf", bucketCol = "o",
            extraTokens = Seq(s"L=$l", s"maxT=$maxT", "side=fwd")),
          matBwd = materializer(spark, opts, "hubb", bucketCol = "o",
            extraTokens = Seq(s"L=$l", s"maxT=$maxT", "side=bwd")))
        write(r.labelsIn.orderBy("vid", "hub"), "labels_in")
        write(r.labelsOut.orderBy("vid", "hub"), "labels_out")
        writeDict()
        println(s"""{"cmd":"hubs","landmarks":$l,"max_t":$maxT,"vertices":${graph.numVertices},"wall_sec":${(System.nanoTime() - t0) / 1e9}}""")
      case "dedup" =>
        // exact: md5 canonicalization; clusters: the end-to-end LSH →
        // verify → CC pipeline; embed: cosine near-dup pairs. With
        // --pipeline-ckpt, intermediates are durable TableIO commits.
        val dir = opts.getOrElse("dir", sys.error(s"dedup needs --dir\n$usage"))
        opts.get("pipeline-ckpt").foreach(p => spark.conf.set("spark.graft.pipeline.ckpt", p))
        val mode = opts.getOrElse("mode", "exact")
        val query = mode match {
          case "exact"    => "d_dedup_exact"
          case "clusters" => "d_dedup_clusters"
          case "embed"    => "e_embed_neardup"
          case m          => sys.error(s"unknown dedup mode $m\n$usage")
        }
        val df = graft.queries.PipelineQueries.queries(query)(spark, dir)
        val rows = writeAndCount(df, s"dedup_$mode")
        println(s"""{"cmd":"dedup","mode":"$mode","rows":$rows,"wall_sec":${(System.nanoTime() - t0) / 1e9}}""")
      case "ann" =>
        val dir = opts.getOrElse("dir", sys.error(s"ann needs --dir\n$usage"))
        opts.get("pipeline-ckpt").foreach(p => spark.conf.set("spark.graft.pipeline.ckpt", p))
        val index = opts.getOrElse("index", "lsh")
        val query = index match {
          case "lsh"   => "e_ann_lsh"
          case "ivf"   => "e_ann_ivf"
          case "brute" => "e_cosine_topk"
          case m       => sys.error(s"unknown ann index $m\n$usage")
        }
        val df = graft.queries.PipelineQueries.queries(query)(spark, dir)
        val rows = writeAndCount(df, s"ann_$index")
        println(s"""{"cmd":"ann","index":"$index","rows":$rows,"wall_sec":${(System.nanoTime() - t0) / 1e9}}""")
      case other => sys.error(s"unknown command $other\n$usage")
    }
  }
}
