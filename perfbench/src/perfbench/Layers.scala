package perfbench

/** The per-layer figures of a traced pass. Every workload reports every
  * name; a layer the workload does not reach reads 0. */
object Layers {
  val Loops = Seq("pagerank", "cc", "lpa", "durable")
  val Memos = Seq("undirected", "pagerank", "ppr", "triangles", "nhood", "hublabels", "cc")
  /** The queries the `suite` workload runs, each with its own figures. */
  val Queries = Seq(
    "d_dedup_clusters", "d_ngram_jaccard", "d_tfidf", "e_ann_lsh", "g_adamic_adar",
    "g_effdiam", "g_pagerank", "g_ppr", "g_scc")

  private val GraphSpans = Seq("graph.build", "graph.edges", "graph.symmetrized")

  /** (loop, span sum / wall) for every loop the traced pass ran. */
  def coverage(h: Harness, t: Tracer): Seq[(String, Double)] =
    Loops.flatMap { loop =>
      val ms = h.mats.collect { case (`loop`, m) => m }
      if (ms.isEmpty) None else Some(loop -> ms.map(_.coveredS).sum / t.wall(loop))
    }

  def metrics(h: Harness, t: Tracer, w: Workload, p: Pass): Seq[(String, Double, String)] = {
    val graph = {
      val c = new Counters
      GraphSpans.foreach(s => c += t.counters(s))
      Seq(("graph.build_s", t.wall("graph.build"), "s"),
        ("graph.edges_s", t.wall("graph.edges"), "s"),
        ("graph.symmetrized_s", t.wall("graph.symmetrized"), "s"),
        ("graph.jobs", c.jobs.toDouble, "count"),
        ("graph.shuffle_write_bytes", c.shuffleWrite.toDouble, "bytes"),
        ("graph.spill_bytes", c.spill.toDouble, "bytes"))
    }
    val loops = Loops.flatMap { loop =>
      val ms = h.mats.collect { case (`loop`, m) => m }.toSeq
      val wall = t.wall(loop)
      val c = t.counters(loop)
      val rounds = ms.map(_.roundS.size).sum
      def perLoop(name: String, v: Double, unit: String) = (s"$loop.$name", v, unit)
      Seq(perLoop("invariants_s", ms.map(_.callS("shared")).sum, "s"),
        perLoop("rounds", rounds.toDouble, "count"),
        perLoop("round_s", Harness.median(ms.flatMap(_.roundS)), "s"),
        perLoop("commit_s", ms.map(_.callS("iter")).sum, "s"),
        perLoop("driver_s", ms.map(_.driverS).sum, "s"),
        perLoop("jobs", c.jobs.toDouble, "count"),
        perLoop("jobs_per_round", if (rounds > 0) c.jobs.toDouble / rounds else 0.0, "count"),
        perLoop("tasks", c.tasks.toDouble, "count"),
        perLoop("shuffle_read_bytes", c.shuffleRead.toDouble, "bytes"),
        perLoop("shuffle_write_bytes", c.shuffleWrite.toDouble, "bytes"),
        perLoop("spill_bytes", c.spill.toDouble, "bytes"),
        perLoop("executor_cpu_s", c.cpuNs / 1e9, "s"),
        perLoop("gc_s", c.gcMs / 1e3, "s"),
        perLoop("slot_busy_ratio", if (wall > 0) c.runMs / 1e3 / (wall * h.cores) else 0.0, "ratio"))
    }
    val io = {
      val (commits, files) = w match {
        case c: Converge => c.ckptFiles
        case _           => (0L, 0L)
      }
      Seq(("io.commits", commits.toDouble, "count"),
        ("io.bytes_written", t.counters("durable").outBytes.toDouble, "bytes"),
        ("io.files_written", files.toDouble, "count"),
        // read-backs of the resumed call: its invariants and its state
        ("io.resume_s", h.mats.collect { case ("durable", m) => m }.drop(1)
          .map(m => m.callS("shared") + m.callS("resume")).sum, "s"))
    }
    val suite = w.isInstanceOf[Suite]
    val memo = ("memo.graph_s",
      if (suite) t.wall("graph.build") + t.wall("graph.edges") else 0.0, "s") +:
      Memos.map(m => (s"memo.${m}_s", t.wall(s"memo.$m"), "s"))
    val query = Queries.flatMap { q =>
      Seq((s"query.${q}_s", t.wall(s"query.$q"), "s"),
        (s"query.$q.jobs", t.counters(s"query.$q").jobs.toDouble, "count"))
    }
    graph ++ loops ++ io ++ memo ++ query :+ ("trace.run_s", p.wallS, "s")
  }
}
