package graft.algo

import org.apache.spark.sql.{DataFrame, functions => F}

import graft.graph.LinkGraph

/** Hop-bounded approximate betweenness centrality — SURVEY.md §2.10;
  * durable and resumable. Sampled-source Brandes
  * (Brandes '01; the sampling variant is Brandes-Pich '07 / Bader et
  * al.): exact shortest-path counting and dependency accumulation over a
  * deterministic SOURCE SUBSET, truncated at `maxT` hops — bc(v) =
  * Σ_{s∈S} δ_s(v), the k-bounded source-sampled estimator. Both
  * approximations (source sampling, hop bound) are the published
  * web-scale trade for an O(nm) exact algorithm, and both are
  * deterministic here, so the DuckDB oracle reproduces the estimator
  * with unrolled level CTEs. σ is hash-exact by construction (integer
  * path counts carried as doubles — exact under any summation order
  * below 2^53); δ sums NON-integer doubles (σ_v/σ_w·(1+δ_w)) whose
  * accumulation order differs between engines, so the 6dp rounding
  * carries a theoretical 1-ulp boundary risk at scale — the hash gate
  * has held at three scale factors; treat a mismatch in the last
  * printed digit as ULP, not logic.
  *
  * Level-synchronous forward phase: frontier expansion computes
  * dist(s,v) AND σ(s,v) (number of shortest s→v paths) in the same
  * one-join-one-agg round the BFS loop uses — σ(v) at level t = Σ σ(u)
  * over level-(t−1) predecessors, settled vertices excluded by anti-join.
  *
  * Backward phase, levels processed strictly deepest-first (the Brandes
  * invariant: δ(w) is FINAL when its level is processed): per level one
  * edges⋈level join + one agg —
  * δ(v) = Σ_{v→w, dist(s,w)=dist(s,v)+1} σ(v)/σ(w) · (1 + δ(w)).
  * Horizon-boundary vertices (dist = maxT) have δ = 0 by truncation.
  *
  * DURABILITY: every round —
  * forward level t, backward level k — commits ONLY that round's new
  * level slice (t, s, v, sigma, delta, done) through the [[Materializer]]
  * (re-committing the whole cumulative state each round would cost
  * O(maxT × full-state) durable write volume; slices make it
  * O(full-state) total). Forward slices carry done=false, each
  * backward round commits its level's final δ with done=true. Resume
  * reads ALL committed slices ([[Materializer.resumeSlices]]) and keeps,
  * per level, the LATEST slice (a backward commit supersedes that
  * level's forward slice): no done slices ⇒ continue the forward phase
  * from max(t) (a re-checked dried frontier re-dries in one join); done
  * slices ⇒ continue backward at min(done t) − 1. A 2·maxT-round run
  * over a big graph that loses the driver restarts from its last
  * committed level, not from zero. (A cumulative-layout checkpoint dir
  * from an older build cannot be resumed by this code; point --ckpt at a
  * fresh dir.)
  *
  * Scale shape: state is O(Σ|reachable ball within maxT|) rows bucketed
  * by source; each of the 2·maxT rounds is one shuffle; no driver-side
  * state beyond the loop counters. Source count |S| and horizon maxT are
  * the two knobs that bound total work — the standard betweenness
  * estimator configuration at web scale.
  */
object Betweenness {

  /** Per-vertex bc over the directed simple graph from the given source
    * set, σ/δ truncated at maxT hops. Returns (vid, bc) for EVERY vertex
    * (0.0 where v is never strictly between a source and a farther
    * vertex), bc rounded to 6dp. */
  def run(graph: LinkGraph, sources: DataFrame, maxT: Int,
          mat: Materializer = new LocalMaterializer): DataFrame = {
    val spark = graph.spark
    IterativeConf(spark, Some(mat.loopPartitions.getOrElse(
      IterativeConf.adaptivePartitions(spark,
        math.max(graph.numVertices, graph.numEdges))))) {
      val fl = new FlatLoop(spark)
      val de = mat.shared("de",
        graph.directed.where(F.col("src") =!= F.col("dst"))
          .repartition(F.col("src")), repartitionKeys = Seq("src"))

      var iterNo = 0
      var levels = Vector.empty[DataFrame]   // (s, v, sigma) at depth t
      var deltas = Map.empty[Int, DataFrame] // done: (s, v, sigma, delta)
      var settled: DataFrame = null
      var t = 0

      // One durable commit = THIS round's new level slice (the level frame
      // is already flat-checkpointed, so the commit streams from its
      // blocks). Forward slices commit σ with done=false; backward rounds
      // commit the level's final δ with done=true.
      def commitSlice(k: Int, df: DataFrame, phase: String): Unit = {
        val slice =
          if (phase == "backward")
            df.select(F.lit(k).as("t"), F.col("s"), F.col("v"),
              F.col("sigma"), F.col("delta"), F.lit(true).as("done"))
          else
            df.select(F.lit(k).as("t"), F.col("s"), F.col("v"),
              F.col("sigma"), F.lit(0.0).as("delta"), F.lit(false).as("done"))
        mat.iter(iterNo, slice, Map("phase" -> phase, "level" -> k))
        iterNo += 1
      }

      val slices = mat.resumeSlices()
      if (slices.nonEmpty) {
        iterNo = slices.map(_._1).max + 1
        // per-commit metadata carries (phase, level); slices are ascending,
        // so the last write for a level wins (backward supersedes forward)
        val metaByIter: Map[Int, Map[String, Any]] =
          mat.log.flatMap(m => m.get("iter").map(_.toString.toInt -> m)).toMap
        var byLevel = Map.empty[Int, (DataFrame, Boolean)]
        slices.foreach { case (i, df) =>
          for (m <- metaByIter.get(i); lvl <- m.get("level")) {
            val done = m.get("phase").exists(_.toString == "backward")
            byLevel += lvl.toString.toInt -> ((df, done))
          }
        }
        val maxLvl = if (byLevel.isEmpty) 0 else byLevel.keys.max
        levels = (0 to maxLvl).toVector.map { k =>
          fl.ckpt(s"l$k", byLevel.get(k) match {
            case Some((df, _)) => df.select("s", "v", "sigma")
            case None => // unreachable for contiguous commits; safe default
              sources.limit(0).select(F.col("vid").as("s"),
                F.col("vid").as("v"), F.lit(1.0).as("sigma"))
          })
        }
        deltas = byLevel.collect { case (k, (df, true)) =>
          k -> fl.ckpt(s"d$k", df.select("s", "v", "sigma", "delta"))
        }
        settled = fl.ckpt("settled",
          levels.map(_.select("s", "v")).reduce(_ unionByName _))
        t = maxLvl
      } else {
        levels = Vector(fl.ckpt("l0",
          sources.select(F.col("vid").as("s"), F.col("vid").as("v"),
            F.lit(1.0).as("sigma"))))
        settled = fl.ckpt("settled", levels(0).select("s", "v"))
        commitSlice(0, levels(0), "forward")
      }

      // ---- forward: levels(t) = (s, v, sigma) for dist(s,v) = t.
      // Skipped entirely when any backward level is already committed.
      if (deltas.isEmpty) {
        var growing = true
        while (t < maxT && growing) {
          t += 1
          val next = fl.ckpt(s"l$t",
            levels(t - 1).join(de.withColumnRenamed("src", "v"), "v")
              .select(F.col("s"), F.col("dst").as("v"), F.col("sigma"))
              .join(settled, Seq("s", "v"), "left_anti")
              .groupBy("s", "v").agg(F.sum("sigma").as("sigma")))
          if (next.isEmpty) { growing = false; levels = levels :+ next }
          else {
            settled = fl.ckpt("settled",
              settled.unionByName(next.select("s", "v")))
            levels = levels :+ next
            commitSlice(t, next, "forward")
          }
        }
      }

      // Deepest NON-EMPTY level: only the trailing frame of a dried fresh
      // run can be empty. Pinning its δ at 0 is exactly what the backward
      // join would compute — a dried frontier means no level-(t+1)
      // successors exist, so Σ over them is the empty sum.
      val deepest =
        if (levels.isEmpty || (levels.length == 1 && levels(0).isEmpty)) -1
        else if (levels.last.isEmpty) levels.length - 2
        else levels.length - 1

      // ---- backward: delta per level, deepest-first; level `deepest`
      // has delta = 0 by horizon truncation (or by having no successors).
      if (deepest >= 0 && !deltas.contains(deepest)) {
        deltas += deepest -> fl.ckpt(s"d$deepest",
          levels(deepest).select(F.col("s"), F.col("v"), F.col("sigma"),
            F.lit(0.0).as("delta")))
        commitSlice(deepest, deltas(deepest), "backward")
      }
      var k = if (deltas.isEmpty) -1 else deltas.keys.min - 1
      while (k >= 0) {
        val contrib = levels(k)
          .join(de.withColumnRenamed("src", "v").withColumnRenamed("dst", "w"), "v")
          .join(deltas(k + 1).select(F.col("s"), F.col("v").as("w"),
            F.col("sigma").as("sigma_w"), F.col("delta").as("delta_w")),
            Seq("s", "w"))
          .groupBy("s", "v")
          .agg(F.sum(F.col("sigma") / F.col("sigma_w") * (F.col("delta_w") + 1.0))
            .as("delta"))
        val lvl = fl.ckpt(s"d$k",
          levels(k).join(contrib, Seq("s", "v"), "left")
            .select(F.col("s"), F.col("v"), F.col("sigma"),
              F.coalesce(F.col("delta"), F.lit(0.0)).as("delta")))
        deltas += k -> lvl
        commitSlice(k, lvl, "backward")
        k -= 1
      }

      // bc = Σ δ over levels ≥ 1 (level 0 is the s=v diagonal — endpoints
      // carry no betweenness mass).
      val bc = (1 to deepest).map(deltas(_))
        .reduceOption(_ unionByName _)
        .map(_.groupBy("v").agg(F.sum("delta").as("bc")))
      val joined = bc match {
        case Some(b) => graph.vertices
          .join(b.withColumnRenamed("v", "vid"), Seq("vid"), "left")
          .select(F.col("vid"),
            F.round(F.coalesce(F.col("bc"), F.lit(0.0)), 6).as("bc"))
        case None => graph.vertices
          .select(F.col("vid"), F.lit(0.0).as("bc"))
      }
      val out = fl.ckpt("result", joined.orderBy("vid"))
      // All level/delta/settled slices are dead once the result frame is
      // materialized (without this every invocation would leave 2·maxT
      // persistent RDDs behind).
      fl.releaseAll("result")
      mat.close()
      out
    }
  }
}
