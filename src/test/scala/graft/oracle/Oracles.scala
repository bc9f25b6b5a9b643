package graft.oracle

/** In-driver plain-Scala ground-truth oracles — SURVEY.md §5.1 L1.
  * Deliberately naive (arrays + loops); correctness bar, not speed.
  */
object Oracles {

  /** Union-find: exact CC labels; label = min vid of component. */
  def connectedComponents(n: Int, edges: Seq[(Int, Int)]): Array[Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }; r }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    Array.tabulate(n)(v => find(v).toLong)
  }

  /** Dense synchronous PageRank, identical semantics to graft.algo.PageRank:
    * weighted transition, dangling redistribution, stop at linf < tol. */
  def pageRank(n: Int, edges: Seq[(Int, Int, Double)], damping: Double = 0.85,
               tol: Double = 1e-6, maxIters: Int = 100,
               fixedIters: Option[Int] = None): Array[Double] = {
    val wdeg = new Array[Double](n)
    edges.foreach { case (s, _, w) => wdeg(s) += w }
    var p = Array.fill(n)(1.0 / n)
    var iter = 0
    val iters = fixedIters.getOrElse(maxIters)
    var done = false
    while (iter < iters && !done) {
      iter += 1
      val nxt = new Array[Double](n)
      edges.foreach { case (s, d, w) => nxt(d) += p(s) * w / wdeg(s) }
      var dangling = 0.0
      (0 until n).foreach(v => if (wdeg(v) == 0.0) dangling += p(v))
      val base = (1.0 - damping) / n
      var linf = 0.0
      val out = Array.tabulate(n) { v =>
        val r = base + damping * (nxt(v) + dangling / n)
        linf = math.max(linf, math.abs(r - p(v)))
        r
      }
      p = out
      done = fixedIters.isEmpty && linf < tol
    }
    p
  }

  /** Dense personalized PageRank, the semantics of graft.algo.PageRank's
    * teleport branch: teleport and dangling mass go uniformly to `seeds`;
    * `iters` fixed rounds. With every vertex a seed it is the global
    * PageRank (unit edge weights). */
  def personalizedPageRank(n: Int, edges: Seq[(Long, Long)], seeds: Set[Long],
                           d: Double, iters: Int): Array[Double] = {
    val tele = Array.tabulate(n)(v => if (seeds(v.toLong)) 1.0 / seeds.size else 0.0)
    val wdeg = Array.fill(n)(0.0)
    edges.foreach { case (s, _) => wdeg(s.toInt) += 1.0 }
    var p = tele.clone()
    for (_ <- 1 to iters) {
      val contrib = Array.fill(n)(0.0)
      edges.foreach { case (s, t) => contrib(t.toInt) += p(s.toInt) / wdeg(s.toInt) }
      val dang = (0 until n).filter(wdeg(_) == 0.0).map(p).sum
      p = Array.tabulate(n)(v => (1 - d) * tele(v) + d * (contrib(v) + dang * tele(v)))
    }
    p
  }

  /** Synchronous LPA with smallest-label tie-break, identical to
    * graft.algo.LabelPropagation (symmetrized, distinct neighbors). */
  def lpa(n: Int, undirected: Seq[(Int, Int)], maxRounds: Int = 10): Array[Long] = {
    val nbrs = Array.fill(n)(scala.collection.mutable.Set.empty[Int])
    undirected.foreach { case (a, b) => if (a != b) { nbrs(a) += b; nbrs(b) += a } }
    var label = Array.tabulate(n)(_.toLong)
    var round = 0
    var changed = -1
    while (changed != 0 && round < maxRounds) {
      round += 1
      changed = 0
      val next = Array.tabulate(n) { v =>
        if (nbrs(v).isEmpty) label(v)
        else {
          val cnt = scala.collection.mutable.Map.empty[Long, Int]
          nbrs(v).foreach(u => cnt(label(u)) = cnt.getOrElse(label(u), 0) + 1)
          // argmax count, ties -> smallest label
          cnt.toSeq.maxBy { case (l, c) => (c, -l) }._1
        }
      }
      (0 until n).foreach(v => if (next(v) != label(v)) changed += 1)
      label = next
    }
    label
  }

  /** Brute-force triangle enumeration over the undirected simple graph. */
  def triangles(n: Int, undirected: Seq[(Int, Int)]): (Long, Array[Long]) = {
    val adj = Array.fill(n)(scala.collection.mutable.Set.empty[Int])
    undirected.foreach { case (a, b) => if (a != b) { adj(a) += b; adj(b) += a } }
    var total = 0L
    val per = new Array[Long](n)
    for (u <- 0 until n; v <- adj(u) if v > u; w <- adj(u) if w > v) {
      if (adj(v).contains(w)) { total += 1; per(u) += 1; per(v) += 1; per(w) += 1 }
    }
    (total, per)
  }

  /** Iterative Tarjan SCC (explicit work stack; no JVM recursion limit);
    * label = min vid per strongly connected component. */
  def tarjanScc(n: Int, edges: Seq[(Long, Long)]): Array[Long] = {
    val adj = Array.fill(n)(List.empty[Int])
    edges.foreach { case (a, b) => adj(a.toInt) ::= b.toInt }
    val index = Array.fill(n)(-1); val low = new Array[Int](n)
    val onStack = new Array[Boolean](n); val label = new Array[Long](n)
    var stack = List.empty[Int]; var idx = 0
    def strongConnect(v0: Int): Unit = {
      var work = List((v0, adj(v0)))
      index(v0) = idx; low(v0) = idx; idx += 1; stack ::= v0; onStack(v0) = true
      while (work.nonEmpty) {
        val (v, rest) = work.head
        rest match {
          case w :: tail =>
            work = (v, tail) :: work.tail
            if (index(w) == -1) {
              index(w) = idx; low(w) = idx; idx += 1; stack ::= w; onStack(w) = true
              work = (w, adj(w)) :: work
            } else if (onStack(w)) low(v) = math.min(low(v), index(w))
          case Nil =>
            work = work.tail
            work.headOption.foreach { case (p, _) => low(p) = math.min(low(p), low(v)) }
            if (low(v) == index(v)) {
              var comp = List.empty[Int]; var done = false
              while (!done) {
                val w = stack.head; stack = stack.tail; onStack(w) = false
                comp ::= w; done = w == v
              }
              val m = comp.min.toLong
              comp.foreach(w => label(w) = m)
            }
        }
      }
    }
    (0 until n).foreach(v => if (index(v) == -1) strongConnect(v))
    label
  }

  /** k-core membership by peel-to-fixpoint over the symmetrized distinct
    * neighbor sets (order-independent — the k-core is unique). */
  def kcore(n: Int, undirected: Seq[(Long, Long)], k: Int): Set[Long] = {
    val nbrs = Array.fill(n)(scala.collection.mutable.Set.empty[Int])
    undirected.foreach { case (a, b) =>
      if (a != b) { nbrs(a.toInt) += b.toInt; nbrs(b.toInt) += a.toInt } }
    var surv = (0 until n).toSet
    var stable = false
    while (!stable) {
      val next = surv.filter(v => nbrs(v).count(surv) >= k)
      stable = next == surv; surv = next
    }
    surv.map(_.toLong)
  }

  /** All-pairs directed BFS distances truncated at maxT: dist(o)(v) = hop
    * distance along edge direction, -1 beyond maxT / unreachable. */
  def bfsAll(n: Int, edges: Seq[(Long, Long)], maxT: Int): Array[Array[Int]] = {
    val adj = Array.fill(n)(scala.collection.mutable.Set.empty[Int])
    edges.foreach { case (s, d) => if (s != d) adj(s.toInt) += d.toInt }
    Array.tabulate(n) { o =>
      val dist = Array.fill(n)(-1)
      dist(o) = 0
      var frontier = List(o)
      var t = 0
      while (frontier.nonEmpty && t < maxT) {
        t += 1
        val next = scala.collection.mutable.ListBuffer.empty[Int]
        frontier.foreach(v => adj(v).foreach { u =>
          if (dist(u) < 0) { dist(u) = t; next += u } })
        frontier = next.toList
      }
      dist
    }
  }
}
