package graft.oracle

import graft.{EcConfig, LpConfig, PrConfig}
import scala.collection.mutable

/** In-repo single-threaded oracles — the operationalized "reference
  * implementation" (SURVEY §0, §5.1): /root/reference is empty, so these
  * obviously-correct plain-Scala implementations define the semantics the
  * distributed engine must match (PageRank allclose 1e-6; WCC/LP/triangles
  * exact — BASELINE.json:14).
  *
  * Inputs are unique directed (src, dst, weight) triples; vertices are
  * inferred from edge endpoints.
  */
object Oracles {

  def verticesOf(edges: Seq[(Long, Long, Double)]): Seq[Long] =
    (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted

  /** Dense power-iteration PageRank, semantics identical to the engine:
    * rank'(v) = (1-d)/N + d·(Σ_{u→v} rank(u)·w(u,v) + danglingMass/N),
    * loop while iter < maxIter && maxDelta > tol.
    */
  def pageRank(
      edges: Seq[(Long, Long, Double)],
      cfg: PrConfig,
  ): Map[Long, Double] = {
    val verts = verticesOf(edges)
    val n = verts.length
    val idx = verts.zipWithIndex.toMap
    val outW = new Array[Double](n)
    val outDeg = new Array[Int](n)
    edges.foreach { case (s, _, w) =>
      outW(idx(s)) += w; outDeg(idx(s)) += 1
    }
    val d = cfg.damping
    var rank = Array.fill(n)(1.0 / n)
    var iter = 0
    var delta = Double.MaxValue
    while (iter < cfg.maxIter && delta > cfg.tol) {
      val msg = new Array[Double](n)
      edges.foreach { case (s, t, w) =>
        val si = idx(s)
        val share =
          if (cfg.weighted) w / outW(si) else 1.0 / outDeg(si)
        msg(idx(t)) += rank(si) * share
      }
      var dm = 0.0
      var i = 0
      while (i < n) { if (outDeg(i) == 0) dm += rank(i); i += 1 }
      val next = new Array[Double](n)
      delta = 0.0
      i = 0
      while (i < n) {
        next(i) = (1.0 - d) / n + d * (msg(i) + dm / n)
        val dd = math.abs(next(i) - rank(i))
        if (dd > delta) delta = dd
        i += 1
      }
      rank = next
      iter += 1
    }
    verts.map(v => v -> rank(idx(v))).toMap
  }

  /** Union-find WCC; component id = min vid in the component. */
  def wcc(edges: Seq[(Long, Long, Double)]): Map[Long, Long] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val nxt = parent(c); parent(c) = r; c = nxt
      }
      r
    }
    def union(a: Long, b: Long): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val verts = verticesOf(edges)
    verts.foreach(v => parent.getOrElseUpdate(v, v))
    edges.foreach { case (s, t, _) => union(s, t) }
    // min vid is the root by construction (we always hang max under min)
    verts.map(v => v -> find(v)).toMap
  }

  /** Both directions of every edge, weights of equal pairs merged (the
    * engine's EdgeBuilder.symmetrize).
    */
  private def symmetrized(
      edges: Seq[(Long, Long, Double)],
  ): Seq[(Long, Long, Double)] = {
    val m = mutable.Map.empty[(Long, Long), Double]
    edges.foreach { case (s, t, w) =>
      m((s, t)) = m.getOrElse((s, t), 0.0) + w
      m((t, s)) = m.getOrElse((t, s), 0.0) + w
    }
    m.toSeq.map { case ((s, t), w) => (s, t, w) }
  }

  /** Synchronous label propagation, weighted frequency, smallest-label
    * tie-break, fixed iteration count — identical rule to the engine.
    */
  def labelProp(
      edges: Seq[(Long, Long, Double)],
      cfg: LpConfig,
  ): Map[Long, Long] = {
    val base = symmetrized(edges)
    val verts = verticesOf(base)
    var label = verts.map(v => v -> v).toMap
    for (_ <- 0 until cfg.iterations) {
      val counts =
        mutable.Map.empty[Long, mutable.Map[Long, Double]]
      base.foreach { case (s, t, w) =>
        val c = counts.getOrElseUpdate(t, mutable.Map.empty)
        val l = label(s)
        val ww = if (cfg.weighted) w else 1.0
        c(l) = c.getOrElse(l, 0.0) + ww
      }
      label = verts.map { v =>
        counts.get(v) match {
          case None => v -> label(v)
          case Some(c) =>
            val best = c.toSeq.minBy { case (l, w) => (-w, l) }
            v -> best._1
        }
      }.toMap
    }
    label
  }

  /** Exact triangle count: (global, per-vertex). */
  def triangles(
      edges: Seq[(Long, Long, Double)]
  ): (Long, Map[Long, Long]) = {
    val und = edges
      .map { case (s, t, _) => (math.min(s, t), math.max(s, t)) }
      .filter { case (a, b) => a != b }
      .distinct
    val adj = mutable.Map.empty[Long, mutable.Set[Long]]
    und.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, mutable.Set.empty) += b
      adj.getOrElseUpdate(b, mutable.Set.empty) += a
    }
    val verts = verticesOf(edges)
    val per = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    var global = 0L
    und.foreach { case (a, b) =>
      val na = adj(a); val nb = adj(b)
      val (small, big) = if (na.size <= nb.size) (na, nb) else (nb, na)
      small.foreach { w =>
        if (w > b && big.contains(w)) {
          global += 1
          per(a) += 1; per(b) += 1; per(w) += 1
        }
      }
    }
    (global, verts.map(v => v -> per(v)).toMap)
  }

  /** Dense personalized PageRank: teleport AND dangling mass return to
    * the seed set (reset vector, 1/|S| each); rank0 = reset. Mirrors
    * [[graft.algos.Ppr]]'s Scaladoc semantics exactly.
    */
  def ppr(
      edges: Seq[(Long, Long, Double)],
      sources: Set[Long],
      cfg: PrConfig,
  ): Map[Long, Double] = {
    val verts = verticesOf(edges)
    val n = verts.length
    val idx = verts.zipWithIndex.toMap
    val outW = new Array[Double](n)
    val outDeg = new Array[Int](n)
    edges.foreach { case (s, _, w) =>
      outW(idx(s)) += w; outDeg(idx(s)) += 1
    }
    val inS = verts.map(v => sources.contains(v))
    val nS = inS.count(identity)
    require(nS > 0, "oracle ppr needs a non-empty seed set")
    val reset = verts.indices.map(i => if (inS(i)) 1.0 / nS else 0.0)
    val d = cfg.damping
    var rank = reset.toArray
    var iter = 0
    var delta = Double.MaxValue
    while (iter < cfg.maxIter && delta > cfg.tol) {
      val msg = new Array[Double](n)
      edges.foreach { case (s, t, w) =>
        val si = idx(s)
        val share =
          if (cfg.weighted) w / outW(si) else 1.0 / outDeg(si)
        msg(idx(t)) += rank(si) * share
      }
      var dm = 0.0
      var i = 0
      while (i < n) { if (outDeg(i) == 0) dm += rank(i); i += 1 }
      val next = new Array[Double](n)
      delta = 0.0
      i = 0
      while (i < n) {
        next(i) = (1.0 - d) * reset(i) + d * (msg(i) + dm * reset(i))
        val dd = math.abs(next(i) - rank(i))
        if (dd > delta) delta = dd
        i += 1
      }
      rank = next
      iter += 1
    }
    verts.map(v => v -> rank(idx(v))).toMap
  }

  /** Undirected multi-source BFS hop distance; reached vertices only. */
  def bfs(
      edges: Seq[(Long, Long, Double)],
      sources: Set[Long],
  ): Map[Long, Long] = {
    val adj = mutable.Map.empty[Long, mutable.Set[Long]]
    edges.foreach { case (s, t, _) =>
      if (s != t) {
        adj.getOrElseUpdate(s, mutable.Set.empty) += t
        adj.getOrElseUpdate(t, mutable.Set.empty) += s
      }
    }
    // vertex universe = endpoints of non-self-loop edges (self-loop-only
    // vertices vanish from the engine's symmetrized graph too)
    val dist = mutable.Map.empty[Long, Long]
    val queue = mutable.Queue.empty[Long]
    sources.intersect(adj.keySet).foreach { s => dist(s) = 0L; queue += s }
    while (queue.nonEmpty) {
      val v = queue.dequeue()
      adj.getOrElse(v, Set.empty).foreach { u =>
        if (!dist.contains(u)) { dist(u) = dist(v) + 1; queue += u }
      }
    }
    dist.toMap
  }

  /** Undirected multi-source Dijkstra (min total weight); reached only.
    * Weights merged per undirected pair like the engine's symmetrize
    * (w(u,v) + w(v,u) when both directions exist).
    */
  def sssp(
      edges: Seq[(Long, Long, Double)],
      sources: Set[Long],
  ): Map[Long, Double] = {
    val w = mutable.Map.empty[(Long, Long), Double]
    edges.foreach { case (s, t, ew) =>
      if (s != t) {
        w((s, t)) = w.getOrElse((s, t), 0.0) + ew
        w((t, s)) = w.getOrElse((t, s), 0.0) + ew
      }
    }
    val adj = mutable.Map.empty[Long, mutable.Map[Long, Double]]
    w.foreach { case ((s, t), ew) =>
      adj.getOrElseUpdate(s, mutable.Map.empty)(t) = ew
    }
    val dist = mutable.Map.empty[Long, Double]
    val pq = mutable.PriorityQueue.empty[(Double, Long)](
      Ordering.by[(Double, Long), Double](_._1).reverse
    )
    sources.intersect(adj.keySet).foreach { s =>
      dist(s) = 0.0; pq.enqueue((0.0, s))
    }
    while (pq.nonEmpty) {
      val (d, v) = pq.dequeue()
      if (d <= dist(v)) {
        adj.getOrElse(v, Map.empty).foreach { case (u, ew) =>
          val nd = d + ew
          if (!dist.contains(u) || nd < dist(u)) {
            dist(u) = nd; pq.enqueue((nd, u))
          }
        }
      }
    }
    dist.toMap
  }

  /** Sequential k-core peeling (the obviously-correct order-free form:
    * repeatedly delete ANY vertex of degree < k until none remains).
    * Degree = distinct undirected neighbors, self-loops dropped.
    */
  def kcore(edges: Seq[(Long, Long, Double)], k: Int): Set[Long] = {
    val adj = mutable.Map.empty[Long, mutable.Set[Long]]
    edges.foreach { case (s, t, _) =>
      if (s != t) {
        adj.getOrElseUpdate(s, mutable.Set.empty) += t
        adj.getOrElseUpdate(t, mutable.Set.empty) += s
      }
    }
    verticesOf(edges).foreach(v =>
      adj.getOrElseUpdate(v, mutable.Set.empty))
    val queue = mutable.Queue.from(adj.collect {
      case (v, ns) if ns.size < k => v
    })
    val dead = mutable.Set.empty[Long]
    while (queue.nonEmpty) {
      val v = queue.dequeue()
      if (!dead.contains(v)) {
        dead += v
        adj(v).foreach { u =>
          adj(u) -= v
          if (adj(u).size < k && !dead.contains(u)) queue += u
        }
      }
    }
    adj.keySet.toSet -- dead
  }

  /** Dense eigenvector centrality: k power-iteration steps with per-step
    * L1 normalization over the symmetrized graph. Mirrors
    * [[graft.algos.Eigen]]'s Scaladoc semantics exactly: y0 = 1,
    * y'(v) = Σ w·y(u)/T, out = y_k/T_k.
    */
  def eigen(
      edges: Seq[(Long, Long, Double)],
      cfg: EcConfig,
  ): Map[Long, Double] = {
    val base = symmetrized(edges)
    val verts = verticesOf(base)
    var y = verts.map(v => v -> 1.0).toMap
    var total = y.values.sum
    for (_ <- 0 until cfg.iterations) {
      val next = mutable.Map.empty[Long, Double].withDefaultValue(0.0)
      base.foreach { case (s, t, w) =>
        val ww = if (cfg.weighted) w else 1.0
        next(t) += ww * y(s) / total
      }
      y = verts.map(v => v -> next(v)).toMap
      total = y.values.sum
    }
    y.map { case (v, s) => v -> s / total }
  }

  /** Brute-force resource-allocation link prediction: for every
    * non-adjacent unordered pair (u, v), cn = |N(u) ∩ N(v)| and
    * ra = Σ_{w ∈ N(u) ∩ N(v), deg(w) <= maxDeg} 1/deg(w), keeping pairs
    * with at least one counted common neighbor. Degrees are distinct
    * undirected neighbors; centers above maxDeg contribute to NEITHER
    * cn nor ra (the cap excludes the center entirely — mirrors
    * [[graft.algos.LinkPred]]).
    */
  def resourceAllocation(
      edges: Seq[(Long, Long, Double)],
      maxDeg: Int,
  ): Map[(Long, Long), (Long, Double)] = {
    val adj = mutable.Map.empty[Long, mutable.Set[Long]]
    edges.foreach { case (s, t, _) =>
      if (s != t) {
        adj.getOrElseUpdate(s, mutable.Set.empty) += t
        adj.getOrElseUpdate(t, mutable.Set.empty) += s
      }
    }
    val out = mutable.Map.empty[(Long, Long), (Long, Double)]
    adj.foreach { case (w, ns) =>
      if (ns.size <= maxDeg) {
        val sorted = ns.toSeq.sorted
        for {
          i <- sorted.indices
          j <- (i + 1) until sorted.size
        } {
          val key = (sorted(i), sorted(j))
          val (c, r) = out.getOrElse(key, (0L, 0.0))
          out(key) = (c + 1, r + 1.0 / ns.size)
        }
      }
    }
    val existing = edges.flatMap { case (s, t, _) =>
      if (s != t) Some((math.min(s, t), math.max(s, t))) else None
    }.toSet
    out.filter { case (k, _) => !existing.contains(k) }.toMap
  }

  /** K-truss by synchronous peeling: each round computes every edge's
    * support (common neighbors WITHIN the current edge set) and drops
    * all edges below k-2 at once, to the fixpoint. Mirrors
    * [[graft.algos.KTruss]]'s Scaladoc semantics exactly.
    */
  def ktruss(
      edges: Seq[(Long, Long, Double)],
      k: Int,
  ): Set[(Long, Long)] = {
    var cur = edges
      .map { case (s, t, _) => (math.min(s, t), math.max(s, t)) }
      .filter { case (a, b) => a != b }
      .toSet
    var stable = false
    while (!stable && cur.nonEmpty) {
      val adj = mutable.Map.empty[Long, mutable.Set[Long]]
      cur.foreach { case (a, b) =>
        adj.getOrElseUpdate(a, mutable.Set.empty) += b
        adj.getOrElseUpdate(b, mutable.Set.empty) += a
      }
      val next = cur.filter { case (a, b) =>
        adj(a).intersect(adj(b)).size >= k - 2
      }
      stable = next == cur
      cur = next
    }
    cur
  }

  /** Newman modularity of a vertex partition over the simple undirected
    * graph: Q = A/m - B/(4m²) with A = within-community edges,
    * B = Σ_c (Σ_{v∈c} deg v)², m = |undirected edges|.
    */
  def modularity(
      edges: Seq[(Long, Long, Double)],
      labels: Map[Long, Long],
  ): Double = {
    val und = edges
      .map { case (s, t, _) => (math.min(s, t), math.max(s, t)) }
      .filter { case (a, b) => a != b }
      .distinct
    val m = und.size.toLong
    if (m == 0) return 0.0
    val a = und.count { case (u, v) => labels(u) == labels(v) }.toLong
    val deg = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    und.foreach { case (u, v) => deg(u) += 1; deg(v) += 1 }
    val dsum = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    deg.foreach { case (v, d) => dsum(labels(v)) += d }
    val b = dsum.values.map(d => d.toDouble * d).sum
    a.toDouble / m - b / (4.0 * m * m)
  }

  /** Deterministic one-level Louvain move pass — mirrors
    * graft.algos.Louvain EXACTLY (unweighted simple graph, synchronous
    * gain-argmax rounds in exact BigInt arithmetic, own community always
    * a candidate, strict improvement, smallest-community tie-break,
    * ((vid%2)+2)%2 == r%2 parity gate, singleton minimum-label guard,
    * fixed round count).
    */
  def louvain(
      edges: Seq[(Long, Long, Double)],
      rounds: Int,
  ): Map[Long, Long] = {
    val und = edges
      .map { case (s, t, _) => (math.min(s, t), math.max(s, t)) }
      .filter { case (a, b) => a != b }
      .distinct
    val m = und.size.toLong
    val adj = mutable.Map.empty[Long, mutable.ArrayBuffer[Long]]
    und.foreach { case (u, v) =>
      adj.getOrElseUpdate(u, mutable.ArrayBuffer.empty) += v
      adj.getOrElseUpdate(v, mutable.ArrayBuffer.empty) += u
    }
    val verts = adj.keys.toSeq
    val deg: Map[Long, Long] = adj.map { case (v, ns) => v -> ns.size.toLong }.toMap
    var comm: Map[Long, Long] = verts.map(v => v -> v).toMap
    for (r <- 1 to rounds) {
      val tot = mutable.Map.empty[Long, Long].withDefaultValue(0L)
      val csz = mutable.Map.empty[Long, Long].withDefaultValue(0L)
      verts.foreach { v => tot(comm(v)) += deg(v); csz(comm(v)) += 1L }
      comm = verts.map { v =>
        val own = comm(v)
        val k = mutable.Map.empty[Long, Long].withDefaultValue(0L)
        adj(v).foreach(n => k(comm(n)) += 1L)
        if (!k.contains(own)) k(own) = 0L
        val gains = k.map { case (c, kc) =>
          val corr = if (c == own) deg(v) else 0L
          c -> (BigInt(2L * m) * kc - BigInt(deg(v)) * (tot(c) - corr))
        }.toSeq
        val stay = gains.collectFirst { case (c, g) if c == own => g }.get
        // singleton minimum-label guard (Lu et al. 2015 §4.1)
        val allowed = gains.filter { case (c, _) =>
          c == own || !(csz(c) == 1L && csz(own) == 1L && c > own)
        }
        val (bc, bg) = allowed.reduceLeft { (a, b) =>
          if (b._2 > a._2 || (b._2 == a._2 && b._1 < a._1)) b else a
        }
        if (((v % 2) + 2) % 2 == r % 2 && bg > stay) v -> bc else v -> own
      }.toMap
    }
    comm
  }

  /** Strongly-connected components of the DIRECTED edge set via iterative
    * Tarjan (a different algorithm from the engine's trim+FW-BW min-label
    * peeling — agreement is evidence, not tautology). Returns
    * vid -> min vid of its SCC, the engine's output contract.
    */
  def scc(edges: Seq[(Long, Long, Double)]): Map[Long, Long] = {
    val adj = mutable.Map.empty[Long, mutable.ArrayBuffer[Long]]
    edges.foreach { case (s, t, _) =>
      if (s != t) adj.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += t
    }
    val verts = verticesOf(edges)
    val index = mutable.Map.empty[Long, Int]
    val low = mutable.Map.empty[Long, Int]
    val onStack = mutable.Set.empty[Long]
    val stack = mutable.ArrayBuffer.empty[Long]
    val out = mutable.Map.empty[Long, Long]
    var counter = 0
    // explicit work stack: (vertex, next-child cursor) — Tarjan without
    // recursion so long chains cannot overflow the JVM stack
    verts.foreach { root =>
      if (!index.contains(root)) {
        val work = mutable.ArrayBuffer[(Long, Int)]((root, 0))
        while (work.nonEmpty) {
          val (v, ci) = work.remove(work.size - 1)
          if (ci == 0) {
            index(v) = counter; low(v) = counter; counter += 1
            stack += v; onStack += v
          }
          val kids = adj.getOrElse(v, mutable.ArrayBuffer.empty)
          var i = ci
          var descended = false
          while (i < kids.size && !descended) {
            val w = kids(i)
            if (!index.contains(w)) {
              work += ((v, i + 1)); work += ((w, 0)); descended = true
            } else {
              if (onStack(w)) low(v) = math.min(low(v), index(w))
              i += 1
            }
          }
          if (!descended) {
            if (low(v) == index(v)) {
              val comp = mutable.ArrayBuffer.empty[Long]
              var w = 0L
              do {
                w = stack.remove(stack.size - 1); onStack -= w; comp += w
              } while (w != v)
              val m = comp.min
              comp.foreach(out(_) = m)
            }
            // propagate lowlink to the parent frame, if any
            if (work.nonEmpty) {
              val p = work(work.size - 1)._1
              low(p) = math.min(low(p), low(v))
            }
          }
        }
      }
    }
    out.toMap
  }
}
