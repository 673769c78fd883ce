package perfbench

import scala.collection.mutable

/** Edge list in plain arrays: the reference side of every graph check. */
final case class Graph(src: Array[Long], dst: Array[Long], w: Array[Double]) {
  def edges: Int = src.length

  /** Sorted distinct endpoint ids. */
  lazy val vertices: Array[Long] = (src ++ dst).distinct.sorted

  def index(v: Long): Int = java.util.Arrays.binarySearch(vertices, v)

  /** Undirected simple adjacency (self-loops and repeats dropped), by
    * vertex index.
    */
  lazy val undirected: Array[Array[Int]] = {
    val nb = Array.fill(vertices.length)(mutable.ArrayBuilder.make[Int])
    var i = 0
    while (i < edges) {
      if (src(i) != dst(i)) {
        val a = index(src(i)); val b = index(dst(i))
        nb(a) += b; nb(b) += a
      }
      i += 1
    }
    nb.map(_.result().distinct.sorted)
  }

  def digest: EdgeDigest = EdgeDigest.of(src, dst, w)
}

/** Order-free summary of an edge table, computable the same way in Spark
  * (see [[Checks.edgeDigest]]).
  */
final case class EdgeDigest(count: Long, weightSum: Double, mix: Long)

object EdgeDigest {
  val Modulus: Long = 1000000007L
  def mixOf(s: Long, d: Long, w: Double): Long =
    Math.floorMod(s * 31 + d * 17 + w.toLong * 13, Modulus)

  def of(src: Array[Long], dst: Array[Long], w: Array[Double]): EdgeDigest = {
    var mix = 0L; var ws = 0.0; var i = 0
    while (i < src.length) { mix += mixOf(src(i), dst(i), w(i)); ws += w(i); i += 1 }
    EdgeDigest(src.length.toLong, ws, mix)
  }
}

/** Plain-Scala reference implementations of the engine operations the
  * benchmark times, with the engine's documented semantics.
  */
object Ref {

  /** Co-occurrence edges (src < dst, weight = shared groups). Groups of
    * more than `maxGroup` distinct members link every member to the
    * group's smallest member instead of all pairs.
    */
  def cooccurrence(rel: Relation, maxGroup: Int = 1024): Graph = {
    require(rel.vid.forall(v => v >= 0 && v < (1L << 31)))
    require(rel.grp.forall(g => g >= 0 && g < (1L << 31)))
    val mem = Array.tabulate(rel.rows)(i => (rel.grp(i) << 32) | rel.vid(i))
    java.util.Arrays.sort(mem)
    val pairs = mutable.ArrayBuilder.make[Long]
    var i = 0
    while (i < mem.length) {
      val g = mem(i) >>> 32
      var j = i
      val members = mutable.ArrayBuilder.make[Long]
      var last = -1L
      while (j < mem.length && (mem(j) >>> 32) == g) {
        val v = mem(j) & 0xffffffffL
        if (v != last) members += v
        last = v
        j += 1
      }
      val ms = members.result()
      if (ms.length <= maxGroup) {
        var a = 0
        while (a < ms.length) {
          var b = a + 1
          while (b < ms.length) { pairs += (ms(a) << 32) | ms(b); b += 1 }
          a += 1
        }
      } else {
        var b = 1
        while (b < ms.length) { pairs += (ms(0) << 32) | ms(b); b += 1 }
      }
      i = j
    }
    val ps = pairs.result()
    java.util.Arrays.sort(ps)
    val s = mutable.ArrayBuilder.make[Long]
    val d = mutable.ArrayBuilder.make[Long]
    val w = mutable.ArrayBuilder.make[Double]
    i = 0
    while (i < ps.length) {
      var j = i
      while (j < ps.length && ps(j) == ps(i)) j += 1
      s += ps(i) >>> 32; d += ps(i) & 0xffffffffL; w += (j - i).toDouble
      i = j
    }
    Graph(s.result(), d.result(), w.result())
  }

  /** Directed PageRank with out-degree-uniform weights; dangling mass is
    * spread uniformly; exactly `iters` supersteps from rank 1/N.
    */
  def pagerank(g: Graph, iters: Int, damping: Double = 0.85): Array[Double] = {
    val n = g.vertices.length
    val si = g.src.map(g.index); val di = g.dst.map(g.index)
    val outDeg = new Array[Int](n)
    si.foreach(s => outDeg(s) += 1)
    var rank = Array.fill(n)(1.0 / n)
    (0 until iters).foreach { _ =>
      val msg = new Array[Double](n)
      var e = 0
      while (e < si.length) { msg(di(e)) += rank(si(e)) / outDeg(si(e)); e += 1 }
      var dm = 0.0
      (0 until n).foreach(v => if (outDeg(v) == 0) dm += rank(v))
      rank = Array.tabulate(n)(v => (1 - damping) / n + damping * (msg(v) + dm / n))
    }
    rank
  }

  /** Component label (the smallest vertex id in the component) per
    * vertex index.
    */
  def wcc(g: Graph): Array[Long] = {
    val n = g.vertices.length
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    (0 until g.edges).foreach { e =>
      val a = find(g.index(g.src(e))); val b = find(g.index(g.dst(e)))
      if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
    }
    // vertices are sorted, so the smallest index of a set is its min id
    Array.tabulate(n)(v => g.vertices(find(v)))
  }

  /** Synchronous weighted label propagation on the symmetrized graph:
    * each vertex takes the label with the largest summed edge weight
    * among its neighbours, ties to the smaller label.
    */
  def labelProp(g: Graph, iters: Int): Array[Long] = {
    val n = g.vertices.length
    val si = g.src.map(g.index); val di = g.dst.map(g.index)
    var label = g.vertices.clone()
    (0 until iters).foreach { _ =>
      val counts = Array.fill(n)(mutable.LongMap.empty[Double])
      var e = 0
      while (e < si.length) {
        val (a, b, w) = (si(e), di(e), g.w(e))
        counts(b)(label(a)) = counts(b).getOrElse(label(a), 0.0) + w
        counts(a)(label(b)) = counts(a).getOrElse(label(b), 0.0) + w
        e += 1
      }
      label = Array.tabulate(n) { v =>
        if (counts(v).isEmpty) label(v)
        else counts(v).toSeq.minBy { case (l, w) => (-w, l) }._1
      }
    }
    label
  }

  /** Vertex ids of the k-core of the undirected simple graph. */
  def kcore(g: Graph, k: Int): Set[Long] = {
    val adj = g.undirected
    val deg = adj.map(_.length)
    val dead = new Array[Boolean](adj.length)
    val queue = mutable.Queue.from(adj.indices.filter(deg(_) < k))
    queue.foreach(dead(_) = true)
    while (queue.nonEmpty) {
      val v = queue.dequeue()
      adj(v).foreach { u =>
        deg(u) -= 1
        if (!dead(u) && deg(u) < k) { dead(u) = true; queue += u }
      }
    }
    adj.indices.filterNot(dead).map(g.vertices).toSet
  }

  /** Global triangle count of the undirected simple graph. */
  def triangles(g: Graph): Long = {
    val adj = g.undirected
    // orient each edge from lower to higher (degree, index) rank
    def before(a: Int, b: Int) =
      adj(a).length < adj(b).length || (adj(a).length == adj(b).length && a < b)
    val out = adj.indices.map(v => adj(v).filter(before(v, _)).sorted).toArray
    var count = 0L
    out.indices.foreach { v =>
      out(v).foreach { u =>
        val a = out(v); val b = out(u)
        var i = 0; var j = 0
        while (i < a.length && j < b.length) {
          if (a(i) == b(j)) { count += 1; i += 1; j += 1 }
          else if (a(i) < b(j)) i += 1
          else j += 1
        }
      }
    }
    count
  }
}
