package perfbench

import scala.collection.mutable

/** Reference implementations the library's outputs are checked against.
  * Vertices are dense ints 0 until n; edges are directed (src, dst)
  * pairs with no self-loops and no duplicates. */
object Ref {

  final class Adj(val n: Int, edges: Array[(Int, Int)], reverse: Boolean) {
    val off = new Array[Int](n + 1)
    val to = new Array[Int](edges.length)
    edges.foreach { case (s, d) => off((if (reverse) d else s) + 1) += 1 }
    (0 until n).foreach(i => off(i + 1) += off(i))
    private val fill = off.clone()
    edges.foreach { case (s, d) =>
      val (a, b) = if (reverse) (d, s) else (s, d)
      to(fill(a)) = b; fill(a) += 1
    }
    def foreach(v: Int)(f: Int => Unit): Unit = {
      var i = off(v); while (i < off(v + 1)) { f(to(i)); i += 1 }
    }
    def degree(v: Int): Int = off(v + 1) - off(v)
  }

  final class UnionFind(n: Int) {
    private val p = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x; while (p(r) != r) r = p(r)
      var y = x; while (p(y) != r) { val nx = p(y); p(y) = r; y = nx }
      r
    }
    def union(a: Int, b: Int): Unit = { val ra = find(a); val rb = find(b); if (ra != rb) p(ra) = rb }
  }

  /** Weak components: a representative per vertex. */
  def weakComponents(n: Int, edges: Iterable[(Int, Int)]): Array[Int] = {
    val uf = new UnionFind(n)
    edges.foreach { case (a, b) => uf.union(a, b) }
    Array.tabulate(n)(uf.find)
  }

  /** Tarjan's strongly connected components (iterative): a component
    * index per vertex. */
  def tarjan(n: Int, out: Adj): Array[Int] = {
    val index = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val comp = Array.fill(n)(-1)
    val onStack = new Array[Boolean](n)
    val stack = new Array[Int](n)
    var sp = 0
    val callV = new Array[Int](n)
    val callI = new Array[Int](n)
    var next = 0
    var comps = 0
    (0 until n).foreach { root =>
      if (index(root) < 0) {
        var depth = 0
        callV(0) = root; callI(0) = out.off(root)
        index(root) = next; low(root) = next; next += 1
        stack(sp) = root; sp += 1; onStack(root) = true
        while (depth >= 0) {
          val v = callV(depth)
          if (callI(depth) < out.off(v + 1)) {
            val w = out.to(callI(depth)); callI(depth) += 1
            if (index(w) < 0) {
              index(w) = next; low(w) = next; next += 1
              stack(sp) = w; sp += 1; onStack(w) = true
              depth += 1; callV(depth) = w; callI(depth) = out.off(w)
            } else if (onStack(w)) low(v) = math.min(low(v), index(w))
          } else {
            if (low(v) == index(v)) {
              var w = -1
              while (w != v) { sp -= 1; w = stack(sp); onStack(w) = false; comp(w) = comps }
              comps += 1
            }
            depth -= 1
            if (depth >= 0) { val u = callV(depth); low(u) = math.min(low(u), low(v)) }
          }
        }
      }
    }
    comp
  }

  /** Hop distances from `start` by queue; -1 where unreachable. */
  def bfs(out: Adj, start: Int): Array[Int] = {
    val dist = Array.fill(out.n)(-1)
    val q = new Array[Int](out.n)
    var h = 0; var t = 0
    dist(start) = 0; q(t) = start; t += 1
    while (h < t) {
      val v = q(h); h += 1
      out.foreach(v) { w => if (dist(w) < 0) { dist(w) = dist(v) + 1; q(t) = w; t += 1 } }
    }
    dist
  }

  /** PageRank by power iteration, `rounds` rounds from `init` scaled to
    * sum 1 (default uniform): teleport (1-d)/n, dangling mass spread
    * uniformly. */
  def pageRank(out: Adj, rounds: Int, d: Double = 0.85, init: Option[Array[Double]] = None): Array[Double] = {
    val n = out.n
    var rank = init.fold(Array.fill(n)(1.0 / n)) { r => val t = r.sum; r.map(_ / t) }
    (0 until rounds).foreach { _ =>
      var dangling = 0.0
      val in = new Array[Double](n)
      (0 until n).foreach { v =>
        val k = out.degree(v)
        if (k == 0) dangling += rank(v)
        else { val share = rank(v) / k; out.foreach(v)(w => in(w) += share) }
      }
      val base = (1 - d) / n + d * dangling / n
      rank = Array.tabulate(n)(v => base + d * in(v))
    }
    rank
  }

  /** Triangles of the underlying simple undirected graph. */
  def triangles(n: Int, edges: Iterable[(Int, Int)]): Long = {
    // canonical (min, max) pairs, sorted and deduplicated
    val keys = edges.iterator.filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b).toLong << 32) | math.max(a, b) }.toArray
    java.util.Arrays.sort(keys)
    val und = keys.indices.filter(i => i == 0 || keys(i) != keys(i - 1)).map(keys)
    val deg = new Array[Int](n)
    und.foreach { k => deg((k >>> 32).toInt) += 1; deg(k.toInt) += 1 }
    def rank(v: Int) = (deg(v).toLong << 32) | v
    val oriented = und.toArray.map { k =>
      val a = (k >>> 32).toInt; val b = k.toInt
      if (rank(a) < rank(b)) (a, b) else (b, a)
    }
    val fwd = new Adj(n, oriented, reverse = false)
    val mark = Array.fill(n)(-1)
    var count = 0L
    (0 until n).foreach { u =>
      fwd.foreach(u)(w => mark(w) = u)
      fwd.foreach(u)(v => fwd.foreach(v)(w => if (mark(w) == u) count += 1))
    }
    count
  }

  /** Same partition: vertices share a label exactly when they share a
    * reference class. */
  def samePartition(labels: Array[Long], classes: Array[Int]): Boolean = {
    val byClass = mutable.HashMap.empty[Int, Long]
    val byLabel = mutable.HashMap.empty[Long, Int]
    labels.indices.forall { v =>
      byClass.getOrElseUpdate(classes(v), labels(v)) == labels(v) &&
        byLabel.getOrElseUpdate(labels(v), classes(v)) == classes(v)
    }
  }

  /** Label of each class is its minimum member's surrogate id. */
  def minLabelled(labels: Array[Long], classes: Array[Int], sid: Array[Long]): Boolean = {
    val min = mutable.HashMap.empty[Int, Long]
    classes.indices.foreach(v => min(classes(v)) = math.min(min.getOrElse(classes(v), Long.MaxValue), sid(v)))
    classes.indices.forall(v => labels(v) == min(classes(v)))
  }

  /** Word 3-shingles as the library tokenizes (split on spaces). */
  def shingles(text: String, k: Int = 3): Set[String] = {
    val t = text.split(" ").filter(_.nonEmpty)
    if (t.length < k) Set.empty else t.sliding(k).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 0.0 else (a & b).size.toDouble / (a | b).size

  /** Exact top-k by the library's quantized dot product (components
    * rounded half away from zero to 1e-3), ties to the smaller id. */
  def topK(q: Array[Float], items: Iterable[(Long, Array[Float])], k: Int, exclude: Long): Seq[Long] = {
    def quant(x: Float): Long = { val a = math.floor(math.abs(x.toDouble) * 1000 + 0.5).toLong; if (x < 0) -a else a }
    val qq = q.map(quant)
    items.iterator.filter(_._1 != exclude).map { case (id, v) =>
      var s = 0L; var i = 0
      while (i < v.length) { s += qq(i) * quant(v(i)); i += 1 }
      (id, s)
    }.toSeq.sortBy { case (id, s) => (-s, id) }.take(k).map(_._1)
  }
}
