package perfbench

import scala.collection.mutable
import scala.util.Random

/** Seeded input generators. Every structural parameter that sets a round
  * count (cluster-ring length, hub count) and every size is fixed; the
  * seed draws the edges, the vertex names and the store contents, so
  * different seeds cost the library alike. */
object Gen {

  /** A graph over dense vertices 0 until n with string names. */
  final case class G(names: Array[String], edges: Array[(Int, Int)]) {
    def n: Int = names.length
    lazy val index: Map[String, Int] = names.zipWithIndex.toMap
  }

  /** A unique, well-spread set key for the pair (a, b): the packed pair
    * times an odd constant (a bijection on longs). */
  private def key(a: Int, b: Int): Long = ((a.toLong << 32) | (b & 0xffffffffL)) * 0x9E3779B97F4A7C15L

  /** Distinct edges without self-loops, drawn until `m` are collected. */
  private def collect(m: Int)(draw: => (Int, Int)): Array[(Int, Int)] = {
    val seen = mutable.LinkedHashSet.empty[Long]
    val out = mutable.ArrayBuffer.empty[(Int, Int)]
    while (out.size < m) {
      val (a, b) = draw
      if (a != b && seen.add(key(a, b))) out += ((a, b))
    }
    out.toArray
  }

  private def names(rnd: Random, n: Int, prefix: String): Array[String] = {
    val perm = rnd.shuffle((0 until n).toVector)
    Array.tabulate(n)(i => s"$prefix${perm(i)}")
  }

  /** A small graph of n vertices and about 3n edges in two weak
    * components, with round counts fixed by construction:
    *  - star part (the first n/2 vertices): 4 hubs; leaf v has
    *    hub(v mod 4) -> v, v -> hub(v+1 mod 4) and one uniform edge to
    *    another leaf (one SCC, every vertex within a few hops);
    *  - deep part (the other m vertices): the circulant digraph
    *    i -> i+1, i+17, i+97 (mod m), one SCC. It is vertex-transitive, so
    *    every vertex has the same eccentricity (16 directed, 8 undirected
    *    at m = 300), and it exceeds the star part's: the rounds of SCC,
    *    Pregel CC and BFS from a deep vertex do not depend on where the
    *    seed's names put the minimum id.
    * The seed draws the leaf edges and the vertex names. */
  def small(rnd: Random, n: Int): G = {
    val half = n / 2
    val m = n - half
    val deep = (0 until m).toArray.flatMap(i => Seq(1, 17, 97).map(j => (half + i, half + (i + j) % m)))
    G(names(rnd, n, "s"), starEdges(rnd, half) ++ deep)
  }

  private def starEdges(rnd: Random, n: Int): Array[(Int, Int)] = {
    val hubs = 4
    (hubs until n).toArray.flatMap { v =>
      var w = v
      while (w == v) w = hubs + rnd.nextInt(n - hubs)
      Seq((v % hubs, v), (v, (v + 1) % hubs), (v, w))
    }
  }

  /** Undirected store graph: a random base over `n` vertices plus
    * `attachable` isolated ones, and a batch of one edge per isolated
    * vertex (each joins the spanning forest, so deleting it cuts the
    * forest) and `extraEdges` new edges inside the giant component
    * (these never cut it). */
  final case class Store(base: G, attach: Array[(String, String)], extra: Array[(String, String)])

  def store(rnd: Random, n: Int, m: Int, attachable: Int, extraEdges: Int): Store = {
    val edges = collect(m) { val a = rnd.nextInt(n); val b = rnd.nextInt(n); (math.min(a, b), math.max(a, b)) }
    val g = G(names(rnd, n, "g") ++ Array.tabulate(attachable)(i => s"iso$i"), edges)
    val comp = Ref.weakComponents(g.n, g.edges)
    val giant = comp.groupBy(identity).maxBy(_._2.length)._1
    val inGiant = (0 until n).filter(comp(_) == giant).toArray
    val known = g.edges.map { case (a, b) => key(a, b) }.toSet
    val extra = mutable.LinkedHashSet.empty[(Int, Int)]
    while (extra.size < extraEdges) {
      val a = inGiant(rnd.nextInt(inGiant.length)); val b = inGiant(rnd.nextInt(inGiant.length))
      val e = (math.min(a, b), math.max(a, b))
      if (a != b && !known(key(e._1, e._2))) extra += e
    }
    def name(v: Int) = g.names(v)
    Store(g,
      (n until g.n).toArray.map(v => (name(inGiant(rnd.nextInt(inGiant.length))), name(v))),
      extra.toArray.map { case (a, b) => (name(a), name(b)) })
  }

  /** Corpus over a fixed vocabulary with planted duplicates: `exact`
    * groups of verbatim copies and `near` copies with one word changed. */
  final case class Corpus(docs: Array[(Long, String)], exactGroups: Seq[Seq[Long]])

  private def words(rnd: Random, len: Int): Seq[String] = Seq.fill(len)(s"w${rnd.nextInt(400)}")

  def corpus(rnd: Random, n: Int, firstId: Long, exactShare: Double, nearShare: Double,
      from: Seq[(Long, String)] = Nil): Corpus = {
    val docs = mutable.ArrayBuffer.empty[(Long, String)]
    val groups = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Long]]
    val pool = mutable.ArrayBuffer.empty[(Long, String)] ++ from
    (0 until n).foreach { i =>
      val id = firstId + i
      val r = rnd.nextDouble()
      val text =
        if (pool.nonEmpty && r < exactShare) pool(rnd.nextInt(pool.size))._2
        else if (pool.nonEmpty && r < exactShare + nearShare) {
          val t = pool(rnd.nextInt(pool.size))._2.split(" ")
          t(rnd.nextInt(t.length)) = s"x${rnd.nextInt(1000000)}"
          t.mkString(" ")
        } else words(rnd, 40 + rnd.nextInt(41)).mkString(" ")
      docs += ((id, text)); pool += ((id, text))
    }
    (from ++ docs).foreach { case (id, t) => groups.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += id }
    Corpus(docs.toArray, groups.values.filter(_.size > 1).map(_.toSeq.sorted).toSeq)
  }

  /** Clustered embeddings: `clusters` gaussian centres in `dim`
    * dimensions, members at noise 0.15. */
  def embeddings(rnd: Random, centres: Array[Array[Float]], n: Int, firstId: Long): Array[(Long, Array[Float])] =
    Array.tabulate(n) { i =>
      val c = centres(rnd.nextInt(centres.length))
      (firstId + i, c.map(x => x + (rnd.nextGaussian() * 0.15).toFloat))
    }

  def centres(rnd: Random, clusters: Int, dim: Int): Array[Array[Float]] =
    Array.fill(clusters)(Array.fill(dim)(rnd.nextGaussian().toFloat))
}
