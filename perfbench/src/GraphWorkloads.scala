package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.algorithms.{BreadthFirstSearch, ConnectedComponents, PageRank,
  StronglyConnectedComponents, TriangleCount}
import graft.core.Graph
import graft.sources.GraphIO

/** A generated graph written as raw parquet, with its reference answers
  * (BFS from `start`) and, once indexed, the library's surrogate id for
  * each vertex. */
final class CheckedGraph(val g: Gen.G, val dir: String, val start: Int) {
  val out = new Ref.Adj(g.n, g.edges, reverse = false)
  lazy val weak: Array[Int] = Ref.weakComponents(g.n, g.edges)
  lazy val scc: Array[Int] = Ref.tarjan(g.n, out)
  lazy val triangles: Long = Ref.triangles(g.n, g.edges)
  lazy val dist: Array[Int] = Ref.bfs(out, start)
  private val ranks = mutable.HashMap.empty[Int, Array[Double]]
  def pageRank(rounds: Int): Array[Double] = ranks.getOrElseUpdate(rounds, Ref.pageRank(out, rounds))
  lazy val outDeg: Array[Int] = Array.tabulate(g.n)(out.degree)
  lazy val inDeg: Array[Int] = { val d = new Array[Int](g.n); g.edges.foreach(e => d(e._2) += 1); d }

  var sid: Array[Long] = Array.empty
  var bySid: Map[Long, Int] = Map.empty

  def write(spark: SparkSession): Unit = {
    import spark.implicits._
    g.names.toSeq.toDF("id").write.mode("overwrite").parquet(s"$dir/vertices")
    g.edges.toSeq.map { case (a, b) => (g.names(a), g.names(b)) }.toDF("src", "dst")
      .write.mode("overwrite").parquet(s"$dir/edges")
  }

  /** The library's indexing of the raw parquet, pinned. */
  def index(spark: SparkSession): Graph =
    Graph.index(spark.read.parquet(s"$dir/vertices"), spark.read.parquet(s"$dir/edges"))
      .localCheckpointed()

  def learnIds(ig: Graph): Seq[String] = {
    val m = ig.vertices.select("old_id", "id").collect()
      .map(r => g.index(r.getString(0)) -> r.getLong(1)).toMap
    sid = Array.tabulate(g.n)(v => m.getOrElse(v, Long.MinValue))
    bySid = m.map(_.swap)
    if (m.size != g.n) Seq(s"indexed ${m.size} vertices, expected ${g.n}") else Nil
  }

  // ---- checks of collected outputs ----

  /** (id, value) rows keyed to dense vertices; every vertex exactly once. */
  private def dense[T](rows: Array[Row], value: Row => T, all: Boolean = true): Either[String, Map[Int, T]] = {
    val m = mutable.HashMap.empty[Int, T]
    rows.foreach { r =>
      bySid.get(r.getLong(0)) match {
        case Some(v) if !m.contains(v) => m(v) = value(r)
        case Some(_) => return Left(s"vertex ${r.getLong(0)} reported twice")
        case None => return Left(s"unknown vertex id ${r.getLong(0)}")
      }
    }
    if (all && m.size != g.n) Left(s"${m.size} of ${g.n} vertices reported") else Right(m.toMap)
  }

  def checkIndex(ig: Graph): Seq[String] = {
    val nv = ig.vertices.count(); val ne = ig.edges.count()
    (if (nv != g.n) Seq(s"$nv vertices, expected ${g.n}") else Nil) ++
      (if (ne != g.edges.length) Seq(s"$ne edges, expected ${g.edges.length}") else Nil)
  }

  def checkComponents(rows: Array[Row], classes: Array[Int]): Seq[String] =
    dense(rows, _.getLong(1)) match {
      case Left(p) => Seq(p)
      case Right(m) =>
        val labels = Array.tabulate(g.n)(m)
        if (!Ref.samePartition(labels, classes)) Seq("partition differs from the reference")
        else if (!Ref.minLabelled(labels, classes, sid)) Seq("labels are not the component minimum ids")
        else Nil
    }

  def checkRanks(rows: Array[Row], rounds: Int): Seq[String] =
    dense(rows, _.getDouble(1)) match {
      case Left(p) => Seq(p)
      case Right(m) =>
        val ref = pageRank(rounds)
        val bad = (0 until g.n).filter(v => math.abs(m(v) - ref(v)) > 1e-9 + 1e-6 * ref(v))
        if (bad.nonEmpty) Seq(s"${bad.size} ranks off the power iteration by more than 1e-6 relative, e.g. ${g.names(bad.head)}: ${m(bad.head)} vs ${ref(bad.head)}")
        else Nil
    }

  def checkDistances(rows: Array[Row]): Seq[String] =
    dense(rows, _.getInt(1), all = false) match {
      case Left(p) => Seq(p)
      case Right(m) =>
        val reached = dist.count(_ >= 0)
        val wrong = m.count { case (v, d) => dist(v) != d }
        if (m.size != reached || wrong > 0) Seq(s"${m.size} reached (expected $reached), $wrong wrong distances")
        else Nil
    }

  def checkDegrees(outRows: Array[Row], inRows: Array[Row]): Seq[String] = {
    def cmp(rows: Array[Row], ref: Array[Int], what: String) =
      dense(rows, _.getLong(1), all = false) match {
        case Left(p) => Seq(p)
        case Right(m) =>
          val expect = (0 until g.n).count(ref(_) > 0)
          if (m.size != expect || m.exists { case (v, d) => ref(v) != d }) Seq(s"$what degrees differ") else Nil
      }
    cmp(outRows, outDeg, "out") ++ cmp(inRows, inDeg, "in")
  }
}

/** The graph calls of `small_graphs`, each timed, traced and checked. */
object GraphCalls {
  def index(r: Run, c: CheckedGraph): Option[Graph] =
    r.call("core.index", "compute")(c.index(r.spark))(ig => c.learnIds(ig) ++ c.checkIndex(ig))

  def views(r: Run, c: CheckedGraph, ig: Graph): Unit =
    r.call("core.views", "compute") {
      (ig.outDegrees.collect(), ig.inDegrees.collect(), ig.adjacency.count())
    } { case (o, i, adj) =>
      c.checkDegrees(o, i) ++ (if (adj != c.g.n) Seq(s"adjacency has $adj rows") else Nil)
    }

  /** The pure Pregel client, on the undirected view. */
  def cc(r: Run, c: CheckedGraph, ig: Graph): Unit =
    r.call("pregel.cc", "compute")(
      ConnectedComponents(maxIterations = 500).run(ig.copy(directed = false)).collect())(
      c.checkComponents(_, c.weak))

  def triangles(r: Run, c: CheckedGraph, ig: Graph): Unit =
    r.call("algorithms.triangles", "compute")(TriangleCount().run(ig)) { t =>
      if (t != c.triangles) Seq(s"$t triangles, expected ${c.triangles}") else Nil
    }

  def scc(r: Run, c: CheckedGraph, ig: Graph): Unit =
    r.call("algorithms.scc", "compute")(
      StronglyConnectedComponents(maxIterations = 500).run(ig).collect())(c.checkComponents(_, c.scc))

  def components(r: Run, c: CheckedGraph, ig: Graph): Unit =
    r.call("sources.components", "compute")(
      GraphIO.componentsOf(ig, maxIterations = 64).collect())(c.checkComponents(_, c.weak))

  def pageRank(r: Run, c: CheckedGraph, ig: Graph, rounds: Int): Unit =
    r.call("algorithms.pagerank", "compute")(
      PageRank(maxIterations = rounds).run(ig).collect())(c.checkRanks(_, rounds))

  def bfs(r: Run, c: CheckedGraph, ig: Graph): Unit =
    r.call("algorithms.bfs", "compute")(
      BreadthFirstSearch.distances(ig, col("old_id") === c.g.names(c.start), maxIterations = 500)
        .select("id", "dist").collect())(c.checkDistances)
}

/** Small graphs below the cap, so the driver fast paths accept: a pass
  * runs every call once on one 600-vertex graph with a hub part and a
  * deep part (see `Gen.small`); BFS starts in the deep part. */
final class SmallGraphs(seed: Long) extends Workload {
  val vertices = 600
  private var c: CheckedGraph = _

  def setup(r: Run): Unit = {
    c = new CheckedGraph(Gen.small(new Random(seed), vertices), s"${r.workDir}/data/small", vertices / 2)
    c.write(r.spark)
    c.weak; c.scc; c.dist; c.pageRank(5); c.triangles; c.outDeg; c.inDeg
  }
  // an unmeasured pass over the same graph, so the measured pass runs
  // code compiled for its data sizes
  def warmUp(r: Run): Unit = pass(r)
  /** An op is one public call. */
  def opKinds: Seq[String] = Seq("compute")

  def pass(r: Run): Unit =
    GraphCalls.index(r, c).foreach { ig =>
      GraphCalls.views(r, c, ig)
      GraphCalls.scc(r, c, ig)
      GraphCalls.components(r, c, ig)
      GraphCalls.cc(r, c, ig)
      GraphCalls.pageRank(r, c, ig, 5)
      GraphCalls.bfs(r, c, ig)
      GraphCalls.triangles(r, c, ig)
    }
}
