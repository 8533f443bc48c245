package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Driver-side min-label connected components for BATCH-BOUNDED merge
  * graphs — the lifecycle maintenance device.
  *
  * The incremental faces (graph append/delete-repair, dedup cluster
  * advance/repair) all end in CC over a graph bounded by the BATCH, not
  * the corpus: a label-merge graph of ≤ 2·batch nodes, or an affected
  * subgraph. The distributed star rounds are the right algorithm at
  * corpus scale, but on a 50-node merge graph their cost is pure
  * per-round JOB OVERHEAD — 4+ driver round-trips per round, ~10 rounds
  * — which dominates every batch's latency. A union-find over a
  * collected edge list is exact, deterministic (min-label), and
  * microseconds at batch scale; memory is bounded by the explicit edge
  * cap, and callers FALL BACK to the distributed path when the cap is
  * exceeded or an id column is non-integral (None), so nothing
  * corpus-sized ever lands on the driver and no caller-typed id is
  * coerced into a different label ordering.
  *
  * Output (id, component): one row per edge ENDPOINT, component = the
  * minimum id of its connected set — identical, row for row, to the
  * min-label distributed CC over the same edges (spec-pinned in
  * AlgorithmsSpec; isolated vertices are the caller's left-join
  * coalesce, exactly as with the distributed path).
  */
object UnionFind {

  def minLabel(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxEdges: Int = 100000): Option[DataFrame] =
    collectIntegral(edges, srcCol, dstCol, maxEdges).map { rows =>
      val uf = new Forest
      rows.foreach { case (a, b) => uf.union(a, b) }
      val labels = uf.parent.keys.toSeq.sorted.map(v => (v, uf.find(v)))
      val spark = edges.sparkSession
      import spark.implicits._
      labels.toDF("id", "component")
    }

  /** Driver-side SPANNING SUBSET of a batch-bounded edge list: the rows
    * (in ascending (src, dst) order) whose edge merged two distinct
    * sets — a spanning forest of the input graph, ≤ #vertices − 1 rows.
    * The replacement-edge certificate splice of
    * [[graft.sources.GraphIO]] uses it to re-witness reconnected forest
    * pieces without adding every crossing pair (which could bloat the
    * certificate quadratically). Same cap-and-decline contract as
    * [[minLabel]] (the scaffolding is shared, so the two faces cannot
    * diverge): None over `maxEdges` rows or on non-integral key
    * columns — callers fall back to distributed Borůvka. Deterministic:
    * the scan order is the sorted edge list. */
  def spanningPairs(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxEdges: Int = 100000): Option[DataFrame] =
    collectIntegral(edges, srcCol, dstCol, maxEdges).map { rows =>
      val uf = new Forest
      val chosen = rows.sorted.filter { case (a, b) => uf.union(a, b) }
      val spark = edges.sparkSession
      import spark.implicits._
      chosen.toSeq.toDF(srcCol, dstCol)
    }

  /** The shared cap-and-decline collect: Some(edge pairs) only when both
    * key columns are integral (a string id would cast to null — NPE at
    * getLong — and a NUMERIC string would get numeric min-label ordering
    * while the distributed path orders by the column's own type) AND the
    * row count fits the cap; None sends the caller to the distributed
    * fallback. */
  private def collectIntegral(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxEdges: Int): Option[Array[(Long, Long)]] = {
    import org.apache.spark.sql.types._
    val integral = Set[DataType](ByteType, ShortType, IntegerType, LongType)
    val fields = edges.schema
    if (!integral(fields(srcCol).dataType) || !integral(fields(dstCol).dataType))
      return None
    val rows = edges.select(col(srcCol).cast("long"), col(dstCol).cast("long"))
      .limit(maxEdges + 1).collect()
    if (rows.length > maxEdges) None
    else Some(rows.map(r => (r.getLong(0), r.getLong(1))))
  }

  /** Min-root union-find with path compression — the representative is
    * always the set's minimum id, so labels match the distributed
    * min-label CC. */
  private final class Forest {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      // path compression
      var c = x
      while (parent.getOrElse(c, c) != r) {
        val n = parent.getOrElse(c, c); parent(c) = r; c = n
      }
      r
    }
    /** true iff the edge merged two distinct sets */
    def union(a: Long, b: Long): Boolean = {
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra == rb) false
      else {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
        true
      }
    }
  }
}
