package graft.algorithms

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{CheckpointPolicy, Columns, Graph}
import graft.pregel.Pregel

/** Multi-source / multi-target breadth-first search with an edge filter
  * (reference: algorithms/bfs.py:14-69).
  *
  * Returns one row per (start, end, edge-id path, vertex path) found at the
  * *first* depth where any end vertex is reached. Cycle prevention is by
  * edge reuse (paths are walks without repeated edges), matching the
  * reference. Undirected graphs traverse the symmetric edge closure.
  *
  * Hardening vs the reference: the frontier is `localCheckpoint`ed per hop
  * (the reference's plan grows by one join per hop with no persistence).
  */
final case class BreadthFirstSearch(
    startExpr: Column,
    endExpr: Column,
    edgeExpr: Column = lit(true),
    maxIterations: Int = 10,
    checkpoint: CheckpointPolicy = CheckpointPolicy.Local) {
  import Columns._

  val resultSchema: StructType = StructType(Seq(
    StructField(START, LongType, nullable = false),
    StructField(END, LongType, nullable = false),
    StructField(EDGES, ArrayType(LongType, containsNull = false), nullable = false),
    StructField(VERTICES, ArrayType(LongType, containsNull = false), nullable = false)))

  private val HORIZON = "horizon"

  def run(g: Graph): DataFrame = {
    val spark = g.vertices.sparkSession
    def empty: DataFrame =
      spark.createDataFrame(new java.util.ArrayList[Row](), resultSchema)

    val edges =
      (if (g.directed) g.edges else g.symmetricEdges).filter(edgeExpr)
    val start = g.vertices.filter(startExpr)
    val end = g.vertices.filter(endExpr)

    // trivial-empty short-circuit (bfs.py:43-44)
    if (start.isEmpty || edges.isEmpty || end.isEmpty) return empty

    var paths = start.select(
      col(ID).as(START),
      col(ID).as(HORIZON),
      array().cast(ArrayType(LongType, containsNull = false)).as(EDGES),
      array(col(ID)).as(VERTICES))

    var i = 0
    while (i < maxIterations) {
      // reached an end vertex, or ran out of paths?
      val result = paths.join(end, paths(HORIZON) === end(ID))
      if (!result.isEmpty || paths.isEmpty) {
        return result.select(col(START), col(ID).as(END), col(EDGES), col(VERTICES))
      }
      // extend the horizon by one hop, refusing to reuse an edge
      paths = paths
        .join(edges, edges(SRC) === paths(HORIZON) &&
          !array_contains(paths(EDGES), edges(EDGE_ID)))
        .select(
          col(START),
          col(DST).as(HORIZON),
          array_append(col(EDGES), col(EDGE_ID)).as(EDGES),
          array_append(col(VERTICES), col(DST)).as(VERTICES))
      paths = checkpoint.pin(paths)
      i += 1
    }
    empty // max_iterations exhausted (bfs.py:63-65)
  }
}

object BreadthFirstSearch {
  import Columns._

  /** Pseudo-diameter by the standard double-sweep (Magnien, Latapy &
    * Habib 2009 style lower bound): BFS from the minimum-id vertex, take
    * the farthest vertex u (ties → smallest id), BFS again from u — u's
    * eccentricity is a lower bound on the graph diameter that is exact
    * on trees and empirically tight on real graphs, for the cost of TWO
    * BFS sweeps instead of |V| (the exact-diameter cost no 100 TB graph
    * can pay).
    *
    * Output: ONE row (start_id, u_id, far_id, diameter_lb) — the seed,
    * the first sweep's farthest vertex, the second sweep's farthest
    * vertex, and the bound. Unreachable components are ignored (the
    * sweep measures the seed's component). Deterministic end to end:
    * both argmax picks tiebreak by smallest id, so any engine replays
    * the same two sweeps. */
  def pseudoDiameter(
      g: Graph,
      maxIterations: Int = 30,
      checkpoint: CheckpointPolicy = CheckpointPolicy.Local): DataFrame = {
    val startRow = g.vertices.agg(min(col(ID))).head()
    require(!startRow.isNullAt(0), "pseudoDiameter needs a non-empty graph")
    val start = startRow.getLong(0)
    def farthest(from: Long): Row =
      distances(g, col(ID) === from, maxIterations = maxIterations,
        checkpoint = checkpoint)
        .orderBy(col("dist").desc, col(ID))
        .head()
    val sweep1 = farthest(start)
    val u = sweep1.getLong(0)
    val sweep2 = farthest(u)
    import g.vertices.sparkSession.implicits._
    Seq((start, u, sweep2.getLong(0), sweep2.getInt(1)))
      .toDF("start_id", "u_id", "far_id", "diameter_lb")
  }

  /** BFS PARENT forest — a spanning forest as (parent → child) hop
    * edges, grown from `roots` over the symmetric closure of `edges`.
    * The [[graft.sources.GraphIO.buildForest]] engine: a unit-weight
    * connectivity certificate needs no minimum-ness, so Borůvka's
    * contraction rounds (per-round edge relabel + merge-graph CC) are
    * overkill — a multi-source BFS that keeps ONE `min(parent)` edge
    * per newly reached vertex spans the same components in
    * diameter-many rounds, each round ONE frontier join + one
    * map-side-combinable min + one visited anti-join (measured 3.4×
    * cheaper than the Borůvka build at the 100× corpus, BASELINE.md).
    *
    * Returns `Some(forest)` of canonical `(src, dst)` pairs — exactly
    * `|V_reached| − |roots|` rows, every one an input edge — or `None`
    * when the frontier is still growing after `maxIterations` (an
    * effective diameter past the cap): callers fall back to Borůvka,
    * whose round bound is log₂(V) regardless of diameter.
    * Deterministic: the per-vertex parent pick is a min over the
    * frontier, so the forest is a pure function of (edges, roots).
    *
    * I/O profile: the symmetric closure is read
    * once per round for diameter-many rounds, so it is materialized
    * ONCE — repartitioned by `src` and `persist`ed MEMORY_AND_DISK
    * (persist keeps the hash partitioning visible to the planner, so
    * every frontier join either broadcasts the frontier or shuffles
    * only the frontier side; a localCheckpoint would report
    * UnknownPartitioning and ride the storage band per round) — and
    * unpersisted before returning.
    *
    * EARLY DECLINE: a graph whose effective diameter outruns the cap must
    * not pay all `maxIterations` rounds before declining — that costs
    * more than the Borůvka fallback it defers to. When the
    * caller knows the reachable vertex count (`totalVertices` —
    * [[graft.sources.GraphIO.buildForest]] reads it off the narrow
    * component table), the loop declines as soon as the frontier has
    * not grown for 4 consecutive rounds AND the round budget is mostly
    * spent (≤ a quarter of `maxIterations` remains: an early stall on a
    * stalk-then-hub topology says nothing about regrowth, so the bound
    * only fires once regrowth has provably little room) AND even
    * `frontier × remaining-rounds` new vertices per round cannot cover
    * the unvisited remainder — at that point
    * completing within the cap is all but impossible, and a wrong
    * guess costs only the (always-correct) fallback.
    */
  def parentForest(
      roots: DataFrame,
      edges: DataFrame,
      maxIterations: Int = 64,
      checkpoint: CheckpointPolicy = CheckpointPolicy.Local,
      totalVertices: Option[Long] = None): Option[DataFrame] = {
    val sym = edges.select(col(SRC), col(DST))
      .union(edges.select(col(DST).as(SRC), col(SRC).as(DST)))
      .filter(col(SRC) =!= col(DST))
      .repartition(col(SRC))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var visited = checkpoint.pin(roots.select(col(ID)).distinct())
      var visitedN = visited.count()
      var frontier = visited
      var frontierN = visitedN
      var forest: DataFrame = sym.select(col(SRC), col(DST)).limit(0)
      var depth = 0
      var stall = 0 // consecutive rounds without frontier growth
      var declined = false
      while (!declined && depth < maxIterations && frontierN > 0L) {
        depth += 1
        val reached = checkpoint.pin(
          sym.join(frontier.select(col(ID).as(SRC)), SRC)
            .groupBy(col(DST).as(ID)).agg(min(col(SRC)).as("_parent"))
            .join(visited, Seq(ID), "left_anti"))
        forest = forest.unionAll(reached.select(
          least(col(ID), col("_parent")).as(SRC),
          greatest(col(ID), col("_parent")).as(DST)))
        frontier = reached.select(col(ID))
        val n = reached.count() // pinned: a block count, replaces isEmpty
        stall = if (n > frontierN) 0 else stall + 1
        frontierN = n
        visitedN += n
        // lazy union of pinned frontiers: the anti-join reads the same
        // rows as a re-pinned visited set without a per-depth O(V) copy
        // job; the plan grows by one union arm per round (≤ maxIterations)
        visited = visited.unionByName(frontier)
        // the coverage bound assumes the frontier never regrows, which a
        // stalk-then-hub topology (a long path into a huge star) violates
        // — a brief stall early in a long round budget must not decline a
        // BFS that would finish comfortably inside the cap. Require the
        // budget to be mostly spent (last quarter) so regrowth has
        // provably little room; a wrong guess still only defers to the
        // correct fallback.
        declined = totalVertices.exists { total =>
          val remaining = total - visitedN
          remaining > 0L && frontierN > 0L && stall >= 4 &&
            (maxIterations - depth) * 4 <= maxIterations &&
            frontierN * (maxIterations - depth).toLong < remaining
        }
      }
      if (declined) return None
      // at the cap with a live frontier, the span may STILL be complete
      // (the farthest vertex sat at depth exactly maxIterations): one
      // probe round distinguishes "just finished" from "still growing"
      val incomplete = depth >= maxIterations && frontierN > 0L && {
        !sym.join(frontier.select(col(ID).as(SRC)), SRC)
          .select(col(DST).as(ID))
          .join(visited, Seq(ID), "left_anti")
          .isEmpty
      }
      if (incomplete) None
      else Some(checkpoint.pin(forest))
    } finally sym.unpersist(blocking = false)
  }

  /** Distance-only BFS — the scale default. The path-enumerating `run`
    * above keeps the reference's walk semantics (cycle prevention by edge
    * reuse only, bfs.py:57-58), whose frontier grows combinatorially on
    * dense graphs; here each vertex is reached once, at its least depth,
    * so the work is bounded by |V| + |E|.
    *
    * The traversal runs over the edges that pass `edgeExpr` (both
    * directions of each edge when `g` is undirected) and end at a vertex
    * row: an id with no vertex row is never reached, and nothing is
    * reached through it. At most `maxIterations` hops are taken.
    *
    * Two equivalent engines. When the graph fits [[Pregel]]'s driver cap
    * it runs as a Pregel min-distance program on the driver backend:
    * start vertices hold 0, a vertex whose distance changed sends
    * `dist + 1` along its out-edges, a vertex keeps the least distance it
    * has seen. Over the cap a frontier loop runs, whose per-depth work is
    * a join of the new frontier only — distributed Pregel would join the
    * whole vertex state every superstep.
    *
    * Multi-source: `dist` is the hop count from the NEAREST vertex
    * matching `startExpr`. Returns (id, dist: non-null int) for reached
    * vertices only.
    */
  def distances(
      g: Graph,
      startExpr: Column,
      edgeExpr: Column = lit(true),
      maxIterations: Int = 30,
      checkpoint: CheckpointPolicy = CheckpointPolicy.Local): DataFrame =
    distances(g, startExpr, edgeExpr, maxIterations, checkpoint, Pregel.DriverCap)

  /** `driverCap` replaces the Pregel driver backend's cap. */
  private[graft] def distances(
      g: Graph,
      startExpr: Column,
      edgeExpr: Column,
      maxIterations: Int,
      checkpoint: CheckpointPolicy,
      driverCap: Int): DataFrame = {
    val DIST = "dist"
    // one materialization serves the size check and either engine
    val edges = checkpoint.pin(
      (if (g.directed) g.edges else g.symmetricEdges)
        .filter(edgeExpr).select(col(SRC), col(DST))
        .join(g.vertices.select(col(ID).as(DST)), Seq(DST), "left_semi"))
    val minDistance = Pregel(
      initialState = when(startExpr, lit(0)),
      aggExpr = min(col(MSG)),
      msgToDst = Some(col(STATE) + 1),
      updateExpr = Some(least(col(STATE), col(MSG))),
      maxIterations = maxIterations,
      checkpoint = checkpoint)
    minDistance.runOnDriver(Graph(g.vertices, edges, directed = true), driverCap) match {
      case Some(res) =>
        // the null rows are gone; coalesce only makes `dist` non-nullable,
        // as the frontier loop's literal depths are
        res.state.where(col(STATE).isNotNull)
          .select(col(ID), coalesce(col(STATE), lit(0)).as(DIST))
      case None =>
        // `visited` is a lazy union of the pinned per-depth frontiers: the
        // anti-join reads the same rows as a re-pinned visited set without
        // a per-depth O(V) copy job, and the plan grows by one union arm
        // per depth (<= maxIterations)
        var visited = checkpoint.pin(
          g.vertices.filter(startExpr).select(col(ID), lit(0).as(DIST)))
        var frontier = visited
        var depth = 0
        while (depth < maxIterations && !frontier.isEmpty) {
          depth += 1
          frontier = checkpoint.pin(
            frontier.join(edges, frontier(ID) === edges(SRC))
              .select(edges(DST).as(ID)).distinct()
              .join(visited, Seq(ID), "left_anti")
              .select(col(ID), lit(depth).as(DIST)))
          visited = visited.unionByName(frontier)
        }
        visited
    }
  }
}
