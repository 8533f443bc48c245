package graft.algorithms

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{CheckpointPolicy, Columns, Graph}
import graft.pregel.{Pregel, PregelBackend}

/** Strongly connected components of a directed graph.
  *
  * The reference's ConnectedComponents docstring claims SCC for directed
  * graphs but implements only forward min-propagation
  * (connected_components.py:18-36 — SURVEY.md §2 A11); this is the real
  * thing, via iterated forward/backward min-label intersection
  * (FW-BW-MIN): with fwd(v) = min id over {v} ∪ ancestors(v) and
  * bwd(v) = min id over {v} ∪ descendants(v), a vertex v satisfies
  * fwd(v) = bwd(v) = m exactly when m reaches v and v reaches m — i.e. v
  * is in m's SCC. Each outer round resolves every SCC that is the
  * minimum of its own reachability closure (at least the one containing
  * the globally smallest id, usually many), freezes them, and recurses on
  * the residual graph.
  *
  * Correctness requires each min-propagation to reach its FIXED POINT: a
  * truncated propagation can leave two vertices of one SCC with different
  * labels that both pass the fwd=bwd test, silently splitting the
  * component. The inner Pregel therefore runs to convergence;
  * `propagationIterations` is a safety valve that FAILS LOUDLY when hit
  * (graphs with reachability depth beyond it), never a semantics knob.
  *
  * Cost: each round is two Pregel min-propagations over the shrinking
  * residual edge set; outer rounds are bounded by the "SCC level depth",
  * not the SCC count. Pregel runs a propagation on the driver when the
  * residual graph fits its cap (one collect instead of a job per checked
  * superstep), and as per-superstep joins/aggregations otherwise.
  */
final case class StronglyConnectedComponents(
    maxIterations: Int = 10,
    propagationIterations: Int = 1000,
    checkpoint: CheckpointPolicy = CheckpointPolicy.Local,
    saltBuckets: Int = 0) {
  import Columns._

  private def minReach(
      vertices: DataFrame, edges: DataFrame, forward: Boolean,
      backend: Option[PregelBackend]): DataFrame = {
    val g = Graph(vertices, edges, directed = true)
    val res = Pregel(
      initialState = col(ID),
      aggExpr = min(col(MSG)),
      msgToSrc = if (forward) None else Some(col(STATE)),
      msgToDst = if (forward) Some(col(STATE)) else None,
      updateExpr = Some(least(col(MSG), col(STATE))),
      maxIterations = propagationIterations,
      checkpoint = checkpoint,
      // deep propagation: counting every superstep costs one job each;
      // checking every 8th trades <=7 no-op supersteps for 7 saved jobs
      convergenceCheckInterval = 8,
      // min is self-decomposable — hub-salted two-level aggregation
      saltBuckets = saltBuckets)
      .runOn(g, backend)
    // the cap holds on either backend: a residual graph small enough for
    // the driver fails here exactly as a distributed one does
    if (!res.converged)
      throw new IllegalStateException(
        s"SCC min-label propagation did not reach a fixed point within " +
          s"propagationIterations=$propagationIterations supersteps; raise the " +
          "cap (graph reachability depth exceeds it) — truncated labels would " +
          "silently split components")
    res.state.select(col(ID), col(STATE))
  }

  def run(g: Graph): DataFrame = run(g, None)

  /** `backend` forces the backend of every inner propagation. */
  private[graft] def run(g: Graph, backend: Option[PregelBackend]): DataFrame = {
    require(g.directed, "SCC is defined for directed graphs; use ConnectedComponents for undirected")
    var vertices = checkpoint.pin(g.vertices.select(col(ID)))
    // edge_id column is irrelevant here; keep endpoints only
    var edges = checkpoint.pin(g.edges.select(col(SRC), col(DST)))
    var result: Option[DataFrame] = None
    // the two propagations are INDEPENDENT (each reads only the pinned
    // vertices/edges), so they run as concurrent job streams: a
    // propagation's supersteps are latency-bound driver round trips over
    // small jobs that rarely saturate the executors, and interleaving fwd
    // and bwd fills that slack. Each is deterministic and shares nothing
    // mutable (Spark actions are thread-safe). The two threads are this
    // call's own, so the blocking waits take no shared pool's workers.
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      var i = 0
      while (i < maxIterations && !vertices.isEmpty) {
        val fwdF = Future(minReach(vertices, edges, forward = true, backend))
        val bwdF = Future(minReach(vertices, edges, forward = false, backend))
        val fwd = Await.result(fwdF, Duration.Inf).withColumnRenamed(STATE, "_fwd")
        val bwd = Await.result(bwdF, Duration.Inf).withColumnRenamed(STATE, "_bwd")
        val labelled = fwd.join(bwd, Seq(ID))
        val resolved = checkpoint.pin(labelled
          .filter(col("_fwd") === col("_bwd"))
          .select(col(ID), col("_fwd").as(COMPONENT)))
        result = Some(result.fold(resolved)(_.unionByName(resolved)))
        vertices = checkpoint.pin(labelled.filter(col("_fwd") =!= col("_bwd"))
          .select(col(ID)))
        edges = checkpoint.pin(edges
          .join(vertices.select(col(ID).as(SRC)), Seq(SRC), "left_semi")
          .join(vertices.select(col(ID).as(DST)), Seq(DST), "left_semi"))
        i += 1
      }
    } finally pool.shutdown()
    // outer cap reached with unresolved vertices: label each as its own
    // singleton (conservative refinement, like the reference's iteration caps)
    val rest = vertices.select(col(ID), col(ID).as(COMPONENT))
    result.fold(rest)(_.unionByName(rest))
  }
}
