package graft.pregel

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{CheckpointPolicy, Columns, Graph, GraphUtil}

/** Where a Pregel run executed its supersteps. */
sealed trait PregelBackend

object PregelBackend {
  /** In the driver's memory, over the collected vertices and edges. */
  case object Driver extends PregelBackend
  /** As Spark jobs: one job per checked superstep. */
  case object Distributed extends PregelBackend
}

/** Outcome of a Pregel run: the final state plus whether the loop reached
  * a fixed point (no vertex changed) before `maxIterations` — callers that
  * depend on full convergence for *correctness* (e.g. SCC's min-label
  * propagation) must check `converged` instead of trusting truncated
  * labels — and the backend that ran. Both backends give the same state
  * schema and rows, `converged` and `iterations`. */
final case class PregelResult(
    state: DataFrame, converged: Boolean, iterations: Int, backend: PregelBackend)

/** Vertex-centric superstep engine.
  *
  * Re-expression of the reference's pyspark_graph/algorithms/pregel.py:11-90:
  * per superstep, changed vertices evaluate a message expression and send it
  * along edges (to in-neighbours, out-neighbours, or both); inbound messages
  * are aggregated per recipient; recipients update their state; vertices
  * whose state did not change stop sending. Converges when no state changed
  * or after `maxIterations`.
  *
  * Scale hardening absent in the reference (it never persists anything —
  * its `state` plan doubles in depth per superstep):
  *  - edges are projected to (src, dst) and materialized once via
  *    `localCheckpoint` before the loop;
  *  - the new state is lazily `localCheckpoint`ed every superstep and
  *    materialized by the convergence count — one job per superstep,
  *    lineage stays O(1);
  *  - the upsert union carries an `_updated` marker so `changed` is derived
  *    from the already-materialized state instead of a second job.
  *
  * Backends. On a small graph the distributed loop's cost is almost all
  * job launch, one driver round trip per checked superstep, so the engine
  * picks where the supersteps run (see [[PregelResult.backend]]). The
  * DRIVER backend runs them in memory when ALL of these hold:
  *  - `messageAggregator` is unset, `saltBuckets <= 1` and `checkpoint`
  *    is not [[CheckpointPolicy.Reliable]] (each asks for the
  *    distributed physical plan);
  *  - the vertex `id` and the edge `src`/`dst` columns share one integral
  *    type;
  *  - every expression is deterministic, `aggExpr` is a single Catalyst
  *    `DeclarativeAggregate` (min, max, sum, count, avg, ...) over
  *    [[Columns.MSG]], and the state type is stable across supersteps;
  *  - the vertices fit [[Pregel.DriverCap]] rows and so do the edges,
  *    checked by a count that reads at most `cap + 1` rows per partition,
  *    returns only the counts and stops once a frame passes the cap. Only
  *    then are they collected, so nothing over the cap lands on the
  *    driver.
  * Otherwise the DISTRIBUTED backend runs. Both run the same synchronous
  * supersteps (see `DriverSupersteps`) and return the same result.
  *
  * @param initialState  vertex state before superstep 1; may use all vertex columns
  * @param aggExpr       aggregate over [[Columns.MSG]] combining inbound messages
  * @param msgToSrc      message sent to each in-neighbour (dst -> src); may use
  *                      all vertex columns + state
  * @param msgToDst      message sent to each out-neighbour (src -> dst)
  * @param updateExpr    new state; may use all vertex columns + [[Columns.MSG]];
  *                      defaults to the aggregated message
  * @param comparison    (newState, oldState) => changed? ; default null-safe !=
  * @param maxIterations superstep cap (reference default 10, pregel.py:32)
  * @param convergenceCheckInterval run the convergence-count job only
  *                      every N supersteps (plus once at the cap). Sound
  *                      because a converged state emits no messages, so
  *                      overshoot supersteps are no-ops; they cost a
  *                      slightly deeper lazy plan, while every skipped
  *                      check saves one Spark job — the right trade for
  *                      deep propagations (SCC runs its min-label loops
  *                      with interval 8). Default 1 = check every step.
  * @param checkpoint    where per-superstep state pins live —
  *                      [[CheckpointPolicy.Reliable]] for cluster jobs that
  *                      must survive executor loss
  * @param saltBuckets   power-law hub hardening: when > 1, inbound
  *                      messages aggregate in TWO levels — first by
  *                      (recipient, salt) with `saltBuckets` salts, then
  *                      by recipient — so a hub vertex's reduce work
  *                      spreads over `saltBuckets` reducers before the
  *                      (now tiny) final combine. ONLY sound when
  *                      `aggExpr` is self-decomposable (min/max/sum/
  *                      count-as-sum/bit ops: agg(agg(xs), agg(ys)) ==
  *                      agg(xs ++ ys)); order-sensitive or holistic
  *                      aggregates (collect_list-based hashes, exact
  *                      medians) must keep the default 0. The salt is the
  *                      sender's shuffle partition id, so results are
  *                      invariant — any grouping of a decomposable agg
  *                      yields the same total.
  *
  *                      Default OFF, deliberately: for decomposable aggs
  *                      Spark's hash aggregate already partial-combines
  *                      map-side, so a hub's reduce fan-in is bounded by
  *                      the upstream MAP-TASK count, not its degree, and
  *                      the extra exchange measured ~6x per-superstep
  *                      overhead at toy scale. Reach for this only when
  *                      map-task counts are so high (or the merge so
  *                      expensive) that even one partial row per map task
  *                      overloads a single reducer.
  * @param messageAggregator full replacement for the per-superstep
  *                      `groupBy(id).agg(aggExpr)`: a function from the
  *                      raw message frame (columns [[Columns.ID]],
  *                      [[Columns.MSG]]) to the aggregated one (same two
  *                      columns, one row per recipient). For HOLISTIC
  *                      aggregates that have a decomposable reformulation
  *                      — e.g. `mode` as count-per-(id, value) + argmax,
  *                      both partial-aggregable — this turns a per-hub
  *                      hashmap on one reducer into two skew-free hash
  *                      aggregations. When set, `aggExpr` and
  *                      `saltBuckets` are ignored.
  * @param superstepListener called after every materialized superstep with
  *                      (iteration, seconds since the previous callback) —
  *                      the progress/ops hook for multi-hour propagations
  *                      (emit metrics, watch for per-superstep time growth,
  *                      which signals lineage or checkpoint trouble). With
  *                      `convergenceCheckInterval > 1` the skipped
  *                      supersteps are lazy, so their cost lands on the
  *                      next checked iteration's callback.
  */
final case class Pregel(
    initialState: Column,
    aggExpr: Column,
    msgToSrc: Option[Column] = None,
    msgToDst: Option[Column] = None,
    updateExpr: Option[Column] = None,
    comparison: (Column, Column) => Column = GraphUtil.neNullSafe,
    maxIterations: Int = 10,
    checkpoint: CheckpointPolicy = CheckpointPolicy.Local,
    convergenceCheckInterval: Int = 1,
    saltBuckets: Int = 0,
    messageAggregator: Option[DataFrame => DataFrame] = None,
    superstepListener: Option[(Int, Double) => Unit] = None) {
  import Columns._
  import Pregel.{SALT, UPDATED}

  require(msgToSrc.nonEmpty || msgToDst.nonEmpty,
    "need at least one of msgToSrc or msgToDst")
  require(maxIterations > 0, "maxIterations must be greater than 0")
  require(convergenceCheckInterval > 0, "convergenceCheckInterval must be > 0")

  def run(g: Graph): DataFrame = runWithStatus(g).state

  def runWithStatus(g: Graph): PregelResult = runOn(g, None)

  /** `backend` forces one backend (forcing the driver still needs every
    * condition but the size cap, and fails when one does not hold);
    * `cap` replaces [[Pregel.DriverCap]]. */
  private[graft] def runOn(
      g: Graph, backend: Option[PregelBackend], cap: Int = Pregel.DriverCap): PregelResult =
    backend match {
      case Some(PregelBackend.Driver) =>
        DriverSupersteps.compile(this, g).getOrElse(throw new IllegalArgumentException(
          "this Pregel program cannot run on the driver backend")).run()
      case Some(PregelBackend.Distributed) => runDistributed(g)
      case None => runOnDriver(g, cap).getOrElse(runDistributed(g))
    }

  /** The driver backend's result, or None (having run at most the size
    * check) when the program or the graph does not allow it. For callers
    * that keep their own loop for larger graphs. */
  private[graft] def runOnDriver(g: Graph, cap: Int = Pregel.DriverCap): Option[PregelResult] =
    DriverSupersteps.compile(this, g).filter(_ => DriverSupersteps.fits(g, cap)).map(_.run())

  /** The superstep loop both backends share. `step` runs one superstep
    * and returns the test "no vertex changed in it", evaluated only on the
    * supersteps whose convergence is checked. */
  private[pregel] def iterate(step: () => () => Boolean): (Boolean, Int) = {
    var converged = false
    var stepClock = System.nanoTime()
    var i = 0
    while (i < maxIterations && !converged) {
      val quiet = step()
      i += 1
      if (i % convergenceCheckInterval == 0 || i == maxIterations) {
        converged = quiet()
        superstepListener.foreach { f =>
          val now = System.nanoTime()
          f(i, (now - stepClock) / 1e9)
          stepClock = now
        }
      }
    }
    (converged, i)
  }

  /** The state before superstep 1. */
  private[pregel] def initial(g: Graph): DataFrame =
    g.vertices
      .withColumn(STATE, initialState)
      .withColumn(OLD_STATE, lit(null))

  /** One superstep's plan: the next state, its rows marked [[Pregel.UPDATED]]
    * when they received a message. */
  private[pregel] def superstep(state: DataFrame, changed: DataFrame, edges: DataFrame): DataFrame = {
    val update = updateExpr.getOrElse(col(MSG))
    val messages = GraphUtil.multipleUnion(Seq(
      msgToSrc.map(m => send(changed, edges, m, from = DST, to = SRC)),
      msgToDst.map(m => send(changed, edges, m, from = SRC, to = DST))).flatten)

    val aggMessages =
      if (messageAggregator.nonEmpty) messageAggregator.get(messages)
      else if (saltBuckets > 1)
        messages
          .withColumn(SALT, pmod(spark_partition_id().cast("long"), lit(saltBuckets.toLong)))
          .groupBy(col(ID), col(SALT)).agg(aggExpr.as(MSG))
          .groupBy(col(ID)).agg(aggExpr.as(MSG))
      else messages.groupBy(col(ID)).agg(aggExpr.as(MSG))

    val updated = aggMessages
      .join(state, Seq(ID))
      .withColumns(Map(OLD_STATE -> col(STATE), STATE -> update))
      .drop(MSG)
    // DataFrames have no in-place update: upsert = anti join + union
    // (pregel.py:66-68), by name rather than position
    val notUpdated = state.join(messages.select(col(ID)), Seq(ID), "left_anti")
    updated.withColumn(UPDATED, lit(true))
      .unionByName(notUpdated.withColumn(UPDATED, lit(false)))
  }

  private def runDistributed(g: Graph): PregelResult = {
    // the send join only needs the endpoints; materialize once for the loop
    val edges = checkpoint.pin(g.edges.select(col(SRC), col(DST)))
    var state = initial(g)
    var changed = state
    val (converged, i) = iterate { () =>
      // lazy checkpoint: the convergence count is the ONE job per checked
      // superstep — it materializes every partition of `next` (truncating
      // lineage) and counts changed vertices in the same pass
      val next = checkpoint.pin(superstep(state, changed, edges), eager = false)
      state = next.drop(UPDATED)
      changed = next
        .filter(col(UPDATED) && comparison(col(STATE), col(OLD_STATE)))
        .drop(UPDATED)
      () => changed.count() == 0
    }
    PregelResult(state, converged, i, PregelBackend.Distributed)
  }

  /** One send direction (pregel.py:77-90): evaluate the message expression
    * on the changed vertices, route it through the edge list, key by
    * recipient.
    */
  private def send(
      changedVertices: DataFrame,
      edges: DataFrame,
      msgExpr: Column,
      from: String,
      to: String): DataFrame =
    changedVertices
      .select(col(ID).as(from), msgExpr.as(MSG))
      .join(edges, Seq(from))
      .select(col(to).as(ID), col(MSG))
}

object Pregel {
  /** Row cap of the driver backend: the vertices must fit it, and so
    * must the edges. */
  val DriverCap: Int = 100000

  private[pregel] val UPDATED = "_updated"
  private val SALT = "_salt"
}
