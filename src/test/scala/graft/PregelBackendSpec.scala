package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{Columns, Graph}
import graft.pregel.{Pregel, PregelBackend, PregelResult}

/** Pregel's two backends: they agree on random graphs, the result says
  * which one ran, and a decline never collects the graph. */
class PregelBackendSpec extends SparkSpec {
  import Columns._
  import PregelBackend.{Distributed, Driver}

  /** Random multigraph on ids 0..n-1: duplicate edges, self-loops, one
    * edge into an id with no vertex row, and a `w` column carried along. */
  private def randomGraph(seed: Int, n: Int, m: Int): Graph = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val es = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    val dup = es.take(3)
    Graph(
      (0L until n).map(i => (i, (i * 7 % 5).toInt)).toDF(ID, "w"),
      (es ++ dup :+ ((0L, n + 5L))).toDF(SRC, DST),
      directed = true)
  }

  /** (name, program) for a graph whose edges are read one way (directed)
    * or both ways (undirected). */
  private def programs(undirected: Boolean): Seq[(String, (Int, Int) => Pregel)] = {
    def sends(m: Column) = (if (undirected) Some(m) else None, Some(m))
    def prog(init: Column, agg: Column, msg: Column, upd: Column)(cap: Int, every: Int) = {
      val (toSrc, toDst) = sends(msg)
      Pregel(initialState = init, aggExpr = agg, msgToSrc = toSrc, msgToDst = toDst,
        updateExpr = Some(upd), maxIterations = cap, convergenceCheckInterval = every)
    }
    Seq(
      "min" -> prog(col(ID), min(col(MSG)), col(STATE), least(col(MSG), col(STATE))) _,
      "max" -> prog(col(ID), max(col(MSG)), col(STATE), greatest(col(MSG), col(STATE))) _,
      "sum" -> prog(col(ID) % 3L, sum(col(MSG)), col(STATE),
        least(col(STATE) + col(MSG), lit(60L))) _,
      "bfs" -> prog(when(col(ID) % 7L === 0L, lit(0)), min(col(MSG)), col(STATE) + 1,
        least(col(STATE), col(MSG))) _)
  }

  test("backends agree: state rows, schema, converged, iterations and checked steps") {
    val outcomes = mutable.Set.empty[Boolean]
    for {
      (undirected, seed) <- Seq(false -> 11, true -> 12)
      g = randomGraph(seed, 40, 70).localCheckpointed()
      (name, prog) <- programs(undirected)
      every <- Seq(1, 8)
      cap <- Seq(3, 40)
    } {
      val what = s"$name undirected=$undirected every=$every cap=$cap"
      def run(backend: PregelBackend): (PregelResult, Seq[Int]) = {
        val steps = mutable.ArrayBuffer.empty[Int]
        val p = prog(cap, every).copy(superstepListener = Some((i: Int, _: Double) => steps += i))
        (p.runOn(g, Some(backend)), steps.toSeq)
      }
      val (d, dSteps) = run(Driver)
      val (s, sSteps) = run(Distributed)
      assert(d.backend === Driver, what)
      assert(s.backend === Distributed, what)
      assert(d.state.schema === s.state.schema, what)
      assert(rowSet(d.state) === rowSet(s.state), what)
      assert((d.converged, d.iterations) === ((s.converged, s.iterations)), what)
      assert(dSteps === sSteps, what)
      outcomes += d.converged
    }
    assert(outcomes === Set(true, false), "the caps must both bind and not bind")
  }

  /** Descriptions of the jobs `body` starts; the listener bus is drained
    * by waiting for a marker job started after `body`. */
  private def jobsOf(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val marker = s"marker-${System.nanoTime()}"
    val seen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.job.description") == marker)
          seen.countDown()
        else names.add(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(seen.await(30, java.util.concurrent.TimeUnit.SECONDS), "listener bus did not drain")
      import scala.jdk.CollectionConverters._
      names.asScala.toSeq
    } finally sc.removeSparkListener(listener)
  }

  private val cc = Pregel(
    initialState = col(ID), aggExpr = min(col(MSG)),
    msgToSrc = Some(col(STATE)), msgToDst = Some(col(STATE)),
    updateExpr = Some(least(col(MSG), col(STATE))), maxIterations = 30)

  test("backend reporting: sub-cap graphs run on the driver; over the cap nothing is collected") {
    val g = randomGraph(21, 30, 50).localCheckpointed()
    var res: PregelResult = null
    val accepted = jobsOf { res = cc.runWithStatus(g); res.state.count() }
    assert(res.backend === Driver && res.converged)
    assert(accepted.contains("Pregel driver backend: collect"), accepted)

    var declined: PregelResult = null
    val jobs = jobsOf { declined = cc.runOn(g, None, cap = 20); declined.state.count() }
    assert(declined.backend === Distributed)
    assert(jobs.contains("Pregel driver backend: size check"), jobs)
    assert(!jobs.contains("Pregel driver backend: collect"), jobs)
    assert(rowSet(declined.state) === rowSet(res.state))
  }

  test("the size cap holds for the vertices and the edges each on its own") {
    val g = randomGraph(41, 30, 50).localCheckpointed() // 30 vertices, 54 edges
    assert(cc.runOn(g, None, cap = 54).backend === Driver)
    assert(cc.runOn(g, None, cap = 53).backend === Distributed)
    assert(cc.runOn(g.copy(edges = g.edges.limit(20)), None, cap = 29).backend === Distributed)
  }

  test("a decline stops the size check once a frame passes the cap") {
    val sc = spark.sparkContext
    val parts = 200
    val g = Graph(spark.range(0, 2L * parts, 1, parts).toDF(ID),
      spark.range(0, 10).select(col("id").as(SRC), col("id").as(DST)))
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Integer]()
    val finished = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
          e.properties.getProperty("spark.job.description") == "Pregel driver backend: size check")
          e.stageIds.foreach(i => stages.add(i))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskInfo.successful) finished.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      assert(cc.runOn(g, None, cap = 3).backend === Distributed)
      jobsOf(()) // drains the listener bus
    } finally sc.removeSparkListener(listener)
    assert(stages.size === 1)
    assert(finished.get < parts, s"${finished.get} partitions were counted")
  }

  test("programs that ask for the distributed plan, or cannot run on the driver, decline") {
    import spark.implicits._
    val g = randomGraph(31, 20, 30)
    val strIds = Graph(Seq("a", "b", "c").toDF(ID), Seq(("a", "b"), ("b", "c")).toDF(SRC, DST))
    val salted = cc.copy(saltBuckets = 4)
    val grouped = cc.copy(messageAggregator =
      Some((m: DataFrame) => m.groupBy(col(ID)).agg(min(col(MSG)).as(MSG))))
    val random = cc.copy(initialState = (rand(1) * 1000).cast("long"))
    val holistic = cc.copy(aggExpr = mode(col(MSG), deterministic = true))
    val widening = cc.copy(initialState = lit(1), aggExpr = sum(col(MSG)), updateExpr = None,
      maxIterations = 2)
    for ((what, p, graph) <- Seq(
        ("salted", salted, g), ("messageAggregator", grouped, g), ("rand", random, g),
        ("mode", holistic, g), ("int state, long update", widening, g),
        ("string ids", cc, strIds))) {
      assert(p.runWithStatus(graph).backend === Distributed, what)
      intercept[IllegalArgumentException](p.runOn(graph, Some(Driver)))
    }
  }
}
