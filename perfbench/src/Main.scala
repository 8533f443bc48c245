package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One call site for every public library call the workloads make:
  * times it, counts it as attempted, counts a throw or a failed check as
  * failed, and opens a span when a trace is attached. */
final class Run(val spark: SparkSession, val workDir: String) {
  var trace: Option[Trace] = None
  var measuring = false
  var attempted = 0
  var failed = 0
  val latencies = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  /** `kind` groups latencies ("write", "read" or "compute"); `check`
    * runs untimed and returns the problems it found. */
  def call[T](span: String, kind: String)(body: => T)(check: T => Seq[String]): Option[T] = {
    if (measuring) attempted += 1
    val t0 = System.nanoTime()
    val out = try Some(trace.fold(body)(_.span(span)(body))) catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] $span threw: $e")
        None
    }
    val s = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] $span $s%.3f s")
    val problems = out.fold(Seq("threw"))(o =>
      try check(o) catch { case NonFatal(e) => Seq(s"check threw: $e") })
    if (measuring) latencies.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += s
    fail(span, problems)
    out
  }

  /** A whole-table check at pass end, with no latency of its own; a
    * failure counts as a failed op. */
  def verify(what: String)(check: => Seq[String]): Unit = {
    if (measuring) attempted += 1
    fail(what, try check catch { case NonFatal(e) => Seq(s"check threw: $e") })
  }

  /** A failure outside the measured passes (set-up, warm-up) counts as an
    * attempted and failed op too, so it cannot go unreported. */
  private def fail(what: String, problems: Seq[String]): Unit =
    if (problems.nonEmpty) {
      problems.take(3).foreach(p => System.err.println(s"[perfbench] CHECK FAILED $what: $p"))
      if (!measuring) attempted += 1
      failed += 1
    }
}

trait Workload {
  /** Inputs, reference answers and store builds. */
  def setup(r: Run): Unit
  /** Warm-up run once after the first set-up, before the measured passes. */
  def warmUp(r: Run): Unit
  /** One measured pass of the workload's fixed call sequence. */
  def pass(r: Run): Unit
  /** Drop what set-up made, so set-up can be repeated. */
  def teardown(r: Run): Unit = ()
  /** Latency groups whose samples are this workload's ops. */
  def opKinds: Seq[String]
  /** Per-layer numbers the workload measures itself (store sizes). */
  def layerExtras(r: Run): Map[String, (Double, String)] = Map.empty
  /** Logical MB of mutation input per pass, by store module. */
  def batchMb: Map[String, Double] = Map.empty
  /** Set-up repetitions whose median is `setup_s`. */
  def setupRepeats: Int = 3
}

object Main {
  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Tail latency: the highest percentile with at least ten samples
    * beyond it, and never below p90 (nearest rank) — with fewer than 100
    * samples that is p90 and fewer than ten lie beyond it. Returns the
    * value and the percentile. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted; val n = s.size
    val rank = math.min(n, math.max(1, math.max(n - 10, math.ceil(0.9 * n).toInt)))
    (s(rank - 1), 100.0 * rank / n)
  }

  def main(args: Array[String]): Unit = {
    val processStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val traced = arg(args, "--trace").contains("1")
    val workDir = arg(args, "--work-dir").getOrElse(sys.error("--work-dir is required"))
    val cpus = Runtime.getRuntime.availableProcessors()

    val selfTest = SelfTest.run()
    selfTest.foreach(p => System.err.println(s"[perfbench] REFERENCE SELF-TEST FAILED: $p"))

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // bounded job/stage history, so the driver heap measures the library
      .config("spark.ui.retainedJobs", 100)
      .config("spark.ui.retainedStages", 100)
      .config("spark.ui.retainedTasks", 1000)
      .config("spark.sql.ui.retainedExecutions", 50)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.local.dir", s"$workDir/local")
      .config("spark.sql.streaming.checkpointLocation", s"$workDir/stream")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$workDir/checkpoint")
    val sessionS = (System.currentTimeMillis() - processStart) / 1000.0

    val wl: Workload = workload match {
      case "small_graphs" => new SmallGraphs(seed)
      case "store_lifecycle" => new StoreLifecycle(seed)
      case other => sys.error(s"unknown workload '$other'")
    }
    val r = new Run(spark, workDir)

    // set-up: session start once, then the workload's own set-up several
    // times (fresh inputs and store names each time, same seed), warm-up
    // pass after the first; setup_s is session + median repetition + warm-up
    val setupTrace = if (traced) Some(new Trace(spark.sparkContext)) else None
    setupTrace.foreach(_.attach())
    r.trace = setupTrace
    val reps = mutable.ArrayBuffer.empty[Double]
    var warmS = 0.0
    (1 to wl.setupRepeats).foreach { i =>
      if (i > 1) wl.teardown(r)
      val t = System.nanoTime()
      wl.setup(r)
      reps += (System.nanoTime() - t) / 1e9
      if (i == 1) {
        val w = System.nanoTime()
        wl.warmUp(r)
        warmS = (System.nanoTime() - w) / 1e9
      }
    }
    r.trace = None
    setupTrace.foreach(_.detach())
    val setupS = sessionS + median(reps.toSeq) + warmS
    System.err.println(f"[perfbench] session $sessionS%.2f s, set-up repetitions ${reps.map(x => f"$x%.2f").mkString(", ")} s, warm-up $warmS%.2f s")

    // measured passes: at least `minPasses`, then whole passes while the
    // next one fits in `budget` seconds, at most `maxPasses`; `tracedPass(i)`
    // says whether pass i runs with `passTrace` attached. Returns each
    // pass's time, whether it was traced and its [start, end] in epoch ms,
    // and the largest heap.
    val passTrace = new Trace(spark.sparkContext)
    def measure(minPasses: Int, maxPasses: Int, budget: Double,
        tracedPass: Int => Boolean): (Seq[(Double, Boolean, (Long, Long))], Double) = {
      // what set-up left behind (garbage, cleaner work) settles first
      System.gc(); Thread.sleep(500)
      val passes = mutable.ArrayBuffer.empty[(Double, Boolean, (Long, Long))]
      var heap = 0.0
      val start = System.currentTimeMillis()
      r.measuring = true
      while (passes.size < minPasses || (passes.size < maxPasses &&
          (System.currentTimeMillis() - start) / 1000.0 + median(passes.map(_._1).toSeq) <= budget)) {
        val tr = tracedPass(passes.size)
        if (tr) { passTrace.attach(); r.trace = Some(passTrace) }
        val from = System.currentTimeMillis()
        val t = System.nanoTime()
        wl.pass(r)
        passes += (((System.nanoTime() - t) / 1e9, tr, (from, System.currentTimeMillis())))
        if (tr) { r.trace = None; passTrace.detach() }
        // a second full GC after the context cleaner has dropped the
        // blocks the first one released: the heap then holds live state only
        System.gc(); Thread.sleep(300); System.gc()
        heap = math.max(heap,
          ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0))
      }
      r.measuring = false
      (passes.toSeq, heap)
    }

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!traced) {
      val (passes, heap) = measure(1, Int.MaxValue, seconds, _ => false)
      val ops = wl.opKinds.flatMap(k => r.latencies.getOrElse(k, Nil))
      metrics("setup_s") = (setupS, "s")
      metrics("pass_s") = (median(passes.map(_._1)), "s")
      metrics("op_p50_s") = (median(ops), "s")
      metrics("op_tail_s") = (tail(ops)._1, "s")
      metrics("driver_heap_mb") = (heap, "MB")
      println(f"passes ${passes.size}, ops ${ops.size} (${wl.opKinds.mkString("/")}), op_tail_s is p${tail(ops)._2}%.1f")
      Seq("write", "read").foreach { k =>
        r.latencies.get(k).filter(_.nonEmpty).foreach { xs =>
          val (t, p) = tail(xs.toSeq)
          println(f"$k%s_p50_s = ${median(xs.toSeq)}%.4f s, ${k}_tail_s = $t%.4f s (p$p%.1f) over ${xs.size} calls")
        }
      }
      wl.layerExtras(r).get("store.bytes_ratio").foreach { case (v, u) => println(f"store_bytes_ratio = $v%.3f $u") }
    } else {
      // passes are still speeding up after the warm-up: a second warm-up,
      // then passes untraced, traced, traced, untraced (as far as 3.5
      // budgets allow), so neither side of the ratio is favoured
      wl.warmUp(r)
      val (passes, _) = measure(2, 4, 3.5 * seconds, i => i % 4 == 1 || i % 4 == 2)
      val (on, off) = passes.partition(_._2)
      metrics ++= Layers.metrics(setupTrace.toSeq :+ passTrace, on.map(_._3), wl.batchMb)
      metrics ++= Layers.extras.map { case (k, u) => k -> (0.0, u) } ++ wl.layerExtras(r)
      metrics("trace.overhead_ratio") = (median(on.map(_._1)) / median(off.map(_._1)), "ratio")
      println(s"passes ${off.size} untraced, ${on.size} traced")
    }
    wl.teardown(r)
    spark.stop()

    val correct = selfTest.isEmpty && r.failed == 0
    println(f"failed_ratio = ${r.failed.toDouble / math.max(1, r.attempted)}%.4f ratio (${r.failed} of ${r.attempted} calls)")
    metrics.foreach { case (k, (v, u)) => println(f"$k = $v%.6f $u") }
    println(s"correct = $correct")
    def num(v: Double) = if (v.isNaN || v.isInfinite) "0" else v.toString
    val body = metrics.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    println(s"""{"correct": $correct, "attempted": ${math.max(1, r.attempted)}, "failed": ${r.failed}, "metrics": {${body.mkString(", ")}}}""")
  }
}
