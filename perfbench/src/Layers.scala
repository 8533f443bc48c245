package perfbench

/** The per-layer metrics of a traced run. A span's measures are means
  * per call; the session measures are per measured pass. */
object Layers {
  val computeSpans = Seq("core.index", "core.views", "pregel.cc", "algorithms.pagerank",
    "algorithms.scc", "algorithms.bfs", "algorithms.triangles", "sources.components")
  /** Measures the workloads report themselves (zero where they do not apply). */
  val extras = Seq("store.files" -> "count", "store.bytes_ratio" -> "ratio")
  val storeSpans = Seq("sources.graph_build", "sources.graph_append", "sources.graph_delete",
    "sources.graph_refresh", "sources.graph_read", "dedup.build", "dedup.merge", "dedup.delete",
    "dedup.read", "similarity.ann_build", "similarity.ann_append", "similarity.ann_delete",
    "similarity.ann_read")
  /** Mutation spans whose written bytes count towards each store's write
    * amplification. */
  val mutations = Map(
    "sources" -> Seq("sources.graph_append", "sources.graph_delete", "sources.graph_refresh"),
    "dedup" -> Seq("dedup.merge", "dedup.delete"),
    "similarity" -> Seq("similarity.ann_append", "similarity.ann_delete"))

  /** `passes` are the [start, end] windows of the traced passes, all
    * recorded by the last trace. */
  def metrics(traces: Seq[Trace], passes: Seq[(Long, Long)],
      batchMb: Map[String, Double]): Seq[(String, (Double, String))] = {
    // a span measured in the traced passes is taken from them alone;
    // set-up spans (the store builds) from the set-up trace
    def spans(name: String): Seq[(Trace, Trace.Span)] =
      traces.reverseIterator.map(t => t.spansNamed(name).map(t -> _)).find(_.nonEmpty).getOrElse(Nil)
    def calls(name: String): Seq[(Trace, Trace.Window)] =
      spans(name).map { case (t, s) => (t, t.window(s.start, s.end)) }
    def mean(ws: Seq[Trace.Window], f: Trace.Window => Double) =
      if (ws.isEmpty) 0.0 else ws.map(f).sum / ws.size
    def span(name: String, store: Boolean): Seq[(String, (Double, String))] = {
      val ws = calls(name).map(_._2)
      val durations = spans(name).map { case (_, s) => (s.end - s.start) / 1000.0 }
      val common = Seq(
        s"$name.s" -> ((if (durations.isEmpty) 0.0 else durations.sum / durations.size), "s"),
        s"$name.jobs" -> (mean(ws, _.jobs.toDouble), "count"),
        s"$name.driver_s" -> (mean(ws, _.driverS), "s"))
      common ++ (if (store) Seq(s"$name.written_mb" -> (mean(ws, _.writtenMb), "MB"))
        else Seq(
          s"$name.task_s" -> (mean(ws, _.taskS), "s"),
          s"$name.shuffle_mb" -> (mean(ws, _.shuffleMb), "MB"),
          s"$name.result_mb" -> (mean(ws, _.resultMb), "MB")))
    }
    val session = passes.map { case (from, to) => traces.last.window(from, to) }.reduce(_ + _)
    val p = passes.size.toDouble
    val amp = mutations.toSeq.map { case (module, spans) =>
      val written = spans.flatMap(calls).filter(_._1 eq traces.last).map(_._2.writtenMb).sum / p
      val in = batchMb.getOrElse(module, 0.0)
      s"$module.write_amp" -> ((if (in > 0) written / in else 0.0), "ratio")
    }
    computeSpans.flatMap(span(_, store = false)) ++ storeSpans.flatMap(span(_, store = true)) ++ amp ++ Seq(
      "spark.jobs" -> (session.jobs / p, "count"),
      "spark.tasks" -> (session.tasks / p, "count"),
      "spark.task_s" -> (session.taskS / p, "s"),
      "spark.driver_s" -> (session.driverS / p, "s"),
      "spark.shuffle_mb" -> (session.shuffleMb / p, "MB"),
      "spark.result_mb" -> (session.resultMb / p, "MB"),
      "spark.written_mb" -> (session.writtenMb / p, "MB"))
  }
}
