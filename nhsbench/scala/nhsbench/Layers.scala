package nhsbench

import scala.collection.mutable

/** Per-layer metrics of a traced run. Every name in [[names]] is reported
  * for every workload (0 where the workload does not exercise the layer),
  * except that a name in [[extras]] is left out where it is 0: no gated
  * workload moves it. Figures are per traced iteration unless they are
  * percentiles or ratios. Layers are the program's modules: a span named `<layer>.<call>` wraps
  * one call into that module from the benchmark's own code.
  */
object Layers {

  private val layers = Seq("sources", "pipelines", "ops", "streaming", "operators")
  private val ops = Seq("kcore", "ktruss", "pagerank", "hits", "lpa", "bfs", "coverage")
  private val sparkMetrics = Seq(
    "jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "executor_run_s" -> "s", "executor_cpu_s" -> "s", "gc_s" -> "s",
    "shuffle_read_mb" -> "MB", "shuffle_write_mb" -> "MB", "spill_mb" -> "MB",
    "peak_exec_mem_mb" -> "MB", "task_skew" -> "ratio", "driver_gap_s" -> "s")

  /** Figures only the ungated workloads move: the union of `rtt_panel`, the
    * graph operators of `graph_gates` other than BFS, and spill, which the
    * gated workloads' inputs are too small to cause.
    */
  val extras: Seq[(String, String)] =
    Seq("ops.union_s" -> "s") ++
      ops.filterNot(_ == "bfs").map(o => s"operators.${o}_s" -> "s") ++
      ("spark.spill_mb" +: layers.map(l => s"spark.$l.spill_mb")).map(_ -> "MB")

  /** Every per-layer metric name with its unit, in report order. */
  val names: Seq[(String, String)] =
    Seq("sources.read_s" -> "s", "sources.workbooks" -> "count", "sources.mb_in" -> "MB",
      "sources.rows_out" -> "rows", "sources.task_p50_ms" -> "ms", "sources.task_max_ms" -> "ms",
      "pipelines.harmonise_s" -> "s", "pipelines.org_paths_s" -> "s",
      "pipelines.adjust_s" -> "s", "pipelines.rows_in" -> "rows", "pipelines.rows_out" -> "rows",
      "ops.union_s" -> "s", "ops.skipgram_s" -> "s", "ops.sessions_s" -> "s",
      "streaming.batches" -> "count", "streaming.rows_per_batch" -> "rows",
      "streaming.add_batch_ms" -> "ms", "streaming.plan_ms" -> "ms",
      "streaming.commit_ms" -> "ms", "streaming.jobs_per_batch" -> "count",
      "streaming.serve_s" -> "s", "streaming.store_mb" -> "MB",
      "streaming.batch_p50_ms" -> "ms", "streaming.batch_p90_ms" -> "ms",
      "streaming.serve_p50_ms" -> "ms") ++
      ops.map(o => s"operators.${o}_s" -> "s") ++ Seq("operators.jobs" -> "count") ++
      sparkMetrics.map { case (m, u) => s"spark.$m" -> u } ++
      layers.flatMap(l => sparkMetrics.map { case (m, u) => s"spark.$l.$m" -> u }) ++
      Seq("jvm.heap_live_p90_mb" -> "MB", "trace.overhead_s" -> "s")

  /** Spans named `prefix*` that have no ancestor also named `prefix*`. */
  private def top(t: Tracer, prefix: String): Seq[Span] = {
    val byId = t.spans.map(s => s.id -> s).toMap
    def inside(s: Span): Boolean =
      s.parent >= 0 && (byId(s.parent).name.startsWith(prefix) || inside(byId(s.parent)))
    t.spans.filter(s => s.name.startsWith(prefix) && !inside(s)).toSeq
  }

  private def sparkFigures(t: Tracer, spans: Seq[Span], own: Seq[Counters],
                           n: Double): Seq[(String, Double)] = {
    val stages = own.flatMap(_.taskMsByStage.values)
    val widest = if (stages.isEmpty) Seq.empty[Long] else stages.maxBy(_.size).toSeq
    val med = Bench.median(widest.map(_.toDouble))
    val gap = spans.map(t.driverGapSeconds).sum
    Seq(
      "jobs" -> own.map(_.jobs).sum / n, "stages" -> own.map(_.stages).sum / n,
      "tasks" -> own.map(_.tasks).sum / n,
      "executor_run_s" -> own.map(_.runMs).sum / 1e3 / n,
      "executor_cpu_s" -> own.map(_.cpuNs).sum / 1e9 / n,
      "gc_s" -> own.map(_.gcMs).sum / 1e3 / n,
      "shuffle_read_mb" -> own.map(_.shuffleReadB).sum / 1048576.0 / n,
      "shuffle_write_mb" -> own.map(_.shuffleWriteB).sum / 1048576.0 / n,
      "spill_mb" -> own.map(_.spillB).sum / 1048576.0 / n,
      "peak_exec_mem_mb" -> (own.map(_.peakExecMemB) :+ 0L).max / 1048576.0,
      "task_skew" -> (if (med > 0) widest.max / med else 0.0),
      "driver_gap_s" -> gap / n)
  }

  /** Fills `out` with every name in [[names]] and every non-zero one in
    * [[extras]]; `run` supplies the figures the run loop measures itself
    * (heap, tracing overhead).
    */
  def report(ctx: Ctx, wl: Workload, traced: Seq[(Double, Outcome)], run: Map[String, Double],
             out: mutable.LinkedHashMap[String, (Double, String)]): Unit = {
    val t = ctx.tracer
    val n = math.max(1, traced.size).toDouble
    val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def secs(prefix: String): Double = top(t, prefix).map(_.seconds).sum / n
    def countersOf(prefix: String): Seq[Counters] =
      t.spans.filter(_.name.startsWith(prefix)).flatMap(s => t.counters.get(s.id)).toSeq

    m("sources.read_s") = secs("sources.")
    m("sources.rows_out") = top(t, "sources.").map(_.rows).sum / n
    val readTasks = countersOf("sources.").flatMap(_.taskMsByStage.values.flatten).map(_.toDouble)
    m("sources.task_p50_ms") = Bench.median(readTasks)
    m("sources.task_max_ms") = (readTasks :+ 0.0).max
    m("pipelines.harmonise_s") = secs("pipelines.harmonise")
    m("pipelines.org_paths_s") = secs("pipelines.org_paths")
    m("pipelines.adjust_s") = secs("pipelines.adjust")
    Seq("union", "skipgram", "sessions").foreach(o => m(s"ops.${o}_s") = secs(s"ops.$o"))

    val batches = t.batches.toSeq
    if (batches.nonEmpty) {
      m("streaming.batches") = batches.size / n
      m("streaming.add_batch_ms") = Bench.median(batches.map(_.addBatchMs.toDouble))
      m("streaming.plan_ms") = Bench.median(batches.map(_.planMs.toDouble))
      m("streaming.commit_ms") = Bench.median(batches.map(_.commitMs.toDouble))
      m("streaming.batch_p50_ms") = Bench.percentile(batches.map(_.triggerMs.toDouble), 0.5)
      m("streaming.batch_p90_ms") = Bench.percentile(batches.map(_.triggerMs.toDouble), 0.9)
      m("streaming.serve_p50_ms") = Bench.percentile(traced.flatMap(_._2.serveMs), 0.5)
      m("streaming.jobs_per_batch") =
        countersOf("streaming.ingest").map(_.jobs).sum.toDouble / batches.size
    }
    m("streaming.serve_s") = secs("streaming.serve")
    ops.foreach(o => m(s"operators.${o}_s") = secs(s"operators.$o"))
    m("operators.jobs") = countersOf("operators.").map(_.jobs).sum / n

    // the whole iteration: every call it made, without the untimed checks
    val calls = t.spans.filter(s => s.parent >= 0 && t.spans(s.parent).name == "iteration" &&
      s.name != "untimed").toSeq
    sparkFigures(t, calls, calls.flatMap(t.subtreeCounters), n)
      .foreach { case (k, v) => m(s"spark.$k") = v }
    layers.foreach { l =>
      sparkFigures(t, top(t, s"$l."), countersOf(s"$l."), n)
        .foreach { case (k, v) => m(s"spark.$l.$k") = v }
    }
    (wl.layerMetrics(ctx) ++ run).foreach { case (k, v) => m(k) = v }
    names.foreach { case (k, u) => if (m(k) != 0 || !extras.contains(k -> u)) out(k) = (m(k), u) }
  }

  /** One line per span name: calls, total and self seconds, jobs. */
  def printSpanSummary(t: Tracer): Unit = {
    println(f"[nhsbench] ${"span"}%-24s ${"calls"}%6s ${"total_s"}%9s ${"self_s"}%9s ${"jobs"}%6s")
    t.spans.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, ss) =>
      val jobs = ss.flatMap(s => t.counters.get(s.id)).map(_.jobs).sum
      println(f"[nhsbench] $name%-24s ${ss.size}%6d ${ss.map(_.seconds).sum}%9.3f " +
        f"${ss.map(t.selfSeconds).sum}%9.3f $jobs%6d")
    }
  }
}
