package nhsbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one iteration produced: output rows, operations attempted and
  * failed (a wrong output counts as failed), serve-read latencies, and a
  * description of each failure.
  */
final case class Outcome(outputRows: Long, attempted: Int, failures: Seq[String],
                         serveMs: Seq[Double] = Nil)

/** A benchmark workload. `generate` writes or builds the inputs from the
  * seed (it may run several times; the last inputs are used), `iterate`
  * runs the program once from input to complete result and checks it.
  */
trait Workload {
  def name: String
  def generate(ctx: Ctx): Unit
  def iterate(ctx: Ctx): Outcome
  /** Feeds the checker a deliberately altered output; true when the
    * checker reports it as a failure.
    */
  def checkerCatchesAlteredOutput(ctx: Ctx): Boolean
  /** Input sizes for the result stamp: rows, workbooks, MB. */
  def inputSizes: Seq[(String, Double)]
  /** Workload-specific per-layer figures, read after the traced iterations. */
  def layerMetrics(ctx: Ctx): Seq[(String, Double)] = Nil
}

/** Run context handed to workloads. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                val workDir: Path) {
  private var dirs = 0

  /** A fresh directory under the run's work directory. */
  def freshDir(prefix: String): Path = {
    dirs += 1
    Files.createDirectories(workDir.resolve(f"$prefix-$dirs%04d"))
  }

  def traced: Boolean = tracer.enabled

  /** True during the untimed warm-up iteration: workloads run their
    * costlier checks there.
    */
  var warmup = false

  /** Time spent in [[untimed]] blocks, excluded from iteration walls. */
  var untimedNs = 0L

  /** Output checks run here, outside the measured wall time and, when
    * tracing, in an `untimed` span the per-layer figures leave out.
    */
  def untimed[A](f: => A): A = {
    val t = System.nanoTime()
    try tracer.span("untimed")(f) finally untimedNs += System.nanoTime() - t
  }

  /** Times an eager call into the program. */
  def call[A](span: String)(f: => A): A = tracer.span(span)(f)

  /** Times a call that returns a lazy frame. When tracing, the frame is
    * cached and counted inside the span, so the span measures the work
    * and not only the planning; the next layer reads the cached rows.
    */
  def layer(span: String)(f: => DataFrame): DataFrame =
    if (!traced) f
    else tracer.span(span) {
      val df = f.persist()
      val n = df.count()
      tracer.current.foreach(_.rows = n)
      df
    }
}

object Bench {

  private final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                                workDir: Path, resultsFile: Option[Path])

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work-dir")), m.get("results").map(Paths.get(_)))
  }

  val workloads: Map[String, () => Workload] = Map(
    "workbook_ingest" -> (() => new WorkbookIngest),
    "rtt_panel" -> (() => new RttPanel),
    "store_ingest" -> (() => new StoreIngestWorkload),
    "graph_gates" -> (() => new GraphGates))

  private def loadavg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split("\\s+")(0).toDouble finally src.close()
    } catch { case _: Throwable => -1.0 }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }

  /** Records, while `on` is set, the heap still in use right after each
    * collection: the live set plus survivors.
    */
  private final class HeapSampler extends Thread("nhsbench-heap") {
    @volatile var on = false
    @volatile var done = false
    val afterGc = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]
    import scala.jdk.CollectionConverters._
    private val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    private val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case g: com.sun.management.GarbageCollectorMXBean => g }
    private val seen = mutable.Map.empty[String, Long]
    setDaemon(true)
    override def run(): Unit =
      while (!done) {
        gcs.foreach { g =>
          val info = g.getLastGcInfo
          if (info != null && !seen.get(g.getName).contains(info.getId)) {
            seen(g.getName) = info.getId
            if (on) afterGc.add(info.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum)
          }
        }
        Thread.sleep(5)
      }
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val make = workloads.getOrElse(args.workload,
      throw new IllegalArgumentException(s"unknown workload ${args.workload}; " +
        s"expected one of ${workloads.keys.toSeq.sorted.mkString(", ")}"))
    val load0 = loadavg()
    val cpus = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(args.workDir)

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("nhsbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", args.workDir.resolve("warehouse").toString)
      .config("spark.local.dir", args.workDir.resolve("spark-local").toString)
      .config("spark.hadoop.hadoop.tmp.dir", args.workDir.resolve("hadoop-tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(spark.sparkContext, enabled = false)
    spark.streams.addListener(tracer.queryListener)
    if (args.trace) spark.sparkContext.addSparkListener(tracer.sparkListener)
    val ctx = new Ctx(spark, tracer, args.seed, args.workDir)
    val wl = make()
    val sampler = new HeapSampler
    sampler.start()
    // failure descriptions, and the operations they fall in: an iteration
    // with several wrong outputs is still one failed operation
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0

    def runIteration(): (Double, Outcome) = {
      val s = System.nanoTime()
      ctx.untimedNs = 0L
      val out =
        try tracer.span("iteration")(wl.iterate(ctx))
        catch { case e: Throwable => Outcome(0L, 1, Seq(s"iteration threw: $e")) }
      val wall = (System.nanoTime() - s - ctx.untimedNs) / 1e9
      graft.Storage.releaseAll(spark)
      attempted += out.attempted
      failed += math.min(out.attempted, out.failures.size)
      failures ++= out.failures
      (wall, out)
    }

    // set-up: inputs generated three times (median kept), then one
    // untimed warm-up iteration so JIT and codegen are steady
    val genS = (1 to 3).map { _ =>
      val g = System.nanoTime()
      wl.generate(ctx)
      (System.nanoTime() - g) / 1e9
    }
    ctx.warmup = true
    val (warmS, warmOut) = runIteration()
    ctx.warmup = false
    val setupS = sessionS + median(genS) + warmS
    // warm-up failures count too; so does a checker that accepts an
    // altered output
    attempted += 1
    if (warmOut.failures.isEmpty &&
        !scala.util.Try(wl.checkerCatchesAlteredOutput(ctx)).getOrElse(false)) {
      failures += "checker self-test: altered output not detected"
      failed += 1
    }
    tracer.batches.clear()
    println(f"[nhsbench] ${wl.name}: setup ${setupS}%.3f s (session $sessionS%.3f, " +
      f"generate ${median(genS)}%.3f, warm-up $warmS%.3f)")

    // timed region: closed loop, one client. A traced run spends its first
    // half untraced and its second half traced, so its overhead compares
    // the same seed in the same JVM.
    def timed(seconds: Double, minIters: Int): Seq[(Double, Outcome)] = {
      val res = mutable.ArrayBuffer.empty[(Double, Outcome)]
      val start = System.nanoTime()
      while (res.size < minIters || (System.nanoTime() - start) / 1e9 < seconds) {
        tracer.iteration = res.size
        res += runIteration()
      }
      res.toSeq
    }
    val load1 = loadavg()
    sampler.on = true
    val untraced = timed(if (args.trace) args.seconds / 2.0 else args.seconds, 1)
    val batches = tracer.batches.toSeq
    val traced =
      if (!args.trace) Nil
      else {
        tracer.enabled = true
        tracer.batches.clear()
        timed(args.seconds / 2.0, 1)
      }
    sampler.on = false
    val load2 = loadavg()

    import scala.jdk.CollectionConverters._
    val heapLive = percentile(sampler.afterGc.asScala.toSeq.map(_.toDouble / 1048576.0), 0.9)
    val walls = untraced.map(_._1)
    val rowsPerS = untraced.map { case (w, o) => o.outputRows / w }
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!args.trace) {
      metrics("setup_s") = (setupS, "s")
      metrics("wall_s") = (median(walls), "s")
      metrics("rows_per_s") = (median(rowsPerS), "rows/s")
      // figures that are not end-to-end metrics of every workload, or vary
      // too much between identical runs to gate, are printed here and
      // reported as per-layer figures by the traced run
      println(f"[nhsbench] heap_live_p90_mb $heapLive%.1f MB")
      if (batches.nonEmpty) {
        val bms = batches.map(_.triggerMs.toDouble)
        println(f"[nhsbench] batch_p50_ms ${percentile(bms, 0.5)}%.1f ms, batch_p90_ms " +
          f"${percentile(bms, 0.9)}%.1f ms over ${bms.size} batches, serve_p50_ms " +
          f"${percentile(untraced.flatMap(_._2.serveMs), 0.5)}%.1f ms")
      }
    } else {
      val overhead = median(traced.map(_._1)) - median(walls)
      Layers.report(ctx, wl, traced,
        Map("jvm.heap_live_p90_mb" -> heapLive, "trace.overhead_s" -> overhead), metrics)
      val out = args.workDir.resolve(s"spans-${wl.name}-${args.seed}.jsonl")
      tracer.writeSpans(out)
      println(s"[nhsbench] spans written to $out")
      Layers.printSpanSummary(tracer)
    }
    sampler.done = true

    val nIter = untraced.size + traced.size
    val failedRatio = if (attempted == 0) 0.0 else failed.toDouble / attempted
    failures.take(10).foreach(f => println(s"[nhsbench] FAILED: $f"))
    val inputs = wl.inputSizes.map { case (k, v) => s""""$k":${fmt(v)}""" }.mkString(",")
    val stamp = s"""{"workload":"${wl.name}","seed":${args.seed},"cpus":$cpus,""" +
      s""""loadavg_start":$load0,"loadavg_timed_start":$load1,"loadavg_end":$load2,""" +
      s""""commit":"${sys.env.getOrElse("NHSBENCH_COMMIT", "unknown")}",""" +
      s""""jdk":"${System.getProperty("java.version")}","spark":"${spark.version}",""" +
      s""""trace":${args.trace},"iterations":$nIter,"attempted":$attempted,""" +
      s""""failed":$failed,"failed_ratio":${fmt(failedRatio)},""" +
      s""""inputs":{$inputs}}"""
    println(s"[nhsbench] stamp $stamp")
    metrics.foreach { case (k, (v, u)) => println(f"[nhsbench] $k%-32s ${fmt(v)}%s $u") }
    val mjson = metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${fmt(v)},"unit":"$u"}""" }.mkString(",")
    val result = s"""{"correct":${failures.isEmpty},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":{$mjson}}"""
    args.resultsFile.foreach { f =>
      Files.write(f, (s"""{"stamp":$stamp,"result":$result}""" + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    }
    println(f"[nhsbench] run time ${(System.nanoTime() - t0) / 1e9}%.1f s before session stop")
    spark.stop()
    println(result)
  }
}
