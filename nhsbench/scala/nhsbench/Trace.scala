package nhsbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into the program: name, interval, parent span and the
  * iteration it belongs to (-1 for set-up). Times are nanoTime-based.
  */
final class Span(val id: Int, val name: String, val parent: Int,
                 val iter: Int, val startNs: Long) {
  var endNs: Long = -1L
  /** rows of the span's materialized output, when it has one */
  var rows: Long = 0L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark counters attributed to one span (jobs run under its job group). */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleReadB = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
  var peakExecMemB = 0L
  /** (start, end) in epoch ms of every job, for the driver-gap union. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** task durations in ms per stage, for the skew figure */
  val taskMsByStage = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
}

/** Per-micro-batch figures from a StreamingQueryListener. */
final case class BatchProgress(triggerMs: Long, addBatchMs: Long, planMs: Long,
                               commitMs: Long)

/** Span recorder plus the benchmark's own listeners. When `enabled` is
  * false a span is just the call: no job group, no listener, no record —
  * the end-to-end (untraced) mode. Micro-batch progress is recorded in
  * both modes because `batch_p50_ms` is an end-to-end metric.
  *
  * Attribution: every span sets its id as the Spark job group while it is
  * innermost, so each job, stage and task lands on the span that caused
  * it. Streaming queries run their batches on their own thread under a
  * job group equal to the query's run id; [[bindRun]] maps that run id to
  * the span that started the query.
  */
final class Tracer(sc: SparkContext, var enabled: Boolean) {

  private val lock = new Object
  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = mutable.Map.empty[Int, Counters]
  val batches = mutable.ArrayBuffer.empty[BatchProgress]
  private val stack = mutable.Stack.empty[Span]
  private val runToSpan = mutable.Map.empty[String, Int]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, (Int, Long)]
  var iteration: Int = -1

  private def spanOfGroup(group: String): Option[Int] =
    if (group == null) None
    else runToSpan.get(group).orElse(group.toIntOption)

  private def counterOf(id: Int): Counters = counters.getOrElseUpdate(id, new Counters)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      spanOfGroup(g).foreach { id =>
        jobStart(e.jobId) = (id, e.time)
        counterOf(id).jobs += 1
        e.stageIds.foreach(stageSpan(_) = id)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStart.remove(e.jobId).foreach { case (id, t0) =>
        counterOf(id).jobIntervals += ((t0, e.time))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach(id => counterOf(id).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      stageSpan.get(e.stageId).foreach { id =>
        val c = counterOf(id)
        c.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
          c.peakExecMemB = math.max(c.peakExecMemB, m.peakExecutionMemory)
        }
        c.taskMsByStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          e.taskInfo.duration
      }
    }
  }

  val queryListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      // idle triggers report progress too; only batches with data count
      if (p.numInputRows > 0) {
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        lock.synchronized {
          batches += BatchProgress(d("triggerExecution"), d("addBatch"), d("queryPlanning"),
            d("walCommit") + d("commitOffsets"))
        }
      }
    }
  }

  /** Runs `f` inside a span named `name`. */
  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val s = lock.synchronized {
        val sp = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
          iteration, System.nanoTime())
        spans += sp
        stack.push(sp)
        sp
      }
      sc.setJobGroup(s.id.toString, name, interruptOnCancel = false)
      try f
      finally {
        s.endNs = System.nanoTime()
        lock.synchronized(stack.pop())
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Attributes a streaming query's batch jobs to the innermost span. */
  def bindRun(runId: java.util.UUID): Unit =
    if (enabled) lock.synchronized {
      stack.headOption.foreach(s => runToSpan(runId.toString) = s.id)
    }

  def current: Option[Span] = stack.headOption

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** A span's duration minus the part its child spans cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - Tracer.unionLength(children(s.id).map(c => (c.startNs, c.endNs))) / 1e9

  /** Counters of a span and all of its descendants. */
  def subtreeCounters(s: Span): Seq[Counters] =
    counters.get(s.id).toSeq ++ children(s.id).flatMap(subtreeCounters)

  /** Span wall time minus the union of its (and its children's) job
    * intervals: time the driver spent outside any Spark job.
    */
  def driverGapSeconds(s: Span): Double = {
    val jobs = subtreeCounters(s).flatMap(_.jobIntervals)
    // job times are epoch ms, span times nanoTime: compare lengths only
    val covered = Tracer.unionLength(jobs) / 1e3
    math.max(0.0, s.seconds - covered)
  }

  /** Writes every span as one JSON object per line. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      val c = subtreeCounters(s)
      sb ++= f"""{"id":${s.id},"parent":${s.parent},"iter":${s.iter},"name":"${s.name}",""" +
        f""""start_s":${s.startNs / 1e9}%.6f,"end_s":${s.endNs / 1e9}%.6f,""" +
        f""""dur_s":${s.seconds}%.6f,"self_s":${selfSeconds(s)}%.6f,""" +
        f""""jobs":${c.map(_.jobs).sum},"tasks":${c.map(_.tasks).sum}}""" + "\n"
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Tracer {
  /** Length of the union of closed intervals (any consistent time unit). */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
