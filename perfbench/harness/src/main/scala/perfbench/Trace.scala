package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. Spans of one op share
  * `op`; `parent` is the enclosing span (-1 for the op's root span).
  * Counts from the Spark listeners land on the span whose id the
  * driver thread carried when the job started.
  */
final class Span(val id: Int, val op: Int, val parent: Int, val name: String,
                 val t0: Long) {
  var t1: Long = 0L
  val counts: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  def dur: Double = (t1 - t0) / 1e9
}

/** Span recorder plus the two listeners that fill span counts. Off by
  * default: a disabled tracer runs each body with no listener
  * registered and records nothing, so timed runs pay nothing for it.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val SpanKey = "perfbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var enabled = false
  // job id -> (span, wall start ms, label); stage id -> span
  private val jobSpan = mutable.Map.empty[Int, (Span, Long, String)]
  private val stageSpan = mutable.Map.empty[Int, Span]
  private val execSpan = mutable.Map.empty[Long, Span]
  /** Job wall intervals (ms), per op root id, for driver-only time. */
  val jobIntervals = mutable.Map.empty[Int, mutable.ArrayBuffer[(Long, Long)]]

  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey)))
      .flatMap(id => spans.lift(id.toInt))

  private def rootOf(s: Span): Span =
    if (s.parent < 0) s else rootOf(spans(s.parent))

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      spanOf(e.properties).foreach { s =>
        def prop(k: String) = Option(e.properties.getProperty(k)).getOrElse("")
        // broadcast exchanges tag their jobs (runId) instead of describing them
        val label = if (prop("spark.job.tags").contains("broadcast exchange"))
          "broadcast exchange" else prop("spark.job.description")
        jobSpan(e.jobId) = (s, e.time, label)
        e.stageIds.foreach(stageSpan(_) = s)
        Option(e.properties.getProperty("spark.sql.execution.id"))
          .foreach(x => execSpan.getOrElseUpdate(x.toLong, s))
        s.counts("spark.jobs") += 1
        if (label.startsWith("broadcast exchange")) s.counts("spark.broadcast_jobs") += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpan.remove(e.jobId).foreach { case (s, t0, label) =>
        val secs = (e.time - t0) / 1e3
        jobIntervals.getOrElseUpdate(rootOf(s).id, mutable.ArrayBuffer.empty) +=
          (t0 -> e.time)
        if (label.startsWith("versioned.")) {
          s.counts("io.write_s") += secs; s.counts("io.write_jobs") += 1
        } else if (label.startsWith("exec.checkpointEager")) {
          s.counts("ext.checkpoint_s") += secs; s.counts("ext.checkpoint_jobs") += 1
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageSpan.get(e.stageId).foreach { s =>
        val c = s.counts
        val info = e.taskInfo
        if (!info.successful) c("spark.task_failures") += 1
        Option(e.taskMetrics).foreach { m =>
          c("spark.task_s") += m.executorRunTime / 1e3
          c("spark.cpu_s") += m.executorCpuTime / 1e9
          c("spark.gc_s") += m.jvmGCTime / 1e3
          c("spark.shuffle_write_mb") += m.shuffleWriteMetrics.bytesWritten / 1e6
          c("spark.shuffle_read_mb") += m.shuffleReadMetrics.totalBytesRead / 1e6
          c("spark.fetch_wait_s") += m.shuffleReadMetrics.fetchWaitTime / 1e3
          c("spark.spill_mb") += (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6
          c("spark.input_mb") += m.inputMetrics.bytesRead / 1e6
          c("spark.output_mb") += m.outputMetrics.bytesWritten / 1e6
          val overhead = (info.finishTime - info.launchTime) - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime
          c("spark.sched_delay_s") += math.max(0L, overhead) / 1e3
        }
      }
    }
  }

  private object planHelper extends AdaptiveSparkPlanHelper

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        val s = execSpan.getOrElse(qe.id, current)
        if (s != null) {
          val ph = qe.tracker.phases
          Seq("analysis", "optimization", "planning").foreach { p =>
            ph.get(p).foreach(x => s.counts(s"plans.${p}_s") += x.durationMs / 1e3)
          }
          planHelper.collectWithSubqueries(qe.executedPlan) {
            case f: FileSourceScanExec => f
          }.foreach { f =>
            f.metrics.get("numFiles").foreach(m => s.counts("io.files_scanned") += m.value)
            f.metrics.get("numOutputRows").foreach(m => s.counts("io.rows_scanned") += m.value)
          }
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** The innermost open span of the driver thread (read by the
    * listener thread for executions that started no job). */
  @volatile private var current: Span = null

  def on(): Unit = if (!enabled) {
    enabled = true
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
  }

  def off(): Unit = if (enabled) {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(queryListener)
    enabled = false
  }

  /** Run `body` inside a span called `name`, child of the open span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = synchronized {
        val parent = stack.headOption
        val sp = new Span(spans.length, parent.map(_.op).getOrElse(spans.length),
          parent.map(_.id).getOrElse(-1), name, System.nanoTime())
        spans += sp
        sp
      }
      val prev = sc.getLocalProperty(SpanKey)
      stack.push(s)
      current = s
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.t1 = System.nanoTime()
        stack.pop()
        current = stack.headOption.orNull
        sc.setLocalProperty(SpanKey, prev)
        // an op's counts are complete once the bus has delivered its
        // events; children share the root's drain
        if (s.parent < 0) org.apache.spark.PerfbenchBus.drain(sc)
      }
    }

  /** Self time per span name: duration minus the part its children cover
    * (children of one span never overlap: one driver thread). */
  def selfTimes(keep: Span => Boolean): Map[String, Double] = {
    val childDur = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    spans.filter(keep).foreach(s => if (s.parent >= 0) childDur(s.parent) += s.dur)
    spans.filter(keep).groupBy(_.name).view
      .mapValues(_.map(s => s.dur - childDur(s.id)).sum).toMap
  }

  /** Wall seconds of root span `opId` during which no Spark job ran. */
  def driverOnly(root: Span): Double = {
    val t0 = root.t0; val t1 = root.t1
    val wallMs = (t1 - t0) / 1e6
    val iv = jobIntervals.getOrElse(root.id, mutable.ArrayBuffer.empty).sortBy(_._1)
    var busy = 0L; var end = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > end) { busy += b - a; end = b }
      else if (b > end) { busy += b - end; end = b }
    }
    math.max(0.0, wallMs - busy) / 1e3
  }

  /** Job-busy wall seconds of root span `opId` (union of job intervals). */
  def jobWall(root: Span): Double = (root.dur - driverOnly(root)).max(0.0)
}
