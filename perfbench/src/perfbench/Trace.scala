package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval on the benchmark's clock (System.nanoTime). */
final case class Span(op: String, layer: String, name: String,
    start: Long, end: Long, depth: Int)

object Trace {
  final case class Job(id: Int, group: String, start: Long, var end: Long = -1L)
  final case class TaskAgg(var tasks: Long = 0, var cpuNs: Long = 0,
      var shuffleRead: Long = 0, var shuffleWrite: Long = 0, var spill: Long = 0,
      var input: Long = 0, var schedDelayMs: Long = 0)
  final case class Phase(name: String, start: Long, end: Long)
  final case class PlanStats(at: Long, filesRead: Long, topkInputRows: Long)
}

/** The benchmark's side of every call into the program.
  *
  * Untraced, [[op]] and [[call]] only time the op.  Traced, every call is
  * kept as a span tagged with the op and the module layer it enters; the
  * SparkListener, QueryExecutionListener and StreamingQueryListener
  * registered here add job, planning-phase and micro-batch records, and
  * Hadoop FS statistics are read before and after each op.  Everything is
  * kept in memory and summarised by [[Layers]] when the run ends.
  */
final class Trace(spark: SparkSession, val on: Boolean) {
  import Trace._
  // wall-clock ms of listener events → the nanoTime clock of the spans
  private val clockOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def msToNs(ms: Long): Long = ms * 1000000L - clockOffsetNs

  val spans = mutable.ArrayBuffer.empty[Span]
  private var depth = 0
  @volatile var currentOp: String = ""

  // --- listener records (appended from the listener bus thread) ---------
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  val taskAgg = mutable.HashMap.empty[Int, TaskAgg]          // by job id
  val phases = mutable.ArrayBuffer.empty[Phase]
  val plans = mutable.ArrayBuffer.empty[PlanStats]
  val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]

  private object Helper extends AdaptiveSparkPlanHelper {
    /** (files read by scans, rows fed into the final top-k). */
    def stats(p: SparkPlan): (Long, Long) = {
      var files = 0L
      var topk = 0L
      foreach(p) {
        case s: FileSourceScanExec =>
          files += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        case t: TakeOrderedAndProjectExec =>
          topk += collectFirst(t.child) {
            case c if c.metrics.contains("numOutputRows") => c.metrics("numOutputRows").value
          }.getOrElse(0L)
        case _ =>
      }
      (files, topk)
    }
  }

  if (on) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        val g = Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        jobs(e.jobId) = Job(e.jobId, g, msToNs(e.time))
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        jobs.get(e.jobId).foreach(_.end = msToNs(e.time))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        val a = taskAgg.getOrElseUpdate(stageJob.getOrElse(e.stageId, -1), TaskAgg())
        a.tasks += 1
        val m = e.taskMetrics
        val i = e.taskInfo
        if (m != null) {
          a.cpuNs += m.executorCpuTime
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.input += m.inputMetrics.bytesRead
          if (i != null) a.schedDelayMs += math.max(0L, i.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L))
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit =
        record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        record(qe)
      private def record(qe: QueryExecution): Unit = synchronized {
        qe.tracker.phases.foreach { case (n, s) =>
          phases += Phase(n, msToNs(s.startTimeMs), msToNs(s.endTimeMs))
        }
        val (files, topk) = try Helper.stats(qe.executedPlan) catch {
          case scala.util.control.NonFatal(_) => (0L, 0L) }
        // the listener bus may deliver after the op ended: place the record
        // by the end of physical planning, which happens inside the op
        val at = qe.tracker.phases.get("planning").map(p => msToNs(p.endTimeMs))
          .getOrElse(System.nanoTime())
        plans += PlanStats(at, files, topk)
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        synchronized { progress += e }
    })
  }

  /** Time one op.  Returns (result, start, end) on the nanoTime clock. */
  def op[T](id: String)(body: => T): (T, Long, Long) = {
    currentOp = id
    val t0 = System.nanoTime()
    val r = try call("bench", id)(body) finally currentOp = ""
    (r, t0, System.nanoTime())
  }

  /** Time one benchmark-side call into module `layer` of the program. */
  def call[T](layer: String, name: String)(body: => T): T = {
    if (!on) return body
    val sc = spark.sparkContext
    val group = s"$currentOp|$layer"
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    depth += 1
    try body finally {
      depth -= 1
      val t1 = System.nanoTime()
      spans += Span(currentOp, layer, name, t0, t1, depth)
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(prevGroup, name, interruptOnCancel = false)
    }
  }

  /** Wait until the listener bus has delivered every event. */
  def drain(): Unit = if (on) org.apache.spark.perfbenchglue.Glue.drain(spark.sparkContext)
}
