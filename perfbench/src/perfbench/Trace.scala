package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLAdaptiveSQLMetricUpdates,
  SparkListenerSQLExecutionStart}

/** One timed call into the program. `facts` carries the call's own
  * sizes that per-layer ratios divide by (store data files, input text
  * bytes, staged and inserted rows). */
final case class OpSpan(id: Int, name: String, startMs: Long, endMs: Long,
                        wallS: Double, ok: Boolean, facts: Map[String, Double])

/** Spark ids restart with every SparkContext, and the CLI verbs start one
  * each, so every id below is qualified by the listener's context number. */
final case class JobRec(ctx: Int, jobId: Int, startMs: Long, endMs: Long,
                        execId: Option[Long], stageDetails: String)

final case class TaskRec(ctx: Int, stageId: Int, launchMs: Long,
                         finishMs: Long, bytesRead: Long, bytesWritten: Long,
                         shuffleBytes: Long)

/** Spans and Spark events of one benchmark process.
  *
  * Operation spans are always recorded (two clock reads per call). The
  * Spark side is recorded only when [[JobListener]] is registered, which
  * the traced run does through `spark.extraListeners` so that every
  * SparkContext the CLI verbs create and stop reports here. Everything
  * stays in memory and is summarised ([[Layers]]) after the last context
  * has stopped, when the listener buses have drained. */
object Trace {
  private val opQ = new ConcurrentLinkedQueue[OpSpan]()
  private val nextOp = new java.util.concurrent.atomic.AtomicInteger()
  private val nextCtx = new java.util.concurrent.atomic.AtomicInteger()

  private[perfbench] val jobStarts = new ConcurrentHashMap[(Int, Int), JobRec]()
  private[perfbench] val jobEnds = new ConcurrentHashMap[(Int, Int), Long]()
  private[perfbench] val stageJob = new ConcurrentHashMap[(Int, Int), Int]()
  private[perfbench] val taskQ = new ConcurrentLinkedQueue[TaskRec]()
  /** (ctx, SQL execution id) -> (start ms, call site long form). */
  private[perfbench] val execs = new ConcurrentHashMap[(Int, Long), (Long, String)]()
  /** (ctx, accumulator id) of every "number of files read" scan metric. */
  private[perfbench] val filesReadIds = ConcurrentHashMap.newKeySet[(Int, Long)]()
  /** (ctx, execution id, accumulator id, value) driver-side metric posts. */
  private[perfbench] val driverAccums =
    new ConcurrentLinkedQueue[(Int, Long, Long, Long)]()
  private[perfbench] val listenerNs = new java.util.concurrent.atomic.AtomicLong()

  def newContext(): Int = nextCtx.incrementAndGet()
  def contexts: Int = nextCtx.get

  /** Time one call into the program. A throw is recorded as a failed
    * span and re-thrown. */
  def op[T](name: String, facts: Map[String, Double] = Map.empty)(f: => T): T = {
    val id = nextOp.incrementAndGet()
    val s = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var ok = false
    try { val r = f; ok = true; r }
    finally opQ.add(OpSpan(id, name, s, System.currentTimeMillis(),
      (System.nanoTime() - t0) / 1e9, ok, facts))
  }

  def spans: Seq[OpSpan] = opQ.asScala.toSeq.sortBy(_.id)

  def jobs: Seq[JobRec] = jobStarts.asScala.toSeq.map { case (k, j) =>
    j.copy(endMs = Option(jobEnds.get(k)).map(_.longValue).getOrElse(j.startMs))
  }.sortBy(j => (j.startMs, j.ctx, j.jobId))

  def tasks: Seq[TaskRec] = taskQ.asScala.toSeq
}

/** Registered by class name through `spark.extraListeners`; each new
  * SparkContext instantiates its own. */
class JobListener extends SparkListener {
  private val ctx = Trace.newContext()

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    Trace.listenerNs.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    e.stageIds.foreach(s => Trace.stageJob.putIfAbsent((ctx, s), e.jobId))
    Trace.jobStarts.put((ctx, e.jobId), JobRec(ctx, e.jobId, e.time, e.time,
      exec, e.stageInfos.headOption.map(_.details).getOrElse("")))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    Trace.jobEnds.put((ctx, e.jobId), e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null && i != null)
      Trace.taskQ.add(TaskRec(ctx, e.stageId, i.launchTime, i.finishTime,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
        m.shuffleWriteMetrics.bytesWritten))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = timed {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        Trace.execs.put((ctx, s.executionId), (s.time, s.details))
        noteFilesRead(s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        noteFilesRead(u.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveSQLMetricUpdates =>
        u.sqlPlanMetrics.filter(_.name == FilesRead)
          .foreach(m => Trace.filesReadIds.add((ctx, m.accumulatorId)))
      case d: SparkListenerDriverAccumUpdates =>
        d.accumUpdates.foreach { case (id, v) =>
          Trace.driverAccums.add((ctx, d.executionId, id, v))
        }
      case _ => ()
    }
  }

  private val FilesRead = "number of files read"

  private def noteFilesRead(p: SparkPlanInfo): Unit = {
    p.metrics.filter(_.name == FilesRead)
      .foreach(m => Trace.filesReadIds.add((ctx, m.accumulatorId)))
    p.children.foreach(noteFilesRead)
  }
}
