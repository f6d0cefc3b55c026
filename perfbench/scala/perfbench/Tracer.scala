package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbridge.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call: the layer (a `graft` module) it is charged to, its name
  * and wall time on the epoch-ms clock of [[Job]] intervals. */
final case class Span(layer: String, name: String, startMs: Long,
    endMs: Long, wallS: Double, ticks: Long)

/** One Spark job that ran inside span number `span`, charged to `layer`. */
final case class Job(layer: String, span: Int, startMs: Long, endMs: Long,
    taskS: Double, maxTaskS: Double, shuffleBytes: Long)

/** Analysis + optimization + planning time of one query execution. */
final case class Plan(layer: String, span: Int, planS: Double)

/** Records spans around calls into the modules, using only Spark's public
  * listener APIs: a [[SparkListener]] for jobs, task metrics and SQL
  * execution call sites, and a [[QueryExecutionListener]] for planning time
  * (`QueryExecution.tracker`).
  *
  * A span opened with `byCallSite = true` wraps a composite entry point
  * (`Backtest.prepareMount`, `Backtest.sweep`): each job and each query
  * plan inside it is charged to the module of the innermost `graft` frame
  * of its call site (the action that triggered it), and to the span's own
  * layer when no frame names a layer. Otherwise everything inside the span
  * is charged to the span's layer.
  *
  * The listener bus is drained at both edges of every span, so each span's
  * counts are exact: every job and task that ran inside the call is
  * attributed to it, and none from a neighbour. */
final class Tracer(spark: SparkSession) {
  private final class OpenJob(val layer: String, val span: Int,
      val startMs: Long) {
    var taskMs = 0L
    var maxTaskMs = 0L
    var shuffleBytes = 0L
  }

  private val lock = new Object
  private var current = -1
  private var byCallSite = false
  private var ticks = 0L
  private val open = mutable.Map.empty[Int, OpenJob]
  private val stageJob = mutable.Map.empty[Int, OpenJob]
  private val execLayer = mutable.Map.empty[Long, String]
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.ArrayBuffer.empty[Job]
  val plans = mutable.ArrayBuffer.empty[Plan]

  private def spanLayer: String = spans(current).layer

  /** The layer of the first `graft.<module>` frame of a call site, e.g.
    * `graft.serve.Serve$.writeReportJson(...)` -> serve and
    * `graft.Backtest$.sweep(...)` -> backtest. */
  private def callSiteLayer(callSite: String): Option[String] =
    callSite.linesIterator.map(_.trim).filter(_.startsWith("graft."))
      .flatMap { frame =>
        val parts = frame.takeWhile(_ != '(').split('.')
        val name = if (parts.length > 3) parts(1)
          else parts(1).takeWhile(_ != '$').toLowerCase
        Some(name).filter(Tracer.Layers.contains)
      }.nextOption()

  private def charge(callSite: Option[String]): String =
    if (!byCallSite) spanLayer
    else callSite.flatMap(callSiteLayer).getOrElse(spanLayer)

  private val jobListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => lock.synchronized {
        if (current >= 0) execLayer(s.executionId) = charge(Some(s.details))
      }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      if (current >= 0) {
        val props = Option(e.properties)
        val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(_.toLongOption).flatMap(execLayer.get)
        val layer = props.flatMap(p => Option(p.getProperty("callSite.long")))
          .map(cs => charge(Some(cs)))
          .orElse(exec)
          .getOrElse(charge(e.stageInfos.headOption.map(_.details)))
        val job = new OpenJob(layer, current, e.time)
        open(e.jobId) = job
        e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, job))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      open.remove(e.jobId).foreach { j =>
        jobs += Job(j.layer, j.span, j.startMs, e.time, j.taskMs / 1e3,
          j.maxTaskMs / 1e3, j.shuffleBytes)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) lock.synchronized {
        stageJob.get(e.stageId).foreach { j =>
          j.taskMs += m.executorRunTime
          j.maxTaskMs = math.max(j.maxTaskMs, m.executorRunTime)
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum
      lock.synchronized {
        if (current >= 0)
          plans += Plan(execLayer.getOrElse(qe.id, spanLayer), current, ms / 1e3)
      }
    }
  }

  spark.sparkContext.addSparkListener(jobListener)
  spark.listenerManager.register(planListener)

  def drain(): Unit = ListenerDrain.drain(spark.sparkContext)

  /** Ticks fed to the kernel inside the current span (reported by the
    * caller, which is the only one that sees the kernel's output). */
  def addTicks(n: Long): Unit = lock.synchronized { ticks += n }

  /** Run `body` (which must materialize its result) as one span. */
  def span[T](layer: String, name: String, byCallSite: Boolean = false)(
      body: => T): T = {
    drain()
    val startMs = System.currentTimeMillis()
    lock.synchronized {
      spans += Span(layer, name, startMs, startMs, 0.0, 0L)
      current = spans.size - 1
      this.byCallSite = byCallSite
      ticks = 0L
    }
    val n0 = System.nanoTime()
    try body
    finally {
      val wall = (System.nanoTime() - n0) / 1e9
      val endMs = System.currentTimeMillis()
      drain()
      lock.synchronized {
        spans(current) = spans(current).copy(endMs = endMs, wallS = wall,
          ticks = ticks)
        current = -1
        open.clear(); stageJob.clear(); execLayer.clear()
      }
    }
  }

  /** Forget every recorded span, job and plan. */
  def clear(): Unit = lock.synchronized {
    spans.clear(); jobs.clear(); plans.clear()
  }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  private var gcAtStart = 0L

  /** Start the JVM-wide window (GC time, peak heap) of a traced lap. */
  def jvmWindowStart(): Unit = {
    System.gc()
    heapPools.foreach(_.resetPeakUsage())
    gcAtStart = gcMs
  }

  /** (GC seconds, peak heap MB) since [[jvmWindowStart]]. */
  def jvmWindowEnd(): (Double, Double) =
    ((gcMs - gcAtStart) / 1e3,
      heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0))
}

object Tracer {
  /** The `graft` modules measured as layers (`benchlib.LAYERS`). */
  val Layers: Set[String] = Set("backtest", "catalog", "ingest", "windows",
    "sim", "report", "serve", "sweep", "queries", "bars", "indicators", "ops",
    "plans", "discovery", "signal", "dedup", "similarity", "text",
    "multimodal", "functions")
}
