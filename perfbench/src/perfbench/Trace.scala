package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One span: a timed call into a layer, recorded by the benchmark around
  * the public entry point it calls. `parent` is -1 for a root. */
final case class Span(
    id: Int, parent: Int, name: String, layer: String, thread: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory and written once at the end. When disabled every
  * call is a plain pass-through, so the untraced run pays nothing. The
  * current layer and phase also go into Spark local properties, which
  * jobs carry (and which a stream's execution thread inherits when the
  * query starts), so the [[Meter]] can attribute jobs to layers. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val open = ThreadLocal.withInitial[List[Int]](() => Nil)

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      val parent = stack.headOption.getOrElse(-1)
      val prevLayer = sc.getLocalProperty(Tracer.LayerKey)
      open.set(id :: stack)
      sc.setLocalProperty(Tracer.LayerKey, layer)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, layer, Thread.currentThread.getName, t0, System.nanoTime()))
        open.set(stack)
        sc.setLocalProperty(Tracer.LayerKey, prevLayer)
      }
    }

  /** Marks the phase (setup / measure / check) of every job started from
    * this thread from now on. Set in both modes: it is one local property. */
  def phase(name: String): Unit = sc.setLocalProperty(Tracer.PhaseKey, name)

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
}

object Tracer {
  val LayerKey = "perfbench.layer"
  val PhaseKey = "perfbench.phase"
}

/** Accumulated engine counters of one (phase, layer) cell. */
final class Cell {
  var jobs = 0L; var jobWallNs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var schedMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  var bytesWritten = 0L; var recordsWritten = 0L; var planMs = 0L
  val scanRows = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val scanFiles = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val scanBytes = mutable.Map.empty[String, Long].withDefaultValue(0L)
}

/** The benchmark's own engine meter: one SparkListener plus one
  * StreamingQueryListener, registered only in the traced run. A job is
  * attributed to a layer by the call site Spark records for it (Quality,
  * ServeCache); inside a drain, where every job carries the call site that
  * started the stream, by the tables its execution's plan writes or reads
  * (silver merge, gold commit); else by the layer of the benchmark span
  * that started it. Scan counters come from the executed plan of each
  * finished SQL execution. */
final class Meter(tables: Map[String, String]) extends SparkListener {
  import Meter._

  private val cells = mutable.Map.empty[(String, String), Cell]
  private val jobOf = mutable.Map.empty[Int, (String, String)] // stage -> (phase, layer)
  private val jobStart = mutable.Map.empty[Int, (String, String, Long)]
  private val execCell = mutable.Map.empty[Long, (String, String)]
  private val execDetails = mutable.Map.empty[Long, String]
  private val execPlanLayer = mutable.Map.empty[Long, String]
  val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]

  def cell(phase: String, layer: String): Cell = synchronized {
    cells.getOrElseUpdate((phase, layer), new Cell)
  }
  def cellsOf(phase: String): Map[String, Cell] = synchronized {
    cells.collect { case ((p, l), c) if p == phase => l -> c }.toMap
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val phase = prop(Tracer.PhaseKey).getOrElse("none")
    val execId = prop("spark.sql.execution.id").map(_.toLong)
    val spanLayer = prop(Tracer.LayerKey)
    // a stream pins every job's call site to where the query started, so
    // inside a drain the layer comes from what the execution's plan touches
    val layer = prop("callSite.long").flatMap(layerOfCallSite)
      .orElse(if (spanLayer.contains("streaming")) execId.flatMap(execPlanLayer.get) else None)
      .orElse(spanLayer).getOrElse(Unattributed)
    e.stageIds.foreach(s => jobOf(s) = (phase, layer))
    jobStart(e.jobId) = (phase, layer, e.time)
    execId.foreach(x => if (!execCell.contains(x)) execCell(x) = (phase, layer))
    val c = cell(phase, layer)
    c.jobs += 1; c.stages += e.stageIds.size
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (phase, layer, t0) =>
      cell(phase, layer).jobWallNs += (e.time - t0) * 1000000L
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val (phase, layer) = jobOf.getOrElse(e.stageId, ("none", Unattributed))
    val c = cell(phase, layer)
    c.tasks += 1
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) {
      c.runMs += m.executorRunTime; c.cpuNs += m.executorCpuTime; c.gcMs += m.jvmGCTime
      c.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.bytesWritten += m.outputMetrics.bytesWritten
      c.recordsWritten += m.outputMetrics.recordsWritten
      if (info != null) {
        val busy = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime
        c.schedMs += math.max(0L, info.duration - busy - info.gettingResultTime)
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execDetails(s.executionId) = s.details
      layerOfStreamPlan(s.physicalPlanDescription).foreach(execPlanLayer(s.executionId) = _)
    }
    case end: SparkListenerSQLExecutionEnd => onExecutionEnd(end)
    case _ => ()
  }

  private def onExecutionEnd(end: SparkListenerSQLExecutionEnd): Unit = {
    // `qe` is Spark-internal API (private[sql]); read it reflectively so the
    // meter needs no code inside the engine's packages
    val qe = try end.getClass.getMethod("qe").invoke(end) match {
      case q: org.apache.spark.sql.execution.QueryExecution => Some(q)
      case _ => None
    } catch { case _: ReflectiveOperationException => None }
    val scans = qe.toSeq.flatMap(q => scanNodes(q.executedPlan))
    synchronized {
      val (phase, layer) = execCell.remove(end.executionId).getOrElse {
        val det = execDetails.getOrElse(end.executionId, "")
        ("none", layerOfCallSite(det).getOrElse(Unattributed))
      }
      execDetails.remove(end.executionId)
      execPlanLayer.remove(end.executionId)
      val c = cell(phase, layer)
      qe.foreach(q => c.planMs += q.tracker.phases.values.map(_.durationMs).sum)
      scans.foreach { f =>
        val t = tableOf(f)
        def metric(k: String) = f.metrics.get(k).map(_.value).getOrElse(0L)
        c.scanRows(t) += metric("numOutputRows")
        c.scanFiles(t) += metric("numFiles")
        c.scanBytes(t) += metric("filesSize")
      }
    }
  }

  private def tableOf(f: FileSourceScanExec): String = {
    val roots = f.relation.location.rootPaths.map(_.toString)
    tables.collectFirst { case (name, dir) if roots.exists(_.contains(dir)) => name }
      .getOrElse("other")
  }

  /** Streaming progress durations by key, summed over every progress
    * event seen so far; `batches` counts events that ran a batch. */
  def streamTotals: (Map[String, Long], Long, Long) = synchronized {
    val d = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var batches = 0L; var rows = 0L
    progress.foreach { p =>
      val dm = p.progress.durationMs.asScala
      dm.foreach { case (k, v) => d(k) += v.longValue }
      if (dm.contains("addBatch")) batches += 1
      rows += p.progress.numInputRows
    }
    (d.toMap, batches, rows)
  }
}

object Meter {
  val Unattributed = "unattributed"

  /** Call-site frames that name a pipeline layer, innermost first in a
    * Spark call-site stack. */
  private val framePatterns: Seq[(String, String)] = Seq(
    "graft.pipeline.Quality$" -> "quality",
    "graft.pipeline.ServeCache" -> "serve_cache")

  def layerOfCallSite(stack: String): Option[String] =
    stack.split("\n").iterator.flatMap { frame =>
      framePatterns.collectFirst { case (p, l) if frame.contains(p) => l }
    }.nextOption()

  /** Layer of an execution run inside a drain, by the tables its plan
    * names: the silver merge writes `silver.tmp`; everything else there
    * that touches gold, or reads silver without writing it, is the gold
    * recompute and commit. */
  def layerOfStreamPlan(plan: String): Option[String] =
    if (plan.contains("/silver.tmp")) Some("silver")
    else if (plan.contains("/gold") || plan.contains("/silver")) Some("gold")
    else None

  /** Every file scan of an executed plan, through adaptive stages and
    * subqueries; a reused exchange is not scanned twice. */
  def scanNodes(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scanNodes(a.executedPlan)
    case s: QueryStageExec => scanNodes(s.plan)
    case _: ReusedExchangeExec => Nil
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(scanNodes) ++ other.subqueries.flatMap(scanNodes)
  }

  /** Blocks until the listener bus has delivered every event posted so
    * far, so counters read after a phase are complete. The bus is
    * engine-internal, hence the reflective call. */
  def drainEvents(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def install(spark: SparkSession, tables: Map[String, String]): Meter = {
    val m = new Meter(tables)
    spark.sparkContext.addSparkListener(m)
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        m.synchronized { m.progress += e }
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    m
  }
}
