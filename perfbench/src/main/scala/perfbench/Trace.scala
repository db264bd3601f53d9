package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** JVM counters read through the platform MXBeans. */
object Jvm {
  private val comp = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
  def jitMs: Long = comp.map(_.getTotalCompilationTime).getOrElse(0L)
  def gcMs: Long = gcs.map(_.getCollectionTime).sum
  def codeCacheMb: Double =
    pools.filter(_.getName.startsWith("CodeHeap")).map(_.getUsage.getUsed).sum / 1048576.0
  def peakHeapMb: Double =
    pools.filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  def resetPeaks(): Unit = pools.foreach(_.resetPeakUsage())
}

object Intervals {
  /** Total length covered by a set of (start, end) intervals. */
  def unionLength(xs: Seq[(Double, Double)]): Double = {
    var total, curStart, curEnd = 0.0
    var open = false
    xs.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (!open || a > curEnd) {
        if (open) total += curEnd - curStart
        curStart = a; curEnd = b; open = true
      } else curEnd = math.max(curEnd, b)
    }
    if (open) total += curEnd - curStart
    total
  }
}

/** A traced interval. Times are milliseconds since the tracer started. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    pass: Int, start: Double, end: Double)

/** Counts the codegen log lines: every compiled class ("Code generated
  * in N ms") and every compile failure or interpreted fallback, which
  * Spark otherwise only logs before silently running interpreted.
  */
final class CodegenLog extends AbstractAppender("perfbench-codegen", null,
    null, true, Property.EMPTY_ARRAY) {
  val classes = new AtomicLong
  val compileMs = new DoubleAdder
  val fallbacks = new AtomicLong
  private val Generated = """Code generated in ([0-9.]+) ms""".r.unanchored
  private val Fallback =
    "(?i)(failed to compile|falling back|fallback|codegen disabled|grows beyond)".r.unanchored

  override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
    case Generated(ms) => classes.incrementAndGet(); compileMs.add(ms.toDouble)
    case Fallback(_) => fallbacks.incrementAndGet()
    case _ =>
  }
}

object CodegenLog {
  private val Loggers = Seq(
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator",
    "org.apache.spark.sql.catalyst.expressions.CodeGeneratorWithInterpretedFallback",
    "org.apache.spark.sql.execution.WholeStageCodegenExec")

  def install(): CodegenLog = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val app = new CodegenLog
    app.start()
    cfg.addAppender(app)
    Loggers.foreach { n =>
      val lc = new LoggerConfig(n, Level.INFO, false)
      lc.addAppender(app, Level.INFO, null)
      cfg.addLogger(n, lc)
    }
    ctx.updateLoggers()
    app
  }
}

/** Per-layer tracing around the harness's calls into the engine: one span
  * per op, child spans for plan build and execution, and Spark stages and
  * streaming micro-batches as spans under the op, linked through a job
  * group the harness sets. Counters come from a SparkListener (stage and
  * task metrics), a QueryExecutionListener (final plan and its SQL
  * metrics), the codegen log and the JVM MXBeans. Spans are kept in
  * memory and written out at the end.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._
  private val sc = spark.sparkContext
  private val originNs = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis().toDouble
  def now: Double = (System.nanoTime() - originNs) / 1e6
  private def fromEpoch(ms: Long): Double = ms - originEpochMs

  val spans = mutable.ArrayBuffer[Span]()
  val ops = mutable.ArrayBuffer[Map[String, Any]]()
  var pass = -1

  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val plans = new ConcurrentLinkedQueue[PlanRec]()
  private val batches = new ConcurrentLinkedQueue[BatchRec]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty(JobGroupKey))).getOrElse("")
      e.stageIds.foreach(stageGroup.put(_, g))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null)
        tasks.add(TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      if (m != null && si.submissionTime.isDefined) stages.add(StageRec(
        si.stageId, stageGroup.getOrDefault(si.stageId, ""),
        si.submissionTime.get, si.completionTime.getOrElse(si.submissionTime.get),
        m.executorRunTime, m.executorCpuTime / 1e6, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
        m.outputMetrics.bytesWritten))
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = plans.add(planStats(qe.executedPlan,
      qe.tracker.phases.values.map(_.durationMs).sum))
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      batches.add(BatchRec(p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)))
    }
  }

  private var codegen: CodegenLog = _

  /** Attach the listeners (the codegen appender stays once installed). */
  def attach(): Unit = {
    if (codegen == null) codegen = CodegenLog.install()
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  // -- spans ---------------------------------------------------------------

  private var nextId = 0
  private final class Open(val id: Int, val parent: Int, val name: String,
      val layer: String, val start: Double)
  private var stack = List.empty[Open]
  private var opChildren = mutable.ArrayBuffer[Span]()
  private var opStart: (Double, Long, Long, Long, Long) = _

  private def open(name: String, layer: String): Open = {
    val o = new Open(nextId, stack.headOption.map(_.id).getOrElse(-1), name,
      layer, now)
    nextId += 1
    stack = o :: stack
    o
  }
  private def close(o: Open): Span = {
    stack = stack.tail
    val s = Span(o.id, o.parent, o.name, o.layer, pass, o.start, now)
    spans += s
    s
  }

  /** A child span of the current op (plan build, plan, execute, ...). */
  def span[A](name: String, layer: String)(body: => A): A = {
    val o = open(name, layer)
    try body finally opChildren += close(o)
  }

  def beginOp(name: String): Unit = {
    opChildren = mutable.ArrayBuffer[Span]()
    val o = open(name, "op")
    sc.setJobGroup(s"$GroupPrefix${o.id}", name, interruptOnCancel = false)
    opStart = (codegen.compileMs.sum(), codegen.classes.get(),
      codegen.fallbacks.get(), Jvm.jitMs, Jvm.gcMs)
  }

  /** Close the op span, wait for its listener events and fold them into
    * one record of per-layer counters for the op.
    */
  def endOp(name: String, family: String, wallS: Double): Unit = {
    val (cg0, cls0, fb0, jit0, gc0) = opStart
    val jit = Jvm.jitMs - jit0
    val gc = Jvm.gcMs - gc0
    val opSpan = close(stack.head)
    sc.clearJobGroup()
    PerfbenchBus.drain(sc)
    // the op's stages carry its job group; streaming micro-batches run
    // under their query's own group, inside the op
    val group = s"$GroupPrefix${opSpan.id}"
    val st = drainQueue(stages)
      .filter(s => s.group == group || !s.group.startsWith(GroupPrefix))
    val tk = drainQueue(tasks)
    val pl = drainQueue(plans)
    val bt = drainQueue(batches)

    // stages and micro-batches become spans under the op's innermost
    // child span that was open when they started
    def parentOf(start: Double): Int = opChildren
      .filter(c => c.start <= start && start <= c.end)
      .sortBy(c => c.end - c.start).headOption.map(_.id).getOrElse(opSpan.id)
    st.foreach { s =>
      val a = fromEpoch(s.submitted)
      spans += Span(nextId, parentOf(a), s"stage-${s.stageId}", "stage", pass, a,
        fromEpoch(s.completed))
      nextId += 1
    }
    bt.foreach { b =>
      val a = fromEpoch(b.start)
      spans += Span(nextId, opSpan.id, s"batch-${b.batchId}", "stream_batch",
        pass, a, a + b.triggerMs)
      nextId += 1
    }

    val submitted = st.map(s => s.stageId -> s.submitted).toMap
    val byStage = tk.groupBy(_.stageId)
    val skews = byStage.values.filter(_.size >= 2).map { ts =>
      val d = ts.map(t => (t.finish - t.launch).toDouble).sorted
      val med = d(d.size / 2) max 1.0
      d.last / med
    }
    val taskWait = tk.map(t => (t.launch - submitted.getOrElse(t.stageId, t.launch)).max(0L)).sum
    val covered = Intervals.unionLength(
      tk.map(t => (fromEpoch(t.launch) max opSpan.start, fromEpoch(t.finish) min opSpan.end))
        .filter { case (a, b) => b > a })
    val childMs = (n: String) => opChildren.filter(_.name == n).map(c => c.end - c.start).sum

    val m = mutable.LinkedHashMap[String, Double](
      "queries.build_ms" -> childMs("build"),
      "queries.plan_ms" -> pl.map(_.planMs).sum.toDouble,
      "queries.plan_nodes" -> pl.map(_.nodes).sum.toDouble,
      "queries.exchange_n" -> pl.map(_.exchanges).sum.toDouble,
      "queries.unpartitioned_window_n" -> pl.map(_.unpartitionedWindows).sum.toDouble,
      "core.scan_rows" -> st.map(_.inRows).sum.toDouble,
      "core.scan_bytes" -> st.map(_.inBytes).sum.toDouble,
      "plans.codegen_compile_ms" -> (codegen.compileMs.sum() - cg0),
      "plans.codegen_classes" -> (codegen.classes.get() - cls0).toDouble,
      "plans.codegen_fallback_n" -> (codegen.fallbacks.get() - fb0).toDouble,
      "plans.wscg_ms" -> pl.map(_.wscgMs).sum.toDouble,
      "plans.join_rows" -> pl.map(_.joinRows).sum.toDouble,
      "sinks.rows_written" -> pl.map(_.rowsWritten).sum.toDouble,
      "sinks.bytes_written" -> pl.map(_.bytesWritten).sum.toDouble,
      "sinks.files_written" -> pl.map(_.filesWritten).sum.toDouble,
      "sinks.write_ms" -> st.filter(_.outBytes > 0).map(_.runMs).sum.toDouble,
      "exec.stage_n" -> st.size.toDouble,
      "exec.task_n" -> tk.size.toDouble,
      "exec.run_ms" -> st.map(_.runMs).sum.toDouble,
      "exec.cpu_ms" -> st.map(_.cpuMs).sum,
      "exec.gc_ms" -> st.map(_.gcMs).sum.toDouble,
      "exec.shuffle_write_bytes" -> st.map(_.shuffleWrite).sum.toDouble,
      "exec.shuffle_read_bytes" -> st.map(_.shuffleRead).sum.toDouble,
      "exec.spill_bytes" -> st.map(_.spill).sum.toDouble,
      "exec.task_wait_ms" -> taskWait.toDouble,
      "exec.idle_gap_ms" -> ((opSpan.end - opSpan.start) - covered).max(0.0),
      "jvm.jit_ms" -> jit.toDouble,
      "jvm.gc_ms" -> gc.toDouble)
    ops += Map("name" -> name, "family" -> family, "pass" -> pass,
      "wall_s" -> wallS, "metrics" -> m, "stage_skews" -> skews.toSeq)
  }

  private def drainQueue[T](q: ConcurrentLinkedQueue[T]): Seq[T] = {
    val b = mutable.ArrayBuffer[T]()
    var x = q.poll()
    while (x != null) { b += x; x = q.poll() }
    b.toSeq
  }

  /** Node counts and SQL metrics of an executed (final adaptive) plan. */
  private def planStats(root: SparkPlan, planMs: Long): PlanRec = {
    var nodes, exchanges, windows = 0
    var wscg, joinRows, rows, bytes, files = 0L
    def metric(p: SparkPlan, k: String): Long =
      p.metrics.get(k).map(_.value).getOrElse(0L)
    def walk(p: SparkPlan): Unit = {
      nodes += 1
      p match {
        case _: ShuffleExchangeLike => exchanges += 1
        case w: WindowExec if w.partitionSpec.isEmpty => windows += 1
        case w: WholeStageCodegenExec => wscg += metric(w, "pipelineTime")
        case j @ (_: BaseJoinExec | _: BroadcastNestedLoopJoinExec |
            _: CartesianProductExec) => joinRows += metric(j, "numOutputRows")
        case _ =>
      }
      p match {
        case w: DataWritingCommandExec =>
          files += metric(w, "numFiles")
          rows += metric(w, "numOutputRows")
          bytes += metric(w, "numOutputBytes")
        case _ =>
      }
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case _: ReusedExchangeExec => ()
        case _ => p.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(root)
    PlanRec(planMs, nodes, exchanges, windows, wscg, joinRows, rows, bytes, files)
  }
}

object Tracer {
  private val JobGroupKey = "spark.jobGroup.id"
  private val GroupPrefix = "perfbench-op-"
  private final case class StageRec(stageId: Int, group: String,
      submitted: Long, completed: Long, runMs: Long,
      cpuMs: Double, gcMs: Long, shuffleWrite: Long, shuffleRead: Long,
      spill: Long, inRows: Long, inBytes: Long, outBytes: Long)
  private final case class TaskRec(stageId: Int, launch: Long, finish: Long)
  private final case class PlanRec(planMs: Long, nodes: Int, exchanges: Int,
      unpartitionedWindows: Int, wscgMs: Long, joinRows: Long,
      rowsWritten: Long, bytesWritten: Long, filesWritten: Long)
  private final case class BatchRec(batchId: Long, start: Long, triggerMs: Long)

}
