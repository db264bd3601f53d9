package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What every engine entry point (Bench, Verify, PlanAudit, ScaleRehearsal,
  * Probe and the spec session) builds on: one session factory, one timed
  * pass, one shuffle-byte meter and one JSON-string escaper.
  */
object Harness {

  /** The bench fixture, the default input of the timing tools. */
  val BenchSf = "/root/testdata/sf0.1"

  /** Worker threads: `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Session settings: UTC (every temporal query assumes it), one shuffle
    * partition per worker thread, no UI. AQE is the at-scale configuration
    * (measured 76 s vs 105 s off at sf0.1/local[32]); only the static plan
    * audit turns it off.
    */
  def settings(cpus: Int, adaptive: Boolean): Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.enabled" -> adaptive.toString,
    "spark.ui.enabled" -> "false")

  /** A `local[cpus]` session with [[settings]], WARN logging and the
    * native `graft_*` functions registered (a query that analyzes a
    * `call_function` eagerly must not depend on the table loader having
    * run first).
    */
  def session(cpus: Int = defaultCpus, adaptive: Boolean = true): SparkSession = {
    val spark = settings(cpus, adaptive)
      .foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
        case (b, (k, v)) => b.config(k, v)
      }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.register(spark)
    spark
  }

  /** JVM-health counters sampled around each pass: JIT compilation time,
    * GC time, process CPU and code-cache occupancy. Suite-context perf
    * regressions (a query fast in isolation but slow mid-suite) are
    * JVM-environmental, and these localize whether the cost is JIT
    * recompilation, GC pressure, or a full code cache that silently
    * disabled the compiler.
    */
  object Jvm {
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    // null on JIT-less JVMs (-Xint), and compilation-time monitoring is
    // optional — diagnostics degrade to 0 rather than aborting the suite
    private val comp = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
    private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    private val codeHeaps = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.startsWith("CodeHeap"))
    // whole-process CPU time (all threads, ns) — the HotSpot extension
    // bean; -1 sentinel if the platform bean doesn't expose it
    private val os = ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => Some(b)
      case _ => None
    }
    def jitMs: Long = comp.map(_.getTotalCompilationTime).getOrElse(0L)
    def gcMs: Long = gcs.map(_.getCollectionTime).sum
    def cpuMs: Long = os.map(_.getProcessCpuTime / 1000000L).getOrElse(-1L)
    def codeCacheMb: Long = codeHeaps.map(_.getUsage.getUsed).sum >> 20
  }

  /** One measured pass: wall seconds plus the process-CPU and GC
    * milliseconds the JVM itself accrued inside the timed region. A host
    * freeze INSIDE a pass advances wall while cpu+gc stand still, so a
    * pass whose whole process averaged under half of one core (`lowCpu`)
    * carries its own interference verdict.
    */
  final case class Pass(wall: Double, cpuMs: Long, gcMs: Long) {
    def lowCpu: Boolean =
      wall > 1.0 && cpuMs >= 0 && (cpuMs + gcMs) < wall * 500.0
  }

  /** Runs `body` as one [[Pass]]. The session cache is cleared first and
    * `body` runs inside a [[graft.core.CacheScope]], so a persisted
    * projection is re-materialized inside every timed region (warm passes
    * measure warm-JIT pipelines, not warm caches) and cached relations
    * don't accumulate across passes.
    */
  def timed[T](spark: SparkSession)(body: => T): (Pass, T) = {
    spark.sharedState.cacheManager.clearCache()
    val (cpu0, gc0) = (Jvm.cpuMs, Jvm.gcMs)
    val t0 = System.nanoTime()
    val result = graft.core.CacheScope.scoped(body)
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu1 = Jvm.cpuMs
    val cpu = if (cpu0 < 0 || cpu1 < 0) -1L else cpu1 - cpu0
    (Pass(wall, cpu, Jvm.gcMs - gc0), result)
  }

  /** A cold pass (pays the plan's one-time codegen and JIT), then the
    * faster of two warm passes, whose results must agree.
    */
  def bestOf2[T](spark: SparkSession)(body: => T): (Double, T) = {
    timed(spark)(body)
    val (p1, r1) = timed(spark)(body)
    val (p2, r2) = timed(spark)(body)
    require(r1 == r2, s"warm passes disagree: $r1 vs $r2")
    (math.min(p1.wall, p2.wall), r1)
  }

  /** Executes `df` in full into the `noop` sink: every row is produced and
    * serialized (`count()` would let Catalyst prune projections and
    * eliminate final sorts).
    */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Shuffle bytes written by completed stages, summed off the listener
    * bus. The bus is asynchronous, so a metered pass waits for earlier
    * stage events to drain before it starts and for its own last stage's
    * event to land before it reads.
    */
  final class ShuffleMeter extends SparkListener {
    private val bytes = new AtomicLong(0L)
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      bytes.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)

    /** One [[timed]] pass and the shuffle bytes its stages wrote. */
    def timed[T](spark: SparkSession)(body: => T): (Pass, Long, T) = {
      Thread.sleep(300); bytes.set(0L)
      val (pass, result) = Harness.timed(spark)(body)
      Thread.sleep(500)
      (pass, bytes.get(), result)
    }
  }

  /** Runs `body` with a [[ShuffleMeter]] on the session's listener bus. */
  def withShuffleMeter[T](spark: SparkSession)(body: ShuffleMeter => T): T = {
    val meter = new ShuffleMeter
    spark.sparkContext.addSparkListener(meter)
    try body(meter) finally spark.sparkContext.removeSparkListener(meter)
  }

  /** `s` as a JSON string literal: quote, backslash and every control
    * character below 0x20 escaped — a tab in hand-written oracle SQL or
    * an ESC from an ANSI-coloured failure message would otherwise make
    * the artifact unparseable. Truncate before escaping, never after: a cut
    * escape leaves a lone backslash that swallows the closing quote.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
