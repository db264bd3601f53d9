package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point, started by `perfbench/run.py`.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --data <dir> [--batch <file>] --work <dir> --out <file> [--scale tiny]
  * }}}
  *
  * It sets up the workload (session, streaming feeds, one untimed cold
  * pass of every op), runs steady passes for `--seconds`, checks outputs
  * and writes raw samples to `--out` as JSON; run.py generates the corpus
  * inputs beforehand, turns the samples into metrics and runs the DuckDB
  * oracles.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, batch: String, work: String, out: String,
      tiny: Boolean) {
    val cores: Int = Runtime.getRuntime.availableProcessors
  }

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String, d: String) = kv.getOrElse(k, d)
    Args(get("--workload", ""), get("--seed", "1").toLong,
      get("--seconds", "10").toDouble, get("--trace", "0") == "1",
      get("--data", ""), get("--batch", ""), get("--work", ""),
      get("--out", ""), get("--scale", "full") == "tiny")
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(a.data.nonEmpty && a.work.nonEmpty && a.out.nonEmpty,
      "--data, --work and --out are required")
    Files.createDirectories(Paths.get(a.work))
    val t0 = System.nanoTime()
    val spark = session(a)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val result = try run(spark, a, sessionS) finally spark.stop()
    Files.write(Paths.get(a.out), JsonMapper.builder()
      .addModule(DefaultScalaModule).build().writeValueAsBytes(result))
  }

  def run(spark: SparkSession, a: Args, sessionS: Double): Map[String, Any] = {
    val ctx = new Ctx(spark, a)
    val w: Workload = a.workload match {
      case "cop_queries" => new QueryWorkload(ctx, Workloads.cop(a.tiny), corpus = false)
      case "corpus_queries" => new QueryWorkload(ctx, Workloads.corpus(a.tiny), corpus = true)
      case "corpus_jobs" => new JobsWorkload(ctx)
      case "stream_ingest" => new StreamWorkload(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.generate()
    val coldT0 = System.nanoTime()
    w.cold()
    val coldS = (System.nanoTime() - coldT0) / 1e9

    // a fixed number of passes per --seconds (not "until the clock runs
    // out"): the JVM is still warming up, so every run and every commit
    // must measure the same stretch of that curve
    val passes = math.max(1, math.round(a.seconds / w.nominalPassS).toInt)
    def timed(k: Int): Double = {
      val t = System.nanoTime()
      w.pass(k)
      (System.nanoTime() - t) / 1e9
    }
    ctx.tracer.foreach(_ => Jvm.resetPeaks())
    val steal0 = Host.stealMs
    val jit0 = Jvm.jitMs
    val gc0 = Jvm.gcMs
    // a traced run pairs every traced pass with an untraced one (order
    // alternating, so warm-up weighs on both alike): the tracing overhead
    // is the difference of their medians
    val (passWalls, untracedWalls) = ctx.tracer match {
      case None => ((0 until passes).map(timed), Seq.empty[Double])
      case Some(t) =>
        def traced(k: Int): Double = {
          t.pass = k
          t.attach()
          try timed(k) finally t.detach()
        }
        val pairs = (0 until passes).map { k =>
          if (k % 2 == 0) { val u = timed(-1); (traced(k), u) }
          else { val tr = traced(k); (tr, timed(-1)) }
        }
        (pairs.map(_._1), pairs.map(_._2))
    }
    val stealMs = Host.stealMs - steal0
    val jvm = Map("jvm.jit_ms" -> (Jvm.jitMs - jit0).toDouble,
      "jvm.gc_ms" -> (Jvm.gcMs - gc0).toDouble,
      "jvm.codecache_mb" -> Jvm.codeCacheMb, "jvm.peak_heap_mb" -> Jvm.peakHeapMb)

    Map(
      "workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores,
      "setup" -> Map("session_s" -> sessionS, "gen_s" -> ctx.genTimes.toSeq,
        "cold_s" -> coldS),
      "passes" -> passWalls.size,
      "pass_wall_s" -> passWalls.toSeq, "steal_ms" -> stealMs,
      "inputs" -> ctx.inputs.toSeq,
      "samples" -> ctx.samples.toSeq,
      "latency" -> ctx.latency.toSeq,
      "values" -> ctx.values.toSeq,
      "checks" -> ctx.checks.toSeq,
      "oracle" -> ctx.oracle.toSeq,
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "trace" -> ctx.tracer.map { t =>
        Map("ops" -> t.ops.toSeq, "spans" -> t.spans.toSeq,
          "jvm" -> jvm, "untraced_pass_s" -> untracedWalls)
      })
  }
}

/** CPU time the hypervisor gave to other guests ("steal", summed over
  * CPUs): host contention that slows a run without the run doing more
  * work. 0 where /proc/stat is not readable.
  */
object Host {
  def stealMs: Double = scala.util.Try {
    val f = scala.io.Source.fromFile("/proc/stat")
    try f.getLines().next().trim.split("\\s+")(8).toDouble * 10.0
    finally f.close()
  }.getOrElse(0.0)
}

/** One workload: seeded inputs, an untimed cold pass, steady passes. */
trait Workload {
  /** Nominal length of one steady pass on the reference machine (4
    * cores); a run of `--seconds` makes `seconds / nominalPassS` passes.
    */
  def nominalPassS: Double
  /** Generate in-JVM inputs, timing each repeat into ctx.genTimes (the
    * corpus inputs come from run.py).
    */
  def generate(): Unit = ()
  def cold(): Unit
  /** One steady pass; `k < 0` is an untraced reference pass of a traced
    * run, whose samples are not recorded.
    */
  def pass(k: Int): Unit
}

/** Shared run state: the session, the optional tracer and everything the
  * run records for run.py.
  */
final class Ctx(val spark: SparkSession, val args: Main.Args) {
  val tracer: Option[Tracer] = if (args.trace) Some(new Tracer(spark)) else None
  val genTimes = mutable.ArrayBuffer[Double]()
  val inputs = mutable.ArrayBuffer[InputRecord]()
  /** One steady op execution: pass, op, family, wall seconds. */
  val samples = mutable.ArrayBuffer[Map[String, Any]]()
  /** Open-loop latency samples: op, latency seconds, row count. */
  val latency = mutable.ArrayBuffer[Map[String, Any]]()
  /** Named per-pass values a workload reports (job and stream figures). */
  val values = mutable.ArrayBuffer[Map[String, Any]]()
  val checks = mutable.ArrayBuffer[Map[String, Any]]()
  /** Query outputs to compare with their DuckDB twins. */
  val oracle = mutable.ArrayBuffer[Map[String, Any]]()
  var attempted = 0L
  var failed = 0L

  def work(name: String): String = s"${args.work}/$name"

  /** Run `body` `n` times and record the wall of each into genTimes. */
  def timedGen(n: Int)(body: => Unit): Unit = (0 until n).foreach { _ =>
    val t = System.nanoTime()
    body
    genTimes += (System.nanoTime() - t) / 1e9
  }

  def check(name: String, ok: Boolean, detail: String): Unit = {
    attempted += 1
    if (!ok) failed += 1
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
  }

  def value(pass: Int, name: String, v: Double): Unit =
    if (pass >= 0) values += Map("pass" -> pass, "name" -> name, "value" -> v)

  /** Time one op. Untraced: the wall of `body`. Traced: also an op span
    * and the op's per-layer counters. A failure is counted, never timed.
    */
  def op[A](pass: Int, name: String, family: String)(body: => A): Option[A] = {
    val record = pass >= 0
    if (record) attempted += 1
    if (record) tracer.foreach(_.beginOp(name))
    val t0 = System.nanoTime()
    val r = try Some(body) catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] op $name failed: $e")
        if (record) failed += 1
        None
    }
    val wall = (System.nanoTime() - t0) / 1e9
    if (record) tracer.foreach(_.endOp(name, family, wall))
    if (record && r.isDefined)
      samples += Map("pass" -> pass, "op" -> name, "family" -> family, "wall_s" -> wall)
    r
  }

  /** A child span of the current op when traced, else just `body`. */
  def span[A](pass: Int, name: String, layer: String)(body: => A): A =
    tracer match {
      case Some(t) if pass >= 0 => t.span(name, layer)(body)
      case _ => body
    }
}
