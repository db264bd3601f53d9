package graft.tools

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Dev probe for registered queries, under the [[Harness]] session:
  *
  *  - `time <q1,q2,...> [passes] [sfDir]`: a cold pass, then `passes - 1`
  *    warm ones per query (default 3 passes), each a [[Harness.timed]]
  *    noop pass, in one JVM. Isolates a query's own cost from suite
  *    context (JIT contention, code-cache growth, host stalls) before a
  *    suite-run regression is believed; also the quick before/after
  *    measurement between full bench runs.
  *  - `plan <q> [sfDir]`: expression and operator token counts of the
  *    optimized and physical plans, the run time, then the FINAL adaptive
  *    plan, the only place runtime exchange and stage reuse is visible.
  *  - `dump <outDir> <suffix> <q1,q2,...> [sfDir]`: writes each query's
  *    `explain("formatted")` to `<outDir>/<q>_<suffix>.txt`, the
  *    before/after plan evidence. AQE plans print the pre-execution plan
  *    (`isFinalPlan=false`).
  *
  * `runMain graft.tools.Probe <mode> ...`; sfDir defaults to the bench
  * fixture.
  */
object Probe {
  private val usage = "usage: Probe time <q1,q2,...> [passes] [sfDir] | " +
    "plan <q> [sfDir] | dump <outDir> <suffix> <q1,q2,...> [sfDir]"

  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    try run(spark, args.toSeq) finally spark.stop()
  }

  def run(spark: SparkSession, args: Seq[String]): Unit = {
    def names(s: String) = s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    def sf(i: Int) = args.lift(i).getOrElse(Harness.BenchSf)
    args match {
      case Seq("time", qs, _*) =>
        time(spark, names(qs), args.lift(2).fold(3)(_.toInt), sf(3))
      case Seq("plan", q, _*) => plan(spark, q, sf(2))
      case Seq("dump", out, suffix, qs, _*) =>
        dump(spark, Paths.get(out), suffix, names(qs), sf(4))
      case _ => throw new IllegalArgumentException(usage)
    }
  }

  private def time(spark: SparkSession, names: Seq[String], passes: Int,
      sfDir: String): Unit = {
    require(passes >= 2, "time needs a cold and at least one warm pass")
    // the Bench warmup's first step, so the first query is not charged
    // session costs
    try Harness.noop(graft.core.Tables.events(spark, sfDir))
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[probe] warmup failed (continuing): ${e.getMessage}")
    }
    val steady = names.map { name =>
      val fn = graft.SparkEntry.queries(name)
      val ps = (1 to passes).map(_ =>
        Harness.timed(spark)(Harness.noop(fn(spark, sfDir)))._1)
      val warm = ps.tail.map(_.wall)
      println(f"[probe] $name%-34s cold=${ps.head.wall}%6.2f steady=${warm.min}%6.2f " +
        s"(${warm.map(w => f"$w%.2f").mkString("/")}) " +
        s"gc=(${ps.map(_.gcMs).mkString("/")})ms cpu=(${ps.map(_.cpuMs).mkString("/")})ms")
      warm.min
    }
    println(f"[probe] steady_sum=${steady.sum}%.2f over ${names.size} queries ($sfDir)")
  }

  private def plan(spark: SparkSession, name: String, sfDir: String): Unit = {
    def counts(tag: String, text: String, tokens: Seq[String]): Unit =
      tokens.foreach { tok =>
        println(s"[plan] $tag ${tok.replace("\\", "")} count: " +
          tok.r.findAllIn(text).length)
      }
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    val optimized = df.queryExecution.optimizedPlan.toString
    counts("optimized", optimized,
      Seq("from_json", "regexp_extract", "CaseWhen", "named_struct"))
    println(s"[plan] optimized plan size chars: ${optimized.length}")
    // physical shape: exchanges/sorts/windows are the shuffle budget
    counts("physical", df.queryExecution.executedPlan.toString,
      Seq("Exchange hashpartitioning", "Exchange rangepartitioning",
        "Sort \\[", "Window \\[", "BroadcastExchange"))
    @volatile var finalPlan = ""
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = finalPlan = qe.executedPlan.toString
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val (pass, _) = Harness.timed(spark)(Harness.noop(df))
      println(f"[plan] run secs: ${pass.wall}%.2f")
      Thread.sleep(1000) // let the async listener deliver
    } finally spark.listenerManager.unregister(listener)
    println(finalPlan)
    counts("final", finalPlan, Seq("ReusedExchange", "Exchange hashpartitioning",
      "BroadcastExchange", "Window", "Sort "))
  }

  private def dump(spark: SparkSession, outDir: Path, suffix: String,
      names: Seq[String], sfDir: String): Unit = {
    Files.createDirectories(outDir)
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val out = outDir.resolve(s"${name}_$suffix.txt")
      Files.write(out, df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode).getBytes("UTF-8"))
      println(s"[plandump] $name -> $out")
    }
  }
}
