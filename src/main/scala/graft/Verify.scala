package graft
import java.nio.file.{Files, Paths}
import graft.tools.Harness
import graft.tools.Harness.jsonString
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional third arg: regex over query names — local dev only (the
    // driver always passes two); lets a builder iterate on one operator
    // without a full 100+-query sweep
    val Array(sfDir, outDir) = args.take(2)
    val nameFilter = args.drop(2).headOption.map(_.r)
    def selected(name: String): Boolean =
      nameFilter.forall(_.findFirstIn(name).isDefined)
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    // Observed-metric audit trail: guarded plans (Skew.dropHotBuckets
    // observeAs) report dropped_buckets/dropped_rows through
    // CollectMetrics. The guards gate against UNCAPPED oracles, so a
    // binding cap at some future SF would show up only as a bare hash
    // mismatch — this print is the signal that points at the guard.
    @volatile var currentQuery = ""
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = {
          val m = qe.observedMetrics
          if (m.nonEmpty) m.foreach { case (metric, row) =>
            System.err.println(s"[verify][observed] $currentQuery $metric=$row")
          }
        }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      // CacheScope releases builder-persisted projections on scope exit;
      // the clearCache is a defensive reset in case a future query leaks
      spark.sharedState.cacheManager.clearCache()
      currentQuery = name
      try graft.core.CacheScope.scoped {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
    }
    // let async listener events drain before the session stops
    Thread.sleep(500)
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // failure manifest: a query missing from the dump directory must be
    // attributable from the artifact alone (round 9's gate lost 51 queries
    // to a schema break and the WHY lived only in discarded stderr)
    val errJson = failures
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v.take(500))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    spark.stop()
  }
}
