package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Query registry plumbing shared by SparkEntry and the entry points
  * that run it (Verify, Bench, Probe, PlanAudit, ScaleRehearsal), all on
  * the one session of `graft.tools.Harness`.
  *
  * Every operator claimed in SURVEY.md §2 registers a [[queries.GraftQuery]]:
  * a named DataFrame pipeline over the driver's test tables plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB SQL oracle. The
  * driver hash-compares both outputs, so queries follow strict determinism
  * rules, see [[queries.OracleParity]].
  */
package object queries {

  /** One registered query: `run` is the Spark pipeline, `oracle` the DuckDB
    * twin (None → driver records a weaker rows-only check).
    */
  case class GraftQuery(
      name: String,
      survey: String, // SURVEY.md §2 operator ids this query covers
      run: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  /** Determinism helpers for oracle hash-parity (see Scaladoc on each). */
  object OracleParity {
    /** Money/quantity aggregation: sums of doubles are order-dependent, so
      * cast each element to DECIMAL(18,4) first (exact, associative), then
      * cast the final aggregate back to double — both engines produce
      * bit-identical float64.
      *
      * CAVEAT — double→DECIMAL casts are themselves engine-divergent for
      * COMPUTED doubles: Spark rounds the double's shortest-decimal
      * rendering (`BigDecimal.valueOf`), DuckDB rounds the exact binary
      * value, so a full-mantissa ratio sitting near a quantum boundary
      * rounds apart (observed: q86's quality mean under DECIMAL(20,6)
      * matched at sf0.01, failed at sf0.1). `dec` is safe ONLY for
      * columns already decimal-exact at the target scale (parquet money/
      * quantity values). To aggregate a computed double portably,
      * quantize with single IEEE ops instead — `floor(c * 1e6)` is
      * bit-identical on any engine — sum the exact longs, divide once
      * (see q86_source_profile).
      */
    def dec(c: Column): Column = c.cast(DecimalType(18, 4))

    /** Exact decimal sum rendered as double. */
    def dsum(c: Column): Column = sum(dec(c)).cast("double")

    /** Exact decimal avg rendered as double (sum/count, not avg(), so the
      * division happens once in float64 on both engines).
      */
    def davg(c: Column): Column =
      (sum(dec(c)).cast("double") / count(c)).cast("double")
  }
}
