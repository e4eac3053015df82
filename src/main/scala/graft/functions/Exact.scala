package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Order-independent ("exact") numeric aggregation helpers.
  *
  * Floating-point SUM/AVG over doubles is order-dependent: Spark's partial
  * aggregation tree and DuckDB's scan order add the same values in different
  * orders and disagree in the low bits, which breaks hash-compared oracles
  * AND makes results nondeterministic run-to-run on a real cluster (partition
  * scheduling changes the add order). Routing the aggregation through a
  * fixed-scale decimal makes the sum exact and associative — the same answer
  * on 1 partition or 10 000 — then a final cast back to double restores the
  * ergonomic type. The per-row double→decimal rounding is deterministic
  * because every engine sees identical input doubles.
  */
object Exact {
  private val Dec = DecimalType(22, 6)

  /** Exact, order-independent sum of a double column, returned as double. */
  def dsum(c: Column): Column = sum(c.cast(Dec)).cast("double")

  /** Exact mean: decimal-sum divided by count (IEEE double / long — a single
    * deterministic operation, unlike a running double mean).
    */
  def davg(c: Column): Column = sum(c.cast(Dec)).cast("double") / count(lit(1))

  /** Loud decimal→int64 narrowing. With `spark.sql.ansi.enabled` off (this
    * engine's configuration) `cast(dec as long)` returns NULL on overflow
    * silently, which would surface as a confusing oracle hash/type mismatch
    * instead of an error. This wrapper turns that overflow into a runtime
    * `raise_error`, mirroring DuckDB's always-checked CAST — so the two
    * engines fail the same way at the same magnitude. Used on the final
    * BIGINT casts of exact-integer statistics (autocorrelation, burstiness,
    * assortativity, …) whose docs promise loud failure past ~9.2e18.
    */
  def loudLong(c: Column): Column = {
    val narrowed = c.cast("long")
    when(c.isNotNull && narrowed.isNull,
      raise_error(concat(lit("int64 overflow in exact statistic: "),
        c.cast("string"))).cast("long"))
      .otherwise(narrowed)
  }

  /** DuckDB-side SQL fragment mirroring [[dsum]]. */
  def sqlDsum(expr: String): String =
    s"CAST(SUM(CAST(($expr) AS DECIMAL(22,6))) AS DOUBLE)"

  /** DuckDB-side SQL fragment mirroring [[davg]]. */
  def sqlDavg(expr: String): String =
    s"CAST(SUM(CAST(($expr) AS DECIMAL(22,6))) AS DOUBLE) / COUNT(*)"
}
