package graft.ingest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Enforcement for the SURVEY §7.4 decimal clamp: the reference stores u128
  * amounts as DECIMAL(39,0)/(42,0) (entities.md:550-552); Spark caps decimal
  * precision at 38, and the documented deviation is "clamp to (38,_) — safe
  * because real amounts are ≤ ~1e30". This guard turns that safety ARGUMENT
  * into an enforced invariant: ingest fails fast the day an amount shows up
  * that the clamp (or its sum accumulator) could corrupt, instead of
  * silently nulling on overflow (non-ANSI casts) downstream.
  */
object DecimalGuard {

  /** Spark's decimal precision ceiling. */
  val SparkMaxPrecision = 38

  /** `df` behind an in-plan assertion that every non-null value of
    * `valueCol` is clamp-safe: |value| < 10^(38 − headroomDigits). The
    * headroom covers the SUM accumulator — Spark widens sum(decimal(p,s)) by
    * at most 10 digits and caps at precision 38, so `headroomDigits = 8`
    * (limit 1e30, the SURVEY bound) keeps ~1e8-row partial sums exact. A
    * value the (38,0) cast itself overflows (cast → null on a non-null
    * input) also fails.
    *
    * The assertion is a filter that keeps every row and raises on an
    * offender, so it costs no scan of its own: it holds wherever the frame's
    * rows are computed — for a persisted frame, in the first query that
    * materializes it — and fails that query with a message naming the
    * column and the limit.
    */
  def enforce(df: DataFrame, valueCol: String, headroomDigits: Int = 8): DataFrame = {
    require(headroomDigits > 0 && headroomDigits < SparkMaxPrecision,
      s"headroomDigits must be in (0, $SparkMaxPrecision), got $headroomDigits")
    val limit = java.math.BigDecimal.TEN.pow(SparkMaxPrecision - headroomDigits)
    val v = col(valueCol)
    // try_cast: an overflowing value must register as an OFFENDER (null on a
    // non-null input), not abort with a cast error under ANSI mode
    val clamped = v.try_cast(DecimalType(SparkMaxPrecision, 0))
    val offender = v.isNotNull && (clamped.isNull ||
      abs(clamped) >= lit(limit).cast(DecimalType(SparkMaxPrecision, 0)))
    df.filter(when(offender, raise_error(lit(
      s"decimal clamp violated: |$valueCol| reaches 1e${SparkMaxPrecision - headroomDigits} " +
        "— the documented (38,_) clamp (SURVEY §7.4) no longer holds; " +
        "switch the exact >38-digit path (binary/two-longs) for this column")))
      .otherwise(lit(true)))
  }
}
