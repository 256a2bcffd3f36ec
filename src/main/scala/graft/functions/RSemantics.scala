package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Null/precision semantics helpers shared by every operator.
  *
  * Two concerns live here:
  *
  * 1. R NA semantics (SURVEY.md §7 "what's hard"): R `mean()` without
  *    `na.rm=TRUE` is NA-poisoning (`/root/reference/R/epa_predict.R:208-210`
  *    mixes both forms), while Spark's `avg` always ignores nulls. `rMean`
  *    reproduces the poisoning form; `naRmMean` is the `na.rm=TRUE` form.
  *    `cor(use = "complete.obs")` (`/root/reference/R/epa_predict.R:272-291`)
  *    is pairwise-complete deletion — exactly Spark's built-in `corr`.
  *
  * 2. Determinism at scale: Spark merges partial aggregates in shuffle-fetch
  *    order, so a plain double `sum` is not bit-stable run to run on a
  *    cluster. Money-like columns with fixed decimal scale go through
  *    DECIMAL so sums are exact and order-independent; unavoidable double
  *    aggregates (corr, ratios) are rounded at the output boundary.
  */
object RSemantics {

  /** R `mean(x)` (no na.rm): null if ANY value in the group is null. */
  def rMean(c: Column): Column =
    when(count(when(c.isNull, lit(1))) === 0, avg(c)).otherwise(lit(null).cast(DoubleType))

  /** R `mean(x, na.rm = TRUE)` — Spark's null-ignoring avg. */
  def naRmMean(c: Column): Column = avg(c)

  /** R `cor(x, y, use = "complete.obs")` — pairwise-complete, built in. */
  def corrComplete(x: Column, y: Column): Column = corr(x, y)

  /** Zero-variance-safe Pearson correlation. Spark 4's ANSI mode makes the
    * built-in `corr` RAISE on a constant column (division by zero inside
    * the aggregate) — and at scale some group always ends up constant. R
    * returns NA there; this does too. Pairwise-complete: each side is
    * masked to rows where the other is non-null before the moments. */
  def safeCorr(x: Column, y: Column): Column = {
    val xp = when(y.isNotNull, x)
    val yp = when(x.isNotNull, y)
    when(stddev_samp(xp) > 0 && stddev_samp(yp) > 0,
      covar_samp(xp, yp) / (stddev_samp(xp) * stddev_samp(yp)))
  }

  /** Cap from below, the reference's `if_else(epa < -4.5, -4.5, epa)` idiom
    * (`/root/reference/R/epa_predict.R:199`). */
  def capBelow(c: Column, lo: Double): Column = greatest(c, lit(lo))
  def capAbove(c: Column, hi: Double): Column = least(c, lit(hi))

  // ---- exact decimal arithmetic for order-independent aggregation ----

  /** Interpret a 2-decimal money double as exact DECIMAL(18,2). */
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Exact, order-independent sum of a 2-decimal money column. */
  def sumDec2(c: Column): Column = sum(dec2(c)).cast(DecimalType(18, 2))

  /** Output-boundary form of [[sumDec2]]: exact decimal sum surfaced as
    * DOUBLE. Query OUTPUT columns must never be DECIMAL-typed — the
    * driver's compare reads the Spark parquet side as scale-preserving
    * decimals ("594668328.50") but the DuckDB oracle side as doubles
    * ("594668328.5"), so any value with a trailing zero at the decimal's
    * scale hash-mismatches. Keep DECIMAL inside the plan for exactness and
    * shuffle-order independence; cast to DOUBLE at the boundary (an exact
    * decimal→double cast is correctly rounded and bit-identical in both
    * engines). */
  def sumMoney(c: Column): Column = sum(dec2(c)).cast(DoubleType)

  /** Exact sum of a product of two 2-decimal columns (scale 4). */
  def sumDec2Prod(a: Column, b: Column): Column =
    sum(dec2(a) * dec2(b)).cast(DecimalType(18, 4))

  /** A mean rounded to 4 decimals from its EXACT value, half away from
    * zero, as SQL that reads the same in Spark and DuckDB: integer
    * arithmetic on (sum of cents, n), then one IEEE division by 10^4.
    * `intDiv` is the engine's integer division: `div` in Spark, `//` in
    * DuckDB. `ROUND(double, 4)` is not engine-stable: Spark rounds the
    * shortest decimal form of the double half-up, DuckDB rounds the binary
    * double, and Spark's decimal `avg` rounds at 6 decimals first; a mean
    * on (or within 5e-7 below) a half-way point comes out differently in
    * the two engines. */
  def mean4Sql(cents: String, n: String, intDiv: String): String =
    s"CASE WHEN $n > 0 THEN CAST(((2 * abs($cents) * 100 + $n) $intDiv (2 * $n))" +
      s" * sign($cents) AS DOUBLE) / CAST(10000 AS DOUBLE) END"

  /** Exact sum of the 2-decimal money column `c` in cents, BIGINT in both
    * engines. */
  def centsSql(c: String): String = s"CAST(SUM(CAST($c AS DECIMAL(18,2)) * 100) AS BIGINT)"

  /** [[mean4Sql]] of the money column `c` over its non-null rows, as one
    * aggregate in either engine's SQL. */
  def avgDec2Sql(c: String, intDiv: String): String =
    mean4Sql(centsSql(c), s"COUNT($c)", intDiv)

  /** Spark side of [[avgDec2Sql]]: the exactly rounded mean of a money
    * column. */
  def avgDec2(c: String): Column = expr(avgDec2Sql(c, "div"))

  /** Output-boundary rounding for inherently-double statistics. */
  def stat4(c: Column): Column = round(c.cast(DoubleType), 4)
}
