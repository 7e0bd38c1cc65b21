package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Null-repair operators: forward fill, backward fill, linear
  * interpolation over a time order.
  *
  * Reference: `fill_missing_values_in_df`
  * (/root/reference/powerdatapipeline/datapipeline/pandas_utilities.py:131-152):
  * forward-fill for instantaneous measurements, linear interpolation for
  * cumulative ones (`columns_to_avoid`, e.g. energy counters), backfill
  * fallback when leading NaNs remain.
  *
  * Scale design: each fill is window-function-only — partition by the
  * series key so a 100 TB table parallelizes per series; no collect, no
  * shuffle beyond the one hash-partition per window spec. The previous
  * and next non-null observation come from the frameless offset
  * functions `lag`/`lead(…, ignoreNulls = true)` and the forward fill
  * from a running `last` frame: each is one linear pass per partition
  * (an unbounded-FOLLOWING frame would be re-evaluated per row, which is
  * quadratic in the series length). All of them share the SAME
  * partitioning+ordering, so Catalyst plans one sort for all of them.
  */
object Fill {

  /** Window spec builder. An EMPTY `partitionBy` is the ordered-stream
    * PARITY MODE — one global window, single-partition execution (Spark
    * warns `WindowExec: No Partition Defined`), matching the reference's
    * whole-frame pandas fills and bounded only at reference scale (one
    * DER/nodeload config's series). It is NOT the 100 TB path: at scale
    * callers pass the series key (every registered query does), or —
    * for a genuinely global order — use the chunk-keyed two-level
    * decomposition ([[WindowOps.withRowIdx]]'s range-partitioned global
    * index / quantile_bucket's per-chunk prefix sums + broadcast
    * offsets), which keeps each window task bounded by a chunk.
    */
  private def part(partitionBy: Seq[String], orderBy: Seq[String]) =
    (if (partitionBy.isEmpty) Window.partitionBy() else Window.partitionBy(partitionBy.map(col): _*))
      .orderBy(orderBy.map(col): _*)

  /** Last non-null value at or before each row (forward fill). */
  def ffill(c: Column, partitionBy: Seq[String], orderBy: Seq[String]): Column =
    last(c, ignoreNulls = true)
      .over(part(partitionBy, orderBy).rowsBetween(Window.unboundedPreceding, 0))

  /** First non-null value at or after each row (backward fill). */
  def bfill(c: Column, partitionBy: Seq[String], orderBy: Seq[String]): Column =
    coalesce(c, lead(c, 1, null, ignoreNulls = true).over(part(partitionBy, orderBy)))

  /** The nearest non-null observation strictly before / after each row,
    * as `(t, v)` structs (null when there is none): `t` and `v` always
    * come from the same row, so the interpolation below reads a
    * consistent pair.
    */
  private def neighbours(v: Column, tsSec: Column, partitionBy: Seq[String],
                         orderBy: Seq[String]): (Column, Column) = {
    val w = part(partitionBy, orderBy)
    val s = when(v.isNotNull, struct(tsSec.as("t"), v.as("v")))
    (lag(s, 1, null, ignoreNulls = true).over(w), lead(s, 1, null, ignoreNulls = true).over(w))
  }

  /** The observed value, else the linear value between `prev` and `next`,
    * else `prev`'s value. Duplicate-timestamp guard: when the surrounding
    * observations share a timestamp the slope is 0/0, so fall through to
    * the carry-forward branch instead of emitting NaN.
    */
  private def linear(v: Column, tsSec: Column, prev: Column, next: Column): Column =
    when(v.isNotNull, v)
      .when(prev.isNotNull && next.isNotNull && next("t") =!= prev("t"),
        prev("v") + (next("v") - prev("v")) * (tsSec - prev("t")) / (next("t") - prev("t")))
      .when(prev.isNotNull, prev("v"))

  /** Forward-only linear interpolation — pandas
    * `interpolate(method='linear', limit_direction='forward')` semantics
    * (the `columns_to_avoid` branch of `fill_missing_values_in_df`,
    * pandas_utilities.py:140-142): interior gaps get the linear value,
    * trailing nulls carry the last observation forward, LEADING nulls
    * stay null (nothing precedes them to interpolate from).
    */
  def interpolateForward(v: Column, tsSec: Column, partitionBy: Seq[String], orderBy: Seq[String]): Column = {
    val (prev, next) = neighbours(v, tsSec, partitionBy, orderBy)
    linear(v, tsSec, prev, next) // no otherwise: leading nulls remain null under forward-only limits
  }

  /** The reference's per-column fill POLICY (`fill_missing_values_in_df`,
    * pandas_utilities.py:131-152), composed from the primitives:
    *
    *  - columns NOT in `columnsToAvoid` (instantaneous measurements):
    *    forward fill; if MORE THAN ONE null remains afterwards (leading
    *    nulls), fall back to backfill for those — the reference's
    *    ">1 NaN → backfill" branch. A single residual leading null is
    *    left in place, exactly as the reference does.
    *  - columns IN `columnsToAvoid` (cumulative counters, e.g. energy):
    *    forward-only linear interpolation over the `tsSec` axis.
    *
    * The ">1 remaining" condition is data-dependent per column; it is
    * expressed as a whole-partition window count — NO driver-side pass,
    * the policy stays one window stage per column sharing a single
    * partitioning+sort (Catalyst plans one shuffle+sort for all of them).
    */
  def fillMissing(df: DataFrame, valueCols: Seq[String], columnsToAvoid: Set[String],
                  tsSec: Column, partitionBy: Seq[String], orderBy: Seq[String]): DataFrame = {
    // empty partitionBy = parity mode, single-task window — see [[part]]
    val whole =
      (if (partitionBy.isEmpty) Window.partitionBy() else Window.partitionBy(partitionBy.map(col): _*))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    valueCols.foldLeft(df) { (cur, c) =>
      val filled =
        if (columnsToAvoid.contains(c))
          interpolateForward(col(c), tsSec, partitionBy, orderBy)
        else {
          val f = ffill(col(c), partitionBy, orderBy)
          val remaining = sum(when(f.isNull, 1L).otherwise(0L)).over(whole)
          when(remaining > 1, coalesce(f, bfill(col(c), partitionBy, orderBy))).otherwise(f)
        }
      cur.withColumn(c, filled)
    }
  }

  /** Linear interpolation between the previous and next non-null values,
    * weighted by a numeric time axis `tsSec`. Rows before the first /
    * after the last non-null fall back to bfill / ffill respectively
    * (mirroring the reference's backfill fallback).
    */
  def interpolate(v: Column, tsSec: Column, partitionBy: Seq[String], orderBy: Seq[String]): Column = {
    val (prev, next) = neighbours(v, tsSec, partitionBy, orderBy)
    linear(v, tsSec, prev, next).otherwise(next("v"))
  }
}
