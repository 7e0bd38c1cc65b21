package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import java.util.Locale

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
  *
  * One evaluation per neighbour: a windowed Column is an expression, not
  * a value, and Catalyst plans each reference to it as a window function
  * of its own. The interpolation reads its previous and next neighbour up
  * to 13 times, so `interpolate` / `interpolateForward` are DataFrame
  * operators that bind each neighbour once as a temporary column and
  * compute the fill over those columns; `fillMissing` binds its forward
  * and backward fills the same way. `ffill` / `bfill` are single window
  * functions and stay Columns.
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

  /** `df` with `out` = `fill(bound)`: each of `windows` is bound once, as a
    * temporary column of a first `select`, and `fill` reads those columns
    * in a second `select` that drops them. Every input column keeps its
    * name, values and position; an input column named `out` is replaced in
    * place, as `withColumn` does. The temporaries are named by
    * [[tempNames]].
    */
  private def bindOnce(df: DataFrame, out: String, windows: Column*)
                      (fill: Seq[Column] => Column): DataFrame = {
    val temps = tempNames(df, out, windows.size)
    val bound = df.select(col("*") +: windows.zip(temps).map { case (w, t) => w.as(t) }: _*)
    val value = fill(temps.map(col)).as(out)
    def same(c: String) = c.equalsIgnoreCase(out)
    val kept = df.columns.toSeq.map(c => if (same(c)) value else col("`" + c.replace("`", "``") + "`"))
    bound.select((if (df.columns.exists(same)) kept else kept :+ value): _*)
  }

  /** `n` temporary column names, `__fill_<i>`, that match no column of
    * `df` and not `out`, compared case-insensitively as Spark's default
    * resolver does.
    */
  private def tempNames(df: DataFrame, out: String, n: Int): Seq[String] = {
    val taken = (df.columns :+ out).map(_.toLowerCase(Locale.ROOT)).toSet
    Iterator.from(0).map(i => s"__fill_$i").filterNot(taken).take(n).toSeq
  }

  /** `df` with `out` = `fill(prev, next)`, where `prev` / `next` are the
    * nearest non-null observation of `v` strictly before / after each row,
    * as `(t, v)` structs (null when there is none), each bound once. `t`
    * and `v` always come from the same row, so `fill` reads a consistent
    * pair. The observation struct is itself bound once, as a temporary
    * column below the window: were `lag` and `lead` handed the struct
    * expression, Catalyst would extract it once per window function and
    * shuffle every row with two identical structs.
    */
  private def withNeighbours(df: DataFrame, out: String, v: Column, tsSec: Column,
                             partitionBy: Seq[String], orderBy: Seq[String])
                            (fill: (Column, Column) => Column): DataFrame = {
    val w = part(partitionBy, orderBy)
    val Seq(obs) = tempNames(df, out, 1)
    val s = col(obs)
    bindOnce(df.select(col("*"), when(v.isNotNull, struct(tsSec.as("t"), v.as("v"))).as(obs)), out,
        lag(s, 1, null, ignoreNulls = true).over(w), lead(s, 1, null, ignoreNulls = true).over(w)) {
      case Seq(prev, next) => fill(prev, next)
    }.drop(obs)
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

  /** `df` with `out` = the forward-only linear interpolation of `v` —
    * pandas `interpolate(method='linear', limit_direction='forward')`
    * semantics (the `columns_to_avoid` branch of
    * `fill_missing_values_in_df`, pandas_utilities.py:140-142): interior
    * gaps get the linear value, trailing nulls carry the last observation
    * forward, LEADING nulls stay null (nothing precedes them to
    * interpolate from).
    */
  def interpolateForward(df: DataFrame, out: String, v: Column, tsSec: Column,
                         partitionBy: Seq[String], orderBy: Seq[String]): DataFrame =
    // no otherwise: leading nulls remain null under forward-only limits
    withNeighbours(df, out, v, tsSec, partitionBy, orderBy)(linear(v, tsSec, _, _))

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
      if (columnsToAvoid.contains(c))
        interpolateForward(cur, c, col(c), tsSec, partitionBy, orderBy)
      else // the residual count and both branches read the bound fills
        bindOnce(cur, c, ffill(col(c), partitionBy, orderBy), bfill(col(c), partitionBy, orderBy)) {
          case Seq(f, b) =>
            val remaining = sum(when(f.isNull, 1L).otherwise(0L)).over(whole)
            when(remaining > 1, coalesce(f, b)).otherwise(f)
        }
    }
  }

  /** `df` with `out` = the linear interpolation of `v` between the
    * previous and next non-null values, weighted by a numeric time axis
    * `tsSec`. Rows before the first / after the last non-null fall back to
    * bfill / ffill respectively (mirroring the reference's backfill
    * fallback).
    */
  def interpolate(df: DataFrame, out: String, v: Column, tsSec: Column,
                  partitionBy: Seq[String], orderBy: Seq[String]): DataFrame =
    withNeighbours(df, out, v, tsSec, partitionBy, orderBy) { (prev, next) =>
      linear(v, tsSec, prev, next).otherwise(next("v"))
    }
}
