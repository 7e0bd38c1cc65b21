package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TimeFns

/** Time-series resampling operators.
  *
  * Reference (cites into /root/reference/):
  *  - `downsample_to_interval` (tfdataset_resampling.py:32-48): keep rows
  *    whose epoch-seconds timestamp is aligned to the desired interval
  *    (`ts % interval == 0`) — an alignment *filter*, not an aggregate.
  *  - `upsample_to_interval` (tfdataset_resampling.py:11-30): per-row
  *    expansion — floor ts to the original interval, emit
  *    `range(start, start+origInterval, newInterval)` timestamps and
  *    repeat-fill all values (`fill_method="repeat"` is the only
  *    implemented mode; linear is commented out at :22-25).
  *  - `get_downsampled_df` (pandas_utilities.py:115-129): time-bucket
  *    group-by mean (`df.resample(period).mean()`).
  *  - `resample_csvdataset` dispatcher (datapipeline.py:569-616).
  *
  * Scale design: downsample is a pushdown-friendly filter; upsample is a
  * generator (`explode(sequence(...))`) that never shuffles; bucket-mean is
  * a single hash aggregation with map-side partial aggregation. All three
  * are embarrassingly parallel over partitions — no global order needed.
  */
object Resample {

  /** Alignment filter: keep rows where floor-epoch-seconds % interval == 0. */
  def downsampleFilter(df: DataFrame, tsCol: String, intervalSec: Long): DataFrame =
    df.filter(TimeFns.epochSeconds(col(tsCol)) % lit(intervalSec) === 0)

  /** Core repeat-fill grid expansion over an epoch-seconds Column: each
    * row expands to `origSec / newSec` rows on the `newSec` grid
    * (`ts_up`), all other columns repeated. Shared by the timestamp and
    * epoch-double entry points so the grid formula exists exactly once.
    */
  def upsampleRepeatEpoch(df: DataFrame, epochSec: Column, origSec: Long, newSec: Long): DataFrame = {
    require(origSec % newSec == 0, s"original interval $origSec not divisible by $newSec")
    val start = (floor(epochSec / lit(newSec)) * newSec).cast("long")
    df.withColumn("ts_up",
      explode(sequence(start, start + lit(origSec - newSec), lit(newSec))))
  }

  /** Repeat-fill upsample of a timestamp column (emits `ts_up` epoch
    * seconds).
    */
  def upsampleRepeat(df: DataFrame, tsCol: String, origSec: Long, newSec: Long): DataFrame =
    upsampleRepeatEpoch(df, TimeFns.epochSeconds(col(tsCol)), origSec, newSec)

  /** Linear-fill upsample — the reference's declared-but-commented-out
    * `fill_method="linear"` (tfdataset_resampling.py:22-25) realized by
    * composing the repeat grid expansion with the forward-only linear
    * interpolation window ([[Fill.interpolateForward]]): expand to the
    * `newSec` grid, keep each source row's value only at its OWN grid
    * point (the anchor), and interpolate interior grid points between
    * consecutive anchors of the same series. Grid points after a
    * series' last anchor carry it forward (there is no later anchor to
    * interpolate toward); the first grid point of every expansion IS an
    * anchor, so no leading nulls arise.
    *
    * Scale shape: one generator (explode(sequence), shuffle-free) plus
    * ONE keyed window — a single hash shuffle and sort on the series key,
    * same budget as [[Fill.interpolate]]. The neighbouring anchors come
    * from `lag`/`lead(…, ignoreNulls)`, so the window is one linear pass
    * over each series' grid (an unbounded-following frame would be
    * re-evaluated per row, quadratic in the grid length); grid values
    * are exact integer doubles so the interpolation arithmetic is
    * engine-identical.
    * Emits `ts_up` (epoch-seconds grid) and `<valueCol>_lin`.
    */
  def upsampleLinear(df: DataFrame, tsCol: String, valueCol: String,
                     origSec: Long, newSec: Long,
                     partitionBy: Seq[String], tieBreak: Seq[String]): DataFrame = {
    val epoch = TimeFns.epochSeconds(col(tsCol))
    val anchor = (floor(epoch / lit(newSec)) * newSec).cast("long")
    val up = upsampleRepeatEpoch(df, epoch, origSec, newSec)
    val vAtAnchor = when(col("ts_up") === anchor, col(valueCol))
    up.withColumn(s"${valueCol}_lin",
      Fill.interpolateForward(vAtAnchor, col("ts_up").cast("double"),
        partitionBy, "ts_up" +: tieBreak))
  }

  /** Time-bucket mean: group rows into `intervalSec` buckets and average
    * the given value columns. The one true grouped aggregate in the
    * reference (pandas `resample(period).mean()`).
    */
  def bucketMean(df: DataFrame, tsCol: String, intervalSec: Long, valueCols: Seq[String]): DataFrame = {
    val bucket = TimeFns.timeBucket(col(tsCol), intervalSec).as("bucket")
    df.groupBy(bucket)
      .agg(avg(valueCols.head).as(s"avg_${valueCols.head}"),
           valueCols.tail.map(c => avg(c).as(s"avg_$c")): _*)
  }

  /** Dispatcher mirroring `resample_csvdataset` (datapipeline.py:569-616):
    * desired < original → upsample; desired > original → downsample;
    * equal → no-op.
    */
  def resample(df: DataFrame, tsCol: String, origSec: Long, desiredSec: Long): DataFrame =
    if (desiredSec < origSec) upsampleRepeat(df, tsCol, origSec, desiredSec)
    else if (desiredSec > origSec) downsampleFilter(df, tsCol, desiredSec)
    else df
}
