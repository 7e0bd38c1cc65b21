package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, date_part, expr, hour, lit, minute, timestamp_micros, unix_date}
import org.apache.spark.sql.types.{DateType, LongType, TimestampNTZType, TimestampType}

/** Parquet table loader for the driver testdata layout
  * (`/root/testdata/sf{N}/{name}.parquet`, see repo:TESTDATA.md).
  *
  * The reference's only connector is CSV
  * (`powerdatapipeline/datapipeline/tfdataset.py:16-52`); our engine treats
  * parquet as the primary columnar source (scan-time column pruning +
  * predicate pushdown are free via Catalyst) and keeps CSV as a secondary
  * source in [[CsvSource]].
  */
object Tables {
  /** The schema is read once per (session, dir, data stamp) through
    * [[graft.queries.Memo]], so building the DataFrame runs no
    * schema-inference job.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val schema = graft.queries.Memo.value(spark, sfDir, s"schema/$name")(spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** Timestamp-column normalization — the driver's testdata generator has
    * shipped two physical encodings across rounds, and the engine accepts
    * both for EVERY table carrying event-time columns (events.ts,
    * orders.o_orderdate, lineitem.l_shipdate), always landing on
    * TimestampType µs UTC (DuckDB's view of the same files):
    *  - ns-precision INT64: read as a raw ns long (nanosAsLong, see
    *    [[graft.GraftSession]]) and truncated to µs here. Integer `div`
    *    (not double `/`): ns epochs ≈ 1.7e18 overflow double's 53-bit
    *    mantissa.
    *  - µs `isAdjustedToUTC=false`: read as TimestampType directly
    *    (inferTimestampNTZ off in [[graft.GraftSession]]). The NTZ branch
    *    below only fires for sessions configured outside GraftSession; it
    *    reads the NTZ wall-clock AS a UTC instant regardless of the
    *    session zone: a bare cast interprets the wall-clock in the
    *    session zone (shifting the instant by the zone offset), and the
    *    cast-then-cancel form (`from_utc_timestamp(cast, zone)`) drifts
    *    an hour inside that zone's DST gap/overlap wall-clocks (the
    *    cast's gap resolution and the cancellation read the offset at
    *    different instants), so the conversion is pure FIELD ARITHMETIC
    *    on the wall clock — date/hour/minute/second extraction on NTZ
    *    is zone-free by definition, making the result independent of
    *    the session zone everywhere, transitions included (TablesSpec
    *    pins both hemispheres AND the Chicago spring-forward gap).
    */
  private def tsToUtcInstant(spark: SparkSession, c: Column): Column =
    timestamp_micros(
      unix_date(c.cast(DateType)) * lit(86400000000L) +
        (hour(c) * 3600L + minute(c) * 60L) * lit(1000000L) +
        (date_part(lit("SECOND"), c).cast("decimal(10,6)") * 1000000L).cast("long"))

  private[sources] def normalizeTs(spark: SparkSession, df: DataFrame, cols: String*): DataFrame =
    cols.filter(df.columns.contains).foldLeft(df) { (d, name) =>
      d.schema(name).dataType match {
        case LongType =>
          d.withColumn(name, timestamp_micros(expr(s"`$name` div 1000")))
        case TimestampNTZType =>
          d.withColumn(name, tsToUtcInstant(spark, col(name)))
        case _ => d
      }
    }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame =
    normalizeTs(spark, table(spark, sfDir, "lineitem"), "l_shipdate")
  def orders(spark: SparkSession, sfDir: String): DataFrame =
    normalizeTs(spark, table(spark, sfDir, "orders"), "o_orderdate")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "region")
  def events(spark: SparkSession, sfDir: String): DataFrame =
    normalizeTs(spark, table(spark, sfDir, "events"), "ts")
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")
}
