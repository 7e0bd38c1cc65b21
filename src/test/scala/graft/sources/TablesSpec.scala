package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType, TimestampNTZType, TimestampType}
import org.apache.spark.sql.{Row, SparkSession}
import graft.SparkSpec

/** Pins the timestamp-normalization contract of [[Tables.normalizeTs]]:
  * every physical encoding the testdata generator has shipped (ns INT64,
  * µs NTZ) lands on TimestampType µs UTC, and — the r13 ADVICE item —
  * the NTZ branch reads the wall-clock as a UTC INSTANT even when the
  * session time zone is not UTC (a bare NTZ→Timestamp cast would shift
  * by the zone offset).
  */
class TablesSpec extends SparkSpec {

  // 2024-01-02 03:04:05 UTC
  private val wallMicros = 1704164645000000L

  private def withSessionTz[A](tz: String)(body: => A): A = {
    val prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try body finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  private def ntzFixture(s: SparkSession) = {
    val schema = StructType(Seq(StructField("ts", TimestampNTZType)))
    s.createDataFrame(
      java.util.List.of(Row(java.time.LocalDateTime.ofEpochSecond(
        wallMicros / 1000000L, 0, java.time.ZoneOffset.UTC))), schema)
  }

  test("NTZ branch preserves the wall-clock-as-UTC instant under a non-UTC session zone") {
    for (tz <- Seq("UTC", "America/Chicago", "Asia/Tokyo")) withSessionTz(tz) {
      val out = Tables.normalizeTs(spark, ntzFixture(spark), "ts")
      assert(out.schema("ts").dataType == TimestampType)
      val micros = out.select(unix_micros(col("ts"))).head().getLong(0)
      assert(micros == wallMicros, s"tz=$tz micros=$micros expected=$wallMicros")
    }
  }

  test("NTZ branch is exact even for wall-clocks inside the session zone's DST transitions") {
    // 2024-03-10 02:30:00 does not EXIST in America/Chicago (spring-
    // forward gap) and 2024-11-03 01:30:00 exists TWICE (fall-back
    // overlap): a cast-then-cancel conversion drifts an hour on these;
    // the field-arithmetic path must read both as exact UTC instants.
    for ((wall, label) <- Seq(
        (java.time.LocalDateTime.of(2024, 3, 10, 2, 30, 0), "gap"),
        (java.time.LocalDateTime.of(2024, 11, 3, 1, 30, 0), "overlap")))
      withSessionTz("America/Chicago") {
        val want = wall.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
        val schema = StructType(Seq(StructField("ts", TimestampNTZType)))
        val df = spark.createDataFrame(java.util.List.of(Row(wall)), schema)
        val micros = Tables.normalizeTs(spark, df, "ts")
          .select(unix_micros(col("ts"))).head().getLong(0)
        assert(micros == want, s"$label: micros=$micros expected=$want")
      }
  }

  test("ns-INT64 branch truncates to µs via integer div (no double rounding)") {
    val df = spark.createDataFrame(
      java.util.List.of(Row(wallMicros * 1000L + 999L)),
      StructType(Seq(StructField("ts", LongType))))
    val out = Tables.normalizeTs(spark, df, "ts")
    assert(out.schema("ts").dataType == TimestampType)
    assert(out.select(unix_micros(col("ts"))).head().getLong(0) == wallMicros)
  }

  test("already-TimestampType and absent columns pass through unchanged") {
    val df = Tables.events(spark, sf)
    assert(df.schema("ts").dataType == TimestampType)
    // normalizeTs on a frame lacking the column is a no-op, not an error
    val noop = Tables.normalizeTs(spark, df.select(col("event_id")), "ts")
    assert(noop.columns.toSeq == Seq("event_id"))
  }

  test("orders/lineitem event-time columns normalize to TimestampType like events") {
    assert(Tables.orders(spark, sf).schema("o_orderdate").dataType == TimestampType)
    assert(Tables.lineitem(spark, sf).schema("l_shipdate").dataType == TimestampType)
  }

  test("building a table DataFrame in a warm session runs no job; an in-place rewrite is read") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_tables")
    tmp.toFile.deleteOnExit()
    val path = tmp.resolve("events.parquet").toString
    Tables.events(spark, sf).write.mode("overwrite").parquet(path)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    Tables.events(spark, tmp.toString) // the warm-up build may read the schema
    spark.sparkContext.addSparkListener(listener)
    try {
      org.apache.spark.GraftBus.drain(spark.sparkContext)
      jobs.set(0)
      val df = Tables.events(spark, tmp.toString)
      org.apache.spark.GraftBus.drain(spark.sparkContext)
      assert(jobs.get == 0, s"${jobs.get} job(s) ran while building the DataFrame")
      assert(df.columns.toSeq == Tables.events(spark, sf).columns.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
    // rewritten in place with one more column: the new column is read
    Tables.events(spark, sf).withColumn("extra", $"event_id" * 2)
      .write.mode("overwrite").parquet(path)
    val re = Tables.events(spark, tmp.toString)
    assert(re.columns.contains("extra"))
    assert(re.filter($"extra" =!= $"event_id" * 2).count() == 0)
    assert(re.count() == Tables.events(spark, sf).count())
  }
}
