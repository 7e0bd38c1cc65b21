package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Semantic pins for `dedup_window` (horizon-bounded keep-first — the
  * batch analog of the streaming `dedup_ttl` pipeline).
  */
class DedupWindowSpec extends SparkSpec {
  import spark.implicits._

  test("horizon >= corpus span degenerates to exactly dedup_keep_first") {
    val evts = graft.sources.Tables.events(spark, sf)
    // events span 30 days; a 10-year horizon can never expire a key
    val wide = RelQueries
      .dedupWindowFrame(evts, 10L * 365 * 24 * 3600 * 1000000L)
    // every chain group is the key's full history -> one kept row per
    // key, zero expiry: the kept ids equal dedup_keep_first's, and each
    // row's suppressed count is the key's multiplicity - 1
    val kept = wide.select(col("user_id"), col("event_type"),
      col("first_event_id")).collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val kf = graft.SparkEntry.queries("dedup_keep_first")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(kept == kf)
    val sizes = evts.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    wide.collect().foreach { r =>
      assert(r.getAs[Long]("n_suppressed") ==
        sizes((r.getLong(0), r.getString(1))) - 1)
    }
  }

  test("zero horizon keeps every event (every gap > 0 expires the key)") {
    // ts ties within a key would make gap = 0 (not > 0) — the synthetic
    // events have unique (key, ts) pairs, asserted so a future data
    // regen that breaks it fails loudly here instead of mysteriously
    val evts = graft.sources.Tables.events(spark, sf)
    val n = evts.count()
    assert(evts.select(col("user_id"), col("event_type"), col("ts"))
      .distinct().count() == n)
    val out = RelQueries.dedupWindowFrame(evts, 0L)
    assert(out.count() == n)
    assert(out.filter(col("n_suppressed") =!= 0L).count() == 0)
  }

  test("registered horizon actually discriminates: keeps more than keep-first, fewer than all") {
    val evts = graft.sources.Tables.events(spark, sf)
    val n = evts.count()
    val keys = evts.select(col("user_id"), col("event_type")).distinct().count()
    val out = graft.SparkEntry.queries("dedup_window")(spark, sf)
    val kept = out.count()
    assert(kept > keys, s"horizon never expired any key (kept=$kept keys=$keys)")
    assert(kept < n, s"horizon suppressed nothing (kept=$kept n=$n)")
    // conservation: kept rows + suppressed rows account for every event
    val suppressed = out.agg(sum(col("n_suppressed"))).head().getLong(0)
    assert(kept + suppressed == n)
  }

  test("chain semantics: horizon re-arms on every occurrence, kept or dropped") {
    // key with events at t=0, 40, 80, 131 (horizon 50): 40 and 80 are
    // each within 50 of their PREDECESSOR (the kept row at 0 re-armed
    // by the dropped 40), so only 0 and 131 are kept — a from-last-KEPT
    // rule would also keep 80 (80 - 0 > 50). This pins the idle-TTL
    // contract shared with KeepFirst.keepFirstFn. The boundary is
    // strict: a gap EXACTLY equal to the horizon is still a duplicate
    // (80 -> 130 would stay one group), hence 131 here.
    val probe = spark.sql(
      """SELECT CAST(c1 AS BIGINT) AS user_id, c2 AS event_type,
        |  CAST(c3 AS BIGINT) AS event_id,
        |  timestamp_micros(CAST(c4 AS BIGINT)) AS ts
        |FROM VALUES (1, 'x', 10, 0), (1, 'x', 11, 40),
        |  (1, 'x', 12, 80), (1, 'x', 13, 131) AS t(c1, c2, c3, c4)""".stripMargin)
    val out = RelQueries.dedupWindowFrame(probe, 50L)
      .orderBy(col("first_event_id")).collect()
      .map(r => (r.getAs[Long]("first_event_id"), r.getAs[Long]("n_suppressed")))
    assert(out.toSeq == Seq((10L, 2L), (13L, 0L)))
  }
}
