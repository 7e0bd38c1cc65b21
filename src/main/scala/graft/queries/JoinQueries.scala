package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.sources.Tables
import graft.functions.TimeFns
import graft.operators.Fill

/** Join / set operators. The reference has NO relational join (SURVEY
  * §2.3) — its "multi-source data fusion" is per-source pipeline runs.
  * These queries implement the fusion generalization the reference's
  * datafusion configs imply (time-aligned equi-join, as-of alignment)
  * plus the standard dim joins / semi / anti / union the driver's star
  * schema calls for.
  *
  * Scale notes per query in the comments: broadcast for small dims, bucket
  * equi-join for time alignment (shuffle on the bucket key only), and the
  * union+ffill formulation of as-of join (one shuffle + one window, no
  * range-join explosion).
  */
object JoinQueries {
  private type Q = (SparkSession, String) => DataFrame
  private def ev(s: SparkSession, d: String) = Tables.events(s, d)
  private val epochUs: Column = TimeFns.epochMicros(col("ts"))
  /** Date column -> epoch seconds: the dates are TIMESTAMP_NTZ in the
    * parquet and the session runs UTC (GraftSession), so the cast is
    * instant-preserving and matches DuckDB's naive-as-UTC epoch_us //
    * 1e6. TimeFns.epochSeconds FLOORS, agreeing with the oracle's `//`
    * on negative epochs too (pre-1970 dates).
    */
  private def epochSecs(c: Column): Column = TimeFns.epochSeconds(c.cast("timestamp"))
  private def dsum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")

  // ========================================================================
  // join_dim_broadcast — fact ⋈ small dim: explicit broadcast() so the
  // plan is a BroadcastHashJoin (no shuffle of the fact side) at any
  // scale; aggregation is map-side partial on low-cardinality brand.
  // ========================================================================
  def joinDimBroadcast(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("p_brand"))

  private val joinDimBroadcastSql =
    """SELECT p_brand, count(*) AS n,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // ========================================================================
  // join_time_align — the datafusion generalization: two streams
  // aggregated to a common time bucket, equi-joined on the bucket.
  // Shuffle on bucket key only; both sides pre-aggregated before the join
  // so the join input is small.
  // ========================================================================
  def joinTimeAlign(s: SparkSession, d: String): DataFrame = {
    val e = ev(s, d).withColumn("bucket", TimeFns.timeBucket(col("ts"), 3600L))
    val purchases = e.filter(col("event_type") === "purchase")
      .groupBy(col("bucket")).agg(CoreQueries.exactMeanCents(col("value")).as("avg_purchase"))
    val clicks = e.filter(col("event_type") === "click")
      .groupBy(col("bucket")).agg(CoreQueries.exactMeanCents(col("value")).as("avg_click"))
    purchases.join(clicks, Seq("bucket"), "inner").orderBy(col("bucket"))
  }

  private val joinTimeAlignSql =
    s"""WITH b AS (
      |  SELECT CAST(floor(epoch_us(ts) / 3600000000) * 3600 AS BIGINT) AS bucket,
      |    event_type, value FROM events),
      |p AS (SELECT bucket, ${CoreQueries.exactMeanCentsSql("value")} AS avg_purchase FROM b
      |      WHERE event_type = 'purchase' GROUP BY bucket),
      |c AS (SELECT bucket, ${CoreQueries.exactMeanCentsSql("value")} AS avg_click FROM b
      |      WHERE event_type = 'click' GROUP BY bucket)
      |SELECT p.bucket, p.avg_purchase, c.avg_click
      |FROM p JOIN c ON p.bucket = c.bucket
      |ORDER BY p.bucket""".stripMargin

  // ========================================================================
  // join_asof — nearest-prior alignment: for each purchase, the value of
  // the user's latest click at-or-before it. Implemented the
  // distributed-safe way: UNION the tagged streams, one window ffill per
  // user, filter — one shuffle + one sort, NO O(n²) inequality join.
  // The oracle mirrors the same union+window formulation.
  // ========================================================================
  def joinAsof(s: SparkSession, d: String): DataFrame = {
    val e = ev(s, d).filter(col("event_type").isin("purchase", "click"))
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        epochUs.as("e_us"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("e_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    e.withColumn("last_click_value",
        last(when(col("event_type") === "click", col("value")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("value"), col("last_click_value"))
      .orderBy(col("event_id"))
  }

  private val joinAsofSql =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, value, epoch_us(ts) AS e_us
      |  FROM events WHERE event_type IN ('purchase', 'click'))
      |SELECT event_id, user_id, value,
      |  last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY e_us, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_value
      |FROM e QUALIFY event_type = 'purchase'
      |ORDER BY event_id""".stripMargin

  // ========================================================================
  // join_asof_nearest — BIDIRECTIONAL as-of alignment (pandas
  // merge_asof direction='nearest'): for each purchase, the click with
  // the smallest |Δt| in EITHER direction, ties to the earlier
  // (backward) click. The variant a sensor-fusion pipeline needs when
  // the reference channel may lag OR lead the aligned one. Same
  // distributed-safe shape as join_asof: union the tagged streams once,
  // ONE shuffle on the series key, a backward ffill and a forward bfill
  // ([[Fill]]: a running frame and a frameless `lead`, both linear in
  // the series length) over the same (key, time) sort — the exchange
  // and sort are shared — then an exact integer-µs comparison picks
  // the side. No inequality join anywhere.
  // ========================================================================
  def joinAsofNearest(s: SparkSession, d: String): DataFrame = {
    val e = ev(s, d).filter(col("event_type").isin("purchase", "click"))
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        epochUs.as("e_us"))
    val (key, order) = (Seq("user_id"), Seq("e_us", "event_id"))
    val click = col("event_type") === "click"
    // one select: the four fills plan as one Window node
    e.select(col("*"),
        Fill.ffill(when(click, col("value")), key, order).as("bv"),
        Fill.ffill(when(click, col("e_us")), key, order).as("bt"),
        Fill.bfill(when(click, col("value")), key, order).as("fv"),
        Fill.bfill(when(click, col("e_us")), key, order).as("ft"))
      .filter(col("event_type") === "purchase")
      .withColumn("nearest_click_value",
        when(col("bt").isNull, col("fv"))
          .when(col("ft").isNull, col("bv"))
          .when(col("e_us") - col("bt") <= col("ft") - col("e_us"), col("bv"))
          .otherwise(col("fv")))
      .withColumn("dt_us",
        when(col("bt").isNull && col("ft").isNull, lit(null).cast("long"))
          .when(col("bt").isNull, col("ft") - col("e_us"))
          .when(col("ft").isNull, col("e_us") - col("bt"))
          .otherwise(least(col("e_us") - col("bt"), col("ft") - col("e_us"))))
      .select(col("event_id"), col("user_id"), col("value"),
        col("nearest_click_value"), col("dt_us"))
      .orderBy(col("event_id"))
  }

  private val joinAsofNearestSql =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, value, epoch_us(ts) AS e_us
      |  FROM events WHERE event_type IN ('purchase', 'click')),
      |r AS (
      |  SELECT event_id, user_id, event_type, value, e_us,
      |    last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY e_us, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bv,
      |    last_value(CASE WHEN event_type = 'click' THEN e_us END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY e_us, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bt,
      |    first_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY e_us, event_id
      |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fv,
      |    first_value(CASE WHEN event_type = 'click' THEN e_us END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY e_us, event_id
      |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ft
      |  FROM e)
      |SELECT event_id, user_id, value,
      |  CASE WHEN bt IS NULL THEN fv
      |       WHEN ft IS NULL THEN bv
      |       WHEN e_us - bt <= ft - e_us THEN bv
      |       ELSE fv END AS nearest_click_value,
      |  CASE WHEN bt IS NULL AND ft IS NULL THEN NULL
      |       WHEN bt IS NULL THEN ft - e_us
      |       WHEN ft IS NULL THEN e_us - bt
      |       ELSE least(e_us - bt, ft - e_us) END AS dt_us
      |FROM r WHERE event_type = 'purchase'
      |ORDER BY event_id""".stripMargin

  // ========================================================================
  // join_semi / join_anti — EXISTS / NOT EXISTS via Spark's left_semi /
  // left_anti (no payload duplication, builds only the key set).
  // ========================================================================
  def joinSemi(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))

  private val joinSemiSql =
    """SELECT c_custkey, c_mktsegment FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  def joinAnti(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .join(Tables.lineitem(s, d), col("p_partkey") === col("l_partkey"), "left_anti")
      .select(col("p_partkey"), col("p_brand"))
      .orderBy(col("p_partkey"))

  private val joinAntiSql =
    """SELECT p_partkey, p_brand FROM part
      |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
      |ORDER BY p_partkey""".stripMargin

  // ========================================================================
  // union_append — multi-source append (the reference's multi-file glob
  // scan, tfdataset.py:21-24, generalized to heterogeneous sources with a
  // provenance tag).
  // ========================================================================
  def unionAppend(s: SparkSession, d: String): DataFrame = {
    val e = ev(s, d)
    val a = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), lit("purchases").as("src"), col("value"))
    val b = e.filter(col("event_type") === "error")
      .select(col("event_id"), lit("errors").as("src"), col("value"))
    a.unionByName(b).orderBy(col("event_id"), col("src"))
  }

  private val unionAppendSql =
    """SELECT event_id, src, value FROM (
      |  SELECT event_id, 'purchases' AS src, value FROM events WHERE event_type = 'purchase'
      |  UNION ALL
      |  SELECT event_id, 'errors', value FROM events WHERE event_type = 'error'
      |) ORDER BY event_id, src""".stripMargin

  // ========================================================================
  // join_asof_custom — the same nearest-prior alignment through the
  // custom AsOfJoin physical operator (graft.plans.AsOfJoin): logical
  // node → planner strategy → streaming sort-merge exec, O(n+m) per
  // partition with O(1) state. Oracle: DuckDB's native ASOF LEFT JOIN.
  // ========================================================================
  def joinAsofCustom(s: SparkSession, d: String): DataFrame = {
    val e = ev(s, d)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("value"), epochUs.as("t_us"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), epochUs.as("c_us"), col("value").as("click_value"))
    graft.plans.AsOf.joinLeft(purchases, clicks, "user_id", ("t_us", "c_us"))
      .select(col("event_id"), col("value"), col("click_value"))
      .orderBy(col("event_id"))
  }

  private val joinAsofCustomSql =
    """WITH p AS (
      |  SELECT event_id, user_id, value, epoch_us(ts) AS t_us
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (
      |  SELECT user_id, epoch_us(ts) AS c_us, value AS click_value
      |  FROM events WHERE event_type = 'click')
      |SELECT p.event_id, p.value, c.click_value
      |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.t_us >= c.c_us
      |ORDER BY p.event_id""".stripMargin

  // ========================================================================
  // join_range — point-in-interval join WITHOUT a nested loop: shipments
  // falling inside 3-day order-date windows (every 97th order), through
  // operators/RangeJoin's bucketize → explode → hash-equi-join → refine
  // composition. A bare `ts >= lo AND ts < hi` join predicate plans a
  // BroadcastNestedLoopJoin — O(|probe|·|windows|) comparisons, the
  // range-join scale-killer; the bucketed form shuffles on the bucket
  // key only (plan-guarded). Timestamps travel as epoch seconds (micros
  // are date-exact multiples of 1e6 in both engines); the oracle states
  // the range predicate directly — DuckDB's optimizer handles the small
  // oracle-side input, Spark runs the plan that survives 100 TB.
  // ========================================================================
  private val RangeWindowSecs = 259200L // 3 days
  private val RangeBucketSecs = 345600L // 4 days: each window spans <= 2 buckets

  def joinRange(s: SparkSession, d: String): DataFrame = {
    val win = Tables.orders(s, d)
      .filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey").as("window_id"),
        epochSecs(col("o_orderdate")).as("lo"))
      .withColumn("hi", col("lo") + RangeWindowSecs)
    val probe = Tables.lineitem(s, d)
      .select(epochSecs(col("l_shipdate")).as("ship_s"), col("l_quantity"))
    graft.operators.RangeJoin
      .pointInInterval(probe, win, "ship_s", "lo", "hi", RangeBucketSecs)
      .groupBy(col("window_id"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("window_id"))
  }

  private val joinRangeSql =
    s"""WITH win AS (
      |  SELECT o_orderkey AS window_id,
      |    epoch_us(o_orderdate) // 1000000 AS lo,
      |    epoch_us(o_orderdate) // 1000000 + $RangeWindowSecs AS hi
      |  FROM orders WHERE o_orderkey % 97 = 0),
      |p AS (SELECT epoch_us(l_shipdate) // 1000000 AS ship_s, l_quantity FROM lineitem)
      |SELECT w.window_id, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM p JOIN win w ON p.ship_s >= w.lo AND p.ship_s < w.hi
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ========================================================================
  // join_bucketed — the BUILD-ONCE / JOIN-MANY co-located join: lineitem
  // and orders are persisted as catalog tables bucketed (and sorted) by
  // the join key with MATCHING bucket counts (Scale.writeBucketed), so
  // every later equi-join on that key reads pre-shuffled co-located
  // buckets — NO exchange on either join input, at any scale. This is
  // the canonical 100 TB fact⋈fact answer when neither side broadcasts:
  // pay the shuffle once at ingest, amortize it over every downstream
  // join/agg on the key. The merge hint pins the sort-merge shape the
  // bucketing serves (at corpus scale stats pick it anyway; at bench
  // scale the optimizer would otherwise broadcast the tiny side and
  // hide the property under test); the plan guard asserts neither join
  // key is ever hash-partitioned at read time. Same catalog-table memo
  // as the IVF index tables ([[Memo.tables]]). Results are identical to joining
  // the raw parquet (bucketing is layout, not semantics), so the
  // oracle is the plain join.
  // ========================================================================
  private val BucketedJoinBuckets = 8
  private[graft] def bucketedTables(s: SparkSession, d: String): (String, String) = {
    val Seq(lt, ot) = Memo.tables(s, d, "bucketedTables") {
      val suffix = MemoNames.dirSuffix(d)
      val lt = s"graft_bkt_lineitem_$suffix"
      val ot = s"graft_bkt_orders_$suffix"
      graft.operators.Scale.writeBucketed(
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice")),
        lt, "l_orderkey", BucketedJoinBuckets)
      graft.operators.Scale.writeBucketed(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus")),
        ot, "o_orderkey", BucketedJoinBuckets)
      Seq(lt, ot)
    }
    (lt, ot)
  }

  def joinBucketed(s: SparkSession, d: String): DataFrame = {
    val (lt, ot) = bucketedTables(s, d)
    s.table(lt).hint("merge")
      .join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  private val joinBucketedSql =
    """SELECT o_orderstatus, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ========================================================================
  // join_interval — interval-overlap join WITHOUT a nested loop: 7-day
  // order-activity windows (every 101st order) against 10-day promo
  // windows (every 89th order), overlap when a_lo < b_hi AND b_lo <
  // a_hi — the validity-interval × validity-interval shape
  // (concurrent-session attribution, flight × campaign overlap) that a
  // bare predicate plans as a BroadcastNestedLoopJoin. RangeJoin
  // .intervalOverlap explodes BOTH sides to 14-day buckets,
  // hash-equi-joins on the bucket id, and emits each qualifying pair
  // exactly once (only in the bucket holding its overlap start), so no
  // dedup shuffle follows. Aggregated per activity window: overlap
  // count and exact total overlap seconds (least(hi)−greatest(lo),
  // pure long arithmetic). The oracle states the overlap predicate
  // directly — DuckDB's optimizer handles the small oracle input,
  // Spark runs the plan that survives 100 TB.
  // ========================================================================
  private val IvalASecs = 604800L  // 7 days
  private val IvalBSecs = 864000L  // 10 days
  private val IvalBucketSecs = 1209600L // 14 days: each window spans <= 2 buckets

  def joinInterval(s: SparkSession, d: String): DataFrame = {
    val a = Tables.orders(s, d)
      .filter(col("o_orderkey") % 101 === 0)
      .select(col("o_orderkey").as("window_a"),
        epochSecs(col("o_orderdate")).as("a_lo"))
      .withColumn("a_hi", col("a_lo") + IvalASecs)
    val b = Tables.orders(s, d)
      .filter(col("o_orderkey") % 89 === 0)
      .select(col("o_orderkey").as("window_b"),
        epochSecs(col("o_orderdate")).as("b_lo"))
      .withColumn("b_hi", col("b_lo") + IvalBSecs)
    graft.operators.RangeJoin
      .intervalOverlap(a, b, "a_lo", "a_hi", "b_lo", "b_hi", IvalBucketSecs)
      .groupBy(col("window_a"))
      .agg(count(lit(1)).as("n_overlap"),
        sum(least(col("a_hi"), col("b_hi")) - greatest(col("a_lo"), col("b_lo")))
          .as("sum_overlap_s"))
      .orderBy(col("window_a"))
  }

  private val joinIntervalSql =
    s"""WITH a AS (
      |  SELECT o_orderkey AS window_a,
      |    epoch_us(o_orderdate) // 1000000 AS a_lo,
      |    epoch_us(o_orderdate) // 1000000 + $IvalASecs AS a_hi
      |  FROM orders WHERE o_orderkey % 101 = 0),
      |b AS (
      |  SELECT o_orderkey AS window_b,
      |    epoch_us(o_orderdate) // 1000000 AS b_lo,
      |    epoch_us(o_orderdate) // 1000000 + $IvalBSecs AS b_hi
      |  FROM orders WHERE o_orderkey % 89 = 0)
      |SELECT window_a, count(*) AS n_overlap,
      |  CAST(sum(least(a_hi, b_hi) - greatest(a_lo, b_lo)) AS BIGINT) AS sum_overlap_s
      |FROM a JOIN b ON a_lo < b_hi AND b_lo < a_hi
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ========================================================================
  // join_fuzzy — edit-distance self-join WITHOUT the quadratic
  // comparison: customer names within levenshtein 1 of each other (the
  // entity-resolution shape — near-identical names from dirty feeds),
  // through FuzzyJoin.selfJoinLev1's deletion-neighborhood blocking
  // (SymSpell): explode each name to itself + its delete-1 variants,
  // hash-equi-join on the variant, dedup, refine with the exact
  // distance. A bare levenshtein predicate plans a nested loop — O(n²)
  // distance evaluations; the blocked form is O(n·len + candidates).
  // Measured on a fixed slice (every 7th customer) so the ORACLE's
  // deliberately-quadratic reference join stays bounded — the operator
  // itself is the corpus-scale path. The oracle states the predicate
  // directly; both engines' levenshtein is the standard
  // unit-cost edit distance, integer-exact.
  // ========================================================================
  def joinFuzzy(s: SparkSession, d: String): DataFrame =
    graft.operators.FuzzyJoin.selfJoinLev1(
        Tables.customer(s, d).filter(col("c_custkey") % 7 === 0),
        "c_custkey", "c_name")
      .orderBy(col("id_a"), col("id_b"))

  private val joinFuzzySql =
    """WITH s AS (
      |  SELECT c_custkey, c_name FROM customer WHERE c_custkey % 7 = 0)
      |SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
      |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
      |FROM s a JOIN s b ON a.c_custkey < b.c_custkey
      |WHERE levenshtein(a.c_name, b.c_name) <= 1
      |ORDER BY id_a, id_b""".stripMargin

  // ========================================================================
  // join_salted — skew-salted fact ⋈ dim on a deliberately hot key: the
  // derived key collapses every 4th user onto key 0, so ~25% of all
  // events share one join key — the 100 TB fusion-join failure mode
  // (one hot device/user id = one straggler task holding the stage).
  // Scale.saltedJoin spreads the hot key over 8 (key, salt) partitions
  // with a content-addressed salt (event_id), replicating the dim side
  // ×8; the salt cancels out of the output, so the DuckDB oracle is the
  // PLAIN unsalted join — correctness of the mitigation is exactly
  // "identical answer, different distribution". The plan guard
  // (PlanShapeSpec) asserts the join is a ShuffledHashJoin partitioned
  // by (key, salt) — never a broadcast (no skew spread) or a bare-key
  // shuffle (hot key in one task). Merge-side aggregation uses the
  // exact-integer sum convention (agg_salted).
  // ========================================================================
  def joinSalted(s: SparkSession, d: String): DataFrame = {
    val facts = ev(s, d).select(
      when(col("user_id") % 4 === 0, 0L).otherwise(col("user_id")).as("hk"),
      col("event_id"))
    val dim = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
    graft.operators.Scale.saltedJoin(facts, dim, "hk", "c_custkey",
        saltExpr = col("event_id"), saltBuckets = 8)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_events"), sum(col("event_id")).as("sum_id"))
      .orderBy(col("c_nationkey"))
  }

  private val joinSaltedSql =
    """SELECT c_nationkey, count(*) AS n_events,
      |  CAST(sum(event_id) AS BIGINT) AS sum_id
      |FROM (SELECT CASE WHEN user_id % 4 = 0 THEN 0 ELSE user_id END AS hk,
      |        event_id FROM events) e
      |JOIN customer c ON c.c_custkey = e.hk
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  val queries: Map[String, Q] = Map(
    "join_salted" -> (joinSalted _),
    "join_asof_custom" -> (joinAsofCustom _),
    "join_dim_broadcast" -> (joinDimBroadcast _),
    "join_time_align" -> (joinTimeAlign _),
    "join_asof" -> (joinAsof _),
    "join_asof_nearest" -> (joinAsofNearest _),
    "join_range" -> (joinRange _),
    "join_interval" -> (joinInterval _),
    "join_bucketed" -> (joinBucketed _),
    "join_fuzzy" -> (joinFuzzy _),
    "join_semi" -> (joinSemi _),
    "join_anti" -> (joinAnti _),
    "union_append" -> (unionAppend _),
  )

  val oracleSql: Map[String, String] = Map(
    "join_salted" -> joinSaltedSql,
    "join_asof_custom" -> joinAsofCustomSql,
    "join_dim_broadcast" -> joinDimBroadcastSql,
    "join_time_align" -> joinTimeAlignSql,
    "join_asof" -> joinAsofSql,
    "join_asof_nearest" -> joinAsofNearestSql,
    "join_range" -> joinRangeSql,
    "join_interval" -> joinIntervalSql,
    "join_bucketed" -> joinBucketedSql,
    "join_fuzzy" -> joinFuzzySql,
    "join_semi" -> joinSemiSql,
    "join_anti" -> joinAntiSql,
    "union_append" -> unionAppendSql,
  )
}
