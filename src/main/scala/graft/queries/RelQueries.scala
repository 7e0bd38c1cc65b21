package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Relational-completeness queries the reference never needed but Spark
  * exposes for free (SURVEY §2.4 note: "cube/rollup are free in Spark if
  * we expose them") — rollup totals, pivot, set difference, and
  * dedup-keep-first — rounding out the "every query a reference user
  * could want" surface.
  */
object RelQueries {
  private type Q = (SparkSession, String) => DataFrame
  private def dsum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")

  /** Exact discounted revenue: price and discount are 2-decimal values,
    * so casting EACH to decimal before the multiply is lossless and the
    * whole sum is exact integer-backed decimal arithmetic in both
    * engines — unlike rounding the double product to cents, where
    * Spark's and DuckDB's half-way rules differ on boundary doubles.
    */
  private def decRevenue: Column =
    sum(col("l_extendedprice").cast("decimal(18,2)")
      * (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))).cast("double")

  // ========================================================================
  // rollup_agg — hierarchical totals (returnflag → linestatus → grand
  // total). Map-side partial agg per grouping set; one shuffle.
  // ========================================================================
  def rollupAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  private val rollupAggSql =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // ========================================================================
  // cube_agg — full cross-dimensional totals: all 4 grouping sets of
  // (returnflag, linestatus), with the grouping_id bitmask so a
  // consumer can tell a cube-generated NULL from a data NULL (both
  // engines emit the same mask: leftmost column = most significant
  // bit). rollup_agg gives the hierarchy; CUBE adds the
  // linestatus-only marginals a rollup skips. Plan: one Expand to the
  // 4 sets, map-side partial agg per set, ONE shuffle — the expand
  // multiplies rows BEFORE the partial agg, so 100 TB cost is 4× the
  // map-side combine input, never 4 scans.
  // ========================================================================
  def cubeAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("grp_id"), count(lit(1)).as("n"),
        dsum(col("l_extendedprice")).as("sum_price"))
      .select(col("l_returnflag"), col("l_linestatus"),
        col("grp_id").cast("long").as("grp_id"), col("n"), col("sum_price"))
      .orderBy(col("grp_id"),
        col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  private val cubeAggSql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS grp_id,
      |  count(*) AS n,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY grp_id, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // ========================================================================
  // unpivot_long — wide → long reshape (pivot_wide's inverse): the four
  // lineitem measures melt into (metric, val) rows via Spark's native
  // unpivot (Expand under the hood — a scan-side generator, rows
  // multiply AFTER the pushed filter and column pruning, never a
  // shuffle). The shape feature/metric stores ingest; keyed by
  // (orderkey, linenumber, metric). Decimals cast to DOUBLE first so
  // the melted value column has one type (both engines' DECIMAL(18,2)
  // → DOUBLE conversion is correctly rounded, the dsum convention).
  // ========================================================================
  def unpivotLong(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") % 50 === 0)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("double").as("quantity"),
        col("l_extendedprice").cast("double").as("extendedprice"),
        col("l_discount").cast("double").as("discount"),
        col("l_tax").cast("double").as("tax"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("quantity"), col("extendedprice"), col("discount"), col("tax")),
        "metric", "val")
      // val breaks ties: (orderkey, linenumber) is NOT unique in this
      // synthetic lineitem (1161 dup pairs at sf0.001), and the driver's
      // compare is positional — an underdetermined order hash-mismatches
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric"), col("val"))

  private val unpivotLongSql =
    """SELECT l_orderkey, l_linenumber, metric, val
      |FROM (
      |  UNPIVOT (
      |    SELECT l_orderkey, l_linenumber,
      |      CAST(l_quantity AS DOUBLE) AS quantity,
      |      CAST(l_extendedprice AS DOUBLE) AS extendedprice,
      |      CAST(l_discount AS DOUBLE) AS discount,
      |      CAST(l_tax AS DOUBLE) AS tax
      |    FROM lineitem WHERE l_orderkey % 50 = 0)
      |  ON quantity, extendedprice, discount, tax
      |  INTO NAME metric VALUE val)
      |ORDER BY l_orderkey, l_linenumber, metric, val""".stripMargin

  // ========================================================================
  // merge_upsert / snapshot_diff — the table-maintenance pair every
  // warehouse runs nightly, composed from plain joins (no Delta/Iceberg
  // dependency): MERGE a changeset (upserts + tombstones) into a base
  // snapshot, and DIFF two snapshots back into a changeset.
  //
  // Fixture (deterministic slices of orders): base = keys % 3 ≠ 0
  // ("yesterday"); upserts = keys % 7 = 0 ∧ % 11 ≠ 0 with doubled
  // price (overlapping base keys become updates, fresh keys inserts);
  // tombstones = keys % 11 = 0. Upsert and tombstone key sets are
  // DISJOINT by construction, so precedence never matters.
  //
  // merge shape — how MERGE INTO compiles without a lakehouse layer:
  // base anti-join changeset keys (two key-only anti-joins — the wide
  // rows never ride a shuffle wider than the key; a small changeset
  // broadcasts by stats), union the upsert rows back. Output: per-status
  // counts + exact decimal price sums (any wrong row lands in the sums).
  //
  // diff shape: narrow (key, compared columns) projections of the two
  // snapshots, ONE full outer join on the key, classify
  // added/removed/changed/unchanged — changed compares the DECIMAL
  // price directly (engine-exact); at 100 TB the compared columns
  // generalize to a content fingerprint. Diffing base against the
  // merge's own output must recover exactly the changeset — the pair is
  // self-verifying, and the spec pins that closure.
  // ========================================================================
  private def ordersBase(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).filter(col("o_orderkey") % 3 =!= 0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
  private def ordersUpserts(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderkey") % 7 === 0 && col("o_orderkey") % 11 =!= 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        (col("o_totalprice") * 2).as("o_totalprice"))
  private def ordersDeletes(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).filter(col("o_orderkey") % 11 === 0)
      .select(col("o_orderkey"))

  /** The merged "today" snapshot — shared by both keys so the diff
    * provably runs against the merge's real output, not a re-derivation.
    */
  private def ordersMerged(s: SparkSession, d: String): DataFrame =
    ordersBase(s, d)
      .join(ordersUpserts(s, d).select(col("o_orderkey")), Seq("o_orderkey"), "left_anti")
      .join(ordersDeletes(s, d), Seq("o_orderkey"), "left_anti")
      .unionByName(ordersUpserts(s, d))

  def mergeUpsert(s: SparkSession, d: String): DataFrame =
    ordersMerged(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus"))

  private val mergeCtesSql =
    """b AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice
      |  FROM orders WHERE o_orderkey % 3 <> 0),
      |u AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice * 2 AS o_totalprice
      |  FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 11 <> 0),
      |dl AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 11 = 0),
      |m AS (
      |  SELECT * FROM b
      |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM u)
      |    AND o_orderkey NOT IN (SELECT o_orderkey FROM dl)
      |  UNION ALL SELECT * FROM u)""".stripMargin

  private val mergeUpsertSql =
    s"""WITH $mergeCtesSql
      |SELECT o_orderstatus, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM m GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  def snapshotDiff(s: SparkSession, d: String): DataFrame = {
    val b = ordersBase(s, d).select(col("o_orderkey"),
      col("o_totalprice").cast("decimal(18,2)").as("b_p"))
    val t = ordersMerged(s, d).select(col("o_orderkey"),
      col("o_totalprice").cast("decimal(18,2)").as("t_p"))
    b.join(t, Seq("o_orderkey"), "full_outer")
      .select(col("o_orderkey"),
        when(col("b_p").isNull, "added")
          .when(col("t_p").isNull, "removed")
          .when(col("b_p") =!= col("t_p"), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"),
        min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
      .orderBy(col("status"))
  }

  private val snapshotDiffSql =
    s"""WITH $mergeCtesSql,
      |bb AS (SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS b_p FROM b),
      |tt AS (SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS t_p FROM m),
      |j AS (
      |  SELECT coalesce(bb.o_orderkey, tt.o_orderkey) AS k,
      |    CASE WHEN bb.o_orderkey IS NULL THEN 'added'
      |         WHEN tt.o_orderkey IS NULL THEN 'removed'
      |         WHEN bb.b_p <> tt.t_p THEN 'changed'
      |         ELSE 'unchanged' END AS status
      |  FROM bb FULL OUTER JOIN tt ON bb.o_orderkey = tt.o_orderkey)
      |SELECT status, count(*) AS n,
      |  CAST(min(k) AS BIGINT) AS min_key, CAST(max(k) AS BIGINT) AS max_key
      |FROM j GROUP BY status ORDER BY status""".stripMargin

  // ========================================================================
  // event_transitions — the first-order Markov transition matrix over
  // per-user event sequences: for each (from_type, to_type) pair of
  // CONSECUTIVE events in a user's (ts, event_id)-ordered stream, the
  // transition count and the exact conditional probability
  // p_e6 = n·10⁶ div Σ_to n (row-normalized, floor div). The behavioral
  // fingerprint funnel/retention queries summarize away: which step
  // actually follows which — "view → purchase" density is the
  // conversion signal, a heavy "error → error" diagonal is a retry
  // storm.
  //
  // Scale shape: ONE shuffle on the series key (user_id) for the lead
  // window, then a map-side-combined agg to ≤|types|² rows; the
  // row-normalizing window runs over that tiny relation, never the
  // corpus.
  // ========================================================================
  def eventTransitions(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(graft.functions.TimeFns.epochMicros(col("ts")), col("event_id"))
    val tr = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"),
        col("event_type").as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
    tr.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("from_total",
        sum(col("n")).over(Window.partitionBy(col("from_type"))))
      .withColumn("p_e6", expr("(n * 1000000) div from_total"))
      .select(col("from_type"), col("to_type"), col("n"), col("p_e6"))
      .orderBy(col("from_type"), col("to_type"))
  }

  private val eventTransitionsSql =
    """WITH t AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type, 1) OVER (
      |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS to_type
      |  FROM events),
      |c AS (
      |  SELECT from_type, to_type, count(*) AS n
      |  FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |  CAST((n * 1000000) // sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS p_e6
      |FROM c ORDER BY from_type, to_type""".stripMargin

  // ========================================================================
  // pivot_wide — event_type × user bucket value means as a wide matrix.
  // The pivot values are declared (deterministic column set), so Spark
  // skips the extra distinct scan; oracle is conditional aggregation.
  // ========================================================================
  def pivotWide(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("bucket", (col("user_id") % 4).cast("long"))
      .groupBy(col("bucket"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(CoreQueries.exactMeanCents(col("value")))
      .orderBy(col("bucket"))

  private val pivotWideSql =
    """SELECT user_id % 4 AS bucket,
      |  CAST(sum(CASE WHEN event_type = 'click' THEN CAST(round(value * 100) AS BIGINT) END) AS DOUBLE)
      |    / (count(CASE WHEN event_type = 'click' THEN value END) * 100.0) AS click,
      |  CAST(sum(CASE WHEN event_type = 'error' THEN CAST(round(value * 100) AS BIGINT) END) AS DOUBLE)
      |    / (count(CASE WHEN event_type = 'error' THEN value END) * 100.0) AS error,
      |  CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(round(value * 100) AS BIGINT) END) AS DOUBLE)
      |    / (count(CASE WHEN event_type = 'purchase' THEN value END) * 100.0) AS purchase,
      |  CAST(sum(CASE WHEN event_type = 'signup' THEN CAST(round(value * 100) AS BIGINT) END) AS DOUBLE)
      |    / (count(CASE WHEN event_type = 'signup' THEN value END) * 100.0) AS signup,
      |  CAST(sum(CASE WHEN event_type = 'view' THEN CAST(round(value * 100) AS BIGINT) END) AS DOUBLE)
      |    / (count(CASE WHEN event_type = 'view' THEN value END) * 100.0) AS view
      |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin

  // ========================================================================
  // set_except — orders whose customers place no 'F'-status orders
  // (EXCEPT = distinct set difference in both engines).
  // ========================================================================
  def setExcept(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    o.select(col("o_custkey"))
      .except(o.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
      .orderBy(col("o_custkey"))
  }

  private val setExceptSql =
    """SELECT o_custkey FROM orders
      |EXCEPT
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |ORDER BY o_custkey""".stripMargin

  // ========================================================================
  // dedup_keep_first — dropDuplicates semantics made deterministic: keep
  // the earliest event per (user_id, event_type). The canonical
  // "keep-first-by-order" dedup (reference's dropDuplicates north star,
  // SURVEY §7.2.7) via window rank, not dropDuplicates' arbitrary pick.
  // ========================================================================
  def dedupKeepFirst(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id").as("first_event_id"))
      .orderBy(col("user_id"), col("event_type"))
  }

  private val dedupKeepFirstSql =
    """SELECT user_id, event_type, event_id AS first_event_id
      |FROM (SELECT user_id, event_type, event_id,
      |        row_number() OVER (PARTITION BY user_id, event_type
      |                           ORDER BY ts, event_id) AS rn
      |      FROM events)
      |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin

  // ========================================================================
  // dedup_window — TIME-BOUNDED keep-first: a row is a duplicate only if
  // the previous same-key row arrived within the trailing `horizon`; a
  // key idle longer than the horizon "expires" and its next occurrence
  // is kept again. The batch analog of the streaming `dedup_ttl`
  // pipeline (dropDuplicatesWithinWatermark /
  // KeepFirst.keepFirstFn's idle-TTL state): both re-arm the
  // horizon on EVERY occurrence, kept or dropped — gap > horizon from
  // the PREVIOUS row, not from the last kept row — because that is what
  // idle-timeout state eviction does. This is the dedup a rolling-
  // ingest pipeline actually runs nightly: forever-window keep-first
  // (`dedup_keep_first`) over an append-only feed means state (and
  // semantics) pinned to the beginning of time; a trailing horizon
  // bounds both. With horizon ≥ corpus span the two coincide —
  // DedupWindowSpec pins that equivalence.
  //
  // Shape: ONE hashpartitioning(user_id, event_type) exchange serves
  // the lag window, the chain-group window, and the final aggregation
  // (grouping keys ⊇ partition keys, so no re-shuffle); per kept row it
  // reports the suppressed-duplicate count. At 100 TB: the exchange
  // carries (key, e_us, event_id) only, frames are keyed and
  // domain-bounded, no driver involvement.
  // ========================================================================
  private[queries] val DedupWindowHorizonUs = 172800000000L // 48 h

  /** The horizon-bounded keep-first over an event frame — parameterized
    * so the spec can run it with a corpus-spanning horizon and assert
    * it degenerates to exactly `dedup_keep_first`.
    */
  private[graft] def dedupWindowFrame(evts: DataFrame, horizonUs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("e_us"), col("event_id"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    evts
      .select(col("user_id"), col("event_type"), col("event_id"),
        graft.functions.TimeFns.epochMicros(col("ts")).as("e_us"))
      .withColumn("gap", col("e_us") - lag(col("e_us"), 1).over(w))
      .withColumn("is_new",
        when(col("gap").isNull || col("gap") > horizonUs, 1L).otherwise(0L))
      .withColumn("grp", sum(col("is_new")).over(cum))
      .groupBy(col("user_id"), col("event_type"), col("grp"))
      // exactly one is_new row per chain group — its event_id is the
      // kept (first) one; max over the single non-null value extracts it
      // identically on both engines
      .agg(max(when(col("is_new") === 1L, col("event_id"))).as("first_event_id"),
        (count(lit(1)) - 1L).as("n_suppressed"))
      .select(col("user_id"), col("event_type"), col("first_event_id"),
        col("n_suppressed"))
  }

  def dedupWindow(s: SparkSession, d: String): DataFrame =
    dedupWindowFrame(Tables.events(s, d), DedupWindowHorizonUs)
      .orderBy(col("user_id"), col("event_type"), col("first_event_id"))

  private val dedupWindowSql =
    s"""WITH e AS (
      |  SELECT user_id, event_type, event_id, epoch_us(ts) AS e_us FROM events),
      |g AS (
      |  SELECT user_id, event_type, event_id, e_us,
      |    CASE WHEN e_us - lag(e_us) OVER w IS NULL
      |           OR e_us - lag(e_us) OVER w > $DedupWindowHorizonUs
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY e_us, event_id)),
      |c AS (
      |  SELECT *, sum(is_new) OVER (PARTITION BY user_id, event_type
      |    ORDER BY e_us, event_id ROWS UNBOUNDED PRECEDING) AS grp
      |  FROM g)
      |SELECT user_id, event_type,
      |  max(CASE WHEN is_new = 1 THEN event_id END) AS first_event_id,
      |  CAST(count(*) - 1 AS BIGINT) AS n_suppressed
      |FROM c GROUP BY user_id, event_type, grp
      |ORDER BY user_id, event_type, first_event_id""".stripMargin

  // ========================================================================
  // q3_topk — shipping-priority shape (TPC-H Q3): selective dim filter →
  // two hash joins → grouped exact-decimal revenue → top-k.
  // ========================================================================
  def q3TopK(s: SparkSession, d: String): DataFrame = {
    val cutoff = lit("1998-01-01").cast("timestamp")
    Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") < cutoff)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") > cutoff)
      .groupBy(col("o_orderkey"))
      .agg(decRevenue.as("revenue"),
        count(lit(1)).as("n"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  private val q3TopKSql =
    """SELECT o_orderkey,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  count(*) AS n
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |  AND l_shipdate > TIMESTAMP '1998-01-01'
      |GROUP BY o_orderkey
      |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin

  // ========================================================================
  // q5_multi_join — local-supplier-volume shape (TPC-H Q5): six-way join
  // across the full star schema; every dimension side (supplier, nation,
  // region, customer) is broadcast-sized, so only the fact tables
  // shuffle.
  // ========================================================================
  def q5MultiJoin(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.supplier(s, d)),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(decRevenue.as("revenue"),
        count(lit(1)).as("n"))
      .orderBy(col("r_name"), col("n_name"))

  private val q5MultiJoinSql =
    """SELECT r_name, n_name,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  count(*) AS n
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  // ========================================================================
  // sketch_distinct — HyperLogLog++ approximate distinct counting, THE
  // cardinality primitive at 100 TB (exact countDistinct shuffles every
  // distinct value; the sketch shuffles one ~1.5 KB buffer per group and
  // merges associatively, so it map-side combines like any algebraic
  // agg).
  //
  // Verification design (the reference's adapt-stats gate made
  // cross-engine — datapipeline.py:364-374 / tfdataset_utilities.py:
  // 116-124: learned statistics are CHECKED, not just produced): the
  // HLL register layout is engine-specific, so the estimate itself
  // cannot cross the oracle boundary — but its accuracy contract can.
  // The query emits the exact stats plus `bound_ok` =
  // |approx − exact| ≤ ⌈3·rsd·exact⌉ computed in Spark (deterministic:
  // HLL on fixed input is a pure function), and DuckDB recomputes the
  // exact side expecting literal 1 — so a sketch drifting outside 3σ
  // fails the hash match. SketchSpec keeps the raw-estimate bounds and
  // merge-invariance checks on [[sketchDistinctRaw]].
  // ========================================================================
  private val HllRsd = 0.02

  /** The production single-pass form: estimate + exact side by side. */
  def sketchDistinctRaw(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id"), rsd = HllRsd).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n_events"))

  def sketchDistinct(s: SparkSession, d: String): DataFrame =
    sketchDistinctRaw(s, d)
      .select(col("event_type"), col("exact_users"), col("n_events"),
        (abs(col("approx_users") - col("exact_users"))
          <= ceil(lit(3 * HllRsd) * col("exact_users"))).cast("long").as("bound_ok"))
      .orderBy(col("event_type"))

  private val sketchDistinctSql =
    """SELECT event_type, count(DISTINCT user_id) AS exact_users,
      |  count(*) AS n_events, CAST(1 AS BIGINT) AS bound_ok
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ========================================================================
  // sketch_quantiles — approximate quantiles via the Greenwald-Khanna
  // sketch (percentile_approx): rank error ≤ n/accuracy of the true
  // rank, single pass, mergeable across partitions — vs the exact
  // percentile which materializes the full sorted column per group.
  //
  // Verified like sketch_distinct: the returned quantile VALUES are
  // engine-specific, but GK's rank-error contract is checkable — the
  // query re-ranks each returned value against the column (one extra
  // audit pass; the sketch itself stays the one-pass primitive,
  // [[sketchQuantilesRaw]]) and emits `p*_ok` =
  // |rank(v_p) − p·n| ≤ max(n/accuracy, 1) + 1 (the +1 absorbs
  // duplicate-value rank inflation), with DuckDB recomputing the exact
  // group sizes and expecting literal 1s.
  // ========================================================================
  private val GkAccuracy = 10000

  /** The production single-pass form: the three quantile estimates. */
  def sketchQuantilesRaw(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(percentile_approx(col("value"),
        array(lit(0.5), lit(0.95), lit(0.99)), lit(GkAccuracy)).as("q_approx"))
      .select(col("event_type"),
        element_at(col("q_approx"), 1).as("p50"),
        element_at(col("q_approx"), 2).as("p95"),
        element_at(col("q_approx"), 3).as("p99"))

  def sketchQuantiles(s: SparkSession, d: String): DataFrame = {
    val tol = greatest(col("n").cast("double") / GkAccuracy, lit(1.0)) + lit(1.0)
    def ok(rank: Column, p: Double) =
      (abs(rank.cast("double") - lit(p) * col("n")) <= tol).cast("long")
    Tables.events(s, d).select(col("event_type"), col("value"))
      .join(broadcast(sketchQuantilesRaw(s, d)), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") <= col("p50"), 1L).otherwise(0L)).as("r50"),
        sum(when(col("value") <= col("p95"), 1L).otherwise(0L)).as("r95"),
        sum(when(col("value") <= col("p99"), 1L).otherwise(0L)).as("r99"))
      .select(col("event_type"), col("n"),
        ok(col("r50"), 0.5).as("p50_ok"),
        ok(col("r95"), 0.95).as("p95_ok"),
        ok(col("r99"), 0.99).as("p99_ok"))
      .orderBy(col("event_type"))
  }

  private val sketchQuantilesSql =
    """SELECT event_type, count(*) AS n, CAST(1 AS BIGINT) AS p50_ok,
      |  CAST(1 AS BIGINT) AS p95_ok, CAST(1 AS BIGINT) AS p99_ok
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ========================================================================
  // funnel_conversion — ordered-step funnel over the event stream: how
  // many users did view, then click STRICTLY after their first view,
  // then purchase strictly after that click. The canonical interaction-
  // analytics query (and the sessionized-corpus QA check: did the
  // pipeline preserve event ordering per user?). Three stacked
  // conditional-min windows over the SAME user partitioning — ONE hash
  // shuffle, no sort (unordered frames), no self-joins (the naive
  // 3-way self-join is quadratic in events per user) — then one
  // per-user reduce and one global count row. Exact integer
  // epoch-micros; strict inequalities are engine-identical.
  // ========================================================================
  def funnelConversion(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
    val e = Tables.events(s, d).select(col("user_id"), col("event_type"),
      graft.functions.TimeFns.epochMicros(col("ts")).as("e_us"))
    val staged = e
      .withColumn("t1",
        min(when(col("event_type") === "view", col("e_us"))).over(w))
      .withColumn("t2",
        min(when(col("event_type") === "click" && col("e_us") > col("t1"),
          col("e_us"))).over(w))
      .withColumn("t3",
        min(when(col("event_type") === "purchase" && col("e_us") > col("t2"),
          col("e_us"))).over(w))
    staged.groupBy(col("user_id"))
      .agg(max(col("t1")).as("t1"), max(col("t2")).as("t2"), max(col("t3")).as("t3"))
      .agg(count(lit(1)).as("n_users"),
        count(col("t1")).as("n_view"),
        count(col("t2")).as("n_view_click"),
        count(col("t3")).as("n_view_click_purchase"))
      .select(col("n_users"), col("n_view"), col("n_view_click"),
        col("n_view_click_purchase"),
        when(col("n_view") > 0,
          col("n_view_click").cast("double") / col("n_view")).as("conv_click"),
        when(col("n_view_click") > 0,
          col("n_view_click_purchase").cast("double") / col("n_view_click"))
          .as("conv_purchase"))
  }

  private val funnelConversionSql =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS e_us FROM events),
      |s1 AS (
      |  SELECT user_id, event_type, e_us,
      |    min(CASE WHEN event_type = 'view' THEN e_us END)
      |      OVER (PARTITION BY user_id) AS t1
      |  FROM e),
      |s2 AS (
      |  SELECT *, min(CASE WHEN event_type = 'click' AND e_us > t1 THEN e_us END)
      |    OVER (PARTITION BY user_id) AS t2 FROM s1),
      |s3 AS (
      |  SELECT *, min(CASE WHEN event_type = 'purchase' AND e_us > t2 THEN e_us END)
      |    OVER (PARTITION BY user_id) AS t3 FROM s2),
      |u AS (
      |  SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3
      |  FROM s3 GROUP BY user_id)
      |SELECT count(*) AS n_users,
      |  count(t1) AS n_view, count(t2) AS n_view_click,
      |  count(t3) AS n_view_click_purchase,
      |  CASE WHEN count(t1) > 0
      |    THEN CAST(count(t2) AS DOUBLE) / count(t1) END AS conv_click,
      |  CASE WHEN count(t2) > 0
      |    THEN CAST(count(t3) AS DOUBLE) / count(t2) END AS conv_purchase
      |FROM u""".stripMargin

  // ========================================================================
  // window_funnel — the TIME-HORIZON funnel (ClickHouse windowFunnel's
  // semantics): the deepest view → click → purchase chain each user
  // completes where every later step lands within 24 h OF THE FIRST
  // step, steps strictly ordered. funnel_conversion counts unbounded
  // completion ("ever converted"); this is the campaign-attribution
  // variant ("converted within the window") — the two disagree exactly
  // on slow converters, which is the point. Output: users per deepest
  // step (0 = active but never viewed).
  //
  // Scale shape: same stacked conditional-min windows as
  // funnel_conversion — t1 is per-partition constant after the first
  // window, so t2/t3 reference it for free; ONE hash shuffle on
  // user_id, unordered frames (no sort), then a per-user reduce and a
  // ≤4-row histogram. Exact integer epoch-µs comparisons throughout.
  // ========================================================================
  private val FunnelHorizonUs = 86400L * 1000000L // 24 h

  def windowFunnel(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
    val e = Tables.events(s, d).select(col("user_id"), col("event_type"),
      graft.functions.TimeFns.epochMicros(col("ts")).as("e_us"))
    val staged = e
      .withColumn("t1",
        min(when(col("event_type") === "view", col("e_us"))).over(w))
      .withColumn("t2",
        min(when(col("event_type") === "click" && col("e_us") > col("t1")
          && col("e_us") <= col("t1") + FunnelHorizonUs, col("e_us"))).over(w))
      .withColumn("t3",
        min(when(col("event_type") === "purchase" && col("e_us") > col("t2")
          && col("e_us") <= col("t1") + FunnelHorizonUs, col("e_us"))).over(w))
    staged.groupBy(col("user_id"))
      .agg(max(col("t1")).as("t1"), max(col("t2")).as("t2"), max(col("t3")).as("t3"))
      .select(when(col("t3").isNotNull, 3L)
        .when(col("t2").isNotNull, 2L)
        .when(col("t1").isNotNull, 1L)
        .otherwise(0L).as("step"))
      .groupBy(col("step")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("step"))
  }

  private val windowFunnelSql =
    s"""WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS e_us FROM events),
      |s1 AS (
      |  SELECT user_id, event_type, e_us,
      |    min(CASE WHEN event_type = 'view' THEN e_us END)
      |      OVER (PARTITION BY user_id) AS t1
      |  FROM e),
      |s2 AS (
      |  SELECT *, min(CASE WHEN event_type = 'click' AND e_us > t1
      |      AND e_us <= t1 + $FunnelHorizonUs THEN e_us END)
      |    OVER (PARTITION BY user_id) AS t2 FROM s1),
      |s3 AS (
      |  SELECT *, min(CASE WHEN event_type = 'purchase' AND e_us > t2
      |      AND e_us <= t1 + $FunnelHorizonUs THEN e_us END)
      |    OVER (PARTITION BY user_id) AS t3 FROM s2),
      |u AS (
      |  SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3
      |  FROM s3 GROUP BY user_id)
      |SELECT CAST(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
      |            WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS step,
      |  count(*) AS n_users
      |FROM u GROUP BY 1 ORDER BY step""".stripMargin

  // ========================================================================
  // retention_cohorts — classic cohort retention: users grouped by the
  // epoch-day of their FIRST event; for each (cohort, day-offset) the
  // count of distinct users active that day. One per-user min window
  // (hash shuffle), a distinct on (user, cohort, offset), one count
  // aggregation — all exact integer day arithmetic (`div`, no
  // float dates).
  // ========================================================================
  def retentionCohorts(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
    Tables.events(s, d)
      .select(col("user_id"),
        graft.functions.TimeFns.epochMicros(col("ts")).as("e_us"))
      .select(col("user_id"), expr("e_us div 86400000000").as("day"))
      .withColumn("cohort_day", min(col("day")).over(w))
      .select(col("user_id"), col("cohort_day"),
        (col("day") - col("cohort_day")).as("day_offset"))
      .distinct()
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  private val retentionCohortsSql =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      |c AS (
      |  SELECT user_id, day,
      |    min(day) OVER (PARTITION BY user_id) AS cohort_day
      |  FROM e)
      |SELECT cohort_day, day - cohort_day AS day_offset,
      |  count(*) AS n_users
      |FROM (SELECT DISTINCT user_id, cohort_day, day FROM c)
      |GROUP BY cohort_day, day_offset
      |ORDER BY cohort_day, day_offset""".stripMargin

  // ========================================================================
  // zorder_key — Morton/Z-order multi-dimensional layout key (Morton
  // 1966; the primitive behind Delta Lake's OPTIMIZE ZORDER BY and
  // Hudi/Iceberg clustering): interleave the bits of two join/filter
  // dimensions (l_partkey, l_suppkey — 10 low bits each) so that
  // range-partitioning + sorting by the ONE derived key co-locates rows
  // that are close in BOTH dimensions. At 100 TB this is how a table
  // gets min-max parquet-footer pruning on two predicates from a single
  // sort order: write with repartitionByRange($"zkey") +
  // sortWithinPartitions($"zkey") and every file's (partkey, suppkey)
  // ranges are narrow. The query emits the audit that proves the
  // locality contract: grouping by the 8 leading zkey bits (256 coarse
  // cells), each cell's span in EACH dimension is ≤ 64 of 1024 domain
  // values — the pruning guarantee a layout job asserts before
  // committing the rewrite (ZOrderSpec pins it).
  //
  // Exactness: the whole derivation is shift/mask integer arithmetic —
  // the classic 4-step bit-spread — generated from ONE step list for
  // both engines (spreadSql mirrors spread), so the key definition
  // cannot diverge. No doubles anywhere.
  //
  // Scale shape: per-row codegen'd bit math (no shuffle to derive), one
  // map-side-combined agg on the 256-cell key.
  // ========================================================================
  private val MortonSteps =
    Seq((8, 0x00FF00FFL), (4, 0x0F0F0F0FL), (2, 0x33333333L), (1, 0x55555555L))

  /** DuckDB twin of [[graft.operators.Scale.mortonKey]]'s bit-spread —
    * rendered from the same step list.
    */
  private def spreadSql(e: String): String =
    MortonSteps.foldLeft(e) { case (v, (sh, m)) => s"((($v) | (($v) << $sh)) & $m)" }

  def zorderKey(s: SparkSession, d: String): DataFrame = {
    val x = col("l_partkey").bitwiseAND(lit(1023L))
    val y = col("l_suppkey").bitwiseAND(lit(1023L))
    Tables.lineitem(s, d)
      .select(x.as("x"), y.as("y"))
      .select(col("x"), col("y"),
        graft.operators.Scale.mortonKey(col("x"), col("y")).as("zkey"))
      .groupBy(shiftright(col("zkey"), 12).cast("long").as("cell"))
      .agg(count(lit(1)).as("n"),
        min(col("x")).cast("long").as("x_min"), max(col("x")).cast("long").as("x_max"),
        min(col("y")).cast("long").as("y_min"), max(col("y")).cast("long").as("y_max"))
      .orderBy(col("cell"))
  }

  private val zorderKeySql =
    s"""WITH xy AS (
       |  SELECT (l_partkey & 1023) AS x, (l_suppkey & 1023) AS y FROM lineitem),
       |z AS (
       |  SELECT x, y,
       |    (${spreadSql("x")} | (${spreadSql("y")} << 1)) AS zkey
       |  FROM xy)
       |SELECT CAST(zkey >> 12 AS BIGINT) AS cell, count(*) AS n,
       |  CAST(min(x) AS BIGINT) AS x_min, CAST(max(x) AS BIGINT) AS x_max,
       |  CAST(min(y) AS BIGINT) AS y_min, CAST(max(y) AS BIGINT) AS y_max
       |FROM z GROUP BY 1 ORDER BY cell""".stripMargin

  val queries: Map[String, Q] = Map(
    "zorder_key" -> (zorderKey _),
    "funnel_conversion" -> (funnelConversion _),
    "retention_cohorts" -> (retentionCohorts _),
    "q3_topk" -> (q3TopK _),
    "sketch_distinct" -> (sketchDistinct _),
    "sketch_quantiles" -> (sketchQuantiles _),
    "q5_multi_join" -> (q5MultiJoin _),
    "rollup_agg" -> (rollupAgg _),
    "cube_agg" -> (cubeAgg _),
    "event_transitions" -> (eventTransitions _),
    "window_funnel" -> (windowFunnel _),
    "merge_upsert" -> (mergeUpsert _),
    "snapshot_diff" -> (snapshotDiff _),
    "unpivot_long" -> (unpivotLong _),
    "pivot_wide" -> (pivotWide _),
    "set_except" -> (setExcept _),
    "dedup_keep_first" -> (dedupKeepFirst _),
    "dedup_window" -> (dedupWindow _),
  )

  val oracleSql: Map[String, String] = Map(
    "zorder_key" -> zorderKeySql,
    "funnel_conversion" -> funnelConversionSql,
    "retention_cohorts" -> retentionCohortsSql,
    "q3_topk" -> q3TopKSql,
    "q5_multi_join" -> q5MultiJoinSql,
    "rollup_agg" -> rollupAggSql,
    "cube_agg" -> cubeAggSql,
    "event_transitions" -> eventTransitionsSql,
    "window_funnel" -> windowFunnelSql,
    "merge_upsert" -> mergeUpsertSql,
    "snapshot_diff" -> snapshotDiffSql,
    "unpivot_long" -> unpivotLongSql,
    "pivot_wide" -> pivotWideSql,
    "set_except" -> setExceptSql,
    "dedup_keep_first" -> dedupKeepFirstSql,
    "dedup_window" -> dedupWindowSql,
    "sketch_distinct" -> sketchDistinctSql,
    "sketch_quantiles" -> sketchQuantilesSql,
  )
}
