package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ExactRound
import graft.sources.Tables
import graft.text.TextOps

/** Corpus-analytics surface of the text family: Heaps-law growth,
  * pairwise vocabulary overlap, Zipf-exponent fits, and distinct-n
  * lexical diversity with its O(increment) refresh. Split out of
  * [[TextQueries]] (r18, file-size maintainability only): registered
  * under the SAME "text" family in [[Registry]] — execution order,
  * cache-clear boundaries, and family totals are unchanged.
  */
object TextCorpus {
  private type Q = (SparkSession, String) => DataFrame
  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)
  // ========================================================================
  // corpus_growth — the Heaps-law novelty curve over ingestion rounds:
  // docs arrive in 10 deterministic slices (doc_id % 10 — the
  // data-card increment convention), and each round reports how much
  // NEW material it contributed — first-seen word types and first-seen
  // content fingerprints — plus the cumulative totals. The curve a
  // pipeline owner reads before buying more of a feed: a flattening
  // new_types line means additional data re-treads existing vocabulary
  // (diminishing novelty), a flat new_fps line means it is literally
  // re-sending old documents. First-seen attribution is an exact
  // min-slice election per type/fp (order-free, engine-exact), the
  // cumulative lines are running sums over the 10-row result.
  //
  // Scale shape: two map-side-combined aggs (token → min slice,
  // fp → min slice) shrink the corpus to its distinct types before
  // anything else; the per-round counts and the running-sum window run
  // over ≤ 10 rows. No windows, joins, or sorts at corpus size.
  // ========================================================================
  private val GrowthSlices = 10

  def corpusGrowth(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select(col("doc_id"), col("text"),
      (col("doc_id") % GrowthSlices).as("slice"))
    val typeFirst = base
      .select(col("slice"), explode(TextOps.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(min(col("slice")).as("first_slice"))
      .groupBy(col("first_slice")).agg(count(lit(1)).as("new_types"))
    val fpFirst = base
      .select(col("slice"), TextOps.fingerprint(col("text")).as("fp"))
      .groupBy(col("fp")).agg(min(col("slice")).as("first_slice"))
      .groupBy(col("first_slice")).agg(count(lit(1)).as("new_fps"))
    val docsPer = base.groupBy(col("slice").as("first_slice"))
      .agg(count(lit(1)).as("n_docs"))
    val wCum = Window.orderBy(col("slice"))
      .rowsBetween(Window.unboundedPreceding, 0)
    docsPer
      .join(typeFirst, Seq("first_slice"), "left")
      .join(fpFirst, Seq("first_slice"), "left")
      .select(col("first_slice").as("slice"), col("n_docs"),
        coalesce(col("new_types"), lit(0L)).as("new_types"),
        coalesce(col("new_fps"), lit(0L)).as("new_fps"))
      .withColumn("cum_types", sum(col("new_types")).over(wCum))
      .withColumn("cum_fps", sum(col("new_fps")).over(wCum))
      .orderBy(col("slice"))
  }

  private val corpusGrowthSql =
    s"""WITH b AS (
       |  SELECT doc_id, text, doc_id % $GrowthSlices AS slice FROM documents),
       |tf AS (
       |  SELECT first_slice, count(*) AS new_types FROM (
       |    SELECT w, min(slice) AS first_slice
       |    FROM (SELECT slice, unnest(regexp_extract_all(text, '\\S+')) AS w FROM b)
       |    GROUP BY w)
       |  GROUP BY first_slice),
       |ff AS (
       |  SELECT first_slice, count(*) AS new_fps FROM (
       |    SELECT fp, min(slice) AS first_slice
       |    FROM (SELECT slice,
       |      ${TextOps.fingerprintSql("text")} AS fp
       |      FROM b)
       |    GROUP BY fp)
       |  GROUP BY first_slice),
       |dp AS (SELECT slice AS first_slice, count(*) AS n_docs FROM b GROUP BY slice)
       |SELECT dp.first_slice AS slice, n_docs,
       |  CAST(coalesce(new_types, 0) AS BIGINT) AS new_types,
       |  CAST(coalesce(new_fps, 0) AS BIGINT) AS new_fps,
       |  CAST(sum(coalesce(new_types, 0)) OVER (ORDER BY dp.first_slice
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_types,
       |  CAST(sum(coalesce(new_fps, 0)) OVER (ORDER BY dp.first_slice
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_fps
       |FROM dp
       |LEFT JOIN tf ON dp.first_slice = tf.first_slice
       |LEFT JOIN ff ON dp.first_slice = ff.first_slice
       |ORDER BY slice""".stripMargin

  // ========================================================================
  // vocab_overlap — pairwise source similarity through top-K vocabulary
  // Jaccard: for every source pair, how much of their most-frequent
  // vocabulary is shared. The mixture-design companion to
  // dedup_cross_source: cross-source dedup finds shared DOCUMENTS,
  // this finds shared REGISTER (two crawls of the same domain overlap
  // near 1.0 even when no document matches — the signal to collapse
  // them before computing mixture weights; a source whose top-K barely
  // overlaps anything is the distribution-shift outlier worth
  // upweighting). K is small (15) by design: the head of a Zipfian
  // vocabulary IS the register signature, and it keeps the measure
  // contrastive when sources share a long tail.
  //
  // Scale shape: one map-side-combined (source, word) count shuffle;
  // the rank window runs over the per-source DISTINCT-vocab relation
  // (vocabulary-bounded, never corpus-row-bounded); top-K sets are
  // |sources|·K rows, so the intersection self-join and the
  // |sources|² matrix are report-sized. Exact integers end-to-end:
  // jaccard_e6 = inter·10⁶ div (n_a + n_b − inter).
  // ========================================================================
  private val VocabOverlapK = 15
  private val ZipfK = 64

  /** Per-source top-K vocabulary sets (|sources|·K rows), memoized per
    * (session, dir) + persisted ([[Memo]]) — three
    * consumers in one query tree (sizes + both intersection sides)
    * would otherwise each re-run the corpus count shuffle, and repeat
    * invocations (Verify, Bench laps, specs) would pile up anonymous
    * pinned copies.
    */
  /** Per-source ranked vocabulary head (source, w, c, rn), rn ≤ the
    * LARGEST head any consumer needs (ZipfK) — `vocab_overlap` slices
    * rn ≤ 15, `zipf_fit` reads all 64 — so one corpus count shuffle and
    * one |sources|·64-row persisted relation serve both families.
    */
  private def vocabRanked(s: SparkSession, d: String): DataFrame =
    Memo.relation(s, d, "vocabTopk") {
      val cnt = docs(s, d)
        .select(col("source"), explode(TextOps.tokens(col("text"))).as("w"))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      val bySrc = Window.partitionBy(col("source"))
        .orderBy(col("c").desc, col("w"))
      cnt.withColumn("rn", row_number().over(bySrc))
        .filter(col("rn") <= ZipfK)
    }
  private def vocabTopk(s: SparkSession, d: String): DataFrame =
    vocabRanked(s, d).filter(col("rn") <= VocabOverlapK)
      .select(col("source"), col("w"))

  def vocabOverlap(s: SparkSession, d: String): DataFrame = {
    val topk = vocabTopk(s, d)
    val sizes = topk.groupBy(col("source")).agg(count(lit(1)).as("n_top"))
    val inter = topk.select(col("source").as("src_a"), col("w"))
      .join(topk.select(col("source").as("src_b"), col("w")), Seq("w"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("n_inter"))
    val pairs = sizes.select(col("source").as("src_a"), col("n_top").as("n_a"))
      .crossJoin(sizes.select(col("source").as("src_b"), col("n_top").as("n_b")))
      .filter(col("src_a") < col("src_b"))
    val out = pairs.join(inter, Seq("src_a", "src_b"), "left")
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      .withColumn("jaccard_e6",
        expr("(n_inter * 1000000) div (n_a + n_b - n_inter)"))
      .orderBy(col("src_a"), col("src_b"))
    out
  }

  /** Per-source ranked-vocabulary CTEs (`vr` = source, w, c, rn) — ONE
    * rendering shared by the vocab_overlap and zipf_fit oracles,
    * mirroring the single Spark-side [[vocabRanked]] memo both ride: a
    * tokenization or tie-break change edits one string, not two.
    */
  private lazy val vocabRankedCtesSql =
    raw"""vc AS (
       |  SELECT source, w, count(*) AS c
       |  FROM (SELECT source, unnest(regexp_extract_all(text, '\S+')) AS w
       |        FROM documents)
       |  GROUP BY source, w),
       |vr AS (
       |  SELECT source, w, c,
       |    row_number() OVER (PARTITION BY source ORDER BY c DESC, w) AS rn
       |  FROM vc)""".stripMargin

  private val vocabOverlapSql =
    s"""WITH $vocabRankedCtesSql,
       |vk AS (SELECT source, w FROM vr WHERE rn <= $VocabOverlapK),
       |vsz AS (SELECT source, count(*) AS n_top FROM vk GROUP BY source),
       |vin AS (
       |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_inter
       |  FROM vk a JOIN vk b ON a.w = b.w AND a.source < b.source
       |  GROUP BY a.source, b.source),
       |vp AS (
       |  SELECT a.source AS src_a, b.source AS src_b,
       |    a.n_top AS n_a, b.n_top AS n_b
       |  FROM vsz a JOIN vsz b ON a.source < b.source)
       |SELECT vp.src_a, vp.src_b, CAST(n_a AS BIGINT) AS n_a,
       |  CAST(n_b AS BIGINT) AS n_b,
       |  CAST(coalesce(n_inter, 0) AS BIGINT) AS n_inter,
       |  CAST((coalesce(n_inter, 0) * 1000000) // (n_a + n_b - coalesce(n_inter, 0))
       |    AS BIGINT) AS jaccard_e6
       |FROM vp LEFT JOIN vin ON vp.src_a = vin.src_a AND vp.src_b = vin.src_b
       |ORDER BY vp.src_a, vp.src_b""".stripMargin

  // ========================================================================
  // zipf_fit — per-source Zipf exponent over the top-K=64 vocabulary
  // head: the OLS slope of ln(freq) on ln(rank) (Zipf 1949; natural
  // text sits near −1). The corpus-health dial the shape heuristics
  // miss: machine-generated/spam text flattens the head (slope → 0),
  // id-spam and OCR noise steepen it — a source whose slope drifts
  // between releases changed its generator, not just its volume.
  //
  // Cross-engine exactness (the surprisal_e4 treatment): each term
  // x = ln(rank), y = ln(count) is the ln of ONE exact integer, so
  // both engines see identical input doubles, and each term quantizes
  // to integer e6 units BEFORE any aggregation — the OLS sums are then
  // exact DECIMAL(38,0)/HUGEINT arithmetic (order-independent), and
  // slope_e6 = (K·Σxy − Σx·Σy)·10⁶ / (K·Σxx − Σx²) is one sign-safe
  // integer division (negative numerator handled with the explicit
  // truncate-toward-zero CASE both engines agree on — Spark div and
  // DuckDB // disagree on negative operands otherwise). A source with
  // one vocabulary type has a degenerate denominator: slope 0,
  // flagged by k_used = 1.
  //
  // Scale: rides the memoized vocabRanked head — one corpus count
  // shuffle shared with vocab_overlap, then OLS over ≤ 64 rows per
  // source; the report is |sources| rows.
  // ========================================================================
  def zipfFit(s: SparkSession, d: String): DataFrame = {
    val terms = vocabRanked(s, d)
      .select(col("source"),
        expr("CAST(round(ln(CAST(rn AS DOUBLE)) * 1000000) AS BIGINT)").as("x"),
        expr("CAST(round(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT)").as("y"))
    terms
      .groupBy(col("source"))
      .agg(count(lit(1)).as("k_used"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"))
      .withColumn("num", expr(
        "CAST(k_used AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy"))
      .withColumn("den", expr(
        "CAST(k_used AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"))
      .withColumn("slope_e6", expr(
        """CAST(CASE WHEN den = 0 THEN 0
          |  WHEN num < 0 THEN -((-num * 1000000) div den)
          |  ELSE (num * 1000000) div den END AS BIGINT)""".stripMargin))
      .select(col("source"), col("k_used"), col("slope_e6"))
      .orderBy(col("source"))
  }

  private lazy val zipfFitSql =
    s"""WITH $vocabRankedCtesSql,
       |tm AS (
       |  SELECT source,
       |    CAST(round(ln(CAST(rn AS DOUBLE)) * 1000000) AS BIGINT) AS x,
       |    CAST(round(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT) AS y
       |  FROM vr WHERE rn <= $ZipfK),
       |ag AS (
       |  SELECT source, count(*) AS k_used,
       |    sum(x)::HUGEINT AS sx, sum(y)::HUGEINT AS sy,
       |    sum(x::HUGEINT * y) AS sxy, sum(x::HUGEINT * x) AS sxx
       |  FROM tm GROUP BY source),
       |sl AS (
       |  SELECT source, k_used,
       |    k_used * sxy - sx * sy AS num, k_used * sxx - sx * sx AS den
       |  FROM ag)
       |SELECT source, k_used,
       |  CAST(CASE WHEN den = 0 THEN 0
       |    WHEN num < 0 THEN -((-num * 1000000) // den)
       |    ELSE (num * 1000000) // den END AS BIGINT) AS slope_e6
       |FROM sl ORDER BY source""".stripMargin

  // ========================================================================
  // corpus_diversity — distinct-n lexical diversity per source (Li et
  // al. arXiv:1510.03055's distinct-1/2/3, lifted from generations to
  // corpus health): for n ∈ {1,2,3}, total n-grams, distinct n-grams,
  // and exact-integer distinct_e6 = distinct·10⁶ div total. The
  // degeneracy dial the dedup/repetition gates don't read: a source
  // whose distinct-2 collapses is templated boilerplate even when no
  // document-level dup fires (every page unique, every sentence the
  // same), and a distinct-1 near 1.0 on a large source is OCR noise or
  // id-spam (every token unique). Scale: ONE documents scan explodes
  // ~3× tokens rows tagged by n; count + count-distinct per (source, n)
  // plan as two-level partial aggregations over (source, n, gram) —
  // report is |sources|·3 rows, nothing corpus-sized crosses the
  // exchange except the gram partials. DECIMAL(38,0)/HUGEINT ratio
  // arithmetic (the embed_outlier convention) so a 10¹³-gram source
  // cannot overflow the e6 numerator.
  // ========================================================================
  /** (source, n, g) for n ∈ {1,2,3} — all gram lengths in ONE exploded
    * projection over one scan of `docsDf`; shared by the full report
    * and the incremental refresh so the gram definition exists once.
    */
  private def gramRelation(docsDf: DataFrame): DataFrame =
    docsDf
      .select(col("source"), TextOps.tokens(col("text")).as("t"))
      .select(col("source"), explode(expr(
        """flatten(transform(filter(array(1, 2, 3), n -> size(t) >= n),
          |  n -> transform(sequence(1, size(t) - n + 1),
          |    i -> struct(CAST(n AS BIGINT) AS n,
          |                concat_ws(' ', slice(t, i, n)) AS g))))""".stripMargin)).as("x"))
      .select(col("source"), col("x.n").as("n"), col("x.g").as("g"))

  private def diversityFinish(stats: DataFrame): DataFrame =
    stats
      .withColumn("distinct_e6",
        expr("CAST((CAST(n_distinct AS DECIMAL(38,0)) * 1000000) div n_grams AS BIGINT)"))
      .select(col("source"), col("n"), col("n_grams"), col("n_distinct"),
        col("distinct_e6"))
      .orderBy(col("source"), col("n"))

  def corpusDiversity(s: SparkSession, d: String): DataFrame =
    diversityFinish(
      gramRelation(docs(s, d)).groupBy(col("source"), col("n"))
        .agg(count(lit(1)).as("n_grams"), countDistinct(col("g")).as("n_distinct")))

  private val corpusDiversitySql =
    raw"""WITH tk AS (
       |  SELECT source, regexp_extract_all(text, '\S+') AS t FROM documents),
       |gm AS (
       |  SELECT source, n,
       |    unnest(list_transform(range(1, len(t) - n + 2),
       |      i -> array_to_string(t[i:i+n-1], ' '))) AS g
       |  FROM tk, range(1, 4) r(n))
       |SELECT source, CAST(n AS BIGINT) AS n, count(*) AS n_grams,
       |  CAST(count(DISTINCT g) AS BIGINT) AS n_distinct,
       |  CAST((count(DISTINCT g)::HUGEINT * 1000000) // count(*) AS BIGINT)
       |    AS distinct_e6
       |FROM gm GROUP BY source, n ORDER BY source, n""".stripMargin

  // ========================================================================
  // corpus_diversity_incremental — the diversity report's UPDATE PATH:
  // the base slice's (source, n, g, c) gram-count relation is persisted
  // ONCE as a catalog table (the data_card_incremental build-once
  // contract; gram counts are the report's exact sufficient statistic,
  // the way the corpus fingerprint relation is for substring dedup),
  // and each release scans ONLY the increment. Totals add; the distinct
  // count is NOT slice-additive, so new distincts come from ONE
  // anti-join of the increment's (vocabulary-sized) gram set against
  // the published relation — stats-chosen broadcast at bench scale,
  // shuffle join at corpus scale. Refresh cost is O(increment +
  // gram-vocabulary touched); the corpus TEXT is never re-read or
  // re-tokenized. The oracle is literally the full report's SQL:
  // passing it proves the merge is exact (n_distinct_merged =
  // n_distinct_base + |increment grams ∉ base|, over the same
  // doc_id % 3 slice convention the data-card refresh uses).
  // ========================================================================
  private[graft] def diversityBaseTable(s: SparkSession, d: String): String =
    Memo.tables(s, d, "diversityBaseTable") {
      val t = s"graft_div_base_${MemoNames.dirSuffix(d)}"
      graft.operators.Scale.saveTable(
        gramRelation(docs(s, d).filter(expr(TextQueries.CardBaseWhere)))
          .groupBy(col("source"), col("n"), col("g"))
          .agg(count(lit(1)).as("c")), t)
      Seq(t)
    }.head

  def corpusDiversityIncremental(s: SparkSession, d: String): DataFrame = {
    val base = s.table(diversityBaseTable(s, d))
    val baseStats = base.groupBy(col("source"), col("n"))
      .agg(sum(col("c")).as("b_grams"), count(lit(1)).as("b_distinct"))
    // both increment deltas in ONE pass over the joined relation (the
    // epoch_plan_incremental treatment): a left join marks which
    // increment grams the published base already holds, then one agg
    // emits the total AND the new-distinct count — the increment is
    // scanned once, not once per delta
    val incStats = gramRelation(docs(s, d).filter(not(expr(TextQueries.CardBaseWhere))))
      .groupBy(col("source"), col("n"), col("g"))
      .agg(count(lit(1)).as("c"))
      .join(base.select(col("source"), col("n"), col("g"), lit(1L).as("in_base")),
        Seq("source", "n", "g"), "left")
      .groupBy(col("source"), col("n"))
      .agg(sum(col("c")).as("i_grams"),
        sum(when(col("in_base").isNull, 1L).otherwise(0L)).as("i_new"))
    val merged = baseStats
      .join(incStats, Seq("source", "n"), "full_outer")
      .select(col("source"), col("n"),
        (coalesce(col("b_grams"), lit(0L)) + coalesce(col("i_grams"), lit(0L)))
          .as("n_grams"),
        (coalesce(col("b_distinct"), lit(0L)) + coalesce(col("i_new"), lit(0L)))
          .as("n_distinct"))
    diversityFinish(merged)
  }

  // ========================================================================
  // vocab_coverage — the tokenizer-design OOV curve: for candidate
  // vocabulary budgets V ∈ {64, 256, 1024}, how many unit OCCURRENCES
  // the top-V corpus vocabulary covers (reference semantics: the
  // coverage study behind every fixed-vocab tokenizer choice — BPE
  // merge budgets, `num_words` caps in Keras-style `TextVectorization`
  // (keras/layers/preprocessing, public API), WordPiece budgets). The
  // unit is the word BIGRAM — the merge-candidate axis a BPE budget
  // actually spends on; this corpus's unigram vocabulary saturates at
  // ~31 types, so the bigram tail is where a budget choice binds. The
  // top-V head is ranked by (count desc, gram) — the zipf/vocab
  // family's total order — and each budget row reports vocabulary
  // actually available (n_vocab ≤ V), covered vs total occurrences,
  // and the exact-integer OOV rate per million (`div`, the jaccard_e6
  // convention). A rising budget with a flat oov_e6 says bigger
  // vocabularies buy nothing on this corpus; a large oov_e6 at the
  // production budget predicts UNK-flooded training batches.
  //
  // Scale shape: ONE corpus count aggregation (map-side combined)
  // shrinks text to its distinct grams; the top-1024 head is a
  // distributed TakeOrderedAndProject (per-partition heaps — NEVER a
  // global sort of the gram relation, which at 100 TB has billions of
  // rows); ranking + the 3-budget cross join run over ≤ 1024·3 rows;
  // the corpus-wide totals are one scalar agg. No vocabulary-sized
  // window, no corpus-sized shuffle beyond the count's partials.
  // ========================================================================
  private[queries] val CoverageBudgets = Seq(64L, 256L, 1024L)
  private val CoverageMaxV = CoverageBudgets.max.toInt

  def vocabCoverage(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cnt = docs(s, d)
      .select(TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(t) - 1),
          |  i -> concat_ws(' ', slice(t, i, 2)))""".stripMargin)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val totals = cnt.agg(sum(col("c")).as("total_tok"),
      count(lit(1)).as("n_types"))
    // distributed top-k: orderBy+limit plans as TakeOrderedAndProject
    val head = cnt.orderBy(col("c").desc, col("w")).limit(CoverageMaxV)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("c").desc, col("w"))).cast("long"))
    CoverageBudgets.toDF("v").crossJoin(head)
      .filter(col("rn") <= col("v"))
      .groupBy(col("v"))
      .agg(count(lit(1)).as("n_vocab"), sum(col("c")).as("covered_tok"))
      .crossJoin(broadcast(totals))
      // DECIMAL(38,0) numerator: a 10^13-occurrence corpus times 10^6
      // overflows int64 (the corpus_diversity overflow treatment)
      .withColumn("oov_e6", expr(
        """CAST((CAST(total_tok - covered_tok AS DECIMAL(38,0)) * 1000000)
          |  div total_tok AS BIGINT)""".stripMargin))
      .select(col("v"), col("n_vocab"), col("n_types"), col("covered_tok"),
        col("total_tok"), col("oov_e6"))
      .orderBy(col("v"))
  }

  private val vocabCoverageSql =
    raw"""WITH wc AS (
       |  SELECT w, count(*) AS c
       |  FROM (
       |    SELECT unnest(list_transform(range(1, len(t)),
       |      i -> array_to_string(t[i:i+1], ' '))) AS w
       |    FROM (SELECT regexp_extract_all(text, '\S+') AS t FROM documents)
       |    WHERE len(t) >= 2)
       |  GROUP BY w),
       |tot AS (SELECT sum(c) AS total_tok, count(*) AS n_types FROM wc),
       |hd AS (
       |  SELECT w, c, CAST(row_number() OVER (ORDER BY c DESC, w) AS BIGINT) AS rn
       |  FROM wc QUALIFY rn <= $CoverageMaxV),
       |bg AS (SELECT unnest([64, 256, 1024]) AS v)
       |SELECT CAST(bg.v AS BIGINT) AS v, count(*) AS n_vocab,
       |  CAST(tot.n_types AS BIGINT) AS n_types,
       |  CAST(sum(hd.c) AS BIGINT) AS covered_tok,
       |  CAST(tot.total_tok AS BIGINT) AS total_tok,
       |  CAST(((tot.total_tok - sum(hd.c))::HUGEINT * 1000000) // tot.total_tok AS BIGINT) AS oov_e6
       |FROM bg JOIN hd ON hd.rn <= bg.v CROSS JOIN tot
       |GROUP BY bg.v, tot.n_types, tot.total_tok
       |ORDER BY v""".stripMargin

  // ========================================================================
  // text_watermark — greenlist watermark detection (Kirchenbauer,
  // Geiping, Wen, Katz, Miers & Goldstein, ICML 2023 "A Watermark for
  // Large Language Models"): a watermarking generator biases each next
  // token toward a context-keyed pseudo-random "green" quarter (γ=0.25)
  // of the vocabulary; the detector needs no model — it recounts green
  // bigram transitions and flags documents whose green fraction is a
  // > 4σ excess, z = (g − γn)/√(nγ(1−γ)). The provenance dial a
  // training-data pipeline runs over crawled corpora to keep
  // synthetically-generated text out of pretraining mixes.
  // Greenlist membership = hash60(prev '#' cur) % 4 == 0 (the
  // TextOps.hash60 seeded-hash convention — deterministic,
  // engine-reproducible, no model weights). Because no corpus document
  // is actually watermarked, docs with doc_id % 4 = 0 are
  // deterministically SALTED with a 40-token run of `wm8` — a token
  // chosen because its self-transition hashes green — so the oracle
  // proves both detector directions: salted docs must flag (their z
  // lands ≈ +10σ), unsalted docs sit in N(0,1). z crosses the engine
  // boundary unrounded: g and n are exact integers, 0.25 and 0.1875
  // are exactly representable, and one subtraction/multiply/sqrt/divide
  // chain in identical order is bit-exact IEEE on both engines.
  //
  // Scale shape: the whole detector is a per-row expression chain
  // (tokenize → lambda-filter count → scalar z) — zero joins, zero
  // shuffles, one documents scan; the report is corpus-row-sized and
  // usually consumed filtered to watermarked = 1.
  // ========================================================================
  private val WmToken = "wm8"   // hash60("wm8#wm8") % 4 == 0 (self-pair green)
  private val WmCopies = 40

  /** The detector core over any (doc_id, text) relation — pure per-row
    * expressions (tokenize → greenlist lambda count → z), no salting,
    * no ordering: shared by the batch key (which salts first) and the
    * streaming `watermark_gate` pipeline (which scores arriving text
    * as-is; stream-safe because nothing here joins or aggregates).
    */
  private[graft] def watermarkScores(df: DataFrame): DataFrame =
    df.select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .withColumn("n", (size(col("t")) - 1).cast("long"))
      .filter(col("n") >= 1)
      .withColumn("g", size(filter(
        sequence(lit(1), size(col("t")) - 1),
        i => TextOps.hash60(element_at(col("t"), i),
          element_at(col("t"), i + 1)) % 4 === 0)).cast("long"))
      .withColumn("z",
        (col("g").cast("double") - lit(0.25) * col("n").cast("double"))
          / sqrt(col("n").cast("double") * lit(0.1875)))
      .select(col("doc_id"), col("n").as("n_pairs"), col("g").as("n_green"),
        col("z"), when(col("z") > 4.0, 1L).otherwise(0L).as("watermarked"))

  def textWatermark(s: SparkSession, d: String): DataFrame = {
    val salted = when(col("doc_id") % 4 === 0,
      concat(col("text"), lit(" " + Seq.fill(WmCopies)(WmToken).mkString(" "))))
      .otherwise(col("text"))
    watermarkScores(docs(s, d).select(col("doc_id"), salted.as("text")))
      .orderBy(col("doc_id"))
  }

  /** CTE chain to the salted per-doc scores `ws (doc_id, n, g, z)` —
    * ONE rendering shared by the detector report and the operating-
    * curve eval so the salting and the z algebra exist once per engine.
    */
  private val watermarkScoresCtesSql =
    raw"""st AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 4 = 0
       |      THEN text || ' ${Seq.fill(WmCopies)(WmToken).mkString(" ")}'
       |      ELSE text END AS text
       |  FROM documents),
       |tk AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM st),
       |gc AS (
       |  SELECT doc_id, CAST(len(t) - 1 AS BIGINT) AS n,
       |    CAST(len(list_filter(range(1, len(t)), i ->
       |      ('0x' || substr(md5(t[i] || '#' || t[i + 1]), 1, 15))::BIGINT % 4 = 0))
       |    AS BIGINT) AS g
       |  FROM tk WHERE len(t) >= 2),
       |ws AS (
       |  SELECT doc_id, n, g,
       |    (g::DOUBLE - 0.25::DOUBLE * n::DOUBLE) / sqrt(n::DOUBLE * 0.1875::DOUBLE) AS z
       |  FROM gc)""".stripMargin

  private val textWatermarkSql =
    s"""WITH $watermarkScoresCtesSql
       |SELECT doc_id, n AS n_pairs, g AS n_green, z,
       |  CAST(CASE WHEN z > 4.0 THEN 1 ELSE 0 END AS BIGINT) AS watermarked
       |FROM ws ORDER BY doc_id""".stripMargin

  // ========================================================================
  // watermark_eval — the detector's OPERATING CURVE: TPR/FPR of the
  // greenlist z-test at thresholds σ ∈ {2, 3, 4, 5}, measured against
  // the known salted/clean labels (doc_id % 4 — the ground truth this
  // synthetic harness controls). The table that justifies the shipped
  // 4σ default: at 2σ the false-positive rate is non-trivial, at 5σ
  // long salted docs start escaping — the trade every deployment reads
  // before picking its own bar. Exact-integer e6 rates (jaccard_e6
  // convention); one pass over the per-doc score relation, the 4-row
  // fan-out via a broadcast threshold relation with map-side combine.
  // ========================================================================
  private val WmThresholds = Seq(2.0, 3.0, 4.0, 5.0)

  def watermarkEval(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val salted = when(col("doc_id") % 4 === 0,
      concat(col("text"), lit(" " + Seq.fill(WmCopies)(WmToken).mkString(" "))))
      .otherwise(col("text"))
    val scores = watermarkScores(docs(s, d).select(col("doc_id"), salted.as("text")))
      .select(col("doc_id"), col("z"), (col("doc_id") % 4 === 0).as("pos"))
    scores.crossJoin(broadcast(WmThresholds.toDF("thresh")))
      .groupBy(col("thresh"))
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(!col("pos"), 1L).otherwise(0L)).as("n_neg"),
        sum(when(col("pos") && col("z") > col("thresh"), 1L).otherwise(0L)).as("tp"),
        sum(when(!col("pos") && col("z") > col("thresh"), 1L).otherwise(0L)).as("fp"))
      // a degenerate fixture with no positives (or no negatives) must
      // pin identical null semantics on both engines: Spark `div` and
      // DuckDB `//` disagree on zero divisors, so the rate is NULLed
      // explicitly when its denominator is 0 (the rho_e6 convention)
      .withColumn("tpr_e6",
        expr("CASE WHEN n_pos = 0 THEN NULL ELSE (tp * 1000000) div n_pos END"))
      .withColumn("fpr_e6",
        expr("CASE WHEN n_neg = 0 THEN NULL ELSE (fp * 1000000) div n_neg END"))
      .select(col("thresh"), col("n_pos"), col("n_neg"), col("tp"), col("fp"),
        col("tpr_e6"), col("fpr_e6"))
      .orderBy(col("thresh"))
  }

  private val watermarkEvalSql =
    s"""WITH $watermarkScoresCtesSql,
       |lab AS (SELECT doc_id, z, doc_id % 4 = 0 AS pos FROM ws),
       |th AS (SELECT unnest([${WmThresholds.mkString(", ")}]) AS thresh)
       |SELECT CAST(th.thresh AS DOUBLE) AS thresh,
       |  CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |  CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg,
       |  CAST(sum(CASE WHEN pos AND z > th.thresh THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |  CAST(sum(CASE WHEN NOT pos AND z > th.thresh THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |  CAST(CASE WHEN sum(CASE WHEN pos THEN 1 ELSE 0 END) = 0 THEN NULL
       |    ELSE (sum(CASE WHEN pos AND z > th.thresh THEN 1 ELSE 0 END) * 1000000)
       |      // sum(CASE WHEN pos THEN 1 ELSE 0 END) END AS BIGINT) AS tpr_e6,
       |  CAST(CASE WHEN sum(CASE WHEN pos THEN 0 ELSE 1 END) = 0 THEN NULL
       |    ELSE (sum(CASE WHEN NOT pos AND z > th.thresh THEN 1 ELSE 0 END) * 1000000)
       |      // sum(CASE WHEN pos THEN 0 ELSE 1 END) END AS BIGINT) AS fpr_e6
       |FROM lab CROSS JOIN th
       |GROUP BY th.thresh ORDER BY thresh""".stripMargin

  val queries: Map[String, Q] = Map(
    "corpus_growth" -> (corpusGrowth _),
    "text_watermark" -> (textWatermark _),
    "watermark_eval" -> (watermarkEval _),
    "vocab_overlap" -> (vocabOverlap _),
    "zipf_fit" -> (zipfFit _),
    "corpus_diversity" -> (corpusDiversity _),
    "corpus_diversity_incremental" -> (corpusDiversityIncremental _),
    "vocab_coverage" -> (vocabCoverage _),
  )

  val oracleSql: Map[String, String] = Map(
    "corpus_growth" -> corpusGrowthSql,
    "text_watermark" -> textWatermarkSql,
    "watermark_eval" -> watermarkEvalSql,
    "vocab_overlap" -> vocabOverlapSql,
    "zipf_fit" -> zipfFitSql,
    "corpus_diversity" -> corpusDiversitySql,
    "corpus_diversity_incremental" -> corpusDiversitySql,
    "vocab_coverage" -> vocabCoverageSql,
  )
}
