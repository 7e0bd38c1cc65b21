package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ExactRound
import graft.sources.Tables
import graft.text.TextOps

/** Language-model-statistics surface of the text family: DSIR importance
  * weights and selection, CCNet perplexity-tertile bucketing, and the
  * BPE tokenizer family (learn / apply / fertility / drift). Split out
  * of [[TextQueries]] (r18, file-size maintainability only): registered
  * under the SAME "text" family in [[Registry]] — execution order,
  * cache-clear boundaries, and family totals are unchanged. References
  * into [[TextQueries]] (unigram counts, funnel cores) are
  * one-directional, so no object-initialization cycle can form.
  */
object TextLm {
  private type Q = (SparkSession, String) => DataFrame
  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)
  // ========================================================================
  // dsir_weight — Data Selection via Importance Resampling (Xie et al.,
  // arXiv:2302.03169) restricted to unigram LMs: per doc, the
  // log-importance weight log w(x) = Σ_w cnt_w·(ln p̂_target(w) −
  // ln p̂_raw(w)) of the doc under a TARGET-domain unigram model (here
  // the lang='en' slice — "select raw docs that look like the English
  // target") against the raw-corpus model, both add-one smoothed over
  // the shared corpus vocabulary. Docs with high logw_e4 are
  // target-like; resampling by this weight tilts the corpus toward the
  // target domain — the data-selection step between "crawl everything"
  // and "train on what matters". Per-word log-ratio is quantized to
  // integer e4 BEFORE the per-doc sum (the lm_score convention — one
  // transcendental per VOCAB entry, never per token; round(ln·1e4) is
  // in the audited transcendental-safe class, and both engines compute
  // the identical (a·b)/(c·d) double before the single ln).
  //
  // Scale shape: the target side is one filtered-scan agg (slice-
  // bounded); the raw side IS the persisted TextQueries.unigramCounts memo (6th
  // consumer); the per-word table is vocab-sized (stats-chosen join
  // onto the token explosion — broadcast at bench scale, shuffle at
  // open-vocab corpus scale); the per-doc agg partial-aggregates
  // map-side. Hashed n-gram bucketing (the paper's 10k-bucket variant)
  // drops in by replacing w with hash60(w) % B — the join shape is
  // unchanged.
  // ========================================================================
  private val DsirTargetLang = "en"

  /** Per-doc DSIR weight relation, memoized+persisted per (session,
    * dir) — shared by `dsir_weight` (the per-doc dump) and
    * `pipeline_dsir` (the selection report): the llr table and the
    * token-explosion join run once per corpus.
    */
  private def dsirPerDoc(s: SparkSession, d: String): DataFrame =
    Memo.relation(s, d, "dsirWeights") {
      val corpus = TextQueries.unigramCounts(s, d)
      val tgt = docs(s, d).filter(col("lang") === DsirTargetLang)
        .select(explode(TextOps.tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("ct"))
      // coalesce BOTH empty-relation aggregates: an empty target slice
      // must smooth to n_t = 0 (as the oracle's coalesce(sum(ct), 0)
      // does), not NULL out every weight
      val scal = corpus.agg(sum(col("c")).as("n_r"), count(lit(1)).as("v"))
        .crossJoin(tgt.agg(coalesce(sum(col("ct")), lit(0L)).as("n_t")))
      val llr = corpus.join(tgt, Seq("w"), "left")
        .crossJoin(broadcast(scal))
        .select(col("w"),
          round(log(
            ((coalesce(col("ct"), lit(0L)) + lit(1L)).cast("double")
              * (col("n_r") + col("v")).cast("double"))
              / ((col("c") + lit(1L)).cast("double")
                * (col("n_t") + col("v")).cast("double")))
            * lit(10000.0)).cast("long").as("llr_e4"))
      val sums = docs(s, d)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"))
        .join(llr, Seq("w"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"), sum(col("llr_e4")).as("logw_e4"))
      // LEFT join from the id scan: a zero-token doc is a (0, 0) row,
      // not a silently missing one — pipeline_dsir's denominators must
      // count the same population as quality_rules_report
      docs(s, d).select(col("doc_id"), col("source"))
        .join(sums, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"),
          coalesce(col("n_tok"), lit(0L)).as("n_tok"),
          coalesce(col("logw_e4"), lit(0L)).as("logw_e4"))
    }

  def dsirWeight(s: SparkSession, d: String): DataFrame =
    dsirPerDoc(s, d).select(col("doc_id"), col("n_tok"), col("logw_e4"))
      .orderBy(col("doc_id"))

  // ========================================================================
  // pipeline_dsir — the SELECTION step DSIR exists for: per source, how
  // much of the feed is target-like (logw_e4 > 0 ⇔ the doc is likelier
  // under the target LM than the raw LM — the zero-threshold form of
  // the paper's importance resampling), with exact share and mean
  // selected weight. The zero threshold is scan-side (no global sort,
  // no top-K over the corpus — a budgeted top-K variant is TakeOrdered
  // when K is bounded); the report aggregates map-side to ≤|sources|
  // rows. Per-source logw sums stay in BIGINT: |logw_e4| ≤
  // n_tok·~2·10⁵, so ~10¹⁰ docs × 10³ tokens per source fit 2⁶³.
  // ========================================================================
  def pipelineDsir(s: SparkSession, d: String): DataFrame =
    dsirPerDoc(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("logw_e4") > 0, 1L).otherwise(0L)).as("n_selected"),
        sum(when(col("logw_e4") > 0, col("logw_e4")).otherwise(lit(0L)))
          .as("sel_logw_sum_e4"))
      .withColumn("share_e6",
        expr(ExactRound.spark("n_selected * 1000000", "n_docs")))
      .withColumn("mean_sel_logw_e4",
        when(col("n_selected") > 0,
          expr(ExactRound.spark("sel_logw_sum_e4", "n_selected")))
          .otherwise(lit(null).cast("long")))
      .orderBy(col("source"))

  private lazy val pipelineDsirSql =
    s"""WITH $dsirCtesSql
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN logw_e4 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
       |  CAST(sum(CASE WHEN logw_e4 > 0 THEN logw_e4 ELSE 0 END) AS BIGINT)
       |    AS sel_logw_sum_e4,
       |  CAST(${ExactRound.duck(
                "sum(CASE WHEN logw_e4 > 0 THEN 1 ELSE 0 END) * 1000000",
                "count(*)")} AS BIGINT) AS share_e6,
       |  CASE WHEN sum(CASE WHEN logw_e4 > 0 THEN 1 ELSE 0 END) > 0
       |    THEN CAST(${ExactRound.duck(
                  "sum(CASE WHEN logw_e4 > 0 THEN logw_e4 ELSE 0 END)",
                  "sum(CASE WHEN logw_e4 > 0 THEN 1 ELSE 0 END)")} AS BIGINT)
       |    ELSE NULL END AS mean_sel_logw_e4
       |FROM pd GROUP BY source ORDER BY source""".stripMargin

  /** The DSIR smoothing/llr/per-doc CTE chain (`pd` = doc_id, source,
    * n_tok, logw_e4 — LEFT-joined from documents so zero-token docs
    * are (0, 0) rows) — ONE rendering shared by the `dsir_weight` and
    * `pipeline_dsir` oracles, mirroring the single Spark-side
    * [[dsirPerDoc]] relation.
    */
  private lazy val dsirCtesSql =
    s"""toks AS (
       |  SELECT doc_id, lang, source, regexp_extract_all(text, '\\S+') AS t
       |  FROM documents),
       |uc AS (
       |  SELECT w, count(*) AS c
       |  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
       |tc AS (
       |  SELECT w, count(*) AS ct
       |  FROM (SELECT unnest(t) AS w FROM toks WHERE lang = '$DsirTargetLang')
       |  GROUP BY w),
       |sc AS (SELECT
       |  (SELECT CAST(sum(c) AS BIGINT) FROM uc) AS n_r,
       |  (SELECT count(*) FROM uc) AS v,
       |  (SELECT CAST(coalesce(sum(ct), 0) AS BIGINT) FROM tc) AS n_t),
       |llr AS (
       |  SELECT uc.w, CAST(round(ln(
       |      (CAST(coalesce(tc.ct, 0) + 1 AS DOUBLE) * CAST(sc.n_r + sc.v AS DOUBLE))
       |      / (CAST(uc.c + 1 AS DOUBLE) * CAST(sc.n_t + sc.v AS DOUBLE)))
       |    * 10000.0) AS BIGINT) AS llr_e4
       |  FROM uc LEFT JOIN tc USING (w), sc),
       |dsums AS (
       |  SELECT doc_id, count(*) AS n_tok, CAST(sum(llr_e4) AS BIGINT) AS logw_e4
       |  FROM (SELECT doc_id, unnest(t) AS w FROM toks) x JOIN llr USING (w)
       |  GROUP BY doc_id),
       |pd AS (
       |  SELECT d.doc_id, d.source,
       |    CAST(coalesce(s.n_tok, 0) AS BIGINT) AS n_tok,
       |    CAST(coalesce(s.logw_e4, 0) AS BIGINT) AS logw_e4
       |  FROM documents d LEFT JOIN dsums s ON d.doc_id = s.doc_id)""".stripMargin

  private lazy val dsirWeightSql =
    s"""WITH $dsirCtesSql
       |SELECT doc_id, n_tok, logw_e4 FROM pd ORDER BY doc_id""".stripMargin

  // ========================================================================
  // ccnet_bucket / ccnet_report — CCNet's per-language head/middle/tail
  // perplexity partitioning (Wenzek et al., arXiv:1911.00359 §4.3): each
  // LM-scorable doc is assigned a tertile of its LANGUAGE's model-score
  // distribution — "head" (most fluent third) is what CCNet ships for
  // pretraining, "tail" is what it drops, and the per-(lang, bucket)
  // report is the mixture table an owner reads before choosing cuts.
  // Score = the corpus bigram LM's mean NLL per bigram, quantized to
  // integer e4 with ExactRound (the lm_score convention) so the ranking
  // key is an exact integer on both engines.
  //
  // Tertiles are assigned to VALUE GROUPS, not row ranks: all docs
  // sharing a mean_nll_e4 value get the bucket of the group's first
  // member, bucket(v) = (3 · cum_before(v)) div n_lang. Two reasons:
  //  - it is the scale-correct shape. The window runs over the BOUNDED
  //    distinct-value relation (mean_nll_e4 is an integer in a few-e5
  //    domain — the quantile_bucket adjudication), never a per-lang
  //    global sort of corpus rows; docs then join the tiny
  //    (lang, value) → bucket map back stats-chosen (broadcast at any
  //    realistic distinct-value count).
  //  - it makes bucket boundaries pure VALUE thresholds (bucket is
  //    monotone in the value), which is what CCNet itself ships — the
  //    paper cuts on perplexity thresholds computed offline — and what
  //    lets a stream admit docs with zero state (compare against two
  //    broadcast thresholds per lang; graft.streaming.StreamingCurate).
  // Population = LM-scorable docs (≥ 2 tokens), the lm_score contract.
  // ========================================================================
  /** The value-group tertile map of any (lang, mean_nll_e4, ...) frame:
    * (lang, mean_nll_e4, bucket), bucket(v) = (3·cum_before(v)) div
    * n_lang over per-lang value groups — ONE definition of the CCNet
    * cut, shared by the exact batch partitioning ([[ccnetCore]]) and
    * the sketch-score threshold learner the streaming gate broadcasts
    * ([[ccnetSketchThresholds]]), so batch and stream cannot disagree
    * on the algebra. The window runs over the bounded distinct-value
    * relation only.
    */
  private def ccnetTertiles(ld: DataFrame): DataFrame = {
    val vg = ld.groupBy(col("lang"), col("mean_nll_e4")).agg(count(lit(1)).as("cnt"))
    val byLang = Window.partitionBy(col("lang")).orderBy(col("mean_nll_e4"))
    vg.withColumn("cum_before", coalesce(sum(col("cnt"))
        .over(byLang.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n_lang", sum(col("cnt")).over(Window.partitionBy(col("lang"))))
      .withColumn("bucket", expr(
        "CASE (3 * cum_before) div n_lang WHEN 0 THEN 'head' " +
          "WHEN 1 THEN 'middle' ELSE 'tail' END"))
      .select(col("lang"), col("mean_nll_e4"), col("bucket"))
  }

  /** Per-doc CCNet relation (doc_id, lang, n_bg, mean_nll_e4, bucket),
    * memoized per (session, dir) and persisted — `ccnet_bucket` and
    * `ccnet_report` both derive from it; the expensive input is the
    * persisted per-doc [[TextQueries.lmScoreCore]] relation (6th consumer), so a
    * memo hit costs one bounded window over distinct score values plus
    * one join. (The streaming gate's thresholds do NOT read this
    * relation — they re-score with the CMS sketch, see
    * [[ccnetSketchThresholds]] — but share [[ccnetTertiles]].)
    */
  private[graft] def ccnetCore(s: SparkSession, d: String): DataFrame =
    Memo.relation(s, d, "ccnetBuckets") {
      val lm = TextQueries.lmScoreCore(s, d).select(col("doc_id"), col("n_bg"),
        expr(ExactRound.spark("nll_sum_e4", "n_bg")).as("mean_nll_e4"))
      val ld = lm.join(docs(s, d).select(col("doc_id"), col("lang")), Seq("doc_id"))
      ld.join(ccnetTertiles(ld), Seq("lang", "mean_nll_e4"))
        .select(col("doc_id"), col("lang"), col("n_bg"),
          col("mean_nll_e4"), col("bucket"))
    }

  /** The CMS sketch-scoring projection of any frame carrying `text`
    * (tokenize → ≥2-token filter → n_bg → [[graft.plans
    * .BigramNllSketch]] → ExactRound mean in e4 units) — ONE
    * definition shared by the batch threshold learner below and the
    * streaming gate ([[graft.streaming.StreamingCurate.ccnetAssign]]),
    * so the doc-for-doc stream/batch equality is structural, not a
    * textual coincidence (the ccnetTertiles treatment applied to the
    * scoring side). Input columns other than `text` pass through;
    * adds n_bg, nll_sketch_e4, mean_nll_e4 and drops text/t.
    */
  private[graft] def sketchScore(df: DataFrame,
                                 model: graft.plans.LmSketchModel): DataFrame =
    df.withColumn("t", TextOps.tokens(col("text")))
      .filter(size(col("t")) >= 2)
      .withColumn("n_bg", (size(col("t")) - 1).cast("long"))
      .withColumn("nll_sketch_e4", graft.plans.BigramNllSketch(col("t"), model))
      .withColumn("mean_nll_e4", expr(ExactRound.spark("nll_sketch_e4", "n_bg")))
      .drop("text", "t")

  /** Per-lang CCNet cut thresholds IN SKETCH-SCORE UNITS for the
    * streaming gate: every corpus doc is scored with the IDENTICAL
    * Count-Min expression the stream evaluates ([[sketchScore]], one
    * model reference), the tertile algebra above assigns value-group
    * buckets, and because the value-group contract makes bucket
    * monotone in the value, the cut collapses to two thresholds per
    * lang: t_head = max head value, t_mid = max middle value (null when
    * a lang's middle is empty). Learned batch-side once; the stream
    * joins the ≤|langs|-row result broadcast and assigns with two
    * comparisons — zero state, and stream assignment of an in-corpus
    * doc equals the batch sketch assignment exactly (StreamingSpec).
    */
  private[graft] def ccnetSketchThresholds(s: SparkSession, d: String): DataFrame = {
    val ld = sketchScore(
      docs(s, d).select(col("doc_id"), col("lang"), col("text")),
      TextQueries.lmSketchModel(s, d))
    ccnetTertiles(ld)
      .groupBy(col("lang"))
      .agg(max(when(col("bucket") === "head", col("mean_nll_e4"))).as("t_head"),
        max(when(col("bucket") === "middle", col("mean_nll_e4"))).as("t_mid"))
  }

  def ccnetBucket(s: SparkSession, d: String): DataFrame =
    ccnetCore(s, d)
      .select(col("doc_id"), col("lang"), col("mean_nll_e4"), col("bucket"))
      .orderBy(col("doc_id"))

  def ccnetReport(s: SparkSession, d: String): DataFrame =
    ccnetCore(s, d).groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bg")).as("n_bigrams"),
        min(col("mean_nll_e4")).as("min_nll_e4"),
        max(col("mean_nll_e4")).as("max_nll_e4"))
      .orderBy(col("lang"), col("bucket"))

  /** Per-doc CCNet CTEs (`cdoc` = doc_id, lang, n_bg, mean_nll_e4,
    * bucket) — ONE rendering shared by both oracles, mirroring the
    * single Spark-side [[ccnetCore]].
    */
  private lazy val ccnetCtesSql =
    s"""lmc AS (${TextQueries.lmScoreCoreSql}),
       |cld AS (
       |  SELECT l.doc_id, d.lang, l.n_bg,
       |    CAST(${ExactRound.duck("l.nll_sum_e4", "l.n_bg")} AS BIGINT)
       |      AS mean_nll_e4
       |  FROM lmc l JOIN documents d ON l.doc_id = d.doc_id),
       |cvg AS (
       |  SELECT lang, mean_nll_e4, count(*) AS cnt
       |  FROM cld GROUP BY lang, mean_nll_e4),
       |cvb AS (
       |  SELECT lang, mean_nll_e4,
       |    CAST(coalesce(sum(cnt) OVER (PARTITION BY lang ORDER BY mean_nll_e4
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS cum_before,
       |    CAST(sum(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n_lang
       |  FROM cvg),
       |cvk AS (
       |  SELECT lang, mean_nll_e4,
       |    CASE (3 * cum_before) // n_lang WHEN 0 THEN 'head'
       |      WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket
       |  FROM cvb),
       |cdoc AS (
       |  SELECT cld.doc_id, cld.lang, cld.n_bg, cld.mean_nll_e4, cvk.bucket
       |  FROM cld JOIN cvk ON cld.lang = cvk.lang
       |    AND cld.mean_nll_e4 = cvk.mean_nll_e4)""".stripMargin

  private lazy val ccnetBucketSql =
    s"""WITH $ccnetCtesSql
       |SELECT doc_id, lang, mean_nll_e4, bucket FROM cdoc ORDER BY doc_id""".stripMargin

  private lazy val ccnetReportSql =
    s"""WITH $ccnetCtesSql
       |SELECT lang, bucket, count(*) AS n_docs,
       |  CAST(sum(n_bg) AS BIGINT) AS n_bigrams,
       |  CAST(min(mean_nll_e4) AS BIGINT) AS min_nll_e4,
       |  CAST(max(mean_nll_e4) AS BIGINT) AS max_nll_e4
       |FROM cdoc GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin

  // ========================================================================
  // bpe_learn — byte-pair-encoding tokenizer induction (Sennrich et al.
  // arXiv:1508.07909), the missing learner half of the tokenization
  // story (token_count_subword APPLIES a given vocab; every pipeline
  // that trains its own tokenizer needs this step). Word types become
  // space-separated code-point sequences; each round picks the adjacent
  // symbol pair with the highest frequency-weighted count (overlapping
  // pairs counted, ties to the lexicographically smallest pair) and
  // applies it everywhere via SENTINEL-SPACED string replace —
  // left-to-right non-overlapping, the contract Java's String.replace,
  // Spark's `replace`, and DuckDB's `replace` all share (probed
  // explicitly). DOCUMENTED DIVERGENCE from subword-nmt: because the
  // replace consumes the shared separator space, a run of >= 3 repeats
  // of the merged pair under-merges relative to reference BPE
  // (' a a a a ' -> ' aa a a ', not ' aa aa ') — the variant is
  // deterministic and IDENTICAL in both engines (which is what the
  // oracle certifies), but a merge table exported to an external
  // tokenizer will disagree on degenerate run-heavy text. Output: the
  // learned merge table (rank, pair, merged symbol, weighted count);
  // rounds stop early (fewer rows) if the vocabulary fully collapses.
  //
  // Scale: ONE corpus scan builds the word-type frequency table; the
  // merge iteration runs over the TOP-K types by (count, word) — a
  // bounded TakeOrdered, the LmSketch headK contract, collected once and
  // iterated in-process (the type table is vocab-bounded by
  // construction; tokenizer trainers operate on word counts, not the
  // corpus — at 100 TB the scan is the distributed part and this loop
  // is unchanged). Every count is an exact integer and the argmax
  // tie-break compares UTF-8 BYTES (not Java UTF-16 code units), the
  // identical order to DuckDB's ORDER BY on any code point incl. astral,
  // so the oracle replays the rounds as unrolled CTEs bit-for-bit.
  // ========================================================================
  private[queries] val BpeVocabTypes = 4096
  private[queries] val BpeMerges = 12

  /** The in-process greedy merge loop over a collected type table —
    * pure function of the (word, count) array, shared by the full-corpus
    * learner and the base-slice twin `bpe_drift` compares against.
    */
  private[queries] def bpeMergesFrom(
      types: Array[(String, Long)]): Seq[(Long, String, String, String, Long)] = {
    // space-joined CODE POINTS (Java regex '.' and RE2 '.' both match
    // one code point, so the split agrees with the oracle's
    // regexp_extract_all(w, '(?s).'))
    var seqs = types.map { case (w, c) =>
      val cps = w.codePoints().toArray
        .map(cp => new String(Character.toChars(cp))).mkString(" ")
      (" " + cps + " ", c)
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    (1 to BpeMerges).foreach { k =>
      val pc = new java.util.HashMap[String, Long]()
      seqs.foreach { case (seq, c) =>
        val sl = seq.split(" ").filter(_.nonEmpty)
        var i = 0
        while (i < sl.length - 1) {
          pc.merge(sl(i) + " " + sl(i + 1), c, Long.box(_) + Long.box(_))
          i += 1
        }
      }
      // a fully-collapsed vocabulary (no adjacent pairs left) ends
      // learning with the merges found so far — the oracle's empty
      // m$k CTE contributes no row and nulls every later round's
      // sequences, so both engines emit exactly the completed merges
      if (!pc.isEmpty && merges.length < BpeMerges) {
        // argmax by (count desc, pair asc) in UTF-8 BYTE order — the
        // order DuckDB's ORDER BY and Spark's own string sort both use.
        // Java String '<' compares UTF-16 code units, which DISAGREES
        // with UTF-8 byte order for astral-plane code points (surrogates
        // 0xD800+ sort below 0xE000+ BMP chars in UTF-16 but their UTF-8
        // encoding 0xF0.. sorts above), so a count tie involving emoji
        // could pick a different merge per engine.
        def utf8Less(a: String, b: String): Boolean =
          java.util.Arrays.compareUnsigned(
            a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
            b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0
        var best: (String, Long) = null
        pc.forEach { (p, c) =>
          if (best == null || c > best._2 || (c == best._2 && utf8Less(p, best._1)))
            best = (p, c)
        }
        val pair = best._1
        val merged = pair.replace(" ", "")
        seqs = seqs.map { case (seq, c) =>
          (seq.replace(" " + pair + " ", " " + merged + " "), c)
        }
        val Array(w1, w2) = pair.split(" ", 2)
        merges += ((k.toLong, w1, w2, merged, best._2))
      }
    }
    merges.toSeq
  }

  /** ((rank, w1, w2, merged, weighted count) merges, and the
    * token-occurrence coverage of the capped type table in exact ppm) —
    * the cap is a standard trainer bound but NEVER silent: coverage
    * rides the query output so a reader sees what fraction of corpus
    * tokens the learning actually saw (Zipf makes it ≈1 at any K).
    */
  private[queries] def bpeMergeList(s: SparkSession, d: String): (Seq[(Long, String, String, String, Long)], Long) =
    Memo.value(s, d, "bpeMergeList") {
      // the type table rides the SHARED unigram-count memo (the
      // collocations/text_rarity/lm relation) — no second corpus scan
      val types = TextQueries.unigramCounts(s, d)
        .orderBy(col("c").desc, col("w"))
        .limit(BpeVocabTypes)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val totalTok = TextQueries.unigramCounts(s, d).agg(sum(col("c"))).first().getLong(0)
      // BigInt: covered*1e6 overflows a long once head tokens pass
      // ~9.2e12 — exactly the 100 TB regime; the oracle divides in
      // HUGEINT for the same reason
      val coverageE6 =
        (BigInt(types.map(_._2).sum) * 1000000 / BigInt(totalTok)).toLong
      (bpeMergesFrom(types), coverageE6)
    }

  def bpeLearn(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (merges, coverageE6) = bpeMergeList(s, d)
    merges.toDF("merge_rank", "w1", "w2", "merged", "pair_count")
      .withColumn("type_coverage_e6", lit(coverageE6))
      .orderBy(col("merge_rank"))
  }

  // ========================================================================
  // bpe_token_count — the learned tokenizer APPLIED: per document, the
  // whitespace token count and the count after running every word
  // through the merge chain (per-word application, the standard BPE
  // pre-tokenization contract) — the compression measurement that tells
  // a pipeline owner what the learned merges actually buy on their
  // corpus. The merge table rides into the PLAN as one reference object
  // (the TextQueries.lmSketchModel lifecycle: learned once per (session, dir), a
  // plan constant thereafter) consumed by the codegen'd
  // [[graft.plans.BpeTokenSegments]] — one JVM pass per row, NO join, NO
  // shuffle, and no interpreted higher-order-function lambdas (the first
  // cut evaluated ~14 interpreted string expressions per corpus token —
  // the README's documented hot-path anti-pattern; plan-guarded). The
  // oracle re-learns the merges from scratch in SQL and applies the
  // identical replace chain per word.
  // ========================================================================
  def bpeTokenCount(s: SparkSession, d: String): DataFrame = {
    val merges = bpeMergeList(s, d)._1
    val model = graft.plans.BpeApplyModel(
      merges.map { case (_, w1, w2, _, _) => s" $w1 $w2 " }.toArray,
      merges.map { case (_, _, _, m, _) => s" $m " }.toArray)
    docs(s, d)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_ws"),
        graft.plans.BpeTokenSegments(col("toks"), model).as("n_bpe"))
      .orderBy(col("doc_id"))
  }

  /** (merge-replay CTE prefix, per-word replace-chain expression) — the
    * merge-learning chain is bpeLearnSql's, referenced by the `mm` row
    * of per-merge scalars so the per-word lambda can close over them as
    * plain outer columns (a subquery inside a lambda is not). Shared by
    * the `bpe_token_count` and `bpe_fertility` oracles — ONE rendering
    * of the learner+applier so the two cannot diverge.
    *
    * Each merge scalar coalesces to a bare space: an unproductive round
    * leaves m$k empty (NULL scalar), and a NULL pattern would otherwise
    * poison the whole replace chain to NULL → n_bpe silently 0 while
    * Spark's model carries only the completed merges. The coalesced
    * pattern '   ' (three spaces) can never occur in a single-spaced
    * symbol sequence, so the round becomes a no-op — exactly the Spark
    * behavior.
    */
  private lazy val bpeReplayCore: (String, String) = {
    def round(k: Int) =
      s"""p$k AS (
         |  SELECT pair, CAST(sum(c) AS BIGINT) AS pc FROM (
         |    SELECT c, unnest(list_transform(range(1, len(sl)), i -> sl[i] || ' ' || sl[i+1]))
         |      AS pair
         |    FROM (SELECT c, list_filter(string_split(seq, ' '), x -> x <> '') AS sl
         |          FROM s${k - 1}))
         |  GROUP BY pair),
         |m$k AS (SELECT pair FROM p$k ORDER BY pc DESC, pair LIMIT 1),
         |s$k AS MATERIALIZED (
         |  SELECT c, replace(seq, ' ' || (SELECT pair FROM m$k) || ' ',
         |    ' ' || (SELECT replace(pair, ' ', '') FROM m$k) || ' ') AS seq
         |  FROM s${k - 1})"""
    val rounds = (1 to BpeMerges).map(round).mkString(",\n")
    val mmCols = (1 to BpeMerges).map(k =>
      s"(SELECT pair FROM m$k) AS p$k, (SELECT replace(pair, ' ', '') FROM m$k) AS r$k")
      .mkString(",\n  ")
    val chain = (1 to BpeMerges).foldLeft(
      "' ' || array_to_string(regexp_extract_all(w, '(?s).'), ' ') || ' '") {
      (e, k) => s"replace($e, ' ' || coalesce(mm.p$k, ' ') || ' '," +
        s" ' ' || coalesce(mm.r$k, ' ') || ' ')"
    }
    val prefix =
      s"""WITH toks AS (
         |  SELECT unnest(regexp_extract_all(text, '\\S+')) AS w FROM documents),
         |wt AS (
         |  SELECT w, count(*) AS c FROM toks GROUP BY w ORDER BY c DESC, w LIMIT $BpeVocabTypes),
         |s0 AS MATERIALIZED (
         |  SELECT c, ' ' || array_to_string(regexp_extract_all(w, '(?s).'), ' ') || ' ' AS seq
         |  FROM wt),
         |$rounds,
         |mm AS (SELECT
         |  $mmCols)""".stripMargin
    (prefix, chain)
  }

  private lazy val bpeTokenCountSql = {
    val (prefix, chain) = bpeReplayCore
    s"""$prefix,
       |dt AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks FROM documents)
       |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_ws,
       |  CAST(coalesce(list_sum(list_transform(toks, w ->
       |    len(list_filter(string_split($chain, ' '), x -> x <> '')))), 0) AS BIGINT) AS n_bpe
       |FROM dt, mm
       |ORDER BY doc_id""".stripMargin
  }

  // ========================================================================
  // bpe_fertility — tokenizer FAIRNESS across languages (fertility =
  // subword tokens per whitespace word, the standard multilingual-
  // tokenizer equity metric: a tokenizer learned on an en-dominant
  // corpus fragments under-represented scripts into far more pieces,
  // inflating their training cost and truncation rate). Per annotated
  // lang: doc count, whitespace-token and BPE-token sums, and the
  // exact-integer fertility_e6 = (Σ n_bpe · 10⁶) div Σ n_ws. On a real
  // multilingual corpus an under-served script reads measurably higher
  // — the retrain signal; on THIS synthetic corpus all slices share
  // the generator's token distribution, so fertility is flat (~3.53)
  // across langs — the operator is the monitoring surface, and the
  // spec pins the ≥ 1 token/word invariant plus exact reconciliation
  // with bpe_token_count instead of a data-dependent ordering.
  // Applier is the same codegen BpeTokenSegments + merge-table plan
  // literals as bpe_token_count (ONE model definition); the oracle
  // replays the same learner+applier rendering (bpeReplayCore — one
  // chain, two consumers). Scale: per-row codegen'd segmentation, ONE
  // map-side-combined agg to ≤|langs| rows.
  // ========================================================================
  def bpeFertility(s: SparkSession, d: String): DataFrame = {
    val merges = bpeMergeList(s, d)._1
    val model = graft.plans.BpeApplyModel(
      merges.map { case (_, w1, w2, _, _) => s" $w1 $w2 " }.toArray,
      merges.map { case (_, _, _, m, _) => s" $m " }.toArray)
    docs(s, d)
      .select(col("lang"), TextOps.tokens(col("text")).as("toks"))
      .select(col("lang"),
        size(col("toks")).cast("long").as("w"),
        graft.plans.BpeTokenSegments(col("toks"), model).as("b"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("w")).as("n_ws"), sum(col("b")).as("n_bpe"))
      .withColumn("fertility_e6",
        when(col("n_ws") > 0, expr("(n_bpe * 1000000) div n_ws"))
          .otherwise(lit(0L)))
      .orderBy(col("lang"))
  }

  private lazy val bpeFertilitySql = {
    val (prefix, chain) = bpeReplayCore
    s"""$prefix,
       |dt AS (SELECT lang, regexp_extract_all(text, '\\S+') AS toks FROM documents),
       |pd AS (
       |  SELECT lang, CAST(len(toks) AS BIGINT) AS n_ws,
       |    CAST(coalesce(list_sum(list_transform(toks, w ->
       |      len(list_filter(string_split($chain, ' '), x -> x <> '')))), 0) AS BIGINT) AS n_bpe
       |  FROM dt, mm)
       |SELECT lang, count(*) AS n_docs,
       |  CAST(sum(n_ws) AS BIGINT) AS n_ws,
       |  CAST(sum(n_bpe) AS BIGINT) AS n_bpe,
       |  CAST(CASE WHEN sum(n_ws) > 0
       |    THEN (CAST(sum(n_bpe) AS BIGINT) * 1000000) // CAST(sum(n_ws) AS BIGINT)
       |    ELSE 0 END AS BIGINT) AS fertility_e6
       |FROM pd GROUP BY lang ORDER BY lang""".stripMargin
  }

  // ========================================================================
  // bpe_drift — tokenizer STABILITY between releases: the merge table
  // learned on the base slice (the published tokenizer, doc_id % 3 <> 0
  // — the data-card increment convention) compared rank-by-rank against
  // the merge table the full corpus would learn. A pipeline owner reads
  // this before re-releasing a tokenizer: `same = 1` everywhere means
  // the increment did not move the learned vocabulary and the published
  // artifact stands; an early-rank flip means retokenizing the corpus.
  // Both learners are the identical in-process loop over their bounded
  // type tables ([[bpeMergesFrom]] — one definition); the oracle
  // replays BOTH unrolled chains with disjoint CTE prefixes.
  // ========================================================================
  def bpeDrift(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val full = bpeMergeList(s, d)._1
    val baseTypes = docs(s, d).filter(expr("doc_id % 3 <> 0"))
      .select(explode(TextOps.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(BpeVocabTypes)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val base = bpeMergesFrom(baseTypes)
    val n = math.max(full.length, base.length)
    (1 to n).map { k =>
      val f = full.find(_._1 == k).map(_._4).getOrElse("")
      val b = base.find(_._1 == k).map(_._4).getOrElse("")
      (k.toLong, b, f, if (b == f) 1L else 0L)
    }.toDF("merge_rank", "merged_base", "merged_full", "same")
      .orderBy(col("merge_rank"))
  }

  private val bpeDriftSql = {
    // one local renderer, instantiated for the base slice (b_) and the
    // full corpus (f_) with disjoint CTE prefixes
    def chain(pfx: String, where: String) = {
      def round(k: Int) =
        s"""${pfx}p$k AS (
           |  SELECT pair, CAST(sum(c) AS BIGINT) AS pc FROM (
           |    SELECT c, unnest(list_transform(range(1, len(sl)), i -> sl[i] || ' ' || sl[i+1]))
           |      AS pair
           |    FROM (SELECT c, list_filter(string_split(seq, ' '), x -> x <> '') AS sl
           |          FROM ${pfx}s${k - 1}))
           |  GROUP BY pair),
           |${pfx}m$k AS (SELECT $k AS merge_rank, pair FROM ${pfx}p$k
           |             ORDER BY pc DESC, pair LIMIT 1),
           |${pfx}s$k AS MATERIALIZED (
           |  SELECT c, replace(seq, ' ' || (SELECT pair FROM ${pfx}m$k) || ' ',
           |    ' ' || (SELECT replace(pair, ' ', '') FROM ${pfx}m$k) || ' ') AS seq
           |  FROM ${pfx}s${k - 1})"""
      val rounds = (1 to BpeMerges).map(round).mkString(",\n")
      val union = (1 to BpeMerges)
        .map(k => s"SELECT merge_rank, pair FROM ${pfx}m$k").mkString("\nUNION ALL\n")
      s"""${pfx}toks AS (
         |  SELECT unnest(regexp_extract_all(text, '\\S+')) AS w FROM documents$where),
         |${pfx}wt AS (
         |  SELECT w, count(*) AS c FROM ${pfx}toks
         |  GROUP BY w ORDER BY c DESC, w LIMIT $BpeVocabTypes),
         |${pfx}s0 AS MATERIALIZED (
         |  SELECT c, ' ' || array_to_string(regexp_extract_all(w, '(?s).'), ' ') || ' ' AS seq
         |  FROM ${pfx}wt),
         |$rounds,
         |${pfx}mg AS (
         |  SELECT CAST(merge_rank AS BIGINT) AS merge_rank,
         |    replace(pair, ' ', '') AS merged FROM ($union))""".stripMargin
    }
    s"""WITH ${chain("f_", "")},
       |${chain("b_", " WHERE doc_id % 3 <> 0")},
       |ranks AS (
       |  SELECT DISTINCT merge_rank FROM
       |  (SELECT merge_rank FROM f_mg UNION ALL SELECT merge_rank FROM b_mg))
       |SELECT r.merge_rank,
       |  coalesce(b.merged, '') AS merged_base,
       |  coalesce(f.merged, '') AS merged_full,
       |  CAST(CASE WHEN coalesce(b.merged, '') = coalesce(f.merged, '')
       |    THEN 1 ELSE 0 END AS BIGINT) AS same
       |FROM ranks r LEFT JOIN b_mg b USING (merge_rank)
       |             LEFT JOIN f_mg f USING (merge_rank)
       |ORDER BY r.merge_rank""".stripMargin
  }

  private val bpeLearnSql = {
    def round(k: Int) =
      s"""p$k AS (
         |  SELECT pair, CAST(sum(c) AS BIGINT) AS pc FROM (
         |    SELECT c, unnest(list_transform(range(1, len(sl)), i -> sl[i] || ' ' || sl[i+1]))
         |      AS pair
         |    FROM (SELECT c, list_filter(string_split(seq, ' '), x -> x <> '') AS sl
         |          FROM s${k - 1}))
         |  GROUP BY pair),
         |m$k AS (SELECT $k AS merge_rank, pair, pc FROM p$k ORDER BY pc DESC, pair LIMIT 1),
         |s$k AS MATERIALIZED (
         |  SELECT c, replace(seq, ' ' || (SELECT pair FROM m$k) || ' ',
         |    ' ' || (SELECT replace(pair, ' ', '') FROM m$k) || ' ') AS seq
         |  FROM s${k - 1})"""
    val rounds = (1 to BpeMerges).map(round).mkString(",\n")
    val union = (1 to BpeMerges)
      .map(k => s"SELECT merge_rank, pair, pc FROM m$k").mkString("\nUNION ALL\n")
    s"""WITH toks AS (
       |  SELECT unnest(regexp_extract_all(text, '\\S+')) AS w FROM documents),
       |wt AS (
       |  SELECT w, count(*) AS c FROM toks GROUP BY w ORDER BY c DESC, w LIMIT $BpeVocabTypes),
       |cov AS (
       |  SELECT CAST(((SELECT sum(c) FROM wt) * 1000000)
       |    // (SELECT count(*) FROM toks) AS BIGINT) AS type_coverage_e6),
       |s0 AS MATERIALIZED (
       |  SELECT c, ' ' || array_to_string(regexp_extract_all(w, '(?s).'), ' ') || ' ' AS seq
       |  FROM wt),
       |$rounds
       |SELECT CAST(merge_rank AS BIGINT) AS merge_rank,
       |  split_part(pair, ' ', 1) AS w1, split_part(pair, ' ', 2) AS w2,
       |  replace(pair, ' ', '') AS merged, pc AS pair_count,
       |  (SELECT type_coverage_e6 FROM cov) AS type_coverage_e6
       |FROM ($union)
       |ORDER BY merge_rank""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "dsir_weight" -> (dsirWeight _),
    "pipeline_dsir" -> (pipelineDsir _),
    "ccnet_bucket" -> (ccnetBucket _),
    "ccnet_report" -> (ccnetReport _),
    "bpe_learn" -> (bpeLearn _),
    "bpe_token_count" -> (bpeTokenCount _),
    "bpe_fertility" -> (bpeFertility _),
    "bpe_drift" -> (bpeDrift _),
  )

  val oracleSql: Map[String, String] = Map(
    "dsir_weight" -> dsirWeightSql,
    "pipeline_dsir" -> pipelineDsirSql,
    "ccnet_bucket" -> ccnetBucketSql,
    "ccnet_report" -> ccnetReportSql,
    "bpe_learn" -> bpeLearnSql,
    "bpe_token_count" -> bpeTokenCountSql,
    "bpe_fertility" -> bpeFertilitySql,
    "bpe_drift" -> bpeDriftSql,
  )
}
