package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ExactRound
import graft.sources.Tables
import graft.text.TextOps

/** Text-analysis queries over `documents` (training-data-pipeline
  * extensions): token/character statistics, quality scoring, heuristic
  * language-ID, token counting, canonical fingerprinting.
  *
  * All per-row expression pipelines — linear scans, no shuffle (except
  * the final presentation ORDER BY), no UDFs.
  */
object TextQueries {
  private type Q = (SparkSession, String) => DataFrame
  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  private[queries] val enStop = TextOps.LangStopwords.toMap.apply("en")

  /** The text_quality composite's exact integer NUMERATOR over per-row
    * (n, n_stop, n_dist), and its 1e-6 floor-division quantization —
    * ONE definition each. Four consumers (text_quality itself,
    * dedup_cluster_best's election, the data card's quality bands, and
    * every matching oracle rendering) must agree to the bit or they
    * silently diverge from each other; interpolate these, never re-type
    * the formula.
    */
  private[queries] val QualityNumExpr =
    "(5 * n * least(n, 100) + 300 * (n - n_stop) + 200 * n_dist)"
  private[queries] val QualityE6Expr = s"($QualityNumExpr * 1000) div n"
  private[queries] val QualityE6Sql = s"($QualityNumExpr * 1000) // n"
  /** The English stop list rendered as a SQL IN-list — the single
    * source is [[TextOps.LangStopwords]], same as the Scala sides.
    */
  private[queries] val EnStopSqlList =
    TextOps.LangStopwords.toMap.apply("en").map(w => s"'$w'").mkString(",")

  /** One corpus unigram-count relation per (session, dir), persisted —
    * the [[graft.queries.DedupQueries]] shared-pipeline lifecycle for
    * the token-frequency scan that `collocations` and `text_rarity`
    * both derive from (each used to re-tokenize and re-shuffle the
    * corpus to build the same (token, count) table). The 100 TB shape:
    * a vocabulary-statistics run computes corpus term counts once.
    */
  private[queries] def unigramCounts(s: SparkSession, d: String): DataFrame =
    Memo.relation(s, d, "unigramCounts") {
      docs(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
    }

  // ========================================================================
  // text_stats — length/token statistics + stopword & lexical-diversity
  // ratios (quality-scoring inputs).
  // ========================================================================
  def textStats(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"), TextOps.tokens(col("text")).as("toks"),
        length(col("text")).cast("long").as("n_chars_calc"))
      .select(
        col("doc_id"), col("n_chars_calc"),
        size(col("toks")).cast("long").as("n_tokens"),
        // unrounded: integer-count numerators over identical token counts
        // give bit-identical quotients cross-engine, and k/n rationals sit
        // exactly on rounding half-boundaries for power-of-two n
        (aggregate(transform(col("toks"), t => length(t)), lit(0), (a, x) => a + x)
          .cast("double") / size(col("toks"))).as("avg_token_len"),
        (TextOps.wordSetCount(col("toks"), enStop).cast("double") / size(col("toks")))
          .as("stopword_ratio"),
        (TextOps.distinctCount(col("toks")).cast("double") / size(col("toks")))
          .as("distinct_ratio"))
      .orderBy(col("doc_id"))

  private val textStatsSql =
    """SELECT doc_id, n_chars_calc, n_tokens,
      |  sum_len / n_tokens AS avg_token_len,
      |  n_stop / n_tokens AS stopword_ratio,
      |  n_distinct / n_tokens AS distinct_ratio
      |FROM (
      |  SELECT doc_id,
      |    CAST(length(text) AS BIGINT) AS n_chars_calc,
      |    CAST(len(toks) AS BIGINT) AS n_tokens,
      |    CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) AS sum_len,
      |    CAST(len(list_filter(toks, t -> t IN ('the','and','of','is','a'))) AS DOUBLE) AS n_stop,
      |    CAST(len(list_distinct(toks)) AS DOUBLE) AS n_distinct
      |  FROM (SELECT doc_id, text, regexp_extract_all(text, '\S+') AS toks FROM documents))
      |ORDER BY doc_id""".stripMargin

  // ========================================================================
  // lang_id — stopword-hit heuristic over 4 language sets; ties break to
  // the lexicographically first code. True label kept for inspection.
  // ========================================================================
  def langId(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"), col("lang"),
        TextOps.langId(TextOps.tokens(col("text")), col("text")).as("lang_pred"))
      .orderBy(col("doc_id"))

  private val langIdSql = {
    def score(words: Seq[String]) =
      s"len(list_filter(toks, t -> t IN (${words.map(w => s"'$w'").mkString(",")})))"
    val de = score(TextOps.LangStopwords.toMap.apply("de"))
    val en = score(TextOps.LangStopwords.toMap.apply("en"))
    val es = score(TextOps.LangStopwords.toMap.apply("es"))
    val fr = score(TextOps.LangStopwords.toMap.apply("fr"))
    s"""SELECT doc_id, lang,
       |  CASE WHEN is_zh THEN 'zh'
       |       WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
       |       WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
       |       WHEN s_es >= s_fr THEN 'es'
       |       ELSE 'fr' END AS lang_pred
       |FROM (
       |  SELECT doc_id, lang, $de AS s_de, $en AS s_en, $es AS s_es, $fr AS s_fr,
       |    ${TextOps.isZhSql("text")} AS is_zh
       |  FROM (SELECT doc_id, lang, text, regexp_extract_all(text, '\\S+') AS toks FROM documents))
       |ORDER BY doc_id""".stripMargin
  }

  // ========================================================================
  // token_count — whitespace tokens vs BPE-ish regex tokens.
  // ========================================================================
  def tokenCount(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_ws"),
        size(TextOps.regexTokens(col("text"))).cast("long").as("n_re"))
      .orderBy(col("doc_id"))

  private val tokenCountSql =
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_ws,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_re
      |FROM documents ORDER BY doc_id""".stripMargin

  // ========================================================================
  // doc_fingerprint — canonicalize (lower, strip non-alnum, collapse ws)
  // then md5: the exact-dedup key.
  // ========================================================================
  def docFingerprint(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  private val docFingerprintSql =
    s"""SELECT doc_id,
      |  ${TextOps.fingerprintSql("text")} AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  // ========================================================================
  // text_quality — composite score: length term + stopword term +
  // lexical-diversity term. Computed in EXACT integer arithmetic scaled
  // by 1000n (score = (5·n·min(n,100) + 300·(n−n_stop) + 200·n_dist)
  // / (1000n)) then ONE identical double division, unrounded: the score
  // is a small-denominator rational that frequently sits exactly on
  // rounding half-boundaries (e.g. 0.48625 for n=16), where Spark's and
  // DuckDB's round() disagree.
  // ========================================================================
  def textQuality(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n"),
        TextOps.wordSetCount(col("toks"), enStop).cast("long").as("n_stop"),
        TextOps.distinctCount(col("toks")).as("n_dist"))
      .select(col("doc_id"),
        ((lit(5L) * col("n") * least(col("n"), lit(100L))
          + lit(300L) * (col("n") - col("n_stop"))
          + lit(200L) * col("n_dist"))
          / (lit(1000.0) * col("n"))).as("score"))
      .orderBy(col("doc_id"))

  private val textQualitySql =
    """SELECT doc_id,
      |  (5 * n * least(n, 100) + 300 * (n - n_stop) + 200 * n_dist)
      |    / (1000.0 * n) AS score
      |FROM (
      |  SELECT doc_id,
      |    CAST(len(toks) AS BIGINT) AS n,
      |    CAST(len(list_filter(toks, t -> t IN ('the','and','of','is','a'))) AS BIGINT) AS n_stop,
      |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_dist
      |  FROM (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents))
      |ORDER BY doc_id""".stripMargin

  // ========================================================================
  // text_scrub — PII-style redaction (URLs → emails → IPv4 → phone
  // numbers, placeholder tokens), the standard pre-training privacy
  // pass. The corpus text is deterministically salted with one synthetic
  // email, one URL whose query string ALSO contains an email-looking
  // substring, one international phone number, and one IPv4 literal
  // (both engines build the identical bytes), so the oracle catches
  // wrong pattern order (URL must win over the email inside it), partial
  // replacement, or engine regex divergence — the patterns are RE2-safe
  // by design so java.util.regex and RE2 engines redact identically.
  // Output compares the full scrubbed content via md5 plus all four
  // replacement counts.
  // ========================================================================
  def textScrub(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val raw = concat(col("text"), lit(" reach u"), id, lit("@m"),
      (col("doc_id") % 7).cast("string"), lit(".example.org or https://s"), id,
      lit(".example/x?id="), id, lit("&mail=a@b.co"),
      lit(" call +"), (col("doc_id") % 89 + 1).cast("string"), lit("-555-"),
      (col("doc_id") % 900 + 100).cast("string"), lit("-"),
      (col("doc_id") % 9000 + 1000).cast("string"),
      lit(" from 10."), (col("doc_id") % 256).cast("string"), lit("."),
      (col("doc_id") * 7 % 256).cast("string"), lit("."),
      (col("doc_id") * 13 % 256).cast("string"), lit(" end"))
    docs(s, d).select(col("doc_id"), TextOps.scrubPii(raw).as("scrubbed"))
      .select(col("doc_id"), md5(col("scrubbed")).as("scrub_md5"),
        (size(split(col("scrubbed"), "<URL>", -1)) - 1).cast("long").as("n_url"),
        (size(split(col("scrubbed"), "<EMAIL>", -1)) - 1).cast("long").as("n_email"),
        (size(split(col("scrubbed"), "<IP>", -1)) - 1).cast("long").as("n_ip"),
        (size(split(col("scrubbed"), "<PHONE>", -1)) - 1).cast("long").as("n_phone"))
      .orderBy(col("doc_id"))
  }

  /** The DuckDB rendering of [[TextOps.scrubPii]] — ONE definition for
    * both scrub oracles so the pattern chain cannot silently diverge
    * per query. `t` is the salted-text SQL expression to scrub.
    */
  private def scrubPiiSql(t: String): String =
    s"""regexp_replace(regexp_replace(regexp_replace(regexp_replace($t,
       |      'https?://\\S+', '<URL>', 'g'),
       |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
       |      '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>', 'g'),
       |      '\\+[0-9]{1,3}-[0-9]{3}-[0-9]{3}-[0-9]{4}\\b', '<PHONE>', 'g')""".stripMargin

  private val textScrubSql =
    s"""WITH raw AS (
      |  SELECT doc_id,
      |    text || ' reach u' || doc_id || '@m' || (doc_id % 7)
      |      || '.example.org or https://s' || doc_id
      |      || '.example/x?id=' || doc_id || '&mail=a@b.co'
      |      || ' call +' || (doc_id % 89 + 1) || '-555-'
      |      || (doc_id % 900 + 100) || '-' || (doc_id % 9000 + 1000)
      |      || ' from 10.' || (doc_id % 256) || '.' || (doc_id * 7 % 256)
      |      || '.' || (doc_id * 13 % 256) || ' end' AS t
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, ${scrubPiiSql("t")} AS scrubbed
      |  FROM raw)
      |SELECT doc_id, md5(scrubbed) AS scrub_md5,
      |  CAST(len(string_split(scrubbed, '<URL>')) - 1 AS BIGINT) AS n_url,
      |  CAST(len(string_split(scrubbed, '<EMAIL>')) - 1 AS BIGINT) AS n_email,
      |  CAST(len(string_split(scrubbed, '<IP>')) - 1 AS BIGINT) AS n_ip,
      |  CAST(len(string_split(scrubbed, '<PHONE>')) - 1 AS BIGINT) AS n_phone
      |FROM s ORDER BY doc_id""".stripMargin

  // ========================================================================
  // scrub_count — per-source PII density, the gate a curation funnel
  // filters on (refuse-bad-data surface, reference §2.10 analogue): each
  // document is CONDITIONALLY salted (email iff id%3=0, URL iff id%4=1,
  // phone iff id%5=2, IP iff id%6=3 — both engines build the identical
  // bytes), scrubbed with the shared pattern chain, and the per-doc
  // redaction counts aggregate per source. Because the salting varies by
  // doc_id, the per-source sums genuinely exercise the aggregation, not
  // a constant-per-row identity. One scan pass, map-side-combined agg —
  // the redaction-count path adds nothing to the scrub's plan shape.
  // ========================================================================
  def scrubCount(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val idStr = id.cast("string")
    val salted = concat(col("text"),
      when(id % 3 === 0, concat(lit(" c"), idStr, lit("@ex"),
        (id % 7).cast("string"), lit(".org"))).otherwise(lit("")),
      when(id % 4 === 1, concat(lit(" https://h"), idStr,
        lit(".example/p"))).otherwise(lit("")),
      when(id % 5 === 2, concat(lit(" +"), (id % 89 + 1).cast("string"),
        lit("-555-"), (id % 900 + 100).cast("string"), lit("-"),
        (id % 9000 + 1000).cast("string"))).otherwise(lit("")),
      when(id % 6 === 3, concat(lit(" 192.168."), (id % 256).cast("string"),
        lit("."), (id * 3 % 256).cast("string"))).otherwise(lit("")))
    docs(s, d)
      .select(col("source"), TextOps.scrubPii(salted).as("sc"))
      .select(col("source"),
        (size(split(col("sc"), "<URL>", -1)) - 1).cast("long").as("u"),
        (size(split(col("sc"), "<EMAIL>", -1)) - 1).cast("long").as("e"),
        (size(split(col("sc"), "<IP>", -1)) - 1).cast("long").as("i"),
        (size(split(col("sc"), "<PHONE>", -1)) - 1).cast("long").as("p"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("u")).as("n_url"), sum(col("e")).as("n_email"),
        sum(col("i")).as("n_ip"), sum(col("p")).as("n_phone"),
        sum(when(col("u") + col("e") + col("i") + col("p") > 0, 1L)
          .otherwise(0L)).as("n_docs_with_pii"))
      .orderBy(col("source"))
  }

  private val scrubCountSql =
    s"""WITH raw AS (
      |  SELECT doc_id, source,
      |    text
      |      || CASE WHEN doc_id % 3 = 0
      |           THEN ' c' || doc_id || '@ex' || (doc_id % 7) || '.org' ELSE '' END
      |      || CASE WHEN doc_id % 4 = 1
      |           THEN ' https://h' || doc_id || '.example/p' ELSE '' END
      |      || CASE WHEN doc_id % 5 = 2
      |           THEN ' +' || (doc_id % 89 + 1) || '-555-' || (doc_id % 900 + 100)
      |                || '-' || (doc_id % 9000 + 1000) ELSE '' END
      |      || CASE WHEN doc_id % 6 = 3
      |           THEN ' 192.168.' || (doc_id % 256) || '.' || (doc_id * 3 % 256)
      |           ELSE '' END AS t
      |  FROM documents),
      |c AS (
      |  SELECT source,
      |    CAST(len(string_split(sc, '<URL>')) - 1 AS BIGINT) AS u,
      |    CAST(len(string_split(sc, '<EMAIL>')) - 1 AS BIGINT) AS e,
      |    CAST(len(string_split(sc, '<IP>')) - 1 AS BIGINT) AS i,
      |    CAST(len(string_split(sc, '<PHONE>')) - 1 AS BIGINT) AS p
      |  FROM (SELECT source, ${scrubPiiSql("t")} AS sc FROM raw))
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(u) AS BIGINT) AS n_url, CAST(sum(e) AS BIGINT) AS n_email,
      |  CAST(sum(i) AS BIGINT) AS n_ip, CAST(sum(p) AS BIGINT) AS n_phone,
      |  CAST(sum(CASE WHEN u + e + i + p > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_pii
      |FROM c GROUP BY source ORDER BY source""".stripMargin

  // ========================================================================
  // pipeline_curate — the end-to-end training-data curation funnel, the
  // flagship composition of the text family: per-doc features (heuristic
  // lang-ID, exact-integer quality score, BPE-ish token count, canonical
  // fingerprint) computed in ONE scan pass, filtered to
  // (predicted-English ∧ score ≥ 0.6 ∧ ≥ 15 regex tokens), then exact-
  // dedup keep-first (row_number over fingerprint, smallest doc_id
  // survives). Scale shape: one narrow scan → per-row expressions → one
  // filter → ONE hash-partitioned window shuffle on fp over the already-
  // filtered survivors. The score comparison at the 0.6 boundary is safe
  // cross-engine because the score is exact-integer arithmetic with one
  // IEEE division (see text_quality).
  // ========================================================================
  /** Per-doc curation features WITHOUT the admission filter — the raw
    * material for both the funnel itself ([[curateFeatures]]) and the
    * per-stage attrition report (`curate_report`), which needs to count
    * the docs each stage REJECTS, not just the survivors.
    */
  def curateFeaturesAll(docsDf: DataFrame): DataFrame =
    docsDf
      .select(col("doc_id"), col("source"), col("text"),
        // EvalOnce pins the tokenizer to ONE run per row: without it,
        // predicate pushdown splices this definition into the admission
        // filter's nine `toks` references (measured 6× funnel slowdown —
        // see graft.plans.EvalOnce).
        graft.plans.EvalOnce(TextOps.tokens(col("text"))).as("toks"),
        size(TextOps.regexTokens(col("text"))).cast("long").as("n_re"),
        TextOps.fingerprint(col("text")).as("fp"))
      .select(col("doc_id"), col("source"), col("text"), col("n_re"), col("fp"),
        TextOps.langId(col("toks"), col("text")).as("lang_pred"),
        size(col("toks")).cast("long").as("n"),
        TextOps.wordSetCount(col("toks"), enStop).cast("long").as("n_stop"),
        TextOps.distinctCount(col("toks")).as("n_dist"))
      // `text` rides through (projection-only, pruned wherever unused) so
      // single-pass consumers — the streaming full funnel — can gate on
      // signals that need the raw text (repetition) without a second scan
      .select(col("doc_id"), col("source"), col("text"), col("n_re"), col("fp"),
        col("lang_pred"),
        // n = 0 guard: Spark's Divide yields NULL for 0/0.0 but DuckDB
        // yields NaN, which sorts FIRST under ORDER BY score DESC — an
        // empty-text doc would rank top-1 in the oracle and last in
        // Spark (group_topk). An explicit NULL on both engines makes
        // degenerate docs agree by construction (both sort nulls last).
        when(col("n") > 0,
          (lit(5L) * col("n") * least(col("n"), lit(100L))
            + lit(300L) * (col("n") - col("n_stop"))
            + lit(200L) * col("n_dist"))
            / (lit(1000.0) * col("n"))).as("score"))

  /** The funnel's per-stage admission predicates, in stage order. Each
    * stage implies the previous (conjunction), so stage counts are
    * monotone — the property the attrition report asserts visually.
    */
  private def condLang = col("lang_pred") === "en"
  private def condQuality = condLang && col("score") >= 0.6
  private def condTokens = condQuality && col("n_re") >= 15

  /** The STATELESS stage of the curation funnel — per-doc features
    * (lang-ID, exact-integer quality score, BPE-ish token count,
    * canonical fingerprint) in one scan pass, filtered to
    * (predicted-English ∧ score ≥ 0.6 ∧ ≥ 15 regex tokens). ONE
    * definition shared by the batch funnel below and the streaming one
    * ([[graft.streaming.StreamingCurate]]): only the dedup step differs
    * between them (window vs keyed state), so the feature/filter
    * semantics cannot drift. Works unchanged on a streaming frame —
    * every expression is a per-row projection.
    */
  def curateFeatures(docsDf: DataFrame): DataFrame =
    curateFeaturesAll(docsDf).filter(condTokens)

  /** The heuristic funnel's SURVIVOR relation (doc_id, source, n_re,
    * score), memoized per (session, dir) and PERSISTED — r21
    * optimization (guide §1.2 step 1): `pipeline_curate` and
    * `pipeline_pack` both ran the feature scan + fp dedup window from
    * scratch; the survivor set is id-sized and pure, so one persisted
    * relation serves both (the curateFullCore treatment for the
    * heuristic-only funnel).
    */
  private[queries] def pipelineCurateCore(s: SparkSession, d: String): DataFrame =
    Memo.relation(s, d, "curateCore") {
      import org.apache.spark.sql.expressions.Window
      val feat = curateFeatures(docs(s, d))
      val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
      feat.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("source"), col("n_re"), col("score"))
    }

  def pipelineCurate(s: SparkSession, d: String): DataFrame =
    pipelineCurateCore(s, d).orderBy(col("doc_id"))

  /** The funnel's feature CTEs (`t` → `f` → `q`), ONE DuckDB rendering
    * shared by the `pipeline_curate` and `curate_report` oracles so the
    * two SQL mirrors of [[curateFeaturesAll]] cannot drift.
    */
  private[queries] val curateCtesSql = {
    def score(words: Seq[String]) =
      s"len(list_filter(toks, t -> t IN (${words.map(w => s"'$w'").mkString(",")})))"
    val langs = TextOps.LangStopwords.toMap
    s"""WITH t AS (
       |  SELECT doc_id, source, regexp_extract_all(text, '\\S+') AS toks,
       |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_re,
       |    ${TextOps.fingerprintSql("text")} AS fp,
       |    ${TextOps.isZhSql("text")} AS is_zh
       |  FROM documents),
       |f AS (
       |  SELECT doc_id, source, n_re, fp, is_zh,
       |    CAST(len(toks) AS BIGINT) AS n,
       |    CAST(${score(langs("en"))} AS BIGINT) AS n_stop,
       |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_dist,
       |    ${score(langs("de"))} AS s_de, ${score(langs("en"))} AS s_en,
       |    ${score(langs("es"))} AS s_es, ${score(langs("fr"))} AS s_fr
       |  FROM t),
       |q AS (
       |  SELECT doc_id, source, n_re, fp,
       |    CASE WHEN n > 0 THEN
       |      (5 * n * least(n, 100) + 300 * (n - n_stop) + 200 * n_dist)
       |        / (1000.0 * n) END AS score,
       |    CASE WHEN is_zh THEN 'zh'
       |         WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
       |         WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
       |         WHEN s_es >= s_fr THEN 'es'
       |         ELSE 'fr' END AS lang_pred
       |  FROM f)""".stripMargin
  }

  private val pipelineCurateSql =
    s"""$curateCtesSql
       |SELECT doc_id, source, n_re, score
       |FROM q
       |WHERE lang_pred = 'en' AND score >= 0.6 AND n_re >= 15
       |QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1
       |ORDER BY doc_id""".stripMargin

  // ========================================================================
  // text_repetition — Gopher-style within-document repetition signals,
  // the quality gate that catches boilerplate/spam which length and
  // stopword ratios miss: the most-repeated 2-gram's share of all
  // 2-grams, and the duplicated-3-gram fraction. BOTH are computed
  // per-row in ONE codegen pass over the token windows each
  // (MaxShingleMultiplicity / DistinctShingleCount — no intermediate
  // shingle arrays, no interpreted lambda fold) — zero shuffle,
  // scan-linear, no explode. At 100 TB this is the difference between a
  // projection and a corpus-sized (doc, gram) exchange. Gram counts are
  // size arithmetic (tokens are non-null, so every window is complete);
  // fractions are one integer/integer IEEE division, unrounded (see
  // text_quality's convention).
  // ========================================================================
  def textRepetition(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        when(col("toks").isNull, lit(null).cast("long"))
          .otherwise(greatest(size(col("toks")) - 1, lit(0)).cast("long")).as("n_2grams"),
        TextOps.maxShingleMultiplicity(col("toks"), 2).as("top2_count"),
        when(col("toks").isNull, lit(null).cast("long"))
          .otherwise(greatest(size(col("toks")) - 2, lit(0)).cast("long")).as("n_3grams"),
        TextOps.distinctShingleCount(col("toks"), 3).as("d3"))
      .select(col("doc_id"), col("n_2grams"), col("top2_count"), col("n_3grams"),
        (col("n_3grams") - col("d3")).as("dup3_count"))
      .withColumn("top2_frac",
        when(col("n_2grams") > 0, col("top2_count").cast("double") / col("n_2grams")))
      .withColumn("dup3_frac",
        when(col("n_3grams") > 0, col("dup3_count").cast("double") / col("n_3grams")))
      .orderBy(col("doc_id"))

  /** Repetition-signal CTEs (`rt` tokens → `rg` 2/3-gram arrays → `rtop`
    * per-doc mode count) — shared by the `text_repetition` and
    * `pipeline_curate_full` oracles.
    */
  private val repCtesSql =
    """rt AS (
      |  SELECT doc_id, regexp_extract_all(text, '\S+') AS w FROM documents),
      |rg AS (
      |  SELECT doc_id,
      |    CASE WHEN len(w) >= 2
      |      THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
      |      ELSE [] END AS g2,
      |    CASE WHEN len(w) >= 3
      |      THEN list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
      |      ELSE [] END AS g3
      |  FROM rt),
      |rtop AS (
      |  SELECT doc_id, max(cnt) AS topc FROM (
      |    SELECT doc_id, g2i, count(*) AS cnt
      |    FROM (SELECT doc_id, unnest(g2) AS g2i FROM rg) GROUP BY doc_id, g2i)
      |  GROUP BY doc_id)""".stripMargin

  private val textRepetitionSql =
    s"""WITH $repCtesSql
      |SELECT rg.doc_id,
      |  CAST(len(g2) AS BIGINT) AS n_2grams,
      |  CAST(coalesce(topc, 0) AS BIGINT) AS top2_count,
      |  CAST(len(g3) AS BIGINT) AS n_3grams,
      |  CAST(len(g3) - len(list_distinct(g3)) AS BIGINT) AS dup3_count,
      |  CASE WHEN len(g2) > 0 THEN CAST(coalesce(topc, 0) AS DOUBLE) / len(g2) END AS top2_frac,
      |  CASE WHEN len(g3) > 0 THEN CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / len(g3) END AS dup3_frac
      |FROM rg LEFT JOIN rtop ON rg.doc_id = rtop.doc_id
      |ORDER BY rg.doc_id""".stripMargin

  // ========================================================================
  // decontaminate — benchmark-overlap screen (train/test contamination):
  // every corpus doc is checked for 4-token shingles it shares with a
  // held-out benchmark set (here the deterministic doc_id % 50 = 0
  // slice). Scale shape: the benchmark side is SMALL by definition →
  // its distinct shingles broadcast; the corpus side explodes its
  // (per-doc distinct) shingles and hash-joins WITHOUT a shuffle of the
  // corpus; only matching (doc, gram) rows — sparse by construction —
  // reach the per-doc count. The final left join attaches hit counts
  // back to the full corpus (AQE picks broadcast while hits are small).
  // Reports ALL corpus docs, so the clean majority is part of the
  // verified result, not an absence.
  // ========================================================================
  private val DecontShingle = 4
  private[queries] val DecontBenchMod = 50

  /** Per-doc distinct decontamination shingles (doc_id, grams) of the
    * `keep` slice of the corpus. Two structural protections:
    *
    *  - the slice predicate is applied BELOW the projections (it is a
    *    base-column filter, so writing it first puts it at the scan with
    *    no pushdown needed), and
    *  - `grams` is EvalOnce-pinned: `InferFiltersFromGenerate` synthesizes
    *    `size(grams) > 0 AND isnotnull(grams)` under the consumers'
    *    explode, and predicate pushdown then substituted the whole
    *    4-gram zip_with chain — with its ~14 `regexp_extract_all`
    *    references — into that inferred filter and sank it to the scan
    *    (the residual 2.5 s of pipeline_curate_full after the funnel
    *    fix). Pinned, the inferred filter reads the materialized array.
    *
    * The tokenizer bind (`w`) needs no pin: it is multi-referenced
    * non-cheap, which CollapseProject already refuses to inline, and
    * with `grams` pinned no filter can reach it from above.
    */
  /** The decontamination shingle set of a text Column — the single
    * definition of "contamination gram" (distinct 4-token shingles),
    * EvalOnce-pinned; shared by the batch screens here and the
    * streaming Bloom screen ([[graft.streaming.StreamingCurate
    * .curateFullBloom]]), so batch and stream cannot hash different
    * grams.
    */
  private[graft] def decontGramsCol(text: Column): Column =
    graft.plans.EvalOnce(TextOps.bindOnce(TextOps.tokens(text))(w =>
      array_distinct(TextOps.shinglesN(w, DecontShingle))))

  private[queries] def decontGrams(s: SparkSession, d: String, keep: Column): DataFrame =
    docs(s, d).filter(keep)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
      .select(col("doc_id"), graft.plans.EvalOnce(
        array_distinct(TextOps.shinglesN(col("w"), DecontShingle))).as("grams"))

  /** (doc_id, n_hit) for corpus docs sharing ≥ 1 shingle with the
    * benchmark slice — the contamination screen's core join, shared by
    * `decontaminate`, `decontaminate_bloom` and `pipeline_curate_full`.
    * Bench side broadcasts; only matching (doc, gram) rows reach the
    * per-doc count.
    *
    * One hits relation per (session, dir), persisted — the
    * [[graft.queries.DedupQueries]] imageShared lifecycle applied to
    * the contamination family: three queries derive from this relation,
    * and each used to rebuild the bench shingle set and re-run the
    * corpus-side join per ACTION (pipeline_curate_full alone triggers
    * it twice per run). The persisted frame is sparse by construction —
    * only docs with ≥ 1 benchmark hit — so caching it is bench-sized,
    * not corpus-sized, and safe at any scale.
    */
  /** Bench-slice (bench_id, grams) relation — bench-sized by definition
    * (1/DecontBenchMod of docs), persisted once per (session, dir) so the
    * corpus-screen build AND the evaluator report don't each re-run the
    * bench-side tokenize+shingle subtree (the report used to compute it
    * in two separate plan subtrees = a third full documents scan). */
  private[queries] def decontBench(s: SparkSession, d: String): DataFrame =
    Memo.relation(s, d, "decontBench") {
      decontGrams(s, d, col("doc_id") % DecontBenchMod === 0)
        .select(col("doc_id").as("bench_id"), col("grams"))
    }
  private def decontHits(s: SparkSession, d: String): DataFrame =
    Memo.relation(s, d, "decontHits") {
      val bench = decontBench(s, d)
        .select(explode(col("grams")).as("gram")).distinct()
      decontGrams(s, d, col("doc_id") % DecontBenchMod =!= 0)
        .select(col("doc_id"), explode(col("grams")).as("gram"))
        .join(broadcast(bench), Seq("gram"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    }

  def decontaminate(s: SparkSession, d: String): DataFrame =
    decontGrams(s, d, col("doc_id") % DecontBenchMod =!= 0)
      .select(col("doc_id"), size(col("grams")).cast("long").as("n_grams"))
      .join(decontHits(s, d), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        when(coalesce(col("n_hit"), lit(0L)) > 0, 1L).otherwise(0L).as("contaminated"))
      .orderBy(col("doc_id"))

  /** Contamination-screen CTEs (`dt` tokens → `dg` distinct shingles →
    * `bench`/`corpus` split → `hits`) — shared by the `decontaminate`
    * and `pipeline_curate_full` oracles.
    */
  private[queries] val decontCtesSql =
    s"""dt AS (
      |  SELECT doc_id, regexp_extract_all(text, '\\S+') AS w FROM documents),
      |dg AS (
      |  SELECT doc_id, list_distinct(
      |    CASE WHEN len(w) >= $DecontShingle
      |      THEN list_transform(range(1, len(w) - ${DecontShingle - 2}),
      |             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])
      |      ELSE [] END) AS grams
      |  FROM dt),
      |bench AS (
      |  SELECT DISTINCT unnest(grams) AS gram FROM dg WHERE doc_id % $DecontBenchMod = 0),
      |corpus AS (SELECT doc_id, grams FROM dg WHERE doc_id % $DecontBenchMod <> 0),
      |hits AS (
      |  SELECT doc_id, count(*) AS n_hit
      |  FROM (SELECT doc_id, unnest(grams) AS gram FROM corpus) c
      |  JOIN bench USING (gram)
      |  GROUP BY doc_id)""".stripMargin

  private val decontaminateSql =
    s"""WITH $decontCtesSql
      |SELECT corpus.doc_id,
      |  CAST(len(grams) AS BIGINT) AS n_grams,
      |  CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit,
      |  CAST(CASE WHEN coalesce(n_hit, 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
      |FROM corpus LEFT JOIN hits ON corpus.doc_id = hits.doc_id
      |ORDER BY corpus.doc_id""".stripMargin

  // decontaminate_bloom — the contamination screen through a Bloom
  // SKETCH instead of the broadcast benchmark relation. At 100 TB the
  // benchmark side can reach 10⁸–10⁹ distinct shingles: the exact
  // screen's broadcast hash relation stops fitting long before the
  // Bloom bits do (~1.8 MB / 10⁶ items at 0.1% fpp), and the sketch
  // probe replaces explode+join+groupBy with one codegen'd projection —
  // no shuffle at all on the corpus (plan-guarded in BloomScreenSpec).
  //
  // Verified the sketch_distinct way: the sketch's own counts are
  // implementation-defined, so the oracle-checked columns are the EXACT
  // screen's (doc_id, n_grams, n_hit) plus `bloom_no_miss` — the
  // one-sided-error contract (bloom count ≥ exact count, i.e. the
  // sketch NEVER misses a true contamination hit) evaluated in-Spark
  // per doc and checked by the oracle as a literal 1. The fpp side
  // (bounded overcount) is locked in aggregate by BloomScreenSpec.
  // ========================================================================
  private val BloomFpp = 0.001

  /** Learned benchmark sketch for the given corpus dir: distinct bench
    * shingles aggregated distributed (`stat.bloomFilter` treeAggregate),
    * sized by an exact count of the bench side (bounded: the benchmark
    * is the 1/DecontBenchMod slice, and the count is an aggregate
    * action, not a collect).
    */
  private[graft] def benchBloom(s: SparkSession, d: String): org.apache.spark.util.sketch.BloomFilter =
    Memo.value(s, d, "benchBloom") {
      val bench = decontGrams(s, d, col("doc_id") % DecontBenchMod === 0)
        .select(explode(col("grams")).as("gram")).distinct()
      // deterministic (the filter's bits are an OR of per-item bit sets,
      // order-independent), so memoizing cannot change any result —
      // it only drops the per-call count + treeAggregate actions
      bench.stat.bloomFilter("gram", math.max(bench.count(), 1L), BloomFpp)
    }

  /** Production path of the bloom screen: ONE projection over the corpus
    * — per-doc gram count and sketch hit count — no join, no exchange.
    */
  def decontBloomScreen(s: SparkSession, d: String): DataFrame = {
    val bloom = benchBloom(s, d)
    decontGrams(s, d, col("doc_id") % DecontBenchMod =!= 0)
      .select(col("doc_id"), size(col("grams")).cast("long").as("n_grams"),
        graft.plans.BloomArrayHits(col("grams"), bloom).as("n_hit_bloom"))
  }

  def decontaminateBloom(s: SparkSession, d: String): DataFrame =
    decontBloomScreen(s, d)
      .join(decontHits(s, d), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        when(col("n_hit_bloom") >= coalesce(col("n_hit"), lit(0L)), 1L)
          .otherwise(0L).as("bloom_no_miss"))
      .orderBy(col("doc_id"))

  private val decontaminateBloomSql =
    s"""WITH $decontCtesSql
      |SELECT corpus.doc_id,
      |  CAST(len(grams) AS BIGINT) AS n_grams,
      |  CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit,
      |  CAST(1 AS BIGINT) AS bloom_no_miss
      |FROM corpus LEFT JOIN hits ON corpus.doc_id = hits.doc_id
      |ORDER BY corpus.doc_id""".stripMargin


  // ========================================================================
  // curate_report — per-source, per-stage attrition through the curation
  // funnel: total docs, survivors of lang-ID, of the quality gate, of
  // the token-bound gate, and of exact dedup. The observability surface
  // a 100 TB curation run is steered by (which source is losing docs at
  // which stage?). Stage predicates are conjunctions, so counts are
  // monotone non-increasing left to right. Shape: the stage counts are
  // ONE conditional-sum aggregation over the feature scan; the unique
  // count reuses the funnel's window pass over the (already filtered)
  // survivors; both aggregates are per-source tiny and join broadcast.
  // ========================================================================
  def curateReport(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val feat = curateFeaturesAll(docs(s, d))
    val stages = feat.groupBy(col("source")).agg(
      count(lit(1)).as("n_total"),
      sum(when(condLang, 1L).otherwise(0L)).as("n_lang"),
      sum(when(condQuality, 1L).otherwise(0L)).as("n_quality"),
      sum(when(condTokens, 1L).otherwise(0L)).as("n_filtered"))
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    val uniq = feat.filter(condTokens)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .groupBy(col("source")).agg(count(lit(1)).as("n_unique"))
    stages.join(uniq, Seq("source"), "left")
      .select(col("source"), col("n_total"), col("n_lang"), col("n_quality"),
        col("n_filtered"), coalesce(col("n_unique"), lit(0L)).as("n_unique"))
      .orderBy(col("source"))
  }

  private val curateReportSql =
    s"""$curateCtesSql,
       |r AS (
       |  SELECT source, count(*) AS n_total,
       |    CAST(sum(CASE WHEN lang_pred = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
       |    CAST(sum(CASE WHEN lang_pred = 'en' AND score >= 0.6 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       |    CAST(sum(CASE WHEN lang_pred = 'en' AND score >= 0.6 AND n_re >= 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_filtered
       |  FROM q GROUP BY source),
       |u AS (
       |  SELECT source, count(*) AS n_unique FROM (
       |    SELECT source FROM q
       |    WHERE lang_pred = 'en' AND score >= 0.6 AND n_re >= 15
       |    QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1)
       |  GROUP BY source)
       |SELECT r.source, n_total, n_lang, n_quality, n_filtered,
       |  CAST(coalesce(n_unique, 0) AS BIGINT) AS n_unique
       |FROM r LEFT JOIN u ON r.source = u.source
       |ORDER BY r.source""".stripMargin

  // pipeline_curate_full — the curation funnel with EVERY gate this
  // engine ships: benchmark exclusion → lang-ID → quality → token
  // bounds → repetition cap (top-2-gram share ≤ 0.2) → decontamination
  // (no 4-gram overlap with the benchmark slice) → exact-dedup
  // keep-first. Composition, not reimplementation: stages reuse
  // curateFeatures, TextOps repetition signals, and decontHits.
  //
  // Scale shape: ONE corpus scan evaluates every per-row gate (cheap
  // gates first, so the repetition fold only runs on docs that pass
  // them); the contamination screen is bench-sized and its id set
  // broadcast-anti-joins; the one shuffle is the funnel's usual window
  // on fp over final survivors. No corpus-wide exchange anywhere — and
  // because the stateless stage is one shared projection
  // (curateFullFeatures), it runs unchanged on a document STREAM.
  // ========================================================================
  private val RepetitionCap = 0.2

  /** The full funnel's STATELESS stage — benchmark exclusion, the three
    * curateFeatures gates, and the repetition cap, in ONE scan pass.
    * Shared verbatim by the batch funnel below and the streaming one
    * ([[graft.streaming.StreamingCurate.curateFull]]), same
    * cannot-drift contract as [[curateFeatures]]. Output:
    * (doc_id, source, n_re, fp, score, top2_frac).
    */
  def curateFullFeatures(docsDf: DataFrame): DataFrame =
    curateFeatures(docsDf.filter(col("doc_id") % DecontBenchMod =!= 0))
      // two EvalOnce pins (see graft.plans.EvalOnce): `w2` so no rule
      // can substitute the tokenizer into a consumer, and `top2_frac`
      // so the repetition filter can't substitute the gram count into
      // its predicate (it ran 2-3× per row: measured as
      // pipeline_curate_full staying at 3.6 s after the pipeline_curate
      // fix landed). The mode count itself is one codegen pass over the
      // token windows (MaxShingleMultiplicity) — no shingle array, no
      // interpreted sort+fold; the denominator is size arithmetic
      // (tokens are non-null, so every 2-gram window is complete), with
      // the ≤1-token case clamped to 0 so the division nulls out and
      // the gate drops the doc, exactly like the composed form's 0/0.
      .withColumn("w2", graft.plans.EvalOnce(TextOps.tokens(col("text"))))
      .withColumn("top2_frac", graft.plans.EvalOnce(
        TextOps.maxShingleMultiplicity(col("w2"), 2).cast("double") /
          greatest(size(col("w2")) - 1, lit(0))))
      .filter(col("top2_frac") <= RepetitionCap)
      .select(col("doc_id"), col("source"), col("n_re"), col("fp"),
        col("score"), col("top2_frac"))

  /** The full-funnel SURVIVOR relation (doc_id, source, n_re, score,
    * top2_frac), memoized per (session, dir) and PERSISTED — r21
    * optimization (VERDICT r20 "Next #2" / guide §1.2 "don't compute
    * things you throw away"): four queries consume this exact relation
    * (`pipeline_curate_full`, `pipeline_curate_lm`, `release_manifest`,
    * `curate_report_lm`) and each used to re-run the whole gate stack —
    * tokenize scan, repetition fold, decontamination anti-join, fp
    * window — per consumer. The survivor set is id-sized (no text
    * column), so the persisted footprint is small at any scale.
    */
  private[queries] def pipelineCurateFullCore(s: SparkSession, d: String): DataFrame =
    Memo.relation(s, d, "curateFullCore") {
      import org.apache.spark.sql.expressions.Window
      val rep = curateFullFeatures(docs(s, d))
      val contaminated = decontHits(s, d).select(col("doc_id"))
      val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
      // hint-free: contamination membership is rate-bounded, not
      // small-bounded — size-based planning decides (same contract as
      // data_card's membership joins)
      rep.join(contaminated, Seq("doc_id"), "left_anti")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("doc_id"), col("source"), col("n_re"), col("score"),
          col("top2_frac"))
    }

  def pipelineCurateFull(s: SparkSession, d: String): DataFrame =
    pipelineCurateFullCore(s, d).orderBy(col("doc_id"))

  /** The full-funnel survivor relation as a CTE chain (no ORDER BY) —
    * shared by `pipeline_curate_full` and the LM-gated variant.
    */
  private val pipelineCurateFullCoreSql =
    s"""$curateCtesSql,
       |$repCtesSql,
       |$decontCtesSql,
       |pcf AS (
       |  SELECT doc_id, source, n_re, score, top2_frac FROM (
       |    SELECT q.doc_id, q.source, q.n_re, q.fp, q.score,
       |      CAST(coalesce(rtop.topc, 0) AS DOUBLE) / len(rg.g2) AS top2_frac
       |    FROM q
       |    JOIN rg ON rg.doc_id = q.doc_id
       |    LEFT JOIN rtop ON rtop.doc_id = q.doc_id
       |    WHERE q.doc_id % $DecontBenchMod <> 0
       |      AND q.lang_pred = 'en' AND q.score >= 0.6 AND q.n_re >= 15
       |      AND CAST(coalesce(rtop.topc, 0) AS DOUBLE) / len(rg.g2) <= $RepetitionCap
       |      AND q.doc_id NOT IN (SELECT doc_id FROM hits))
       |  QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1)""".stripMargin

  private val pipelineCurateFullSql =
    s"""$pipelineCurateFullCoreSql
       |SELECT doc_id, source, n_re, score, top2_frac FROM pcf
       |ORDER BY doc_id""".stripMargin

  // ========================================================================
  // pipeline_curate_lm — the full funnel with the LM quality gate
  // COMPOSED in: benchmark exclusion → lang → quality → token bounds →
  // repetition cap → decontamination → dedup keep-first → corpus-LM
  // mean-NLL ≤ τ. The CCNet-style stack a production pre-training
  // pipeline actually runs (heuristic gates first — they are cheaper —
  // LM scoring only over the heuristic survivors). Docs with no bigram
  // (single-token) pass the LM stage open: no evidence is not junk
  // evidence. The integer gate inequality is shared with
  // lm_gate_sketch; the streaming path composes the same way
  // (curateFull → curateLm). Scale: the LM relations join only the
  // SURVIVOR set (funnel-first ordering), everything token-keyed.
  // ========================================================================
  /** LM-gated survivors, UNORDERED — the composition of the two
    * persisted cores (funnel memo ⋈ LM memo). Aggregating consumers
    * (`release_manifest`, `curate_report_lm`) read this so the
    * pipeline_curate_lm ORDER BY's range exchange isn't paid just to be
    * re-shuffled by a downstream groupBy (guide §2.4: remove exchanges
    * the consumer immediately destroys).
    */
  private def pipelineCurateLmCore(s: SparkSession, d: String): DataFrame = {
    val lm = lmScoreCore(s, d)
      .select(col("doc_id"), col("n_bg"), col("nll_sum_e4"), col("mean_nll"))
    pipelineCurateFullCore(s, d)
      .join(lm, Seq("doc_id"), "left")
      .filter(col("nll_sum_e4").isNull
        || col("nll_sum_e4") <= col("n_bg") * lit(GateNllE4PerBigram))
      .select(col("doc_id"), col("source"), col("score"), col("mean_nll"))
  }

  def pipelineCurateLm(s: SparkSession, d: String): DataFrame =
    pipelineCurateLmCore(s, d).orderBy(col("doc_id"))

  private val pipelineCurateLmSql =
    s"""$pipelineCurateFullCoreSql,
       |lm AS (SELECT * FROM ($lmScoreCoreSql))
       |SELECT pcf.doc_id, pcf.source, pcf.score, lm.mean_nll
       |FROM pcf LEFT JOIN lm ON lm.doc_id = pcf.doc_id
       |WHERE lm.nll_sum_e4 IS NULL OR lm.nll_sum_e4 <= lm.n_bg * $GateNllE4PerBigram
       |ORDER BY pcf.doc_id""".stripMargin

  // ========================================================================
  // release_manifest — WHAT ACTUALLY SHIPS: the per-(split, source)
  // doc/token table for the documents that survive the full LM-gated
  // curation funnel (every heuristic gate + decontamination + exact
  // dedup + perplexity gate — the pipeline_curate_lm survivors) under
  // the leakage-safe content-fingerprint split. This is the first table
  // of every release note ("N train docs / M tokens per source") and
  // the capstone composition: a reference user runs curate → gate →
  // split → count as ONE query. Counts are exact integers; the split is
  // the sample_hash_split assignment (content-addressed, so dup
  // variants can't straddle splits); the funnel reads the PERSISTED
  // curateFullCore + lmScoreCore memos (r21: previously only the LM /
  // decont / fingerprint inputs were memoized and the funnel core
  // itself re-ran per consumer — the recompute VERDICT r20 flagged as
  // this key's 13.8 s under-load headline), so steady-state cost is
  // the split projection scan + one equi-join + the rollup.
  //
  // Scale: the funnel is the already-audited one-scan pipeline; the
  // split+token projection is scan-side; the final rollup aggregates
  // (split × source) partial counts map-side. One equi-join between the
  // survivor ids and the projection.
  // ========================================================================
  def releaseManifest(s: SparkSession, d: String): DataFrame = {
    val surv = pipelineCurateLmCore(s, d).select(col("doc_id"), col("source"))
    val sp = docs(s, d).select(col("doc_id"),
        (TextOps.hash60(TextOps.fingerprint(col("text"))) % 100).as("bucket"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("split", TextOps.splitOf(col("bucket")))
      .select(col("doc_id"), col("split"), col("n_tok"))
    surv.join(sp, Seq("doc_id"))
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .orderBy(col("split"), col("source"))
  }

  private lazy val releaseManifestSql =
    s"""$pipelineCurateFullCoreSql,
       |lmr AS (SELECT * FROM ($lmScoreCoreSql)),
       |surv AS (
       |  SELECT pcf.doc_id, pcf.source
       |  FROM pcf LEFT JOIN lmr ON lmr.doc_id = pcf.doc_id
       |  WHERE lmr.nll_sum_e4 IS NULL OR lmr.nll_sum_e4 <= lmr.n_bg * $GateNllE4PerBigram),
       |spl AS (
       |  SELECT doc_id, ${TextOps.splitOfSql("bucket")} AS split,
       |    n_tok
       |  FROM (
       |    SELECT doc_id,
       |      ('0x' || substr(md5(${TextOps.fingerprintSql("text")}), 1, 15))::BIGINT
       |        % 100 AS bucket,
       |      CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tok
       |    FROM documents))
       |SELECT spl.split, surv.source, count(*) AS n_docs,
       |  CAST(sum(spl.n_tok) AS BIGINT) AS n_tokens
       |FROM surv JOIN spl USING (doc_id)
       |GROUP BY spl.split, surv.source
       |ORDER BY spl.split, surv.source""".stripMargin

  // collocations — corpus-level bigram association mining: the top-30
  // most frequent adjacent token pairs with their pointwise mutual
  // information, PMI = ln(p(ab) / (p(a)·p(b))) over unigram/bigram
  // maximum-likelihood estimates. The vocabulary-analysis primitive a
  // tokenizer-training or phrase-mining pass runs over a pre-training
  // corpus (Mikolov et al.'s phrase detection uses exactly this
  // statistic). Ranking is by the EXACT integer pair count (ties on the
  // pair text), never by the transcendental PMI — so the row set and
  // order are engine-exact and only the displayed PMI needs the
  // round(4) convention (ln is the one last-ulp step; its argument is
  // built from exact integers with identical operation order).
  // Scale shape: bigrams come from one zip_with over each doc's token
  // array (no self-join, no posexplode pairing); two map-side-combined
  // count aggs (bigram, unigram); the unigram relation joins back by
  // token equi-join; corpus totals are one broadcast row.
  // ========================================================================
  private val CollocMinCount = 5
  private val CollocK = 30

  def collocations(s: SparkSession, d: String): DataFrame = {
    val t = docs(s, d).select(TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
    val bg = t.select(explode(expr(
        "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1)," +
          " (a, b) -> struct(a AS w1, b AS w2))")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_ab"))
    val uni = unigramCounts(s, d)
    val tot = uni.agg(sum(col("c")).cast("double").as("n_tok"))
      .crossJoin(bg.agg(sum(col("c_ab")).cast("double").as("n_bg")))
    bg.filter(col("c_ab") >= CollocMinCount)
      .join(uni.select(col("w").as("w1"), col("c").as("c_a")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c_b")), Seq("w2"))
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("c_ab"),
        round(log(col("c_ab") * col("n_tok") * col("n_tok")
          / (col("n_bg") * col("c_a") * col("c_b"))), 4).as("pmi"))
      .orderBy(col("c_ab").desc, col("w1"), col("w2"))
      .limit(CollocK)
  }

  private val collocationsSql =
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents),
       |uc AS (
       |  SELECT w, count(*) AS c
       |  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
       |bc AS (
       |  SELECT w1, w2, count(*) AS c_ab
       |  FROM (SELECT unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
       |               unnest(list_transform(range(1, len(t)), i -> t[i + 1])) AS w2
       |        FROM toks WHERE len(t) >= 2)
       |  GROUP BY w1, w2),
       |tot AS (
       |  SELECT (SELECT CAST(sum(c) AS DOUBLE) FROM uc) AS n_tok,
       |         (SELECT CAST(sum(c_ab) AS DOUBLE) FROM bc) AS n_bg)
       |SELECT bc.w1, bc.w2, bc.c_ab,
       |  round(ln(bc.c_ab * n_tok * n_tok / (n_bg * ua.c * ub.c)), 4) AS pmi
       |FROM bc JOIN uc ua ON ua.w = bc.w1
       |        JOIN uc ub ON ub.w = bc.w2, tot
       |WHERE bc.c_ab >= $CollocMinCount
       |ORDER BY bc.c_ab DESC, bc.w1, bc.w2
       |LIMIT $CollocK""".stripMargin

  // ========================================================================
  // text_rarity — corpus-frequency rarity profile per document: how
  // "common" a document's vocabulary is against the whole corpus. Per
  // doc: n_tok, the INTEGER sum of its tokens' corpus frequencies
  // (order-free exact aggregation — the determinism trick: never sum
  // doubles across a shuffle), the derived mean corpus frequency
  // quantized to integer 1e-4 units (mean_cnt_e4 — round·cast of ONE
  // exact rational, the lm_score micro-unit convention), the count of
  // rare tokens (corpus frequency ≤ 3), and an integer-nat surprisal
  // surprisal_e4 = round(ln(N · n_tok / Σc) · 10⁴) — the ln of ONE
  // exact integer rational (no intermediate double cast anywhere in
  // the chain), so the only cross-engine trust is ln on identical
  // doubles and the result column HASHES AS AN EXACT INTEGER. High
  // surprisal = unusual vocabulary (OOV-heavy, noisy, or genuinely
  // novel text); high rare_n with low score = gibberish — the quality
  // signal complementing text_quality's shape heuristics.
  // Scale: explode → equi-join the (token, count) relation → one
  // integer groupBy per doc; the corpus total is one broadcast row.
  // The n_corpus·n_tok product is exact in BIGINT up to ~9e18; a
  // 100 TB corpus (~10¹³ tokens × 10⁵-token docs) would widen it to
  // decimal(38,0) — exact in both Spark and the oracle engine.
  // ========================================================================
  private val RareCountMax = 3

  def textRarity(s: SparkSession, d: String): DataFrame = {
    val uni = unigramCounts(s, d)
    val tot = uni.agg(sum(col("c")).as("n_corpus"))
    docs(s, d)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"))
      .join(uni, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("c")).as("sum_cnt"),
        sum(when(col("c") <= RareCountMax, 1L).otherwise(0L)).as("rare_n"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("n_tok"), col("sum_cnt"), col("rare_n"),
        // ExactRound: no doubles, so no engine round-semantics dependence
        // (Spark HALF_UP vs DuckDB>=1.1 half-to-even diverge on exact .5
        // halves, e.g. n_tok a power of 2 — the r15/r16 red-row cause).
        expr(ExactRound.spark("sum_cnt * 10000", "n_tok")).as("mean_cnt_e4"),
        round(log((col("n_corpus") * col("n_tok")).cast("double") / col("sum_cnt"))
          * lit(10000.0)).cast("long").as("surprisal_e4"))
      .orderBy(col("doc_id"))
  }

  private val textRaritySql =
    s"""WITH uc AS (
       |  SELECT w, count(*) AS c
       |  FROM (SELECT unnest(regexp_extract_all(text, '\\S+')) AS w FROM documents)
       |  GROUP BY w),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_corpus FROM uc),
       |dt AS (
       |  SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS w FROM documents),
       |agg AS (
       |  SELECT doc_id, count(*) AS n_tok, CAST(sum(c) AS BIGINT) AS sum_cnt,
       |    CAST(sum(CASE WHEN c <= $RareCountMax THEN 1 ELSE 0 END) AS BIGINT) AS rare_n
       |  FROM dt JOIN uc USING (w) GROUP BY doc_id)
       |SELECT doc_id, n_tok, sum_cnt, rare_n,
       |  CAST(${ExactRound.duck("sum_cnt * 10000", "n_tok")} AS BIGINT) AS mean_cnt_e4,
       |  CAST(round(ln(CAST(n_corpus * n_tok AS DOUBLE) / sum_cnt) * 10000.0) AS BIGINT)
       |    AS surprisal_e4
       |FROM agg, tot
       |ORDER BY doc_id""".stripMargin

  // ========================================================================
  // lm_score — corpus-trained bigram language-model score per document:
  // the CCNet-style LM-perplexity quality signal (Wenzek et al.,
  // arXiv:1911.00359 rank web text by LM perplexity; here the LM is an
  // add-one-smoothed word bigram model trained on the corpus itself, the
  // self-supervised variant a pipeline can run with no external model
  // artifact). Per doc: bigram count, total negative log-likelihood, and
  // the mean NLL — the perplexity proxy (ppl = e^mean_nll, monotone in
  // it). High mean_nll = text the corpus' own statistics find improbable
  // (boilerplate-free gibberish, OOV floods, shuffled tokens);
  // complementing text_rarity (unigram surprisal) with ORDER sensitivity
  // — a bag of common words in nonsense order scores badly here but fine
  // there.
  //
  // Exactness design: each bigram's NLL = ln((c(w1)+V)/(c(w1w2)+1)) is
  // the ln of ONE exact integer rational, immediately quantized to
  // integer 1e-4 nats (round·cast — the ts_changepoint micro-unit
  // trick); per-doc totals then sum EXACT integers (order-free across
  // the shuffle), and the mean is one double division of exact operands.
  // The only cross-engine trust is ln itself on identical doubles (the
  // round(4) convention every transcendental in this file already
  // carries).
  //
  // Scale shape: ONE tokenize pass; the per-doc bigram relation is
  // reused for BOTH the corpus bigram counts (self-aggregation,
  // map-side combined) and the scoring join; unigram counts ride the
  // shared unigramCounts memo; V is one broadcast row; all joins are
  // token-key equi-joins — nothing corpus-quadratic, no window.
  // ========================================================================
  private val LmScale = 10000.0

  /** The per-doc LM score relation (doc_id, n_bg, nll_sum_e4, mean_nll),
    * memoized per (session, dir) and PERSISTED: four queries consume it
    * (`lm_score`, `lm_gate_sketch`'s exact side, `pipeline_curate_lm`'s
    * gate, `curate_report_lm`'s funnel), and the expensive inputs — the
    * per-occurrence bigram relation, used by BOTH the count aggregation
    * and the scoring join — are cached only for the build and released
    * once the small per-doc relation materializes.
    */
  private[queries] def lmScoreCore(s: SparkSession, d: String): DataFrame =
    Memo.relation(s, d, "lmScoreCore") {
      val uni = unigramCounts(s, d)
      val vocab = uni.agg(count(lit(1)).as("v_size"))
      val bg = docs(s, d).select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("doc_id"), explode(expr(
          "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1)," +
            " (a, b) -> struct(a AS w1, b AS w2))")).as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
        .persist()
      val bc = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_ab"))
      val scored = bg.join(bc, Seq("w1", "w2"))
        .join(uni.select(col("w").as("w1"), col("c").as("c_a")), Seq("w1"))
        .crossJoin(broadcast(vocab))
        .select(col("doc_id"),
          round(log((col("c_a") + col("v_size")).cast("double") / (col("c_ab") + lit(1L)))
            * lit(LmScale)).cast("long").as("nll_e4"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bg"), sum(col("nll_e4")).as("nll_sum_e4"))
        .select(col("doc_id"), col("n_bg"), col("nll_sum_e4"),
          // exact integer half-away (ExactRound): round(nll/(n·10⁴), 4)
          // ≡ halfAway(nll, n)/10⁴ — no double round, engine-independent
          (expr(ExactRound.spark("nll_sum_e4", "n_bg")).cast("double")
            / lit(LmScale)).as("mean_nll"))
        .persist()
      scored.count() // materialize so the bigram-occurrence cache can go
      bg.unpersist(false)
      scored
    }

  def lmScore(s: SparkSession, d: String): DataFrame =
    lmScoreCore(s, d).orderBy(col("doc_id"))

  /** The exact-LM per-doc core (no ORDER BY) — shared by `lm_score` and
    * `lm_gate_sketch`'s oracle so the model definition exists once.
    */
  // lazy: referenced by pipelineCurateLmSql, which initializes earlier
  // in the object (vals initialize in file order)
  private[queries] lazy val lmScoreCoreSql =
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents),
       |uc AS (
       |  SELECT w, count(*) AS c
       |  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
       |v AS (SELECT count(*) AS v_size FROM uc),
       |bg AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
       |    unnest(list_transform(range(1, len(t)), i -> t[i + 1])) AS w2
       |  FROM toks WHERE len(t) >= 2),
       |bc AS (SELECT w1, w2, count(*) AS c_ab FROM bg GROUP BY w1, w2),
       |nll AS (
       |  SELECT bg.doc_id,
       |    CAST(round(ln((uc.c + v.v_size)::DOUBLE / (bc.c_ab + 1)) * 10000.0) AS BIGINT)
       |      AS nll_e4
       |  FROM bg JOIN bc USING (w1, w2) JOIN uc ON uc.w = bg.w1, v)
       |SELECT doc_id, count(*) AS n_bg,
       |  CAST(sum(nll_e4) AS BIGINT) AS nll_sum_e4,
       |  CAST(${ExactRound.duck("CAST(sum(nll_e4) AS BIGINT)", "count(*)")} AS DOUBLE)
       |    / 10000.0 AS mean_nll
       |FROM nll GROUP BY doc_id""".stripMargin

  private val lmScoreSql = lmScoreCoreSql + "\nORDER BY doc_id"

  // ========================================================================
  // text_entropy — character-distribution Shannon entropy per document:
  // the classic gibberish/boilerplate detector (low entropy = repeated
  // characters, padding, template residue; anomalously high = random
  // strings, base64/hex blobs) complementing text_repetition (n-gram
  // level) and lm_score (token-sequence level) at the cheapest
  // granularity — a pure per-row scan. H = ln(n) − S/(n·10⁴) where S is
  // [[graft.plans.CharEntropySum]]'s order-free quantized integer core;
  // the ln and the one division run on exact integer operands (the
  // micro-unit determinism pattern).
  //
  // Scale shape: one codegen'd projection over the scan — no explode,
  // no shuffle, no join; the composable per-character explode + (doc,
  // char) groupBy it replaces would shuffle one record per CHARACTER of
  // the corpus (plan-guarded).
  // ========================================================================
  def textEntropy(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars_calc"),
        graft.plans.CharEntropySum(col("text")).as("ent_sum_e4"))
      .select(col("doc_id"), col("n_chars_calc"), col("ent_sum_e4"),
        round(log(col("n_chars_calc")) - col("ent_sum_e4") / (col("n_chars_calc") * lit(10000.0)),
          4).as("entropy"))
      .orderBy(col("doc_id"))

  private val textEntropySql =
    """WITH ch AS (
      |  SELECT doc_id, unnest(regexp_extract_all(text, '(?s).')) AS c FROM documents),
      |cc AS (SELECT doc_id, c, count(*) AS cnt FROM ch GROUP BY doc_id, c),
      |agg AS (
      |  SELECT doc_id,
      |    CAST(sum(CAST(round(cnt * ln(cnt) * 10000.0) AS BIGINT)) AS BIGINT) AS ent_sum_e4,
      |    CAST(sum(cnt) AS BIGINT) AS n_chars_calc
      |  FROM cc GROUP BY doc_id)
      |SELECT doc_id, n_chars_calc, ent_sum_e4,
      |  round(ln(n_chars_calc) - ent_sum_e4 / (n_chars_calc * 10000.0), 4) AS entropy
      |FROM agg ORDER BY doc_id""".stripMargin

  // ========================================================================
  // lm_gate_sketch — the LM quality gate in its STREAMING-DEPLOYABLE
  // form, oracle-verified the sketch_distinct way: a Count-Min sketch
  // of the corpus bigram counts (plus the EXACT vocab-bounded unigram
  // map) rides as ONE plan reference into the codegen'd
  // [[graft.plans.BigramNllSketch]], so scoring is a per-row pass with
  // no join against the corpus-sized bigram relation — what a
  // stateless streaming admission stage needs (StreamingCurate.curateLm
  // runs this identical expression on a stream). Per doc the query
  // emits the EXACT path (n_bg, NLL sum, mean — DuckDB recomputes all
  // of it via the shared lm_score core) plus two sketch-vs-exact
  // contract flags the oracle expects as LITERAL 1s:
  //   sketch_le      — nll_sketch ≤ nll_exact (CMS only over-counts, the
  //                    numerator is exact, ln is increasing, and the
  //                    quantization is the same monotone half-up round)
  //   gate_superset  — exact-admitted ⟹ sketch-admitted at τ (the
  //                    one-sided admission guarantee, curateFullBloom's
  //                    symmetric twin: Bloom admits a SUBSET of clean,
  //                    CMS admits a SUPERSET of good — both errors are
  //                    in the direction a curation pipeline tolerates)
  // The gate comparison is pure integers: mean ≤ 3.42 nats ⟺
  // nll_sum_e4 ≤ n_bg · 34200.
  // ========================================================================
  // final: a compile-time constant, inlined — pipelineCurateLmSql
  // initializes earlier in the object and must not read a default-0 val
  private[queries] final val GateNllE4PerBigram = 34200L

  private[graft] def lmSketchModel(s: SparkSession, d: String): graft.plans.LmSketchModel =
    Memo.value(s, d, "lmSketchModel") {
      val bc = docs(s, d).select(TextOps.tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 2)
        .select(explode(expr(
          "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1)," +
            " (a, b) -> struct(a AS w1, b AS w2))")).as("b"))
        .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .agg(count(lit(1)).as("c_ab"))
      graft.text.LmSketch.learn(bc, unigramCounts(s, d))
    }

  def lmGateSketch(s: SparkSession, d: String): DataFrame = {
    val model = lmSketchModel(s, d)
    val admitExact = col("nll_sum_e4") <= col("n_bg") * lit(GateNllE4PerBigram)
    val admitSketch = col("nll_sketch_e4") <= col("n_bg") * lit(GateNllE4PerBigram)
    val sk = docs(s, d).select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"),
        graft.plans.BigramNllSketch(col("t"), model).as("nll_sketch_e4"))
    lmScore(s, d).join(sk, Seq("doc_id"))
      .select(col("doc_id"), col("n_bg"), col("nll_sum_e4"), col("mean_nll"),
        when(admitExact, 1L).otherwise(0L).as("admit_exact"),
        when(col("nll_sketch_e4") <= col("nll_sum_e4"), 1L).otherwise(0L).as("sketch_le"),
        when(admitExact && !admitSketch, 0L).otherwise(1L).as("gate_superset"))
      .orderBy(col("doc_id"))
  }

  private val lmGateSketchSql =
    s"""SELECT doc_id, n_bg, nll_sum_e4, mean_nll,
       |  CAST(CASE WHEN nll_sum_e4 <= n_bg * $GateNllE4PerBigram THEN 1 ELSE 0 END AS BIGINT)
       |    AS admit_exact,
       |  CAST(1 AS BIGINT) AS sketch_le,
       |  CAST(1 AS BIGINT) AS gate_superset
       |FROM ($lmScoreCoreSql)
       |ORDER BY doc_id""".stripMargin

  // ========================================================================
  // curate_report_lm — attrition for the LM-gated production funnel:
  // per source, corpus total → full-funnel survivors (every heuristic
  // gate + decontamination + dedup) → LM-gate survivors. The
  // observability completion for pipeline_curate_lm — before flipping
  // the LM gate on, a pipeline owner reads exactly this to see what
  // the new stage would drop and from which feeds. Counts are exact
  // integers; the funnel and LM relations are the SAME shared cores
  // the gated pipeline runs.
  // ========================================================================
  def curateReportLm(s: SparkSession, d: String): DataFrame = {
    val total = docs(s, d).groupBy(col("source")).agg(count(lit(1)).as("n_total"))
    val full = pipelineCurateFullCore(s, d)
      .groupBy(col("source")).agg(count(lit(1)).as("n_full"))
    val lm = pipelineCurateLmCore(s, d)
      .groupBy(col("source")).agg(count(lit(1)).as("n_lm"))
    total.join(full, Seq("source"), "left").join(lm, Seq("source"), "left")
      .select(col("source"), col("n_total"),
        coalesce(col("n_full"), lit(0L)).as("n_full"),
        coalesce(col("n_lm"), lit(0L)).as("n_lm"))
      .orderBy(col("source"))
  }

  // lazy: pipelineCurateFullCoreSql initializes later in the object
  private lazy val curateReportLmSql =
    s"""$pipelineCurateFullCoreSql,
       |lmx AS (SELECT * FROM ($lmScoreCoreSql)),
       |gated AS (
       |  SELECT pcf.doc_id, pcf.source
       |  FROM pcf LEFT JOIN lmx ON lmx.doc_id = pcf.doc_id
       |  WHERE lmx.nll_sum_e4 IS NULL OR lmx.nll_sum_e4 <= lmx.n_bg * $GateNllE4PerBigram),
       |tot AS (SELECT source, count(*) AS n_total FROM documents GROUP BY source),
       |ff AS (SELECT source, count(*) AS n_full FROM pcf GROUP BY source),
       |gg AS (SELECT source, count(*) AS n_lm FROM gated GROUP BY source)
       |SELECT tot.source, n_total,
       |  CAST(coalesce(n_full, 0) AS BIGINT) AS n_full,
       |  CAST(coalesce(n_lm, 0) AS BIGINT) AS n_lm
       |FROM tot LEFT JOIN ff ON ff.source = tot.source
       |         LEFT JOIN gg ON gg.source = tot.source
       |ORDER BY tot.source""".stripMargin

  // ========================================================================
  // lm_score_incremental — the continuous-ingestion shape of lm_score:
  // score an ingest INCREMENT (doc_id % 3 = 0, the dedup_incremental
  // split convention) against a FROZEN bigram LM trained only on the
  // EXISTING corpus slice — how LM quality filtering actually deploys
  // (CCNet scores web crawls against a reference LM trained earlier;
  // retraining per batch would let drifting junk rescore itself as
  // normal). Unseen events degrade gracefully under the same add-one
  // smoothing: an unseen bigram keeps c_ab = 0 (NLL = ln(c_a + V)), an
  // unseen head word keeps c_a = 0 (NLL = ln(V)); the reported
  // `oov_bg` count (bigrams the frozen LM never saw) is the
  // distribution-drift signal a continuous pipeline alerts on.
  //
  // Same exactness contract as lm_score (per-bigram quantized integer
  // nats). Scale: the LM relations aggregate the EXISTING slice once;
  // everything keyed by the increment is O(increment); left joins are
  // token-key equi-joins; V is one broadcast row.
  // ========================================================================
  def lmScoreIncremental(s: SparkSession, d: String): DataFrame = {
    val oldToks = docs(s, d).filter(col("doc_id") % 3 =!= 0)
      .select(explode(TextOps.tokens(col("text"))).as("w"))
    val uniO = oldToks.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val vocab = uniO.agg(count(lit(1)).as("v_size"))
    val oldBg = docs(s, d).filter(col("doc_id") % 3 =!= 0)
      .select(TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(expr(
        "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1)," +
          " (a, b) -> struct(a AS w1, b AS w2))")).as("b"))
      .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2")).agg(count(lit(1)).as("c_ab"))
    val newBg = docs(s, d).filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1)," +
          " (a, b) -> struct(a AS w1, b AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    newBg
      .join(oldBg, Seq("w1", "w2"), "left")
      .join(uniO.select(col("w").as("w1"), col("c").as("c_a")), Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        round(log((coalesce(col("c_a"), lit(0L)) + col("v_size")).cast("double")
          / (coalesce(col("c_ab"), lit(0L)) + lit(1L))) * lit(LmScale))
          .cast("long").as("nll_e4"),
        when(col("c_ab").isNull, 1L).otherwise(0L).as("oov"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bg"), sum(col("nll_e4")).as("nll_sum_e4"),
        sum(col("oov")).as("oov_bg"))
      .select(col("doc_id"), col("n_bg"), col("nll_sum_e4"), col("oov_bg"),
        (expr(ExactRound.spark("nll_sum_e4", "n_bg")).cast("double")
          / lit(LmScale)).as("mean_nll"))
      .orderBy(col("doc_id"))
  }

  private val lmScoreIncrementalSql =
    s"""WITH oldt AS (
       |  SELECT regexp_extract_all(text, '\\S+') AS t FROM documents WHERE doc_id % 3 <> 0),
       |uc AS (
       |  SELECT w, count(*) AS c
       |  FROM (SELECT unnest(t) AS w FROM oldt) GROUP BY w),
       |v AS (SELECT count(*) AS v_size FROM uc),
       |obc AS (
       |  SELECT w1, w2, count(*) AS c_ab FROM (
       |    SELECT unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
       |      unnest(list_transform(range(1, len(t)), i -> t[i + 1])) AS w2
       |    FROM oldt WHERE len(t) >= 2)
       |  GROUP BY w1, w2),
       |nbg AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
       |    unnest(list_transform(range(1, len(t)), i -> t[i + 1])) AS w2
       |  FROM (SELECT doc_id, regexp_extract_all(text, '\\S+') AS t
       |        FROM documents WHERE doc_id % 3 = 0)
       |  WHERE len(t) >= 2),
       |nll AS (
       |  SELECT nbg.doc_id,
       |    CAST(round(ln((coalesce(uc.c, 0) + v.v_size)::DOUBLE
       |      / (coalesce(obc.c_ab, 0) + 1)) * 10000.0) AS BIGINT) AS nll_e4,
       |    CASE WHEN obc.c_ab IS NULL THEN 1 ELSE 0 END AS oov
       |  FROM nbg LEFT JOIN obc ON obc.w1 = nbg.w1 AND obc.w2 = nbg.w2
       |           LEFT JOIN uc ON uc.w = nbg.w1, v)
       |SELECT doc_id, count(*) AS n_bg,
       |  CAST(sum(nll_e4) AS BIGINT) AS nll_sum_e4,
       |  CAST(sum(oov) AS BIGINT) AS oov_bg,
       |  CAST(${ExactRound.duck("CAST(sum(nll_e4) AS BIGINT)", "count(*)")} AS DOUBLE)
       |    / 10000.0 AS mean_nll
       |FROM nll GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ========================================================================
  // corpus_length_hist — the log2-bucketed document-length profile a
  // corpus report leads with (every pre-training data card publishes
  // one): per power-of-two length bucket, the doc count, character
  // mass, and bucket extrema. The one-glance view of truncation risk
  // (mass near the context limit) and fragment pollution (mass in the
  // shortest buckets). Exact integers everywhere except floor(log2 n)
  // itself, whose argument is an exact integer — libm log2 is exact at
  // powers of two and floor absorbs everything between, so bucket
  // boundaries are engine-stable. One map-side-combined agg.
  // ========================================================================
  def corpusLengthHist(s: SparkSession, d: String): DataFrame =
    docs(s, d).filter(col("n_chars") > 0)
      .groupBy(floor(log2(col("n_chars"))).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
        min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
      .orderBy(col("bucket"))

  private val corpusLengthHistSql =
    """SELECT CAST(floor(log2(n_chars)) AS BIGINT) AS bucket,
      |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
      |FROM documents WHERE n_chars > 0
      |GROUP BY 1 ORDER BY bucket""".stripMargin

  // ========================================================================
  // data_card — the per-source corpus report every training-data release
  // ships (the "data card": composition, length profile, language mix,
  // quality distribution, duplication and contamination rates — e.g.
  // Gebru et al. arXiv:1803.09010 datasheets; every LLM data paper
  // publishes this table). One row per source: doc/char/token totals,
  // fixed char-length bands, the predicted language mix (the lang_id
  // heuristic — what a pipeline has when truth labels don't exist),
  // decile-band counts of the text_quality composite in integer 1e-6
  // units (band = q_e6 div 10⁵, clamped to 9 — fixed bands of the
  // score's [0,1] range, exactly reproducible), the floor-division mean
  // quality, near-dup incidence (docs in any verified LSH pair), and
  // contamination incidence (docs sharing a 4-shingle with the held-out
  // benchmark slice; the benchmark docs themselves are not corpus and
  // count 0). Rates are exact-integer parts-per-million (n·10⁶ div
  // n_docs) so the whole row hashes as integers.
  //
  // Scale: ONE documents scan carries every per-row signal (tokens,
  // stopword/distinct counts, language, quality — all codegen
  // projections); near-dup membership and contamination hits are the
  // EXISTING persisted relations broadcast onto that scan (no corpus
  // re-shuffle); the per-source rollup is one map-side-combined agg.
  // ========================================================================
  /** The data-card per-row projection + membership joins — factored so
    * the BATCH query and the STREAMING twin
    * ([[graft.streaming.StreamingCurate.dataCard]]) run the identical
    * expressions over identical relations. `docsDf` needs (doc_id,
    * source, n_chars, text); `dup`/`contam` are (doc_id, is_dup/
    * is_contam) membership relations, broadcast (stream-static join on
    * the streaming side).
    */
  private[graft] def dataCardRows(docsDf: DataFrame, dup: DataFrame,
                                  contam: DataFrame): DataFrame =
    docsDf
      .select(col("doc_id"), col("source"), col("n_chars").cast("long").as("n_chars"),
        col("text"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("source"), col("n_chars"),
        size(col("toks")).cast("long").as("n"),
        TextOps.wordSetCount(col("toks"), enStop).cast("long").as("n_stop"),
        TextOps.distinctCount(col("toks")).as("n_dist"),
        TextOps.langId(col("toks"), col("text")).as("lang_pred"))
      .withColumn("q_e6", when(col("n") > 0,
        expr(QualityE6Expr))
        .otherwise(lit(0L)))
      .withColumn("q_band", least(expr("q_e6 div 100000"), lit(9L)))
      // NO broadcast hint: at bench scale the memberships are small and
      // statistics pick a broadcast join on their own (plan-guarded); at
      // 100 TB near-dup membership is dup-rate x corpus — corpus-scale —
      // and a forced broadcast would OOM every executor. Size-based
      // planning (plus AQE's runtime re-plan) is the correct contract.
      .join(dup, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")

  /** The per-source COUNTER rollup over [[dataCardRows]] output — every
    * column an exact-integer SUM (q_sum_e6 still present), so two
    * counter relations over disjoint doc slices MERGE by addition into
    * exactly the full-corpus counters. The additivity is what makes the
    * incremental card possible.
    */
  private[graft] def dataCardCounters(rows: DataFrame): DataFrame = {
    def cnt(cond: Column) = sum(when(cond, 1L).otherwise(0L))
    val aggs: Seq[Column] =
      Seq(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars_total"),
        sum(col("n")).as("n_tokens_total"),
        cnt(col("n_chars") < 256).as("len_lt256"),
        cnt(col("n_chars") >= 256 && col("n_chars") < 1024).as("len_256_1023"),
        cnt(col("n_chars") >= 1024 && col("n_chars") < 4096).as("len_1024_4095"),
        cnt(col("n_chars") >= 4096).as("len_ge4096")) ++
      Seq("de", "en", "es", "fr", "zh").map(l => cnt(col("lang_pred") === l).as(s"n_$l")) ++
      (0 to 9).map(i => cnt(col("q_band") === i).as(s"q_d$i")) ++
      Seq(sum(col("q_e6")).as("q_sum_e6"),
        cnt(col("is_dup") === 1L).as("n_dup"),
        cnt(col("is_contam") === 1L).as("n_contam"))
    rows.groupBy(col("source")).agg(aggs.head, aggs.tail: _*)
  }

  /** Derived report columns over a counter relation (rates in exact ppm,
    * floor-division mean) — the publication step.
    */
  private[graft] def dataCardFinish(counters: DataFrame): DataFrame =
    counters.select(col("*"),
        expr("q_sum_e6 div n_docs").as("q_mean_e6"),
        expr("(n_dup * 1000000) div n_docs").as("dup_rate_e6"),
        expr("(n_contam * 1000000) div n_docs").as("contam_rate_e6"))
      .drop("q_sum_e6")

  /** The data-card per-source rollup over [[dataCardRows]] output — the
    * single definition of every report column (shared batch/streaming).
    */
  private[graft] def dataCardAgg(rows: DataFrame): DataFrame =
    dataCardFinish(dataCardCounters(rows))

  /** The dup-membership relation the data card screens against. */
  private[graft] def dataCardDup(s: SparkSession, d: String): DataFrame = {
    val vp = DedupQueries.verifiedPairs(s, d)
    vp.select(col("id_a").as("doc_id"))
      .union(vp.select(col("id_b").as("doc_id"))).distinct()
      .select(col("doc_id"), lit(1L).as("is_dup"))
  }

  /** The contamination-membership relation the data card screens against. */
  private[graft] def dataCardContam(s: SparkSession, d: String): DataFrame =
    decontHits(s, d).select(col("doc_id"), lit(1L).as("is_contam"))

  def dataCard(s: SparkSession, d: String): DataFrame =
    dataCardAgg(dataCardRows(docs(s, d), dataCardDup(s, d), dataCardContam(s, d)))
      .orderBy(col("source"))

  // ========================================================================
  // data_card_incremental — the PUBLISHED-CARD UPDATE PATH: the base
  // corpus's counter relation is persisted ONCE as a catalog table (the
  // ann_ivf_persisted build-once contract), and each release scans ONLY
  // the increment slice, aggregates the identical per-row signals, and
  // MERGES by per-source addition — every counter is an exact-integer
  // sum over disjoint doc slices, so the merged card equals the
  // full-corpus data_card BIT-FOR-BIT (the oracle is literally the full
  // card's SQL: passing it PROVES the incremental merge is exact, the
  // dedup_incremental equivalence treatment applied to observability).
  // At 100 TB this is the difference between an O(increment) nightly
  // card refresh and an O(corpus) rescan. Membership relations are the
  // same corpus-wide dup/contamination relations the full card uses —
  // themselves incrementally maintainable (dedup_incremental,
  // scrub_substring_incremental show the shapes).
  // ========================================================================
  private[queries] val CardBaseWhere = "doc_id % 3 <> 0"

  /** The dup/contamination membership relations PERSISTED as catalog
    * tables next to the base counters — the refresh path screens the
    * increment against the published artifacts, not per-session memos
    * (a nightly job restarts its session; the artifacts must outlive
    * it). The same [[Memo.tables]] entries as the IVF index tables.
    */
  private[graft] def dataCardMembershipTables(s: SparkSession, d: String): (String, String) = {
    val suffix = MemoNames.dirSuffix(d)
    def saved(label: String, t: String)(df: => DataFrame): String =
      Memo.tables(s, d, label) { graft.operators.Scale.saveTable(df, t); Seq(t) }.head
    (saved("dataCardDupTable", s"graft_datacard_dup_$suffix")(dataCardDup(s, d)),
      saved("dataCardContamTable", s"graft_datacard_contam_$suffix")(dataCardContam(s, d)))
  }

  private[graft] def dataCardBaseTable(s: SparkSession, d: String): String = {
    val (dupT, conT) = dataCardMembershipTables(s, d)
    Memo.tables(s, d, "dataCardBaseTable") {
      val t = s"graft_datacard_base_${MemoNames.dirSuffix(d)}"
      val base = dataCardCounters(dataCardRows(
        docs(s, d).filter(expr(CardBaseWhere)),
        s.table(dupT), s.table(conT)))
      graft.operators.Scale.saveTable(base, t)
      Seq(t)
    }.head
  }

  def dataCardIncremental(s: SparkSession, d: String): DataFrame = {
    val base = s.table(dataCardBaseTable(s, d))
    val (dupT, conT) = dataCardMembershipTables(s, d)
    val inc = dataCardCounters(dataCardRows(
      docs(s, d).filter(not(expr(CardBaseWhere))),
      s.table(dupT), s.table(conT)))
    val counterCols = base.columns.filter(_ != "source")
    val merged = base.unionByName(inc)
      .groupBy(col("source"))
      .agg(sum(col(counterCols.head)).as(counterCols.head),
        counterCols.tail.map(c => sum(col(c)).as(c)): _*)
    dataCardFinish(merged).orderBy(col("source"))
  }

  private val dataCardSql = {
    def stopHits(lang: String) = {
      val words = TextOps.LangStopwords.toMap.apply(lang)
      s"len(list_filter(toks, t -> t IN (${words.map(w => s"'$w'").mkString(",")})))"
    }
    val bandCols = (0 to 9)
      .map(i => s"CAST(sum(CASE WHEN q_band = $i THEN 1 ELSE 0 END) AS BIGINT) AS q_d$i")
      .mkString(",\n  ")
    s"""WITH ${DedupQueries.lshPipelineCtes},
       |vp AS (SELECT id_a, id_b FROM ver
       |       WHERE jaccard >= ${graft.dedup.Dedup.LshParams.Threshold}),
       |dup AS (SELECT DISTINCT doc_id FROM
       |        (SELECT id_a AS doc_id FROM vp UNION ALL SELECT id_b FROM vp)),
       |$decontCtesSql,
       |rows0 AS (
       |  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
       |    CAST(len(toks) AS BIGINT) AS n,
       |    CAST(len(list_filter(toks, t -> t IN ($EnStopSqlList))) AS BIGINT)
       |      AS n_stop,
       |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_dist,
       |    ${stopHits("de")} AS s_de, ${stopHits("en")} AS s_en,
       |    ${stopHits("es")} AS s_es, ${stopHits("fr")} AS s_fr,
       |    ${TextOps.isZhSql("text")} AS is_zh
       |  FROM (SELECT doc_id, source, n_chars, text,
       |          regexp_extract_all(text, '\\S+') AS toks FROM documents)),
       |rows1 AS (
       |  SELECT doc_id, source, n_chars, n,
       |    CASE WHEN is_zh THEN 'zh'
       |         WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
       |         WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
       |         WHEN s_es >= s_fr THEN 'es'
       |         ELSE 'fr' END AS lang_pred,
       |    CASE WHEN n > 0
       |      THEN $QualityE6Sql
       |      ELSE 0 END AS q_e6
       |  FROM rows0),
       |rows2 AS (
       |  SELECT r.*, least(q_e6 // 100000, 9) AS q_band,
       |    CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_dup,
       |    CASE WHEN hits.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_contam
       |  FROM rows1 r LEFT JOIN dup ON dup.doc_id = r.doc_id
       |               LEFT JOIN hits ON hits.doc_id = r.doc_id),
       |agg AS (
       |  SELECT source,
       |  count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
       |  CAST(sum(n) AS BIGINT) AS n_tokens_total,
       |  CAST(sum(CASE WHEN n_chars < 256 THEN 1 ELSE 0 END) AS BIGINT) AS len_lt256,
       |  CAST(sum(CASE WHEN n_chars >= 256 AND n_chars < 1024 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS len_256_1023,
       |  CAST(sum(CASE WHEN n_chars >= 1024 AND n_chars < 4096 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS len_1024_4095,
       |  CAST(sum(CASE WHEN n_chars >= 4096 THEN 1 ELSE 0 END) AS BIGINT) AS len_ge4096,
       |  CAST(sum(CASE WHEN lang_pred = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS n_de,
       |  CAST(sum(CASE WHEN lang_pred = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
       |  CAST(sum(CASE WHEN lang_pred = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS n_es,
       |  CAST(sum(CASE WHEN lang_pred = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS n_fr,
       |  CAST(sum(CASE WHEN lang_pred = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS n_zh,
       |  $bandCols,
       |  CAST(sum(q_e6) AS BIGINT) AS q_sum_e6,
       |  CAST(sum(is_dup) AS BIGINT) AS n_dup,
       |  CAST(sum(is_contam) AS BIGINT) AS n_contam
       |  FROM rows2 GROUP BY source)
       |SELECT source, n_docs, n_chars_total, n_tokens_total,
       |  len_lt256, len_256_1023, len_1024_4095, len_ge4096,
       |  n_de, n_en, n_es, n_fr, n_zh,
       |  ${(0 to 9).map(i => s"q_d$i").mkString(", ")},
       |  n_dup, n_contam,
       |  q_sum_e6 // n_docs AS q_mean_e6,
       |  (n_dup * 1000000) // n_docs AS dup_rate_e6,
       |  (n_contam * 1000000) // n_docs AS contam_rate_e6
       |FROM agg
       |ORDER BY source""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "corpus_length_hist" -> (corpusLengthHist _),
    "data_card" -> (dataCard _),
    "data_card_incremental" -> (dataCardIncremental _),
    "release_manifest" -> (releaseManifest _),
    "lm_gate_sketch" -> (lmGateSketch _),
    "curate_report_lm" -> (curateReportLm _),
    "lm_score_incremental" -> (lmScoreIncremental _),
    "text_entropy" -> (textEntropy _),
    "lm_score" -> (lmScore _),
    "collocations" -> (collocations _),
    "text_rarity" -> (textRarity _),
    "pipeline_curate_full" -> (pipelineCurateFull _),
    "pipeline_curate_lm" -> (pipelineCurateLm _),
    "pipeline_curate" -> (pipelineCurate _),
    "text_repetition" -> (textRepetition _),
    "decontaminate" -> (decontaminate _),
    "decontaminate_bloom" -> (decontaminateBloom _),
    "curate_report" -> (curateReport _),
    "text_scrub" -> (textScrub _),
    "scrub_count" -> (scrubCount _),
    "text_stats" -> (textStats _),
    "lang_id" -> (langId _),
    "token_count" -> (tokenCount _),
    "doc_fingerprint" -> (docFingerprint _),
    "text_quality" -> (textQuality _),
  )

  val oracleSql: Map[String, String] = Map(
    "lm_gate_sketch" -> lmGateSketchSql,
    "corpus_length_hist" -> corpusLengthHistSql,
    "data_card" -> dataCardSql,
    "data_card_incremental" -> dataCardSql,
    "release_manifest" -> releaseManifestSql,
    "curate_report_lm" -> curateReportLmSql,
    "lm_score_incremental" -> lmScoreIncrementalSql,
    "text_entropy" -> textEntropySql,
    "lm_score" -> lmScoreSql,
    "collocations" -> collocationsSql,
    "text_rarity" -> textRaritySql,
    "pipeline_curate_full" -> pipelineCurateFullSql,
    "pipeline_curate_lm" -> pipelineCurateLmSql,
    "pipeline_curate" -> pipelineCurateSql,
    "text_repetition" -> textRepetitionSql,
    "decontaminate" -> decontaminateSql,
    "decontaminate_bloom" -> decontaminateBloomSql,
    "curate_report" -> curateReportSql,
    "text_scrub" -> textScrubSql,
    "scrub_count" -> scrubCountSql,
    // the incremental refresh's oracle IS the full plan's SQL — passing
    // it proves the O(increment) displacement-correct merge exact
    // (the data_card_incremental treatment)
    // the full report's SQL IS the incremental oracle: equality proves
    // the base+increment merge exact (the data_card_incremental treatment)
    "text_stats" -> textStatsSql,
    "lang_id" -> langIdSql,
    "token_count" -> tokenCountSql,
    "doc_fingerprint" -> docFingerprintSql,
    "text_quality" -> textQualitySql,
  )
}
