package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** The streaming curation funnel — the continuous counterpart of the
  * batch `pipeline_curate` flagship (and the `use_streaming` promise the
  * reference declared but never built, config.py:89-90): lang-ID →
  * quality gate → token bounds → exact-dedup keep-first over a document
  * STREAM, admitting each surviving document exactly once.
  *
  * Composition, not reimplementation: the stateless feature/filter
  * stage is [[graft.queries.TextQueries.curateFeatures]] — the SAME
  * Column expressions the batch funnel runs (per-row projections work
  * unchanged on a streaming frame), so the two paths cannot drift. Only
  * the dedup step differs: batch uses a window over fp; streaming keys
  * state by fp and passes through the FIRST arrival (within one
  * micro-batch, the smallest doc_id — matching the batch keeper
  * tie-break; across micro-batches the earlier batch wins, true
  * streaming semantics).
  *
  * Scale/state: state per distinct surviving fingerprint is ONE long
  * (the keeper id) — the filters run BEFORE the stateful stage, so
  * rejected documents never touch state, and the fp keying
  * hash-partitions across executors like the batch window's
  * `hashpartitioning(fp)`. `ttl` evicts idle fingerprints
  * (processing-time timeout) under the same retention contract as
  * [[StreamingDedup.keepFirst]].
  */
object StreamingCurate {

  case class CurateDoc(fp: String, doc_id: Long, source: String,
                       n_re: Long, score: Double)

  /** Wire the funnel over a streaming document frame (`doc_id`,
    * `source`, `text` columns): emits one (doc_id, source, n_re, score)
    * row per admitted document — the streaming rendering of the batch
    * funnel's survivor set. Admission is [[KeepFirst.passFirstFn]]: per
    * fingerprint the first-ever arrival passes and every later duplicate,
    * keeper redeliveries included, is swallowed. Pass `ttl` (e.g.
    * `"1 hour"`) to bound per-fingerprint state on unbounded corpora.
    */
  def curate(spark: SparkSession, docs: DataFrame,
             ttl: Option[String] = None): DataFrame = {
    import spark.implicits._
    graft.queries.TextQueries.curateFeatures(docs)
      .select(col("fp"), col("doc_id"), col("source"), col("n_re"), col("score"))
      .as[CurateDoc]
      .groupByKey(_.fp)
      .flatMapGroupsWithState(OutputMode.Append, KeepFirst.timeout(ttl))(
        KeepFirst.passFirstFn(ttl, (_: CurateDoc).doc_id))
      .drop("fp")
  }

  /** Stateless Gopher-rule admission on a document stream: evaluate
    * the per-doc rule flags ([[graft.queries.TextEval.qualityRuleFlags]]
    * — the SAME scan-side expressions the batch `quality_rules_report`
    * aggregates) and pass through docs that fail no rule. ZERO state —
    * every rule input is a codegen projection of the row's own text,
    * so the gate adds no store footprint and no watermark; it slots in
    * front of any stateful stage (the cheap-gates-first ordering on a
    * stream).
    */
  def rulesGate(spark: SparkSession, docs: DataFrame): DataFrame =
    graft.queries.TextEval.qualityRuleFlags(docs)
      .filter(col("pass_all") === 1)
      .drop("f_nword", "f_wordlen", "f_symbol", "f_stop", "f_alpha", "pass_all")

  /** CCNet bucket assignment as a CONTINUOUS stage, ZERO state: each
    * arriving document is scored by the Count-Min bigram model riding
    * the plan as one reference — the SAME
    * [[graft.queries.TextLm.sketchScore]] projection the
    * threshold learner ran batch-side (one definition, so the scoring
    * sides cannot drift) — and assigned head/middle/tail with two
    * comparisons against its language's broadcast thresholds
    * ([[graft.queries.TextLm.ccnetSketchThresholds]] — ≤|langs|
    * rows, a stream-static broadcast join, no state store). Because
    * the batch cut is value-monotone (the value-group contract), an
    * in-corpus doc's stream bucket equals its batch sketch-side bucket
    * exactly (StreamingSpec). Docs in a lang absent from the threshold
    * relation are unscorable — emitted with bucket 'tail' (the
    * conservative CCNet action: never promote what the model has not
    * seen). Emits (doc_id, lang, mean_nll_e4, bucket).
    */
  def ccnetAssign(spark: SparkSession, docs: DataFrame,
                  model: graft.plans.LmSketchModel,
                  thresholds: DataFrame): DataFrame = {
    graft.queries.TextLm.sketchScore(docs, model)
      .join(broadcast(thresholds), Seq("lang"), "left")
      .withColumn("bucket",
        when(col("t_head").isNotNull && col("mean_nll_e4") <= col("t_head"), "head")
          .when(col("t_mid").isNotNull && col("mean_nll_e4") <= col("t_mid"), "middle")
          .otherwise("tail"))
      .select(col("doc_id"), col("lang"), col("mean_nll_e4"), col("bucket"))
  }

  case class CurateFullDoc(fp: String, doc_id: Long, source: String,
                           n_re: Long, score: Double, top2_frac: Double)

  /** The ALL-GATES funnel over a document stream — the continuous
    * counterpart of the batch `pipeline_curate_full`: benchmark
    * exclusion + lang/quality/token gates + repetition cap run as the
    * SAME shared projection ([[graft.queries.TextQueries
    * .curateFullFeatures]], one scan, per-row only), the contamination
    * screen arrives as a STATIC relation of banned doc ids (in
    * production: precomputed from the benchmark corpus — it depends
    * only on the benchmark, so it is naturally static) anti-joined
    * stream-static, and admission is the usual keyed keep-first with
    * one long of state per surviving fingerprint.
    */
  def curateFull(spark: SparkSession, docs: DataFrame,
                 contaminatedIds: DataFrame,
                 ttl: Option[String] = None): DataFrame = {
    import spark.implicits._
    graft.queries.TextQueries.curateFullFeatures(docs)
      .join(contaminatedIds.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("fp"), col("doc_id"), col("source"), col("n_re"),
        col("score"), col("top2_frac"))
      .as[CurateFullDoc]
      .groupByKey(_.fp)
      .flatMapGroupsWithState(OutputMode.Append, KeepFirst.timeout(ttl))(
        KeepFirst.passFirstFn(ttl, (_: CurateFullDoc).doc_id))
      .drop("fp")
  }

  /** [[curateFull]] with the contamination screen as a Bloom SKETCH of
    * the benchmark's shingles instead of a stream-static anti-join on a
    * banned-id relation: the probe ([[graft.plans.BloomArrayHits]] over
    * the doc's decontamination grams, the same gram definition the
    * batch screens hash) rides the stateless projection as a plan
    * literal — ZERO per-batch join work, no broadcast rebuilt per
    * micro-batch, no contamination relation shipped to executors at
    * all. At 100 TB-of-benchmark scale the bits stay ~1.8 MB per 10⁶
    * shingles while an id relation needs the whole precomputed screen.
    *
    * Error contract (one-sided, documented): the sketch NEVER misses a
    * truly contaminated document (bloom hit count ≥ exact hit count),
    * so everything the exact screen rejects stays rejected; at the
    * configured fpp it may additionally reject a bounded fraction of
    * clean documents — the admitted set is a SUBSET of the exact
    * path's, never a superset (StreamingSpec pins exactly this against
    * the batch funnel).
    */
  def curateFullBloom(spark: SparkSession, docs: DataFrame,
                      bloom: org.apache.spark.util.sketch.BloomFilter,
                      ttl: Option[String] = None): DataFrame = {
    import spark.implicits._
    // the probe precedes the feature projection (which drops `text`);
    // every gate is per-row, so ordering cannot change the admitted set
    graft.queries.TextQueries.curateFullFeatures(
        docs.filter(graft.plans.BloomArrayHits(
          graft.queries.TextQueries.decontGramsCol(col("text")), bloom) === 0L))
      .select(col("fp"), col("doc_id"), col("source"), col("n_re"),
        col("score"), col("top2_frac"))
      .as[CurateFullDoc]
      .groupByKey(_.fp)
      .flatMapGroupsWithState(OutputMode.Append, KeepFirst.timeout(ttl))(
        KeepFirst.passFirstFn(ttl, (_: CurateFullDoc).doc_id))
      .drop("fp")
  }

  /** The LM-perplexity admission gate as a CONTINUOUS stage: each
    * arriving document is scored by the Count-Min bigram model riding
    * the plan as one reference ([[graft.plans.BigramNllSketch]] — the
    * identical expression the batch `lm_gate_sketch` query runs, so the
    * admitted sets are equal by construction, asserted in
    * StreamingSpec) and admitted iff its mean NLL is within the
    * threshold. STATELESS — the model is a plan literal like
    * curateFullBloom's sketch, so there is no state store at all, no
    * per-batch join, and the one-sided contract carries over: the
    * stream admits a SUPERSET of the exact batch gate — sketch error
    * can only let junk through, never drop good data. Emits
    * (doc_id, n_bg, nll_sketch_e4).
    */
  def curateLm(spark: SparkSession, docs: DataFrame,
               model: graft.plans.LmSketchModel,
               gateNllE4PerBigram: Long = 34200L): DataFrame = {
    val toks = graft.text.TextOps.tokens(col("text"))
    docs
      .withColumn("t", toks)
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), (size(col("t")) - 1).cast("long").as("n_bg"),
        graft.plans.BigramNllSketch(col("t"), model).as("nll_sketch_e4"))
      .filter(col("nll_sketch_e4") <= col("n_bg") * gateNllE4PerBigram)
  }

  /** The per-source data-card report as a CONTINUOUS aggregation: the
    * release observability the batch `data_card` query emits, kept live
    * while a corpus streams in. Per-row signals (tokens, quality,
    * language) are the IDENTICAL codegen projections the batch query
    * runs ([[graft.queries.TextQueries.dataCardRows]] — one definition,
    * zero drift); the dup/contamination memberships join STREAM-STATIC
    * (broadcast, learned batch-side like curateFull's contaminated set);
    * the rollup is Structured Streaming's native stateful aggregation in
    * complete mode — state is O(sources × counters), a few dozen longs
    * per source, regardless of how many documents stream through.
    * StreamingSpec pins the final snapshot EQUAL to the batch data_card
    * on the same corpus.
    *
    * `docs` needs (doc_id, source, n_chars, text) — n_chars rides the
    * stream so the length bands agree with the batch table's column.
    */
  def dataCard(spark: SparkSession, docs: DataFrame,
               dup: DataFrame, contam: DataFrame): DataFrame =
    graft.queries.TextQueries.dataCardAgg(
      graft.queries.TextQueries.dataCardRows(docs, dup, contam))
}
