package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ExactRound
import graft.sources.Tables
import graft.text.TextOps

/** Packing / training-order surface of the text family: token chunking,
  * fixed-slot and length-bucketed sequence packing, the end-to-end pack
  * pipeline, subword tokenization, seeded shuffling, curriculum and
  * epoch planning, and token-balanced sharding. Split out of
  * [[TextQueries]] (r18, file-size maintainability only): registered
  * under the SAME "text" family in [[Registry]] — execution order,
  * cache-clear boundaries, and family totals are unchanged. Shared
  * helpers (curation features, quality formulas) stay in
  * [[TextQueries]] and are referenced one-directionally from here, so
  * no object-initialization cycle can form.
  */
object TextPack {
  private type Q = (SparkSession, String) => DataFrame
  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)
  // ========================================================================
  // chunk_tokens — fixed-size overlapping token windows per document,
  // the standard pre-training prep step (context-window packing input):
  // chunk i covers tokens [i·S+1, i·S+C] (C = 32, stride S = 24, i.e.
  // 8-token overlap); every doc yields ≥ 1 chunk, the last chunk is the
  // ragged remainder. Scale shape: one scan, one per-row tokenizer run
  // (EvalOnce-pinned against InferFiltersFromGenerate's synthesized
  // filters), one explode whose fan-out is n/S — no shuffle except the
  // presentation sort. The chunk text is rebuilt with single spaces
  // (canonical whitespace), which is what a packing stage feeds the
  // tokenizer anyway.
  // ========================================================================
  private[queries] val ChunkC = 32
  private[queries] val ChunkS = 24

  /** The chunker's STATELESS per-doc stage (everything but the batch
    * presentation sort) — pure projections + one bounded explode, so it
    * runs UNCHANGED on a document stream (parity asserted in
    * StreamingSpec): curate → chunk is the continuous training-data
    * feed. Same cannot-drift contract as [[TextQueries.curateFeatures]].
    */
  def chunkTokensOn(docsDf: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val k = keep.map(col)
    docsDf
      .select(col("doc_id") +: graft.plans.EvalOnce(TextOps.tokens(col("text"))).as("toks") +: k: _*)
      .withColumn("n", size(col("toks")).cast("long"))
      .withColumn("nc", when(col("n") <= ChunkC, lit(1L))
        .otherwise(ceil((col("n") - ChunkC) / lit(ChunkS.toDouble)).cast("long") + 1L))
      .select(col("doc_id") +: col("toks") +: col("n") +:
        explode(sequence(lit(0L), col("nc") - 1L)).as("chunk_idx") +: k: _*)
      .select(col("doc_id") +: col("chunk_idx") +:
        array_join(slice(col("toks"), (col("chunk_idx") * ChunkS + 1L).cast("int"),
          lit(ChunkC)), " ").as("chunk_text") +:
        least(lit(ChunkC.toLong), col("n") - col("chunk_idx") * ChunkS).as("n_tokens") +: k: _*)
  }

  def chunkTokens(s: SparkSession, d: String): DataFrame =
    chunkTokensOn(docs(s, d)).orderBy(col("doc_id"), col("chunk_idx"))

  private val chunkTokensSql =
    s"""WITH t AS (
       |  SELECT doc_id, regexp_extract_all(text, '\\S+') AS w,
       |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, w, n,
       |    CASE WHEN n <= $ChunkC THEN 1
       |         ELSE CAST(ceil((n - $ChunkC) / $ChunkS.0) AS BIGINT) + 1 END AS nc
       |  FROM t),
       |x AS (
       |  SELECT doc_id, w, n, unnest(range(nc)) AS i FROM c)
       |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
       |  array_to_string(list_slice(w, i * $ChunkS + 1, i * $ChunkS + $ChunkC), ' ') AS chunk_text,
       |  CAST(least($ChunkC, n - i * $ChunkS) AS BIGINT) AS n_tokens
       |FROM x
       |ORDER BY doc_id, chunk_idx""".stripMargin

  // ========================================================================
  // pack_sequences — concat-and-cut sequence packing, the step after
  // chunking that actually fills the training context window: per
  // source shard, documents (plus one EOD separator token each) are
  // concatenated in doc_id order and cut into fixed L=256-token
  // sequences; docs straddle cuts. Reports per (source, seq) how many
  // docs it touches and its token count (= L everywhere but each
  // shard's ragged tail — the packing-efficiency signal).
  //
  // Scale shape: packing is PER SHARD (source), so there is no global
  // order dependency — one hashpartitioning(source) exchange serves
  // both the offset cumsum window and (being a superset clustering)
  // the (source, seq_id) aggregation; the explode fan-out is
  // ceil(n_tok/L)+1 per doc. At 100 TB each shard packs
  // independently — the shape a 1000-executor run needs. Plan-guarded
  // to exactly one hash exchange.
  // ========================================================================
  private val SeqLen = 256

  /** The packer parameterized over its token denominator: `nTok` is the
    * per-document token count Column (+1 EOD separator applied here).
    * `pack_sequences` feeds the whitespace count; the subword variant
    * feeds [[graft.plans.SubwordCount]] — the packing algebra (cumsum
    * offsets, straddle explode, per-sequence aggregation) is written
    * once.
    */
  /** The packing OFFSET algebra — the (+1 EOD) token projection and the
    * per-shard cumsum start offset — as its own relation (source,
    * n_tok, st [, order cols]): ONE definition serving the packer and
    * [[packReport]], so the EOD convention and the shard order cannot
    * silently diverge between what gets packed and what gets priced.
    */
  private def packOffsets(docsDf: DataFrame, nTok: Column,
                          orderBy: Seq[String] = Seq("doc_id")): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(orderBy.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    docsDf
      .select(Seq(col("doc_id"), col("source"), (nTok + 1).cast("long").as("n_tok")) ++
        orderBy.filterNot(Set("doc_id", "source", "n_tok")).map(col): _*)
      .withColumn("st", coalesce(sum(col("n_tok")).over(w), lit(0L)))
  }

  private def packSequencesWith(docsDf: DataFrame, nTok: Column,
                                orderBy: Seq[String] = Seq("doc_id")): DataFrame = {
    packOffsets(docsDf, nTok, orderBy)
      .select(col("source"), col("st"), col("n_tok"),
        explode(sequence(expr(s"st DIV $SeqLen"),
          expr(s"(st + n_tok - 1) DIV $SeqLen"))).as("seq_id"))
      .groupBy(col("source"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(least(col("st") + col("n_tok"), (col("seq_id") + 1L) * SeqLen) -
          greatest(col("st"), col("seq_id") * lit(SeqLen.toLong))).as("n_tokens"))
      .orderBy(col("source"), col("seq_id"))
  }

  def packSequences(s: SparkSession, d: String): DataFrame =
    packSequencesWith(docs(s, d), size(TextOps.tokens(col("text"))))

  /** The packOffsets algebra rendered once for DuckDB — shared by the
    * packer's oracle and pack_report's so the two SQL sides price the
    * identical offsets, mirroring the Spark-side sharing.
    */
  private val packOffsetsCtes =
    s"""t AS (
       |  SELECT doc_id, source,
       |    CAST(len(regexp_extract_all(text, '\\S+')) + 1 AS BIGINT) AS n_tok
       |  FROM documents),
       |o AS (
       |  SELECT source, n_tok,
       |    CAST(coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS st
       |  FROM t)""".stripMargin

  private val packSequencesSql =
    s"""WITH $packOffsetsCtes,
       |e AS (
       |  SELECT source, st, n_tok,
       |    unnest(generate_series(st // $SeqLen, (st + n_tok - 1) // $SeqLen)) AS seq_id
       |  FROM o)
       |SELECT source, CAST(seq_id AS BIGINT) AS seq_id, count(*) AS n_docs,
       |  CAST(sum(least(st + n_tok, (seq_id + 1) * $SeqLen)
       |    - greatest(st, seq_id * $SeqLen)) AS BIGINT) AS n_tokens
       |FROM e GROUP BY source, seq_id
       |ORDER BY source, seq_id""".stripMargin

  // ========================================================================
  // pack_report — packing efficiency + quality per shard, the report a
  // pipeline owner reads before choosing L and the packing policy:
  // per source, sequence count, packed tokens, exact fill_e6 =
  // tokens·10⁶ div (n_seqs·L) (concat-and-cut wastes only the ragged
  // shard tail, so fill quantifies the tail cost of small shards), and
  // the QUALITY price — n_straddle / straddle_ppm, documents whose
  // CONTENT is cut across a sequence boundary (attention sees truncated
  // context for those docs; the doc-boundary-respecting policies trade
  // fill for fewer straddles, and this report prices both sides). The
  // straddle predicate spans the content tokens only, [st, st+n_tok−2]:
  // a doc whose content ends flush at a boundary with only its EOD
  // separator spilling over is NOT truncated and must not count.
  // Derived from the SAME packOffsets algebra as pack_sequences but
  // needs NO explode: one hashpartitioning(source) exchange for the
  // cumsum window, then a map-side-combined agg to |sources| rows.
  // ========================================================================
  def packReport(s: SparkSession, d: String): DataFrame = {
    packOffsets(docs(s, d), size(TextOps.tokens(col("text"))))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(when(col("n_tok") >= 2 &&
            expr(s"st DIV $SeqLen") =!= expr(s"(st + n_tok - 2) DIV $SeqLen"), 1L)
          .otherwise(0L)).as("n_straddle"))
      .withColumn("n_seqs", expr(s"(n_tokens + ${SeqLen - 1}) DIV $SeqLen"))
      .withColumn("fill_e6", expr(
        s"CAST((CAST(n_tokens AS DECIMAL(38,0)) * 1000000) div (n_seqs * $SeqLen) AS BIGINT)"))
      .withColumn("straddle_ppm", expr("(n_straddle * 1000000) div n_docs"))
      .select(col("source"), col("n_docs"), col("n_seqs"), col("n_tokens"),
        col("fill_e6"), col("n_straddle"), col("straddle_ppm"))
      .orderBy(col("source"))
  }

  private val packReportSql =
    s"""WITH $packOffsetsCtes,
       |a AS (
       |  SELECT source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |    CAST(sum(CASE WHEN n_tok >= 2 AND st // $SeqLen <> (st + n_tok - 2) // $SeqLen
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_straddle
       |  FROM o GROUP BY source)
       |SELECT source, n_docs,
       |  (n_tokens + ${SeqLen - 1}) // $SeqLen AS n_seqs, n_tokens,
       |  CAST((n_tokens::HUGEINT * 1000000) // (((n_tokens + ${SeqLen - 1}) // $SeqLen) * $SeqLen)
       |    AS BIGINT) AS fill_e6,
       |  n_straddle,
       |  CAST((n_straddle * 1000000) // n_docs AS BIGINT) AS straddle_ppm
       |FROM a ORDER BY source""".stripMargin

  // ========================================================================
  // pack_buckets — length-bucketed padding packing, the OTHER side of
  // the trade pack_report prices: concat-and-cut fills ~100% but cuts
  // straddle_ppm docs mid-content; bucketed packing pads instead of
  // cutting (ZERO straddles by construction) and this report prices
  // what that costs in fill. Each doc (content tokens + 1 EOD, the
  // pack-family accounting) splits into T div 256 full-length pieces
  // plus one remainder piece routed to the smallest power-of-two bucket
  // that holds it (16..256 — the fixed ladder every production
  // multi-bin packer uses); a bucket-b sequence carries 256 div b
  // pieces, so per (source, bucket): n_seqs = ceil-div of the piece
  // count and exact fill_e6 = tokens·10⁶ div (n_seqs·256). A reader
  // compares fill_e6 here against pack_report's to choose the policy
  // per source.
  //
  // Scale shape: ONE documents scan; the per-doc (bucket, pieces,
  // tokens) contributions are a scan-side 2-row stack (codegen
  // generator, no shuffle), the only movement is the map-side-combined
  // (source, bucket) agg to ≤|sources|·6 rows — NO window, NO join, no
  // per-sequence explosion (the bucket algebra is exact without
  // materializing assignments, the pack_report treatment).
  // ========================================================================
  def packBuckets(s: SparkSession, d: String): DataFrame = {
    val bucketCase =
      "CASE WHEN rem <= 16 THEN 16L WHEN rem <= 32 THEN 32L WHEN rem <= 64 THEN 64L " +
        "WHEN rem <= 128 THEN 128L ELSE 256L END"
    docs(s, d)
      .select(col("source"),
        (size(TextOps.tokens(col("text"))) + 1).cast("long").as("t"))
      .withColumn("rem", expr(s"t % $SeqLen"))
      .selectExpr("source",
        s"stack(2, ${SeqLen}L, t div $SeqLen, (t div $SeqLen) * ${SeqLen}L, " +
          s"$bucketCase, CASE WHEN rem > 0 THEN 1L ELSE 0L END, rem) " +
          "AS (bucket, pieces, toks)")
      .filter(col("pieces") > 0)
      .groupBy(col("source"), col("bucket"))
      .agg(sum(col("pieces")).as("n_pieces"), sum(col("toks")).as("n_tokens"))
      .withColumn("n_seqs", expr(
        s"(n_pieces + ($SeqLen div bucket) - 1) div ($SeqLen div bucket)"))
      .withColumn("fill_e6",
        expr(s"CAST((CAST(n_tokens AS DECIMAL(38,0)) * 1000000) div (n_seqs * $SeqLen) AS BIGINT)"))
      .select(col("source"), col("bucket"), col("n_pieces"), col("n_tokens"),
        col("n_seqs"), col("fill_e6"))
      .orderBy(col("source"), col("bucket"))
  }

  private val packBucketsSql =
    s"""WITH tt AS (
       |  SELECT source,
       |    CAST(len(regexp_extract_all(text, '\\S+')) + 1 AS BIGINT) AS t
       |  FROM documents),
       |pc AS (
       |  SELECT source, CAST($SeqLen AS BIGINT) AS bucket,
       |    t // $SeqLen AS pieces, (t // $SeqLen) * $SeqLen AS toks
       |  FROM tt WHERE t >= $SeqLen
       |  UNION ALL
       |  SELECT source,
       |    CAST(CASE WHEN t % $SeqLen <= 16 THEN 16 WHEN t % $SeqLen <= 32 THEN 32
       |      WHEN t % $SeqLen <= 64 THEN 64 WHEN t % $SeqLen <= 128 THEN 128
       |      ELSE $SeqLen END AS BIGINT),
       |    CAST(1 AS BIGINT), t % $SeqLen
       |  FROM tt WHERE t % $SeqLen > 0),
       |ag AS (
       |  SELECT source, bucket, CAST(sum(pieces) AS BIGINT) AS n_pieces,
       |    CAST(sum(toks) AS BIGINT) AS n_tokens
       |  FROM pc GROUP BY source, bucket)
       |SELECT source, bucket, n_pieces, n_tokens,
       |  (n_pieces + ($SeqLen // bucket) - 1) // ($SeqLen // bucket) AS n_seqs,
       |  CAST((n_tokens::HUGEINT * 1000000)
       |    // (((n_pieces + ($SeqLen // bucket) - 1) // ($SeqLen // bucket)) * $SeqLen)
       |    AS BIGINT) AS fill_e6
       |FROM ag ORDER BY source, bucket""".stripMargin

  // ========================================================================
  // token_count_subword — SUBWORD-denominated token counts: greedy
  // longest-match against a corpus-learned piece vocab (character
  // 2-grams holding ≥ 1% of all 2-gram mass; single-char fallback) via
  // the codegen SubwordCount expression — the vocab rides as ONE plan
  // reference (the BloomArrayHits pattern), no join, no explode, no
  // shuffle. Real LLM-pipeline token budgets are BPE-denominated;
  // whitespace counts under-estimate them, and this is the engine-side
  // counter the chunk/pack family can swap in (pack_sequences_subword
  // below does exactly that). Learning is ONE aggregation whose ≥1%
  // threshold filters CLUSTER-SIDE before the collect, so the driver
  // sees ≤ 100 survivor pieces however large the charset² histogram
  // grows — the localizeCentroids contract. Oracle: re-learns the
  // vocab in SQL and replays the greedy scan as a per-word recursive
  // CTE — the integer threshold (cnt·100 ≥ total) and CODEPOINT
  // offsets are exact in both engines on any corpus (the matcher steps
  // codepoints, matching Spark substring/length and DuckDB substr/len;
  // SubwordSpec pins the multilingual fixtures).
  // ========================================================================
  private[graft] def subwordVocab(s: SparkSession, d: String): Set[String] =
    Memo.value(s, d, "subwordVocab") {
      // The ≥1%-of-total-mass filter runs CLUSTER-SIDE against the
      // broadcast one-row total, so the driver only ever collects the
      // survivors — by construction ≤ 100 pieces (each holds ≥ 1% of
      // the mass), regardless of charset. The full 2-gram histogram
      // (charset² distinct pieces — 10⁶-10⁸ for a CJK/emoji-heavy web
      // corpus) stays distributed; it is persisted for the duration of
      // the two actions (total + filtered collect) so the corpus is
      // scanned once.
      val pieces = docs(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("w"))
        .filter(length(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("piece"))
        .groupBy(col("piece")).agg(count(lit(1)).as("cnt"))
        .persist()
      try {
        val tot = pieces.agg(sum(col("cnt")).as("total"))
        pieces.crossJoin(broadcast(tot))
          .filter(col("cnt") * 100 >= col("total"))
          .select(col("piece"))
          .collect().map(_.getString(0)).toSet
      } finally pieces.unpersist(false) // a failed action must not pin the histogram
    }

  def tokenCountSubword(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tok"),
        graft.plans.SubwordCount(col("text"), subwordVocab(s, d)).as("n_subword"))
      .orderBy(col("doc_id"))

  /** Vocab learning + per-doc greedy subword count as DuckDB CTEs (no
    * WITH prefix; needs WITH RECURSIVE): `swt` word instances, `svc`
    * piece counts, `svoc` the ≥1%-mass vocab, `srec` the greedy scan
    * (one recursion step per consumed piece), `sntok` per-doc totals
    * (LEFT JOIN so token-less docs count 0).
    */
  private val subwordCtesSql =
    raw"""swt AS (
      |  SELECT doc_id, unnest(ws) AS w, unnest(range(1, len(ws) + 1)) AS wid
      |  FROM (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents)),
      |svc AS (
      |  SELECT piece, count(*) AS cnt FROM (
      |    SELECT unnest(list_transform(range(1, len(w)),
      |      i -> substr(w, CAST(i AS INT), 2))) AS piece
      |    FROM swt)
      |  GROUP BY piece),
      |svoc AS (SELECT piece FROM svc WHERE cnt * 100 >= (SELECT sum(cnt) FROM svc)),
      |srec AS (
      |  SELECT doc_id, wid, w, 1 AS pos, 0 AS cnt FROM swt
      |  UNION ALL
      |  SELECT r.doc_id, r.wid, r.w,
      |    r.pos + CASE WHEN r.pos < len(r.w) AND EXISTS (
      |        SELECT 1 FROM svoc v WHERE v.piece = substr(r.w, CAST(r.pos AS INT), 2))
      |      THEN 2 ELSE 1 END,
      |    r.cnt + 1
      |  FROM srec r WHERE r.pos <= len(r.w)),
      |swc AS (SELECT doc_id, wid, cnt AS n_pieces FROM srec WHERE pos > len(w)),
      |sntok AS (
      |  SELECT d.doc_id, CAST(coalesce(sum(w2.n_pieces), 0) AS BIGINT) AS n_subword
      |  FROM documents d LEFT JOIN swc w2 ON w2.doc_id = d.doc_id
      |  GROUP BY d.doc_id)""".stripMargin

  private val tokenCountSubwordSql =
    s"""WITH RECURSIVE $subwordCtesSql
       |SELECT d.doc_id,
       |  CAST(len(regexp_extract_all(d.text, '\\S+')) AS BIGINT) AS n_tok,
       |  ns.n_subword
       |FROM documents d JOIN sntok ns USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // ========================================================================
  // pack_sequences_subword — the packer with its token budget
  // SUBWORD-denominated: identical packing algebra (packSequencesWith),
  // n_tok = greedy subword count + 1 EOD. The pair (pack_sequences,
  // pack_sequences_subword) is the whitespace-vs-BPE budget delta made
  // queryable — sequence counts grow by exactly the subword inflation.
  // ========================================================================
  def packSequencesSubword(s: SparkSession, d: String): DataFrame =
    packSequencesWith(docs(s, d),
      graft.plans.SubwordCount(col("text"), subwordVocab(s, d)))

  private val packSequencesSubwordSql =
    s"""WITH RECURSIVE $subwordCtesSql,
       |t AS (
       |  SELECT d.doc_id, d.source, ns.n_subword + 1 AS n_tok
       |  FROM documents d JOIN sntok ns USING (doc_id)),
       |o AS (
       |  SELECT source, n_tok,
       |    CAST(coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS st
       |  FROM t),
       |e AS (
       |  SELECT source, st, n_tok,
       |    unnest(generate_series(st // $SeqLen, (st + n_tok - 1) // $SeqLen)) AS seq_id
       |  FROM o)
       |SELECT source, CAST(seq_id AS BIGINT) AS seq_id, count(*) AS n_docs,
       |  CAST(sum(least(st + n_tok, (seq_id + 1) * $SeqLen)
       |    - greatest(st, seq_id * $SeqLen)) AS BIGINT) AS n_tokens
       |FROM e GROUP BY source, seq_id
       |ORDER BY source, seq_id""".stripMargin

  // ========================================================================
  // pipeline_pack — the COMPLETE pre-training prep job in one
  // declarative plan: curation funnel (lang → quality → token bounds →
  // exact-dedup keep-first) → overlapping token chunking of the
  // survivors → length-grouped fixed-slot packing of the chunks into
  // 8-slot/256-token-capacity training sequences. Unlike
  // pack_sequences' concat-and-cut (docs straddle cuts), chunks here
  // are ATOMIC training samples: each occupies one of 8 padded 32-token
  // slots, and slots are filled in (n_tokens, doc_id, chunk_idx) order
  // — length-grouping, the standard trick that co-locates short ragged
  // chunks so padding waste concentrates in few sequences instead of
  // smearing over all of them. `pad_frac` = 1 − filled/256 is the waste
  // metric (exact: /256 is a power-of-two division).
  //
  // Scale shape (composes the proven stage shapes): funnel survivors
  // are IDs only — text never rides the fp dedup shuffle; scan 2
  // re-reads text for the broadcast survivor-id set (the
  // pipeline_curate_full pattern); chunking is a per-row explode; the
  // slot ranking reuses ONE hashpartitioning(source) for both its
  // window and the (source, seq_id) aggregation. Two hash exchanges
  // total — fp and source — both plan-guarded.
  // ========================================================================
  private val PackSlots = 8

  def pipelinePack(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r21: the survivor-id set is the memoized pipelineCurateCore
    // relation (identical funnel + fp keep-first window) — pipeline_pack
    // no longer re-runs the feature scan and dedup shuffle per call
    val survivors = TextQueries.pipelineCurateCore(s, d)
      .select(col("doc_id"))
    val chunks = chunkTokensOn(
      // hint-free: the survivor set is MOST of the corpus (the curation
      // funnel admits the majority) — statistics may broadcast it at
      // bench scale, but a forced broadcast at 100 TB would ship nearly
      // every doc id to every executor
      docs(s, d).join(survivors, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("source"), col("text")),
      keep = Seq("source"))
    val wSlot = Window.partitionBy(col("source"))
      .orderBy(col("n_tokens"), col("doc_id"), col("chunk_idx"))
    chunks
      .withColumn("slot", row_number().over(wSlot).cast("long") - 1L)
      .withColumn("seq_id", expr(s"slot DIV $PackSlots"))
      .groupBy(col("source"), col("seq_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("n_tokens")).as("n_tokens"))
      .withColumn("pad_frac",
        lit(1.0) - col("n_tokens").cast("double") / lit((PackSlots * ChunkC).toDouble))
      .orderBy(col("source"), col("seq_id"))
  }

  private val pipelinePackSql =
    s"""${TextQueries.curateCtesSql},
       |surv AS (
       |  SELECT doc_id FROM q
       |  WHERE lang_pred = 'en' AND score >= 0.6 AND n_re >= 15
       |  QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1),
       |ct AS (
       |  SELECT d.doc_id, d.source, regexp_extract_all(d.text, '\\S+') AS w,
       |    CAST(len(regexp_extract_all(d.text, '\\S+')) AS BIGINT) AS n
       |  FROM documents d JOIN surv USING (doc_id)),
       |cc AS (
       |  SELECT doc_id, source, n,
       |    CASE WHEN n <= $ChunkC THEN 1
       |         ELSE CAST(ceil((n - $ChunkC) / $ChunkS.0) AS BIGINT) + 1 END AS nc
       |  FROM ct),
       |cx AS (
       |  SELECT doc_id, source, n, unnest(range(nc)) AS i FROM cc),
       |ch AS (
       |  SELECT doc_id, source, CAST(i AS BIGINT) AS chunk_idx,
       |    CAST(least($ChunkC, n - i * $ChunkS) AS BIGINT) AS n_tokens
       |  FROM cx),
       |sl AS (
       |  SELECT source, n_tokens,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY n_tokens, doc_id, chunk_idx) - 1 AS slot
       |  FROM ch)
       |SELECT source, CAST(slot // $PackSlots AS BIGINT) AS seq_id,
       |  count(*) AS n_chunks, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(1 AS DOUBLE) - CAST(sum(n_tokens) AS DOUBLE) / ${PackSlots * ChunkC} AS pad_frac
       |FROM sl GROUP BY source, seq_id
       |ORDER BY source, seq_id""".stripMargin

  // ========================================================================
  // shuffle_seeded — deterministic seeded training-order shuffle: the
  // one reference §2.6 operator that had no query key
  // (tfdataset_utilities get_shuffled_tfdataset's buffered shuffle —
  // reference semantics: randomize example order before batching).
  // A buffered RNG shuffle is neither reproducible across engines nor
  // across partitionings, so the engine ships what a pre-training
  // pipeline actually deploys for training-order randomization: a
  // content-addressed permutation — ORDER BY hash60(doc_id # seed).
  // Changing the seed is a fresh epoch-order; the permutation is frozen
  // under re-runs, append-stable (a new doc splices in without moving
  // relative order of the rest), and cross-engine hashable (md5).
  //
  // Scale shape: position = the distributed two-job global index
  // (WindowOps.withRowIdx — RangePartitioning + partition-local sort +
  // offset add), NEVER a single-task row_number() OVER (ORDER BY …).
  // At 100 TB the global total order is only needed when a single
  // consumer reads sequentially; a 1000-executor trainer shards first,
  // and the same hash key range-partitioned IS the per-shard local
  // shuffle (pack_shuffled below consumes exactly that form).
  // ========================================================================
  private val ShuffleSeed = "42"

  def shuffleSeeded(s: SparkSession, d: String): DataFrame = {
    val hashed = docs(s, d).select(col("doc_id"), col("source"),
      TextOps.hash60(col("doc_id").cast("string"), lit(ShuffleSeed)).as("h"))
    graft.operators.WindowOps.withRowIdx(hashed, Seq.empty, Seq("h", "doc_id"), "position")
      .select(col("position"), col("doc_id"), col("source"), col("h"))
      .orderBy(col("position"))
  }

  private val shuffleSeededSql =
    s"""SELECT CAST(row_number() OVER (ORDER BY h, doc_id) AS BIGINT) AS position,
       |  doc_id, source, h
       |FROM (SELECT doc_id, source,
       |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#$ShuffleSeed'), 1, 15))::BIGINT AS h
       |  FROM documents)
       |ORDER BY position""".stripMargin

  // ========================================================================
  // pack_shuffled — pack_sequences consuming the seeded shuffle order:
  // per source shard, docs concatenate in hash60(doc_id # seed) order
  // (shuffle_seeded's permutation restricted to the shard) instead of
  // doc_id order, then cut into fixed L-token sequences. THE form a
  // pre-training job ships: shard-local shuffled packing — no global
  // order dependency, identical packing algebra (packSequencesWith),
  // one hashpartitioning(source) exchange, epoch = seed.
  // ========================================================================
  def packShuffled(s: SparkSession, d: String): DataFrame =
    packSequencesWith(
      docs(s, d).withColumn("h",
        TextOps.hash60(col("doc_id").cast("string"), lit(ShuffleSeed))),
      size(TextOps.tokens(col("text"))), orderBy = Seq("h", "doc_id"))

  private val packShuffledSql =
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |    CAST(len(regexp_extract_all(text, '\\S+')) + 1 AS BIGINT) AS n_tok,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#$ShuffleSeed'), 1, 15))::BIGINT AS h
       |  FROM documents),
       |o AS (
       |  SELECT source, n_tok,
       |    CAST(coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS st
       |  FROM t),
       |e AS (
       |  SELECT source, st, n_tok,
       |    unnest(generate_series(st // $SeqLen, (st + n_tok - 1) // $SeqLen)) AS seq_id
       |  FROM o)
       |SELECT source, CAST(seq_id AS BIGINT) AS seq_id, count(*) AS n_docs,
       |  CAST(sum(least(st + n_tok, (seq_id + 1) * $SeqLen)
       |    - greatest(st, seq_id * $SeqLen)) AS BIGINT) AS n_tokens
       |FROM e GROUP BY source, seq_id
       |ORDER BY source, seq_id""".stripMargin

  // ========================================================================
  // epoch_plan — data-constrained multi-epoch budget allocation
  // (Muennighoff et al., "Scaling Data-Constrained Language Models",
  // arXiv:2305.16264: repeating data retains most of its value up to
  // ~4 epochs, then decays — so a token budget larger than the unique
  // corpus should be filled by REPEATING the best sources up to the
  // repeat cap, best-first, not by scraping worse data). The planner a
  // pipeline owner reads before launching a data-constrained run:
  // per source — unique-token inventory (post exact-dedup keep-first,
  // the same global fingerprint election as pipeline_curate), mean
  // quality (exact integer e6), and the greedy quality-first allocation
  // of a budget B = 2 × total unique tokens with per-source repeats
  // capped at 4 epochs.
  //
  // The greedy is CLOSED-FORM per source (the quantile_bucket
  // inequality pattern — no iterative driver loop): sources sort by
  // (quality_e6 desc, source); with prev4 = Σ preceding 4·uniq_tok,
  // alloc_s = clamp(B − prev4, 0, 4·uniq_s) — exactly the sequential
  // greedy's outcome, computed in one window pass. epochs = alloc div
  // uniq, partial_tok = alloc mod uniq (the marginal source's partial
  // epoch), share_e6 = ExactRound(alloc·10⁶, B) in DECIMAL(38,0)/
  // HUGEINT (overflow-proof at 100 TB token counts). Every quantity is
  // an exact integer — the plan is engine-exact and hash-locked.
  //
  // Scale shape: ONE corpus scan (TextQueries.curateFeaturesAll projections) → one
  // fp-keyed dedup window → one per-source agg; the allocation windows
  // run over the ≤|sources| relation (domain-bounded, like plot_prep's
  // envelope — thousands of rows at worst, never corpus-sized).
  // ========================================================================
  private val EpochBudgetMult = 2L
  private val EpochMaxRepeat = 4L

  /** Per-doc inventory features — the same (n, n_stop, n_dist, fp)
    * definitions as TextQueries.curateFeaturesAll (whose final projection collapses
    * the counts into `score`; the quality quantization here needs the
    * raw integers). Shared by the full plan and the incremental refresh.
    */
  private[queries] def epochDocFeatures(docsDf: DataFrame): DataFrame =
    docsDf
      .select(col("doc_id"), col("source"),
        graft.plans.EvalOnce(TextOps.tokens(col("text"))).as("toks"),
        TextOps.fingerprint(col("text")).as("fp"))
      .select(col("doc_id"), col("source"), col("fp"),
        size(col("toks")).cast("long").as("n"),
        TextOps.wordSetCount(col("toks"), TextQueries.enStop).cast("long").as("n_stop"),
        TextOps.distinctCount(col("toks")).as("n_dist"))

  /** Keep-first canonical per fingerprint (min doc_id — the
    * pipeline_curate election) with the exact-integer quality attached.
    * Zero-token canonicals ride through with q_e6 = 0 (they carry no
    * budget mass — [[epochStats]] excludes them — but they must WIN
    * their election like any other doc so the incremental path's
    * displacement algebra matches the full plan).
    */
  private[queries] def epochKeepFirst(feats: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wfp = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    feats.withColumn("rn", row_number().over(wfp)).filter(col("rn") === 1)
      .select(col("doc_id"), col("source"), col("fp"), col("n"),
        when(col("n") > 0, expr(TextQueries.QualityE6Expr)).otherwise(lit(0L)).as("q_e6"))
  }

  /** Per-source inventory sums over the canonical relation. */
  private[queries] def epochStats(perFp: DataFrame): DataFrame =
    perFp.filter(col("n") > 0)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("uniq_tok"),
        sum(col("q_e6")).as("q_sum"))

  /** The closed-form greedy allocation over per-source
    * (n_docs, uniq_tok, q_sum) stats — windows run over the ≤|sources|
    * relation (domain-bounded). */
  private[queries] def epochAllocate(perSrcStats: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perSrc = perSrcStats
      .select(col("source"), col("n_docs"), col("uniq_tok"),
        expr(ExactRound.spark("q_sum", "n_docs")).as("quality_e6"))
    val wq = Window.orderBy(col("quality_e6").desc, col("source"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    perSrc
      .withColumn("prev4",
        coalesce(sum(col("uniq_tok") * lit(EpochMaxRepeat)).over(wq), lit(0L)))
      .withColumn("budget", sum(col("uniq_tok")).over(wall) * lit(EpochBudgetMult))
      .withColumn("alloc_tok", greatest(lit(0L),
        least(col("uniq_tok") * lit(EpochMaxRepeat), col("budget") - col("prev4"))))
      .select(col("source"), col("n_docs"), col("uniq_tok"), col("quality_e6"),
        col("alloc_tok"),
        expr("alloc_tok div uniq_tok").as("epochs"),
        expr("alloc_tok % uniq_tok").as("partial_tok"),
        expr(ExactRound.spark("CAST(alloc_tok AS DECIMAL(38,0)) * 1000000",
          "CAST(budget AS DECIMAL(38,0))")).cast("long").as("share_e6"))
      .orderBy(col("source"))
  }

  def epochPlan(s: SparkSession, d: String): DataFrame =
    epochAllocate(epochStats(epochKeepFirst(epochDocFeatures(docs(s, d)))))

  // ========================================================================
  // epoch_plan_incremental — the allocator's CONTINUOUS-INGESTION path:
  // the base corpus's per-fingerprint canonical relation and per-source
  // inventory sums are persisted ONCE as catalog tables (the
  // data_card_incremental build-once contract); each refresh scans ONLY
  // the increment slice and merges by DISPLACEMENT-CORRECT deltas —
  // the subtlety a naive additive merge misses is that unique-token
  // inventory is a keep-first election, not a sum: an increment doc
  // whose fingerprint already exists adds nothing, and an increment doc
  // with a SMALLER id than the base canonical DISPLACES it (the
  // full-corpus election is min doc_id across slices), moving the fp's
  // mass between sources. Delta algebra per increment canonical:
  // new fp → +inc; displaced (inc id < base id) → +inc −base; else 0 —
  // each guarded by its own n > 0. The merged stats equal the
  // full-corpus inventory BIT-FOR-BIT, so the oracle IS the full
  // epoch_plan's SQL: passing it PROVES the O(increment) merge exact.
  // Everything that shuffles is O(increment + fp lookups): the
  // increment equi-joins the persisted fp table; the base is never
  // rescanned.
  // ========================================================================
  private val EpochBaseWhere = "doc_id % 3 <> 0"

  private[graft] def epochFpTable(s: SparkSession, d: String): String =
    Memo.tables(s, d, "epochFpTable") {
      val t = s"graft_epochplan_fp_${MemoNames.dirSuffix(d)}"
      graft.operators.Scale.saveTable(
        epochKeepFirst(epochDocFeatures(docs(s, d).filter(expr(EpochBaseWhere)))), t)
      Seq(t)
    }.head

  private[graft] def epochBaseStatsTable(s: SparkSession, d: String): String = {
    val fp = epochFpTable(s, d)
    Memo.tables(s, d, "epochBaseStatsTable") {
      val t = s"graft_epochplan_stats_${MemoNames.dirSuffix(d)}"
      graft.operators.Scale.saveTable(epochStats(s.table(fp)), t)
      Seq(t)
    }.head
  }

  /** The displacement-correct O(increment) stats merge — factored out of
    * [[epochPlanIncremental]] so the displacement branch (which the
    * synthetic corpus's slice split never exercises: no fingerprint
    * crosses the % 3 boundary) is pinned by a hostile probe in
    * EpochPlanSpec. Frames: `baseFp` = the base slice's per-fp canonical
    * relation, `baseStats` = its per-source sums, `incCanon` = the
    * increment's per-fp canonicals.
    */
  private[queries] def epochMergeIncrement(baseFp: DataFrame, baseStats: DataFrame,
                                           incCanon: DataFrame): DataFrame = {
    val joined = incCanon.as("i").join(baseFp.as("b"), Seq("fp"), "left")
    // the increment canonical WINS when the fp is new or its id is
    // smaller than the base canonical's (min-id election across slices)
    val incWins = col("b.doc_id").isNull || col("i.doc_id") < col("b.doc_id")
    val displaced = col("b.doc_id").isNotNull && col("i.doc_id") < col("b.doc_id")
    // BOTH deltas (+inc, and −base when displaced) emit from ONE pass
    // over the joined relation — two filtered branches would union two
    // copies of the whole increment subplan (scan + keep-first window
    // run twice; Spark does not dedupe shared subplans across a union)
    val deltas = joined
      .select(explode(array(
        when(incWins && col("i.n") > 0,
          struct(col("i.source").as("source"), lit(1L).as("n_docs"),
            col("i.n").as("uniq_tok"), col("i.q_e6").as("q_sum"))),
        when(displaced && col("b.n") > 0,
          struct(col("b.source").as("source"), lit(-1L).as("n_docs"),
            (-col("b.n")).as("uniq_tok"), (-col("b.q_e6")).as("q_sum")))
      )).as("dlt"))
      .filter(col("dlt").isNotNull)
      .select(col("dlt.source").as("source"), col("dlt.n_docs").as("n_docs"),
        col("dlt.uniq_tok").as("uniq_tok"), col("dlt.q_sum").as("q_sum"))
    baseStats.unionByName(deltas)
      .groupBy(col("source"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("uniq_tok")).as("uniq_tok"),
        sum(col("q_sum")).as("q_sum"))
      // a source whose every unique doc was displaced away holds no mass
      .filter(col("n_docs") > 0)
  }

  def epochPlanIncremental(s: SparkSession, d: String): DataFrame = {
    val incCanon = epochKeepFirst(
      epochDocFeatures(docs(s, d).filter(not(expr(EpochBaseWhere)))))
    epochAllocate(epochMergeIncrement(
      s.table(epochFpTable(s, d)), s.table(epochBaseStatsTable(s, d)), incCanon))
  }

  private val epochPlanSql =
    s"""${TextQueries.curateCtesSql},
       |uq AS (
       |  SELECT source, n,
       |    CAST(${TextQueries.QualityE6Sql} AS BIGINT) AS q_e6
       |  FROM (
       |    SELECT source, n, n_stop, n_dist,
       |      row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
       |    FROM f)
       |  WHERE rn = 1 AND n > 0),
       |ps AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(n) AS BIGINT) AS uniq_tok,
       |    CAST(${ExactRound.duck("CAST(sum(q_e6) AS BIGINT)", "count(*)")} AS BIGINT) AS quality_e6
       |  FROM uq GROUP BY source),
       |al AS (
       |  SELECT source, n_docs, uniq_tok, quality_e6,
       |    CAST(coalesce(sum(uniq_tok * $EpochMaxRepeat) OVER (
       |      ORDER BY quality_e6 DESC, source
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev4,
       |    CAST(sum(uniq_tok) OVER () * $EpochBudgetMult AS BIGINT) AS budget
       |  FROM ps),
       |alc AS (
       |  SELECT source, n_docs, uniq_tok, quality_e6, budget,
       |    greatest(0, least(uniq_tok * $EpochMaxRepeat, budget - prev4)) AS alloc_tok
       |  FROM al)
       |SELECT source, n_docs, uniq_tok, quality_e6,
       |  CAST(alloc_tok AS BIGINT) AS alloc_tok,
       |  CAST(alloc_tok // uniq_tok AS BIGINT) AS epochs,
       |  CAST(alloc_tok % uniq_tok AS BIGINT) AS partial_tok,
       |  CAST(${ExactRound.duck("alloc_tok::HUGEINT * 1000000", "budget::HUGEINT")} AS BIGINT) AS share_e6
       |FROM alc ORDER BY source""".stripMargin

  // ========================================================================
  // pack_curriculum — QUALITY-ANNEALED training order (curriculum
  // learning, Bengio et al. ICML 2009 — the LLM-pipeline analog orders
  // from highest-quality data down, e.g. quality-annealed pre-training
  // curricula): per source shard, docs concatenate in
  // (quality band DESC, hash60(doc_id # seed), doc_id) order — coarse
  // 0.1-wide exact-integer quality bands (q_e6 div 10⁵, the shared
  // QualityE6 quantization) so the anneal is band-level while WITHIN a
  // band the order is the seeded content-addressed shuffle
  // (shuffle_seeded's draw — unshuffled within-band order would
  // correlate adjacent training batches by doc_id). Completes the
  // training-order trifecta: pack_sequences (doc order), pack_shuffled
  // (uniform seeded shuffle), pack_curriculum (annealed). Identical
  // packing algebra (packSequencesWith), one hashpartitioning(source)
  // exchange; the band is per-row integer arithmetic on the same scan.
  // ========================================================================
  def packCurriculum(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d)
      .withColumn("toks", graft.plans.EvalOnce(TextOps.tokens(col("text"))))
      .withColumn("n", size(col("toks")).cast("long"))
      .withColumn("n_stop", TextOps.wordSetCount(col("toks"), TextQueries.enStop).cast("long"))
      .withColumn("n_dist", TextOps.distinctCount(col("toks")))
      // negated band so packSequencesWith's ascending orderBy anneals
      // best-first; zero-token docs (banded -1 → neg 1) sort last
      .withColumn("neg_band",
        -when(col("n") > 0, expr(s"(${TextQueries.QualityE6Expr}) div 100000")).otherwise(lit(-1L)))
      .withColumn("h", TextOps.hash60(col("doc_id").cast("string"), lit(ShuffleSeed)))
    packSequencesWith(base, col("n"), orderBy = Seq("neg_band", "h", "doc_id"))
  }

  private val packCurriculumSql =
    s"""WITH t AS (
       |  SELECT doc_id, source, regexp_extract_all(text, '\\S+') AS toks,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#$ShuffleSeed'), 1, 15))::BIGINT AS h
       |  FROM documents),
       |f AS (
       |  SELECT doc_id, source, h,
       |    CAST(len(toks) AS BIGINT) AS n,
       |    CAST(len(list_filter(toks, tk -> tk IN (${TextQueries.EnStopSqlList}))) AS BIGINT) AS n_stop,
       |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_dist
       |  FROM t),
       |b AS (
       |  SELECT doc_id, source, h, CAST(n + 1 AS BIGINT) AS n_tok,
       |    -(CASE WHEN n > 0 THEN ${TextQueries.QualityE6Sql} // 100000 ELSE -1 END) AS neg_band
       |  FROM f),
       |o AS (
       |  SELECT source, n_tok,
       |    CAST(coalesce(sum(n_tok) OVER (PARTITION BY source
       |      ORDER BY neg_band, h, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS st
       |  FROM b),
       |e AS (
       |  SELECT source, st, n_tok,
       |    unnest(generate_series(st // $SeqLen, (st + n_tok - 1) // $SeqLen)) AS seq_id
       |  FROM o)
       |SELECT source, CAST(seq_id AS BIGINT) AS seq_id, count(*) AS n_docs,
       |  CAST(sum(least(st + n_tok, (seq_id + 1) * $SeqLen)
       |    - greatest(st, seq_id * $SeqLen)) AS BIGINT) AS n_tokens
       |FROM e GROUP BY source, seq_id
       |ORDER BY source, seq_id""".stripMargin

  // ========================================================================
  // epoch_order — the allocator's plan MATERIALIZED as the actual
  // training order: for every source with a non-zero allocation, each
  // epoch e = 1..epochs(+1 if a partial epoch remains) lists the
  // canonical (post keep-first dedup) docs in that epoch's seeded
  // shuffle order (hash60(doc_id # "e"+e) — a FRESH content-addressed
  // permutation per epoch, the shuffle_seeded contract), and the
  // marginal source's last epoch is the shuffled PREFIX that consumes
  // exactly partial_tok tokens (the straddling doc contributes
  // take_tok = partial_tok − cum_before < n_tok, the pack_sequences
  // cut algebra). Σ take_tok per source equals alloc_tok BIT-FOR-BIT —
  // epoch_plan tells the owner WHAT to train on; this emits the order
  // a data loader replays.
  //
  // Scale shape: the canonical inventory relation is built once and
  // persisted (epochCanon, a [[Memo]] relation); the per-source
  // plan is ≤ |sources| rows and broadcasts onto it; the explode fans
  // out ≤ EpochMaxRepeat+1 rows per doc; ONE hashpartitioning(source,
  // epoch) exchange serves both the position window and the prefix
  // cumsum. Nothing corpus-sized crosses the driver.
  // ========================================================================
  /** Canonical per-fingerprint inventory (doc_id, source, n, q_e6),
    * zero-token canonicals excluded — the allocator family's shared
    * base relation, persisted per (session, dir).
    */
  private def epochCanon(s: SparkSession, d: String): DataFrame =
    Memo.relation(s, d, "epochCanon") {
      epochKeepFirst(epochDocFeatures(docs(s, d))).filter(col("n") > 0)
        .select(col("doc_id"), col("source"), col("n"), col("q_e6"))
    }

  def epochOrder(s: SparkSession, d: String): DataFrame = {
    val canon = epochCanon(s, d)
    val plan = epochAllocate(epochStats(canon))
      .select(col("source"), col("epochs"), col("partial_tok"))
      .withColumn("n_ep",
        col("epochs") + when(col("partial_tok") > 0, 1L).otherwise(0L))
      .filter(col("n_ep") > 0)
    val w = Window.partitionBy(col("source"), col("epoch"))
      .orderBy(col("h"), col("doc_id"))
    canon.join(broadcast(plan), Seq("source"))
      .select(col("source"), col("doc_id"), col("n"), col("epochs"),
        col("partial_tok"),
        explode(expr("sequence(CAST(1 AS BIGINT), n_ep)")).as("epoch"))
      .withColumn("h", TextOps.hash60(col("doc_id").cast("string"),
        concat(lit("e"), col("epoch").cast("string"))))
      .withColumn("pos", row_number().over(w).cast("long"))
      .withColumn("cumb", coalesce(
        sum(col("n")).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter(col("epoch") <= col("epochs") || col("cumb") < col("partial_tok"))
      .select(col("source"), col("epoch"), col("pos"), col("doc_id"),
        col("n").as("n_tok"),
        when(col("epoch") <= col("epochs"), col("n"))
          .otherwise(least(col("n"), col("partial_tok") - col("cumb")))
          .as("take_tok"))
      .orderBy(col("source"), col("epoch"), col("pos"))
  }

  private lazy val epochOrderSql =
    s"""${TextQueries.curateCtesSql},
       |uq2 AS (
       |  SELECT doc_id, source, n FROM (
       |    SELECT doc_id, source, n,
       |      row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
       |    FROM f)
       |  WHERE rn = 1 AND n > 0),
       |ep AS (
       |  SELECT source, epochs, partial_tok,
       |    epochs + CASE WHEN partial_tok > 0 THEN 1 ELSE 0 END AS n_ep
       |  FROM ($epochPlanSql)
       |  WHERE epochs > 0 OR partial_tok > 0),
       |ex AS (
       |  SELECT uq2.doc_id, uq2.source, uq2.n, ep.epochs, ep.partial_tok,
       |    unnest(range(1, CAST(ep.n_ep AS BIGINT) + 1)) AS epoch
       |  FROM uq2 JOIN ep USING (source)),
       |hh AS (
       |  SELECT *, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)
       |    || '#e' || epoch), 1, 15))::BIGINT AS h
       |  FROM ex),
       |wo AS (
       |  SELECT source, epoch, doc_id, n, epochs, partial_tok,
       |    CAST(row_number() OVER (PARTITION BY source, epoch
       |      ORDER BY h, doc_id) AS BIGINT) AS pos,
       |    CAST(coalesce(sum(n) OVER (PARTITION BY source, epoch
       |      ORDER BY h, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumb
       |  FROM hh)
       |SELECT source, CAST(epoch AS BIGINT) AS epoch, pos, doc_id,
       |  n AS n_tok,
       |  CAST(CASE WHEN epoch <= epochs THEN n
       |       ELSE least(n, partial_tok - cumb) END AS BIGINT) AS take_tok
       |FROM wo
       |WHERE epoch <= epochs OR cumb < partial_tok
       |ORDER BY source, epoch, pos""".stripMargin

  // ========================================================================
  // shard_assign / shard_balance — token-balanced output sharding, the
  // last-mile write step of a curation pipeline: the released corpus is
  // emitted as N shard files per source, and data-loader workers stream
  // one shard each, so shards must carry near-equal TOKEN mass (a
  // doc-count round-robin leaves the long-doc shard 2-3× heavier and
  // the epoch blocks on it). Assignment is the snake draft over the
  // per-source (n_tok DESC, doc_id) order: pos = rank-1, band = pos div
  // N, shard = band even ? pos mod N : N-1-(pos mod N) — each pair of
  // bands hands every shard one long + one short doc, so imbalance
  // cannot accumulate band over band (greedy LPT quality without LPT's
  // sequential state). Doc counts per (source, shard) differ by ≤ 1 by
  // construction; everything is exact integer arithmetic on an ordering
  // both engines share (ties by doc_id).
  //
  // Scale shape: ONE hashpartitioning(source) exchange for the
  // per-source rank window — the pack-family shape; the assignment is
  // per-row integer math on the same pass. shard_balance folds the
  // assignment into a (source, shard) partial-agg — ≤ |sources|·N rows
  // — and the spread audit windows over THAT relation, never the
  // corpus. At 100 TB with a skew-heavy source, rank-within-source
  // swaps to the two-job distributed index per source slice
  // (WindowOps.globalRowIdx); the assignment algebra is unchanged.
  // ========================================================================
  private val NumShards = 8L

  /** (doc_id, source, n_tok, shard) — unordered; shared by both keys. */
  private def shardAssigned(s: SparkSession, d: String): DataFrame = {
    val toks = docs(s, d).select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("neg_tok", -col("n_tok"))
    graft.operators.WindowOps
      .withRowIdx(toks, Seq("source"), Seq("neg_tok", "doc_id"), "rn")
      .withColumn("pos", col("rn") - 1L)
      .withColumn("shard",
        when(expr(s"pos div $NumShards") % 2 === 0, col("pos") % NumShards)
          .otherwise(lit(NumShards - 1) - col("pos") % NumShards))
      .select(col("doc_id"), col("source"), col("n_tok"), col("shard"))
  }

  def shardAssign(s: SparkSession, d: String): DataFrame =
    shardAssigned(s, d).orderBy(col("doc_id"))

  def shardBalance(s: SparkSession, d: String): DataFrame = {
    val perShard = shardAssigned(s, d)
      .groupBy(col("source"), col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    val bySource = Window.partitionBy(col("source"))
    perShard
      .withColumn("spread_tokens",
        max(col("n_tokens")).over(bySource) - min(col("n_tokens")).over(bySource))
      .orderBy(col("source"), col("shard"))
  }

  /** Shared CTEs: `sht` token counts, `shp` the snake-draft assignment. */
  private val shardCtesSql =
    raw"""sht AS (
       |  SELECT doc_id, source,
       |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tok
       |  FROM documents),
       |shp AS (
       |  SELECT doc_id, source, n_tok,
       |    CAST(CASE WHEN (pos // $NumShards) % 2 = 0 THEN pos % $NumShards
       |         ELSE $NumShards - 1 - pos % $NumShards END AS BIGINT) AS shard
       |  FROM (SELECT doc_id, source, n_tok,
       |          row_number() OVER (PARTITION BY source
       |            ORDER BY n_tok DESC, doc_id) - 1 AS pos
       |        FROM sht))""".stripMargin

  private val shardAssignSql =
    s"""WITH $shardCtesSql
       |SELECT doc_id, source, n_tok, shard FROM shp ORDER BY doc_id""".stripMargin

  private val shardBalanceSql =
    s"""WITH $shardCtesSql,
       |b AS (
       |  SELECT source, shard, count(*) AS n_docs,
       |    CAST(sum(n_tok) AS BIGINT) AS n_tokens
       |  FROM shp GROUP BY source, shard)
       |SELECT source, shard, n_docs, n_tokens,
       |  CAST(max(n_tokens) OVER (PARTITION BY source)
       |    - min(n_tokens) OVER (PARTITION BY source) AS BIGINT) AS spread_tokens
       |FROM b ORDER BY source, shard""".stripMargin
  // ========================================================================
  // sample_weighted — quality-weighted content-addressed sampling: keep
  // each document with probability equal to its quality score, decided
  // by comparing the score against a uniform deterministic hash of the
  // doc id (u = hash60(id)/2^60 ∈ [0,1)). The corpus-mixing primitive
  // for quality-proportional selection at 100 TB: a pure scan-side
  // filter — no shuffle, no RNG state, reproducible across runs and
  // engines (2^60 is a power of two, so u is one EXACT division; the
  // score is the funnel's exact-integer rational).
  // ========================================================================
  private val Pow60 = 1152921504606846976L // 2^60

  def sampleWeighted(s: SparkSession, d: String): DataFrame =
    TextQueries.curateFeaturesAll(docs(s, d))
      .withColumn("u",
        TextOps.hash60(col("doc_id").cast("string")).cast("double") / lit(Pow60.toDouble))
      .filter(col("u") < col("score"))
      .select(col("doc_id"), col("source"), col("score"), col("u"))
      .orderBy(col("doc_id"))

  private val sampleWeightedSql =
    s"""${TextQueries.curateCtesSql}
       |SELECT doc_id, source, score, u FROM (
       |  SELECT doc_id, source, score,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
       |      / $Pow60.0 AS u
       |  FROM q)
       |WHERE u < score ORDER BY doc_id""".stripMargin

  // ========================================================================
  // sample_reservoir — deterministic FIXED-SIZE uniform sample without
  // replacement: the K docs with the smallest content-addressed hash
  // (hash60 of the id — a random permutation of the corpus, frozen).
  // The fixed-|K| complement of sample_rate/sample_weighted's
  // rate-based draws: eval sets, human-review batches and debug slices
  // are size-budgeted, not rate-budgeted. Reproducible (no RNG state),
  // stable under corpus growth in the bottom-k sense (a new doc only
  // enters by evicting the current max — exactly the mergeable bottom-k
  // sketch semantics, so distributed union = recompute).
  //
  // Scale shape: global top-K by hash plans as TakeOrderedAndProject —
  // per-partition K-heaps, merge of P·K rows at the driver side of the
  // exchange — never a global sort (plan-guarded).
  // ========================================================================
  private val ReservoirK = 100

  def sampleReservoir(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
        TextOps.hash60(col("doc_id").cast("string")).as("h"))
      .orderBy(col("h"), col("doc_id"))
      .limit(ReservoirK)

  private val sampleReservoirSql =
    s"""SELECT doc_id, source, n_chars,
       |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
       |FROM documents
       |ORDER BY h, doc_id
       |LIMIT $ReservoirK""".stripMargin

  // ========================================================================
  // sample_mix — target-share corpus mixing (domain reweighting): given
  // per-source target shares w_s (here data-driven: w ∝ source index+1,
  // so the mix is deliberately non-uniform over the uniform corpus),
  // find the largest feasible sample T = min_s(n_s / w_s) that hits the
  // target mix without oversampling any source, keep each doc with
  // probability rate_s = w_s·T / n_s via the content-addressed
  // hash60(doc_id)/2^60 draw (the sample_weighted convention — same
  // hash, so mixing composes with quality sampling), and report
  // achieved vs target share. THE knob a pre-training run turns to
  // rebalance web/books/code/wiki proportions.
  //
  // Scale shape: rates come from one tiny per-source count agg
  // (broadcast back onto the scan); the keep decision is a scan-side
  // filter — no corpus shuffle, text pruned from every scan; only
  // per-source partial counts move. All arithmetic is IEEE-exact and
  // identically ordered on both engines (single divisions/multiplies of
  // exact integers), so shares ship unrounded.
  // ========================================================================
  private val MixWeightDen = 210.0 // sum of (i+1) over the 20 sources

  def sampleMix(s: SparkSession, d: String): DataFrame = {
    val counts = docs(s, d).groupBy(col("source"))
      .agg(count(lit(1)).as("n_total"))
      .withColumn("w",
        // try_cast, not cast: under ANSI mode a malformed source name must
        // null out (as the DuckDB oracle's TRY_CAST does), not crash the job
        (expr("try_cast(substring(source, 4, 10) AS int)") + 1).cast("double") / lit(MixWeightDen))
    val t = counts.agg(min(col("n_total").cast("double") / col("w")).as("t"))
    val rates = counts.crossJoin(broadcast(t))
      .withColumn("rate",
        least(lit(1.0), col("w") * col("t") / col("n_total").cast("double")))
      .select(col("source"), col("n_total"), col("w").as("target_share"), col("rate"))
    val kept = docs(s, d).select(col("doc_id"), col("source"))
      .join(broadcast(rates.select(col("source"), col("rate"))), Seq("source"))
      .withColumn("u",
        TextOps.hash60(col("doc_id").cast("string")).cast("double") / lit(Pow60.toDouble))
      .filter(col("u") < col("rate"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
    val totalKept = kept.agg(sum(col("n_kept")).as("total_kept"))
    rates.join(kept, Seq("source"), "left")
      .crossJoin(broadcast(totalKept))
      .select(col("source"), col("n_total"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        col("target_share"),
        (coalesce(col("n_kept"), lit(0L)).cast("double") /
          col("total_kept").cast("double")).as("achieved_share"))
      .orderBy(col("source"))
  }

  private val sampleMixSql =
    s"""WITH c AS (
       |  SELECT source, count(*) AS n_total,
       |    CAST(TRY_CAST(substr(source, 4) AS INTEGER) + 1 AS DOUBLE) / $MixWeightDen AS w
       |  FROM documents GROUP BY source),
       |tt AS (SELECT min(CAST(n_total AS DOUBLE) / w) AS t FROM c),
       |r AS (
       |  SELECT source, n_total, w AS target_share,
       |    least(CAST(1 AS DOUBLE), w * t / CAST(n_total AS DOUBLE)) AS rate
       |  FROM c, tt),
       |k AS (
       |  SELECT d.source, count(*) AS n_kept
       |  FROM documents d JOIN r ON d.source = r.source
       |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
       |        / $Pow60.0 < rate
       |  GROUP BY d.source),
       |tk AS (SELECT CAST(sum(n_kept) AS BIGINT) AS total_kept FROM k)
       |SELECT r.source, r.n_total, CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
       |  target_share,
       |  CAST(coalesce(k.n_kept, 0) AS DOUBLE) / total_kept AS achieved_share
       |FROM r LEFT JOIN k ON r.source = k.source, tk
       |ORDER BY r.source""".stripMargin

  // ========================================================================
  // sample_temperature — temperature-flattened corpus mixing (the
  // multilingual-LLM sampling scheme: expected kept docs per stratum
  // ∝ n^alpha, alpha = 0.5): per-(source, lang) stratum the keep rate is
  // sqrt(min_n / n) — 1 for the smallest stratum, shrinking for larger
  // ones — and each doc's keep decision is the same content-addressed
  // u < rate test as sample_weighted. Scale shape: ONE tiny stratum-count
  // aggregation broadcasts back onto the scan; the corpus itself never
  // shuffles. All rate arithmetic is integer-count division + IEEE sqrt
  // (correctly rounded, engine-identical).
  // ========================================================================
  def sampleTemperature(s: SparkSession, d: String): DataFrame = {
    val c = docs(s, d).groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n"))
    val mn = c.agg(min(col("n")).as("mn"))
    val rates = c.crossJoin(broadcast(mn))
      .select(col("source"), col("lang"),
        sqrt(col("mn").cast("double") / col("n")).as("rate"))
    docs(s, d).select(col("doc_id"), col("source"), col("lang"))
      .join(broadcast(rates), Seq("source", "lang"))
      .withColumn("u",
        TextOps.hash60(col("doc_id").cast("string")).cast("double") / lit(Pow60.toDouble))
      .filter(col("u") < col("rate"))
      .select(col("doc_id"), col("source"), col("lang"), col("rate"))
      .orderBy(col("doc_id"))
  }

  private val sampleTemperatureSql =
    s"""WITH c AS (
       |  SELECT source, lang, count(*) AS n FROM documents GROUP BY source, lang),
       |mn AS (SELECT min(n) AS mn FROM c),
       |r AS (
       |  SELECT source, lang, sqrt(CAST(mn AS DOUBLE) / n) AS rate FROM c, mn)
       |SELECT d.doc_id, d.source, d.lang, r.rate
       |FROM documents d JOIN r ON d.source = r.source AND d.lang = r.lang
       |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
       |        / $Pow60.0 < r.rate
       |ORDER BY d.doc_id""".stripMargin

  // ========================================================================
  // group_topk — per-group top-k (top-3 docs per source by quality
  // score): the generic "best exemplars per group" primitive (curation
  // review samples, per-domain spot checks). One hash-partitioned
  // window; ties break on doc_id (scores are exact rationals, so ties
  // are engine-identical).
  // ========================================================================
  def groupTopk(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("score").desc, col("doc_id"))
    TextQueries.curateFeaturesAll(docs(s, d))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .select(col("source"), col("rank").cast("long").as("rank"),
        col("doc_id"), col("score"))
      .orderBy(col("source"), col("rank"))
  }

  private val groupTopkSql =
    s"""${TextQueries.curateCtesSql}
       |SELECT source, CAST(rank AS BIGINT) AS rank, doc_id, score FROM (
       |  SELECT source, doc_id, score,
       |    row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS rank
       |  FROM q)
       |WHERE rank <= 3 ORDER BY source, rank""".stripMargin

  // ========================================================================
  // ========================================================================
  // sample_hash_split — deterministic, LEAKAGE-SAFE train/val/test
  // assignment: the split key is the canonical CONTENT fingerprint
  // (TextOps.fingerprint — lowercase, punctuation-stripped,
  // whitespace-collapsed md5), not the doc id, so exact duplicates and
  // near-identical re-encodes land in the SAME split — the standard
  // guard against train/test leakage through duplicated documents
  // (hash-bucket splitting is the industry default precisely because
  // random assignment splits dup pairs across the boundary).
  // bucket = hash60(fp) % 100; test < 5, val < 10, train otherwise
  // (a 90/5/5 split). Scale: a pure scan-side projection — no shuffle,
  // no RNG state, reproducible across runs, engines, and corpus
  // REPARTITIONS (content-addressed, so ingest order cannot move a doc
  // between splits).
  // ========================================================================
  def sampleHashSplit(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), col("source"),
        (TextOps.hash60(TextOps.fingerprint(col("text"))) % 100).as("bucket"))
      .withColumn("split", TextOps.splitOf(col("bucket")))
      .orderBy(col("doc_id"))

  private val sampleHashSplitSql =
    raw"""SELECT doc_id, source, bucket,
      |  ${TextOps.splitOfSql("bucket")} AS split
      |FROM (
      |  SELECT doc_id, source,
      |    ('0x' || substr(md5(${TextOps.fingerprintSql("text")}), 1, 15))::BIGINT
      |      % 100 AS bucket
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin

  // ========================================================================
  val queries: Map[String, Q] = Map(
    "chunk_tokens" -> (chunkTokens _),
    "sample_weighted" -> (sampleWeighted _),
    "sample_reservoir" -> (sampleReservoir _),
    "sample_mix" -> (sampleMix _),
    "sample_temperature" -> (sampleTemperature _),
    "group_topk" -> (groupTopk _),
    "sample_hash_split" -> (sampleHashSplit _),
    "pack_sequences" -> (packSequences _),
    "pack_report" -> (packReport _),
    "pack_buckets" -> (packBuckets _),
    "token_count_subword" -> (tokenCountSubword _),
    "pack_sequences_subword" -> (packSequencesSubword _),
    "pipeline_pack" -> (pipelinePack _),
    "shuffle_seeded" -> (shuffleSeeded _),
    "pack_shuffled" -> (packShuffled _),
    "epoch_plan" -> (epochPlan _),
    "epoch_plan_incremental" -> (epochPlanIncremental _),
    "pack_curriculum" -> (packCurriculum _),
    "epoch_order" -> (epochOrder _),
    "shard_assign" -> (shardAssign _),
    "shard_balance" -> (shardBalance _),
  )

  val oracleSql: Map[String, String] = Map(
    "chunk_tokens" -> chunkTokensSql,
    "sample_weighted" -> sampleWeightedSql,
    "sample_reservoir" -> sampleReservoirSql,
    "sample_mix" -> sampleMixSql,
    "sample_temperature" -> sampleTemperatureSql,
    "group_topk" -> groupTopkSql,
    "sample_hash_split" -> sampleHashSplitSql,
    "pack_sequences" -> packSequencesSql,
    "pack_report" -> packReportSql,
    "pack_buckets" -> packBucketsSql,
    "token_count_subword" -> tokenCountSubwordSql,
    "pack_sequences_subword" -> packSequencesSubwordSql,
    "pipeline_pack" -> pipelinePackSql,
    "shuffle_seeded" -> shuffleSeededSql,
    "pack_shuffled" -> packShuffledSql,
    "epoch_plan" -> epochPlanSql,
    "epoch_plan_incremental" -> epochPlanSql,
    "pack_curriculum" -> packCurriculumSql,
    "epoch_order" -> epochOrderSql,
    "shard_assign" -> shardAssignSql,
    "shard_balance" -> shardBalanceSql,
  )
}
