package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Property tests for the round-15 corpus-statistics queries — the
  * oracle gate checks cross-engine equality; these pin the SEMANTIC
  * claims each query's scaladoc makes (leakage safety, changepoint
  * localization, association ranking, rarity signal).
  */
class NewQuerySpec extends SparkSpec {
  import spark.implicits._

  test("sample_hash_split: exact duplicates land in the SAME split (leakage safety), splits are ~90/5/5") {
    // leakage safety needs planted duplicates (this corpus has no exact
    // fp collisions): re-encodings that canonicalize identically MUST
    // get one split regardless of id — replicate the query's bucket
    // algebra over a probe frame with dup pairs at hostile ids
    val probe = Seq(
      (1L, "The quick brown fox!"), (900L, "the QUICK   brown fox"),
      (2L, "alpha beta gamma"), (77L, "Alpha, beta... GAMMA"),
      (3L, "unrelated text here")).toDF("doc_id", "text")
    val b = probe.select(col("doc_id"),
        (graft.text.TextOps.hash60(graft.text.TextOps.fingerprint(col("text"))) % 100).as("bucket"),
        graft.text.TextOps.fingerprint(col("text")).as("fp"))
    val perFp = b.groupBy(col("fp"))
      .agg(countDistinct(col("bucket")).as("k"), count(lit(1)).as("n"))
    assert(perFp.filter(col("k") > 1).count() == 0)
    assert(perFp.filter(col("n") >= 2).count() == 2) // both planted pairs collapse
    // the registered query on the real table: total coverage, 3 splits,
    // and a train share near the designed 90% (hash60 is uniform)
    val out = graft.SparkEntry.queries("sample_hash_split")(spark, sf)
    val n = out.count().toDouble
    val train = out.filter(col("split") === "train").count().toDouble
    assert(train / n > 0.8 && train / n < 0.97, s"train share ${train / n}")
    assert(out.select(col("split")).distinct().count() == 3)
    assert(out.count() == graft.sources.Tables.documents(spark, sf).count())
  }

  test("dedup_cluster_best elects the argmax-(quality, centrality, id) member per cluster") {
    val out = graft.SparkEntry.queries("dedup_cluster_best")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5)))
    assert(out.nonEmpty)
    val byCluster = out.groupBy(_._2)
    byCluster.foreach { case (cluster, members) =>
      // exactly one kept member, and it is the best_id every member names
      val kept = members.filter(_._6 == 1L)
      assert(kept.length == 1, s"cluster $cluster kept ${kept.length} members")
      assert(members.map(_._5).distinct.sameElements(Array(kept.head._1)))
      // the elected member dominates on the exact-integer argmax chain
      val best = kept.head
      members.foreach { m =>
        val cmp = (best._3, best._4, -best._1)
        val mc = (m._3, m._4, -m._1)
        assert(Ordering[(Long, Long, Long)].gteq(cmp, mc),
          s"cluster $cluster: member ${m._1} beats elected ${best._1}")
      }
    }
    // membership equals dedup_cluster (the election changes WHO is kept,
    // never who is IN a cluster)
    val clusterDocs = graft.SparkEntry.queries("dedup_cluster")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.map(t => (t._1, t._2)).toSet == clusterDocs)
    // non-vacuous: in some cluster the quality election disagrees with
    // the min-id convention
    assert(out.exists { case (_, cluster, _, _, bestId, _) => bestId != cluster })
  }

  test("data_card: per-source partitions of the corpus are complete and internally consistent") {
    val out = graft.SparkEntry.queries("data_card")(spark, sf)
    val docs = graft.sources.Tables.documents(spark, sf)
    // every source accounted for, docs partition exactly
    assert(out.count() == docs.select(col("source")).distinct().count())
    assert(out.agg(sum(col("n_docs"))).head().getLong(0) == docs.count())
    val rows = out.collect()
    rows.foreach { r =>
      val n = r.getAs[Long]("n_docs")
      // length bands partition n_docs; so do language counts and
      // quality decile bands
      assert(r.getAs[Long]("len_lt256") + r.getAs[Long]("len_256_1023")
        + r.getAs[Long]("len_1024_4095") + r.getAs[Long]("len_ge4096") == n)
      assert(Seq("n_de", "n_en", "n_es", "n_fr", "n_zh").map(r.getAs[Long]).sum == n)
      assert((0 to 9).map(i => r.getAs[Long](s"q_d$i")).sum == n)
      // rates are exact ppm of their counts
      assert(r.getAs[Long]("dup_rate_e6") == r.getAs[Long]("n_dup") * 1000000L / n)
      assert(r.getAs[Long]("contam_rate_e6") == r.getAs[Long]("n_contam") * 1000000L / n)
      assert(r.getAs[Long]("n_dup") <= n && r.getAs[Long]("n_contam") <= n)
    }
    // non-vacuous: the corpus has dups and contamination somewhere
    assert(rows.map(_.getAs[Long]("n_dup")).sum > 0)
    assert(rows.map(_.getAs[Long]("n_contam")).sum > 0)
  }

  test("bpe_learn: greedy merges have non-increasing counts; application compresses, never pads") {
    val merges = graft.SparkEntry.queries("bpe_learn")(spark, sf).collect()
    assert(merges.length == graft.queries.TextLm.BpeMerges)
    assert(merges.map(_.getAs[Long]("merge_rank")).toSeq == (1L to merges.length).toSeq)
    // greedy argmax: any pair created by a merge occurs at most as often
    // as the pair just merged, so the winning counts are non-increasing
    val counts = merges.map(_.getAs[Long]("pair_count"))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
    assert(counts.forall(_ > 0))
    merges.foreach { m =>
      assert(m.getAs[String]("merged") == m.getAs[String]("w1") + m.getAs[String]("w2"))
    }
    // application: per doc, BPE symbols number at least one per word
    // (n_bpe >= n_ws) and at most one per character (merging only ever
    // shrinks the spaced-codepoint expansion)
    val applied = graft.SparkEntry.queries("bpe_token_count")(spark, sf)
    assert(applied.filter(col("n_bpe") < col("n_ws")).count() == 0)
    val withChars = applied.join(
      graft.sources.Tables.documents(spark, sf)
        .select(col("doc_id"),
          expr("size(filter(regexp_extract_all(text, '(?s)\\\\S', 0), x -> true))")
            .cast("long").as("n_nonspace")),
      Seq("doc_id"))
    assert(withChars.filter(col("n_bpe") > col("n_nonspace")).count() == 0)
    // non-vacuous: the merges actually fire on this corpus
    val sums = applied.agg(sum(col("n_bpe")), sum(col("n_ws"))).head()
    assert(sums.getLong(0) > sums.getLong(1), "BPE collapsed everything to one symbol per word?")
    val charTotal = withChars.agg(sum(col("n_nonspace"))).head().getLong(0)
    assert(sums.getLong(0) < charTotal, "no merge ever applied")
  }

  test("data_card_incremental: merged counters equal the full card; stale base table rebuilds") {
    val full = graft.SparkEntry.queries("data_card")(spark, sf).collect()
      .map(r => r.getString(0) -> r.toSeq.tail.map(String.valueOf)).toMap
    val inc = graft.SparkEntry.queries("data_card_incremental")(spark, sf).collect()
      .map(r => r.getString(0) -> r.toSeq.tail.map(String.valueOf)).toMap
    // counter additivity over disjoint slices IS exactness: the update
    // path must be indistinguishable from the full rescan
    assert(inc == full)
    // the second-session scenario: base table dropped out from under the
    // publish path must rebuild, same result (the ivfAppendTables drill)
    val t = graft.queries.TextQueries.dataCardBaseTable(spark, sf)
    spark.sql(s"DROP TABLE $t")
    val again = graft.SparkEntry.queries("data_card_incremental")(spark, sf).collect()
      .map(r => r.getString(0) -> r.toSeq.tail.map(String.valueOf)).toMap
    assert(spark.catalog.tableExists(t), "publish path did not rebuild the dropped base table")
    assert(again == full)
  }

  test("release_manifest: rollup of exactly the gated survivors, split-complete, leakage-consistent") {
    val out = graft.SparkEntry.queries("release_manifest")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    // totals equal the funnel's survivor count — nothing gained or lost
    // in the split/rollup composition
    val surv = graft.SparkEntry.queries("pipeline_curate_lm")(spark, sf).count()
    assert(out.map(_._3).sum == surv)
    // all three splits ship, train dominates (the 90/5/5 design)
    val bySplit = out.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(bySplit.keySet == Set("train", "val", "test"))
    assert(bySplit("train") > bySplit("val") + bySplit("test"))
    // every (split, source) row carries at least one token per doc
    assert(out.forall { case (_, _, n, t) => t >= n })
  }

  test("ann_text_recall: OR-amplified retrieval clears the recall floor; serve output is sound") {
    val recall = graft.SparkEntry.queries("ann_text_recall")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(recall.nonEmpty)
    recall.foreach { case (_, _, hits, rec) =>
      assert(hits >= 0 && hits <= 5 && rec == hits / 5.0)
    }
    // regression lock: 4-table OR-amplification measured 0.56 mean
    // recall@5 on this corpus (single-table was 0.24) — a banding or
    // hashing regression drops it sharply
    val mean = recall.map(_._4).sum / recall.length
    assert(mean >= 0.35, f"mean recall@5 $mean%.3f below floor")
    // serve output: ranks are 1..k contiguous per query, neighbors never
    // from the query's own doc
    val served = graft.SparkEntry.queries("ann_text_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    served.groupBy(t => (t._1, t._2)).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length).toSeq)
    }
    assert(served.forall { case (qd, _, _, nd) => qd != nd })
  }

  test("bpe_drift: base-vs-full merge comparison is rank-complete and consistent with bpe_learn") {
    val drift = graft.SparkEntry.queries("bpe_drift")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(drift.nonEmpty)
    assert(drift.map(_._1).toSeq == (1L to drift.length).toSeq)
    drift.foreach { case (_, b, f, same) =>
      assert(same == (if (b == f) 1L else 0L))
    }
    // the full-corpus column IS bpe_learn's merge column, rank for rank
    val learned = graft.SparkEntry.queries("bpe_learn")(spark, sf).collect()
      .map(r => (r.getAs[Long]("merge_rank"), r.getAs[String]("merged"))).toMap
    drift.foreach { case (k, _, f, _) =>
      assert(learned.get(k).forall(_ == f), s"rank $k: $f vs ${learned.get(k)}")
    }
    // head merges are stable on this corpus (the base slice is 2/3 of
    // it) — a fully-divergent table would mean the comparison is broken
    assert(drift.take(3).forall(_._4 == 1L))
  }

  test("ts_changepoint localizes a constructed mean shift at the shift point") {
    // series 1: flat 10.0 for 20 readings then flat 20.0 for 20 — the
    // max-|cusum| row is the LAST pre-shift reading (classic CUSUM)
    val rows = (1L to 40L).map { i =>
      (new java.sql.Timestamp(i * 1000L), i, 1L, if (i <= 20) 10.0 else 20.0)
    }
    val df = rows.toDF("ts", "event_id", "user_id", "value")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("e_us"), col("event_id"))
    val wAll = Window.partitionBy(col("user_id"))
    // replicate the query over the probe frame (the registered query is
    // bound to the events table; the algebra is what's under test)
    val e = df.select(col("event_id"), col("user_id"), col("value"),
      graft.functions.TimeFns.epochMicros(col("ts")).as("e_us"))
    val sel = Window.partitionBy(col("user_id")).orderBy(abs(col("dev")).desc, col("i"))
    val cp = e
      .withColumn("v_u", (col("value").cast("decimal(18,6)") * lit(1000000)).cast("long"))
      .withColumn("run", sum(col("v_u")).over(w))
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("total", sum(col("v_u")).over(wAll))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("dev", col("n") * col("run") - col("i") * col("total"))
      .withColumn("rn", row_number().over(sel)).filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("dev"))
      .collect()
    assert(cp.length == 1)
    assert(cp.head.getLong(1) == 20L, s"changepoint at ${cp.head.getLong(1)}, want 20")
    // and the real-table query returns one row per series, deterministic
    val out = graft.SparkEntry.queries("ts_changepoint")(spark, sf)
    val users = graft.sources.Tables.events(spark, sf)
      .select(col("user_id")).distinct().count()
    assert(out.count() == users)
  }

  test("collocations ranks by exact pair count and reports finite PMI") {
    val out = graft.SparkEntry.queries("collocations")(spark, sf).collect()
    assert(out.nonEmpty && out.length <= 30)
    // ordering: non-increasing c_ab, ties broken by (w1, w2)
    val counts = out.map(_.getLong(2))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
    assert(out.forall(r => !r.getDouble(3).isNaN && !r.getDouble(3).isInfinite))
    assert(out.forall(_.getLong(2) >= 5))
  }

  test("text_rarity: common-vocabulary docs score lower surprisal than rare-vocabulary docs") {
    val out = graft.SparkEntry.queries("text_rarity")(spark, sf)
    // every doc's rare_n <= n_tok and mean_cnt_e4 >= 1e4 (every token
    // occurs at least once — itself)
    assert(out.filter(col("rare_n") > col("n_tok")).count() == 0)
    assert(out.filter(col("mean_cnt_e4") < 10000L).count() == 0)
    // monotone signal: across docs, higher mean corpus frequency =>
    // lower surprisal (they are an exact inverse through one log)
    val two = out.orderBy(col("mean_cnt_e4")).collect()
    val lowFreq = two.head
    val highFreq = two.last
    assert(lowFreq.getLong(5) > highFreq.getLong(5))
  }

  test("ts_seasonal: additive decomposition invariants hold (weighted seasonal sums to ~0 per type)") {
    val out = graft.SparkEntry.queries("ts_seasonal")(spark, sf)
    assert(out.filter(col("hour") < 0 || col("hour") > 23).count() == 0)
    // Σ_h n_h · seasonal_h = Σ n_h·(mean_h − mean_type) = 0 exactly in
    // real arithmetic; round(6) on each component bounds the residual
    val resid = out.groupBy(col("event_type"))
      .agg(sum(col("n") * col("seasonal")).as("r"), sum(col("n")).as("n_tot"))
      .collect()
    resid.foreach { r =>
      assert(math.abs(r.getDouble(1)) / r.getLong(2) < 1e-5, r.toString)
    }
    // hour_mean − seasonal is the SAME type-wide constant on every row
    val spread = out.select(col("event_type"),
        round(col("hour_mean") - col("seasonal"), 4).as("tm"))
      .distinct().groupBy(col("event_type")).count().collect()
    spread.foreach(r => assert(r.getLong(1) == 1L, r.toString))
  }

  test("lm_score is ORDER-sensitive: shuffled tokens of in-distribution text score higher NLL") {
    // corpus: the same sentence four times (its bigrams become "the
    // language") plus one doc with the SAME unigrams in scrambled order
    // — unigram rarity identical by construction, only bigram
    // statistics differ. Replicates the query algebra over a probe
    // frame (the registered query binds to the documents table).
    val probe = Seq(
      (1L, "the cat sat on the mat"), (2L, "the cat sat on the mat"),
      (3L, "the cat sat on the mat"), (4L, "the cat sat on the mat"),
      (5L, "mat the on sat cat the")).toDF("doc_id", "text")
    val t = probe.select(col("doc_id"), graft.text.TextOps.tokens(col("text")).as("t"))
    val bg = t.select(col("doc_id"), explode(expr(
        "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1)," +
          " (a, b) -> struct(a AS w1, b AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val uni = t.select(explode(col("t")).as("w")).groupBy(col("w")).agg(count(lit(1)).as("c"))
    val v = uni.count()
    val bc = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_ab"))
    val nll = bg.join(bc, Seq("w1", "w2"))
      .join(uni.select(col("w").as("w1"), col("c").as("c_a")), Seq("w1"))
      .select(col("doc_id"),
        log((col("c_a") + lit(v)).cast("double") / (col("c_ab") + lit(1L))).as("nll"))
      .groupBy(col("doc_id")).agg(avg(col("nll")).as("mean_nll"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(nll(5L) > nll(1L), s"shuffled ${nll(5L)} vs canonical ${nll(1L)}")
    // and the registered query: one row per >=2-token doc, NLL >= 0
    val out = graft.SparkEntry.queries("lm_score")(spark, sf)
    val eligible = graft.sources.Tables.documents(spark, sf)
      .filter(size(graft.text.TextOps.tokens(col("text"))) >= 2).count()
    assert(out.count() == eligible)
    assert(out.filter(col("mean_nll") < 0).count() == 0)
  }

  test("diversity_sample keeps exactly the longest doc per semantic cell and accounts for every vector") {
    val out = graft.SparkEntry.queries("diversity_sample")(spark, sf)
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id").as("doc_id"),
        graft.sim.Similarity.hyperplaneBucket(col("embedding"), 8).as("bucket"))
      .join(graft.sources.Tables.documents(spark, sf).select(col("doc_id"), col("n_chars")),
        Seq("doc_id"))
    // one survivor per non-empty cell; populations account for all rows
    assert(out.select(col("bucket")).distinct().count() == out.count())
    assert(out.agg(sum(col("n_bucket"))).head.getLong(0) == emb.count())
    // the survivor really is the cell argmax (n_chars desc, doc_id asc)
    val best = emb
      .select(col("bucket"),
        struct(col("n_chars"), (-col("doc_id")).as("nid"), col("doc_id").as("id")).as("s"))
      .groupBy(col("bucket")).agg(max(col("s")).as("m"))
      .select(col("bucket"), col("m.n_chars").as("bc"), col("m.id").as("bid"))
    val joined = out.join(best, Seq("bucket"))
    assert(joined.filter(col("n_chars") =!= col("bc") || col("doc_id") =!= col("bid")).count() == 0)
  }

  test("quantile_bucket: equal-frequency deciles partition the column with ordered, non-overlapping ranges") {
    val out = graft.SparkEntry.queries("quantile_bucket")(spark, sf).collect()
    assert(out.map(_.getLong(0)).toSeq == (1L to 10L))
    val total = graft.sources.Tables.lineitem(spark, sf).count()
    assert(out.map(_.getLong(1)).sum == total)
    // near-equal populations (exact under no ties; synthetic prices are
    // nearly unique): every bucket within 2% of n/10
    out.foreach(r => assert(math.abs(r.getLong(1) - total / 10.0) < total * 0.02, r.toString))
    // ranges ordered and disjoint: hi_k < lo_{k+1}
    out.sliding(2).foreach { case Array(a, b) =>
      assert(a.getDouble(3) < b.getDouble(2), s"$a !< $b")
    }
  }

  test("dedup_containment: a planted subset doc scores containment 1.0 where jaccard under-ranks") {
    // B = A + 25% extra tokens: jaccard well below 1, containment(A→B)
    // exactly 1.0 — replicate the verify algebra over a constructed
    // shingle relation (h1 per (doc, shingle), the pairJaccard shape)
    val aSh = (1L to 20L).map(h => (1L, h))
    val bSh = (1L to 25L).map(h => (2L, h))
    val ex = (aSh ++ bSh).toDF("doc_id", "h1")
    val cand = Seq((1L, 2L)).toDF("id_a", "id_b")
    val got = graft.dedup.Dedup.pairContainment(cand, ex, "doc_id").head
    assert(got.getDouble(2) == 1.0, s"cont_a: $got")          // A fully inside B
    assert(got.getDouble(3) == 20.0 / 25.0, s"cont_b: $got")
    val jac = graft.dedup.Dedup.pairJaccard(cand, ex, "doc_id").head.getDouble(2)
    assert(jac == 0.8 && jac < got.getDouble(2))
    // the registered query: containment dominates jaccard on every pair
    val out = graft.SparkEntry.queries("dedup_containment")(spark, sf)
    assert(out.filter(col("cont_a") > 1.0 || col("cont_b") > 1.0
      || col("cont_a") < 0.0 || col("cont_b") < 0.0).count() == 0)
    val j = graft.SparkEntry.queries("dedup_ngram_jaccard")(spark, sf)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    assert(out.join(j, Seq("id_a", "id_b"))
      .filter(greatest(col("cont_a"), col("cont_b")) < col("jaccard")).count() == 0)
  }

  test("embed_drift: one row per label, bounded cosine, slice counts account for every vector") {
    val out = graft.SparkEntry.queries("embed_drift")(spark, sf)
    val emb = graft.sources.Tables.embeddings(spark, sf)
    assert(out.count() == emb.select(col("label")).distinct().count())
    assert(out.filter(abs(col("centroid_cos")) > 1.0).count() == 0)
    assert(out.agg(sum(col("n_old") + col("n_new"))).head.getLong(0) == emb.count())
    // split accounting per label matches the % 3 convention
    val want = emb.groupBy(col("label"))
      .agg(sum(when(col("vec_id") % 3 =!= 0, 1L).otherwise(0L)).as("o"),
        sum(when(col("vec_id") % 3 === 0, 1L).otherwise(0L)).as("n"))
    assert(out.join(want, Seq("label"))
      .filter(col("n_old") =!= col("o") || col("n_new") =!= col("n")).count() == 0)
  }

  test("dedup_semantic_incremental admits exactly the increment vectors whose cell has no incumbent") {
    val out = graft.SparkEntry.queries("dedup_semantic_incremental")(spark, sf)
    assert(out.filter(col("doc_id") % 3 =!= 0).count() == 0)  // increment only
    // blocked rows carry an OLD-slice incumbent; admitted rows carry none
    assert(out.filter(col("admit") === 0 && col("incumbent").isNull).count() == 0)
    assert(out.filter(col("admit") === 1 && col("incumbent").isNotNull).count() == 0)
    assert(out.filter(col("incumbent").isNotNull && col("incumbent") % 3 === 0).count() == 0)
    // cross-check against an independently computed old-cell set
    val oldCells = graft.sources.Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 3 =!= 0)
      .select(graft.sim.Similarity.hyperplaneBucket(col("embedding"), 8).as("bucket"))
      .distinct().collect().map(_.getLong(0)).toSet
    val bad = out.collect().count { r =>
      val blocked = r.getLong(4) == 0L
      blocked != oldCells.contains(r.getLong(1))
    }
    assert(bad == 0)
  }

  test("dedup_graph_rank: the hub of a star outranks its leaves; mass is conserved up to floor loss") {
    // star: 1 — {2,3,4,5}: the template original every variant links to
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)).toDF("id_a", "id_b")
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst"))).distinct()
    val nodes = edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    val nc = nodes.agg(count(lit(1)).as("nn"))
    val seeded = nodes.crossJoin(broadcast(nc))
      .select(col("id"), col("deg"), col("nn"),
        expr("CAST(1000000000 AS BIGINT) div nn").as("pr"))
    val ranked = (1 to 3).foldLeft(seeded) { (pr, _) =>
      val contrib = pr.select(col("id").as("src"),
        expr("(85 * pr) div (100 * deg)").as("c"))
      val inbound = edges.join(contrib, Seq("src"))
        .groupBy(col("dst")).agg(sum(col("c")).as("cin"))
        .select(col("dst").as("id"), col("cin"))
      nodes.crossJoin(broadcast(nc)).join(inbound, Seq("id"), "left")
        .select(col("id"), col("deg"), col("nn"),
          (expr("CAST(150000000 AS BIGINT) div nn") + coalesce(col("cin"), lit(0L))).as("pr"))
    }
    val pr = ranked.collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert((2L to 5L).forall(l => pr(1L) > pr(l)), pr.toString)
    assert((2L to 5L).map(pr).distinct.size == 1)  // symmetric leaves tie
    // registered query: positive ranks, total mass <= 1e9 (floor only loses)
    val out = graft.SparkEntry.queries("dedup_graph_rank")(spark, sf)
    assert(out.filter(col("pr_e9") <= 0).count() == 0)
    assert(out.agg(sum(col("pr_e9"))).head.getLong(0) <= 1000000000L)
  }

  test("dedup_containment_bottomk surfaces a 5x wrapper pair invisible to jaccard-threshold banding") {
    import org.apache.spark.sql.expressions.Window
    // A = 50 shingles fully inside B = 250 shingles: jaccard 0.2 (below
    // the 0.3 LSH threshold), containment(A→B) = 1.0 — the bottom-k
    // candidate join must surface (A, B)
    val ex = ((1L to 50L).map(h => (1L, h)) ++ (1L to 250L).map(h => (2L, h)))
      .toDF("doc_id", "h1")
    val sh = ex.select(col("doc_id"), col("h1").as("h")).distinct()
    val mn = sh.groupBy(col("doc_id")).agg(min(col("h")).as("h"))
    val wk = Window.partitionBy(col("doc_id")).orderBy(col("h"))
    val bk = sh.withColumn("rk", row_number().over(wk))
      .filter(col("rk") <= 16).select(col("doc_id"), col("h"))
    val cand = mn.select(col("doc_id").as("id_a"), col("h"))
      .join(bk.select(col("doc_id").as("id_b"), col("h")), Seq("h"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    assert(cand.filter(col("id_a") === 1L && col("id_b") === 2L).count() == 1)
    val v = graft.dedup.Dedup.pairContainment(
      cand.filter(col("id_a") === 1L && col("id_b") === 2L), ex, "doc_id").head
    assert(v.getDouble(2) == 1.0 && v.getDouble(3) == 0.2, v.toString)
    // the registered query finds strictly more near-containment pairs
    // than the jaccard-reachable containment view
    val bkOut = graft.SparkEntry.queries("dedup_containment_bottomk")(spark, sf)
    assert(bkOut.filter(col("cont_a") < 0.9).count() == 0)
    assert(bkOut.count() > 0)
  }

  test("ts_seasonal_adjust residuals center each (type, hour) cell on zero") {
    val out = graft.SparkEntry.queries("ts_seasonal_adjust")(spark, sf)
    assert(out.count() == graft.sources.Tables.events(spark, sf).count())
    // the residual is value − cell mean, so each cell's residual sum is
    // 0 in exact arithmetic; round(6) bounds the per-row error
    val cells = out.groupBy(col("event_type"), col("hour"))
      .agg(sum(col("resid")).as("r"), count(lit(1)).as("n")).collect()
    cells.foreach(c =>
      assert(math.abs(c.getDouble(2)) / c.getLong(3) < 1e-5, c.toString))
  }

  test("lm_score_incremental: frozen-LM scoring of the increment, OOV as the drift signal") {
    val out = graft.SparkEntry.queries("lm_score_incremental")(spark, sf)
    val eligible = graft.sources.Tables.documents(spark, sf)
      .filter(col("doc_id") % 3 === 0)
      .filter(size(graft.text.TextOps.tokens(col("text"))) >= 2).count()
    assert(out.count() == eligible)                        // only the increment is scored
    assert(out.filter(col("doc_id") % 3 =!= 0).count() == 0)
    assert(out.filter(col("mean_nll") < 0).count() == 0)   // add-one NLL is nonnegative
    assert(out.filter(col("oov_bg") > col("n_bg")).count() == 0)
    // drift signal is live on real data: some increment bigrams are
    // unseen by the frozen LM (disjoint doc contents), but not all
    val tot = out.agg(sum(col("oov_bg")).as("o"), sum(col("n_bg")).as("n")).head
    assert(tot.getLong(0) > 0L && tot.getLong(0) < tot.getLong(1), tot.toString)
  }

  test("session_concurrency: two-level sweep equals the flat running sum; invariants hold") {
    val out = graft.SparkEntry.queries("session_concurrency")(spark, sf)
    import org.apache.spark.sql.expressions.Window
    // flat single-window reference: same boundaries, one global running
    // sum (the formulation the two-level algebra must equal)
    val sess = graft.SparkEntry.queries("sessionize")(spark, sf)
      .select(col("start_us"), col("end_us"))
    val bd = sess.select(explode(array(
        struct(col("start_us").as("t"), lit(1L).as("delta")),
        struct((col("end_us") + 1).as("t"), lit(-1L).as("delta")))).as("e"))
      .select(col("e.t").as("t"), col("e.delta").as("delta"))
      .groupBy(col("t")).agg(sum(col("delta")).as("net"))
    val flat = bd
      .withColumn("conc", sum(col("net"))
        .over(Window.orderBy(col("t")).rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(floor(col("t") / lit(3600000000L)).cast("long").as("chunk"))
      .agg(max(col("conc")).as("peak_ref"))
    val cmp = out.withColumn("chunk", (col("hour_s") / 3600).cast("long"))
      .join(flat, Seq("chunk"))
    assert(cmp.filter(col("peak") =!= col("peak_ref")).count() == 0)
    // every session closes: total net is zero; peaks within [0, #users]
    // (0 is legitimate: an hour whose only boundaries are session ends
    // that close the last open sessions); one user never overlaps itself
    // (sessionize gaps split at >30 min), so #users is a hard ceiling
    assert(bd.agg(sum(col("net"))).head.getLong(0) == 0L)
    val users = graft.sources.Tables.events(spark, sf).select(col("user_id")).distinct().count()
    assert(out.filter(col("peak") < 0 || col("peak") > users).count() == 0)
    assert(out.agg(max(col("peak"))).head.getLong(0) >= 1L)
  }

  test("ts_rolling_median resists a spike that drags the mean, and seeds from short prefixes") {
    val probe = spark.sql(
      "SELECT * FROM VALUES " + (1 to 11).map { i =>
        val v = if (i == 6) 1000.0 else 10.0  // one spike mid-series
        s"(TIMESTAMP '2024-01-01 00:0${i / 10}:${i % 10 * 5}', $i, 1, CAST($v AS DOUBLE))"
      }.mkString(", ") + " AS t(ts, event_id, user_id, value)")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(graft.functions.TimeFns.epochMicros(col("ts")), col("event_id"))
      .rowsBetween(-8, 0)
    val med = probe
      .select(col("event_id"),
        sort_array(collect_list(col("value")).over(w)).as("win"))
      .select(col("event_id"),
        element_at(col("win"), ((size(col("win")) + 1) / 2).cast("int")).as("m"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(med.values.forall(_ == 10.0), med.toString)  // the spike never wins
    assert(med(1) == 10.0)                               // prefix of one row = itself
    // registered query: one row per non-null reading
    val out = graft.SparkEntry.queries("ts_rolling_median")(spark, sf)
    assert(out.count() ==
      graft.sources.Tables.events(spark, sf).filter(col("value").isNotNull).count())
  }

  test("zorder_key cells honor the locality contract: every coarse cell spans <= 1/16 of each dimension") {
    val out = graft.SparkEntry.queries("zorder_key")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(3) - r.getLong(2) <= 63, s"x span: $r")
      assert(r.getLong(5) - r.getLong(4) <= 63, s"y span: $r")
    }
    val total = graft.sources.Tables.lineitem(spark, sf).count()
    assert(out.map(_.getLong(1)).sum == total)
  }

  test("shard_assign is the snake draft over (n_tok desc, doc_id); shard_balance reconciles and bounds the spread") {
    val out = graft.SparkEntry.queries("shard_assign")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    assert(out.forall(t => t._4 >= 0 && t._4 < 8), "shard out of range")
    assert(out.map(_._1).distinct.length == out.length, "a doc assigned twice")
    out.groupBy(_._2).foreach { case (src, ds) =>
      // the assignment IS the snake formula over the per-source order
      val ordered = ds.sortBy(t => (-t._3, t._1))
      ordered.zipWithIndex.foreach { case ((id, _, _, shard), pos) =>
        val want = if ((pos / 8) % 2 == 0) pos % 8 else 7 - pos % 8
        assert(shard == want, s"$src doc $id pos $pos: shard $shard want $want")
      }
      // doc counts round-robin exactly: differ by <= 1 across shards
      val counts = ordered.groupBy(_._4).values.map(_.size)
      assert(counts.max - counts.min <= 1, s"$src doc counts $counts")
      // token balance: each band pair hands every shard one long + one
      // short doc, so the spread stays under ONE longest doc
      val toks = ordered.groupBy(_._4).values.map(_.map(_._3).sum)
      assert(toks.max - toks.min <= ordered.map(_._3).max,
        s"$src spread ${toks.max - toks.min} > max doc ${ordered.map(_._3).max}")
    }
    // balance audit reconciles with the assignment EXACTLY
    val bal = graft.SparkEntry.queries("shard_balance")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val wantBal = out.groupBy(t => (t._2, t._4)).map { case ((src, sh), ds) =>
      (src, sh, ds.size.toLong, ds.map(_._3).sum)
    }.toSet
    assert(bal.map(t => (t._1, t._2, t._3, t._4)).toSet == wantBal)
    bal.groupBy(_._1).foreach { case (src, rows) =>
      val spread = rows.map(_._4).max - rows.map(_._4).min
      assert(rows.forall(_._5 == spread), s"$src spread column != $spread")
    }
  }

  test("quality_rank_corr equals an independent driver-side Spearman recomputation") {
    def halfAway(a: Long, b: Long): Long =
      if (a < 0) -((2 * -a + b) / (2 * b)) else (2 * a + b) / (2 * b)
    val stop = graft.text.TextOps.LangStopwords.toMap.apply("en").toSet
    // quality side recomputed OUTSIDE Spark expressions (plain Scala
    // over collected text), LM side from the registered lm_score key —
    // ranks via driver sorts, not windows
    val qSide = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map { r =>
        val toks = r.getString(2).split("\\s+").filter(_.nonEmpty)
        val n = toks.length.toLong
        val qE6 =
          if (n >= 2)
            Some((5 * n * math.min(n, 100) + 300 * (n - toks.count(stop))
              + 200 * toks.distinct.length) * 1000 / n)
          else None
        (r.getLong(0), r.getString(1), qE6)
      }.collect { case (id, src, Some(q)) => (id, src, q) }
    val lmSide = graft.SparkEntry.queries("lm_score")(spark, sf).collect()
      .map(r => r.getLong(0) -> halfAway(r.getLong(2), r.getLong(1))).toMap
    val want = qSide.groupBy(_._2).map { case (src, ds) =>
      val rq = ds.sortBy(t => (-t._3, t._1)).zipWithIndex
        .map { case (t, i) => t._1 -> (i + 1L) }.toMap
      val rl = ds.sortBy(t => (lmSide(t._1), t._1)).zipWithIndex
        .map { case (t, i) => t._1 -> (i + 1L) }.toMap
      val n = ds.length.toLong
      val d2 = ds.map(t => { val d = rq(t._1) - rl(t._1); d * d }).sum
      val den = n * (n * n - 1)
      (src, n, d2, if (n > 1) halfAway((den - 6 * d2) * 1000000L, den) else 0L)
    }.toSet
    val got = graft.SparkEntry.queries("quality_rank_corr")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want, s"got ${got.toSeq.sortBy(_._1)}\nwant ${want.toSeq.sortBy(_._1)}")
    assert(got.forall(t => t._4 >= -1000000L && t._4 <= 1000000L))
  }

  test("decontaminate_report equals an independent driver-side recomputation of per-benchmark leakage") {
    val all = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def grams(t: String): Set[String] = {
      val w = t.split("\\s+").filter(_.nonEmpty)
      if (w.length >= 4) w.sliding(4).map(_.mkString(" ")).toSet else Set.empty[String]
    }
    val bench = all.filter(_._1 % 50 == 0).map { case (id, t) => id -> grams(t) }
    val corpus = all.filter(_._1 % 50 != 0).map { case (id, t) => id -> grams(t) }
    assert(bench.nonEmpty && corpus.nonEmpty)
    val want = bench.map { case (bid, g) =>
      val hitDocs = corpus.count(c => c._2.exists(g))
      val leaked = g.count(gr => corpus.exists(_._2(gr)))
      (bid, g.size.toLong, leaked.toLong, hitDocs.toLong,
        if (g.nonEmpty) leaked.toLong * 1000000L / g.size else 0L)
    }.toSet
    val got = graft.SparkEntry.queries("decontaminate_report")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got == want, s"got ${got.toSeq.sortBy(_._1)}\nwant ${want.toSeq.sortBy(_._1)}")
  }

  test("lang_id_eval reconciles with lang_id cell-for-cell; zh recall is zero by construction") {
    val per = graft.SparkEntry.queries("lang_id")(spark, sf).collect()
      .map(r => (r.getString(1), r.getString(2)))
    val want = per.groupBy(identity).map { case ((l, p), xs) =>
      (l, p, xs.length.toLong) }.toSet
    val got = graft.SparkEntry.queries("lang_id_eval")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.map(t => (t._1, t._2, t._3)).toSet == want)
    got.groupBy(_._1).foreach { case (l, rows) =>
      val tot = rows.map(_._3).sum
      assert(rows.forall(_._4 == tot), s"$l totals")
      val diag = rows.filter(t => t._1 == t._2).map(_._3).sum
      assert(rows.forall(_._5 == diag * 1000000L / tot), s"$l recall")
    }
    // zh recall on THIS corpus is honestly zero — not a classifier hole
    // anymore (the Han-fraction branch answers real Chinese text,
    // TextOpsSpec pins it) but a DATA fact: the synthetic corpus's
    // zh-LABELED docs contain no Han characters at any SF (verified
    // sf0.001/0.01/0.1 — they are the same English token soup as every
    // other label), so no content-based classifier can separate them.
    // The eval keeps saying so rather than flattering the gate.
    val zh = got.filter(_._1 == "zh")
    assert(zh.nonEmpty && zh.forall(_._5 == 0L))
  }

  test("corpus_growth: first-seen attribution partitions the vocab exactly; cumulative lines are monotone and close the totals") {
    val got = graft.SparkEntry.queries("corpus_growth")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.map(_._1).toSeq == (0L to 9L))
    // every doc accounted for once
    val docs = graft.sources.Tables.documents(spark, sf)
    assert(got.map(_._2).sum == docs.count())
    // cumulative = running sum; final row closes on the true distincts
    got.foldLeft((0L, 0L)) { case ((ct, cf), row) =>
      assert(row._5 == ct + row._3 && row._6 == cf + row._4, s"cum broken at ${row._1}")
      (row._5, row._6)
    }
    val totalTypes = docs
      .select(explode(graft.text.TextOps.tokens(col("text"))).as("w"))
      .agg(countDistinct(col("w"))).collect()(0).getLong(0)
    assert(got.last._5 == totalTypes)
    val totalFps = docs.select(graft.text.TextOps.fingerprint(col("text")).as("fp"))
      .agg(countDistinct(col("fp"))).collect()(0).getLong(0)
    assert(got.last._6 == totalFps)
    // novelty declines: the first slice contributes the most new types
    assert(got.head._3 == got.map(_._3).max)
  }

  test("bpe_fertility reconciles with per-doc bpe_token_count sums; fertility >= 1 token/word everywhere") {
    val langOf = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val perDoc = graft.SparkEntry.queries("bpe_token_count")(spark, sf).collect()
      .map(r => (langOf(r.getLong(0)), r.getLong(1), r.getLong(2)))
    val want = perDoc.groupBy(_._1).map { case (l, xs) =>
      val ws = xs.map(_._2).sum; val bpe = xs.map(_._3).sum
      (l, xs.length.toLong, ws, bpe, if (ws > 0) bpe * 1000000L / ws else 0L)
    }.toSet
    val got = graft.SparkEntry.queries("bpe_fertility")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSet == want, s"got ${got.toSeq.sortBy(_._1)}\nwant ${want.toSeq.sortBy(_._1)}")
    // a word is always >= 1 segment, so fertility >= 1.0 wherever words exist
    assert(got.filter(_._3 > 0).forall(_._5 >= 1000000L))
  }

  test("epoch_order materializes the allocation exactly: take_tok sums to alloc_tok, full epochs are complete permutations, the partial epoch cuts at partial_tok") {
    val plan = graft.SparkEntry.queries("epoch_plan")(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    // the data must exercise the partial branch or this test is weak
    assert(plan.values.exists(_._5 > 0), "no source with a partial epoch")
    val ord = graft.SparkEntry.queries("epoch_order")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(ord.nonEmpty)
    // only sources with a non-zero allocation appear
    assert(ord.map(_._1).toSet ==
      plan.filter(_._2._3 > 0).keySet)
    ord.groupBy(_._1).foreach { case (src, rows) =>
      val (nDocs, uniq, alloc, epochs, partial) = plan(src)
      assert(rows.map(_._6).sum == alloc, s"$src take sum != alloc $alloc")
      rows.groupBy(_._2).foreach { case (e, er) =>
        assert(er.map(_._3).sorted.toSeq == (1L to er.length.toLong).toSeq,
          s"$src epoch $e positions")
        if (e <= epochs) {
          assert(er.length.toLong == nDocs, s"$src epoch $e incomplete")
          assert(er.map(_._6).sum == uniq)
          assert(er.forall(t => t._6 == t._5)) // whole docs, no cuts
        } else {
          assert(er.map(_._6).sum == partial, s"$src partial epoch sum")
          // at most ONE straddling doc contributes a cut
          assert(er.count(t => t._6 < t._5) <= 1)
        }
      }
      // seed-per-epoch: two full epochs order the same docs DIFFERENTLY
      val fulls = rows.filter(_._2 <= epochs).groupBy(_._2)
      if (fulls.size >= 2 && nDocs > 1) {
        val orders = fulls.values.map(_.sortBy(_._3).map(_._4).toSeq).toSeq
        assert(orders.distinct.size == orders.size,
          s"$src epochs replayed an identical permutation")
      }
    }
  }

  test("split_leak_safe: verified near-dup pairs NEVER straddle splits; full coverage") {
    val out = graft.SparkEntry.queries("split_leak_safe")(spark, sf)
    val nDocs = graft.sources.Tables.documents(spark, sf).count()
    assert(out.count() == nDocs)
    // both endpoints of every LSH-verified pair get the same split
    val splits = out.select(col("doc_id"), col("split"))
    val pairs = DedupQueries.verifiedPairs(spark, sf)
    val straddle = pairs
      .join(splits.select(col("doc_id").as("id_a"), col("split").as("sp_a")), Seq("id_a"))
      .join(splits.select(col("doc_id").as("id_b"), col("split").as("sp_b")), Seq("id_b"))
      .filter(col("sp_a") =!= col("sp_b"))
    assert(pairs.count() > 0, "vacuous: no verified pairs at this sf")
    assert(straddle.count() == 0)
    // canonical agrees with dedup_cluster for clustered docs, own id otherwise
    val cl = graft.SparkEntry.queries("dedup_cluster")(spark, sf)
      .withColumnRenamed("canonical", "cl_canon")
    assert(out.join(cl, Seq("doc_id"), "left")
      .filter(col("canonical") =!= coalesce(col("cl_canon"), col("doc_id")))
      .count() == 0)
  }

  test("split_leakage: cluster policy is leak-free, fingerprint policy measured on the same pair set") {
    val rows = graft.SparkEntry.queries("split_leakage")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq("cluster", "fingerprint"))
    val Array(clusterRow, fpRow) = rows
    assert(clusterRow._2 == fpRow._2, "policies must audit the same pair set")
    assert(clusterRow._2 == DedupQueries.verifiedPairs(spark, sf).count())
    assert(clusterRow._3 == 0L, "cluster-aware split leaked a near-dup pair")
    assert(fpRow._3 >= 0L && fpRow._3 <= fpRow._2)
  }

  test("quality_rules_report reconciles with a driver-side per-doc recompute") {
    val out = graft.SparkEntry.queries("quality_rules_report")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val allStop = graft.text.TextOps.LangStopwords.flatMap(_._2).distinct.toSet
    val want = docs.groupBy(_._1).map { case (src, ds) =>
      val flags = ds.map { case (_, text) =>
        val toks = text.split("\\s+").filter(_.nonEmpty)
        val n = toks.length.toLong
        val nonws = text.count(!_.isWhitespace).toLong
        val na = text.count(c => (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')).toLong
        val nHash = text.count(_ == '#').toLong
        val d3 = (text.length - text.replace("...", "").length).toLong
        val nStop = toks.count(allStop.contains).toLong
        (if (n < 50 || n > 100000) 1L else 0L,
          if (nonws < 3 * n || nonws > 10 * n) 1L else 0L,
          if (10 * (3 * nHash + d3) > 3 * n) 1L else 0L,
          if (nStop < 2) 1L else 0L,
          if (5 * na < 4 * nonws) 1L else 0L)
      }
      src -> (ds.length.toLong, flags.map(_._1).sum, flags.map(_._2).sum,
        flags.map(_._3).sum, flags.map(_._4).sum, flags.map(_._5).sum,
        flags.count(f => f._1 + f._2 + f._3 + f._4 + f._5 == 0).toLong)
    }
    assert(out == want)
    // non-vacuous on this corpus: at least one rule fires somewhere
    assert(out.values.map(v => v._2 + v._5).sum > 0)
  }

  test("dsir_weight matches an exact driver-side DSIR recompute; en docs skew target-like") {
    val out = graft.SparkEntry.queries("dsir_weight")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def toks(t: String) = t.split("\\s+").filter(_.nonEmpty).toSeq
    val corpusCnt = docs.flatMap(d => toks(d._3)).groupBy(identity).map { case (w, g) => w -> g.length.toLong }
    val tgtCnt = docs.filter(_._2 == "en").flatMap(d => toks(d._3))
      .groupBy(identity).map { case (w, g) => w -> g.length.toLong }
    val nR = corpusCnt.values.sum
    val v = corpusCnt.size.toLong
    val nT = tgtCnt.values.sum
    // identical arithmetic to the query: (a*b)/(c*d) as doubles, ONE ln,
    // round half-up (Spark round on double) — Math.log IS Spark's ln
    val llr = corpusCnt.map { case (w, c) =>
      val num = (tgtCnt.getOrElse(w, 0L) + 1L).toDouble * (nR + v).toDouble
      val den = (c + 1L).toDouble * (nT + v).toDouble
      w -> BigDecimal(math.log(num / den) * 10000.0)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    val want = docs.map { case (id, _, text) =>
      val ts = toks(text)
      id -> (ts.length.toLong, ts.map(llr).sum)
    }.toMap
    assert(out == want)
    // the semantic claim: target-lang docs carry higher mean weight
    val byLang = docs.map(d => (d._2, out(d._1)._2.toDouble / out(d._1)._1))
      .groupBy(_._1).map { case (l, g) => l -> g.map(_._2).sum / g.length }
    assert(byLang("en") > byLang.filter(_._1 != "en").values.max,
      s"en mean per-token logw not highest: $byLang")
  }

  test("pipeline_dsir selection report closes on the per-doc dsir_weight relation") {
    val report = graft.SparkEntry.queries("pipeline_dsir")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val perDoc = graft.SparkEntry.queries("dsir_weight")(spark, sf)
      .join(graft.sources.Tables.documents(spark, sf).select(col("doc_id"), col("source")),
        Seq("doc_id"))
      .collect().map(r => (r.getAs[String]("source"), r.getAs[Long]("logw_e4")))
    val want = perDoc.groupBy(_._1).map { case (src, g) =>
      val sel = g.map(_._2).filter(_ > 0)
      src -> (g.length.toLong, sel.length.toLong, sel.sum)
    }
    assert(report == want)
    // the selection is non-trivial: some but not all docs are target-like
    val (n, k) = (report.values.map(_._1).sum, report.values.map(_._2).sum)
    assert(k > 0 && k < n, s"selection degenerate: $k of $n")
  }

  test("quality rules: the symbol rule fires on planted #/ellipsis text (never exercised by the corpus)") {
    // the sf corpora contain no '#' or '...' so R3 passes vacuously
    // there — this fixture pins its integer algebra, including the
    // overlapping-dots case ('....' = ONE non-overlapping '...' match,
    // the same left-to-right replace semantics on both engines)
    // letter-only filler words (digits would trip the alpha rule and
    // muddy the attribution); 7 hashes is the exact integer boundary:
    // 10·3·7 = 210 > 3·65 = 195 fails, while 6 would pass (180 ≤ 195)
    val clean = Seq.fill(60)("alpha").mkString(" ") + " the and of is a"
    val hashy = Seq.fill(53)("alpha").mkString(" ") + " " +
      Seq.fill(7)("#").mkString(" ") + " the and of is a"
    val dotty = Seq.fill(57)("alpha").mkString(" ") + " .... .... the and of is a"
    val docsDf = spark.sql(
      s"""SELECT * FROM VALUES
         |  (0L, '$clean', 'en', 'src0', ${clean.length}L),
         |  (1L, '$hashy', 'en', 'src0', ${hashy.length}L),
         |  (2L, '$dotty', 'en', 'src0', ${dotty.length}L)
         |  AS t(doc_id, text, lang, source, n_chars)""".stripMargin)
    val tmp = writeDocsFixture(docsDf)
    val out = graft.SparkEntry.queries("quality_rules_report")(spark, tmp)
      .collect().map(r => (r.getLong(1), r.getLong(4), r.getLong(7))) // n_docs, fail_symbol, n_pass_all
    assert(out.length == 1)
    val (nDocs, failSym, passAll) = out.head
    assert(nDocs == 3L)
    // doc 1: 7 hashes over 65 words → 10·(3·7) = 210 > 3·65 = 195
    // fails R3 and nothing else; doc 2: two 4-dot runs = 2
    // non-overlapping '...' matches (each '....' loses exactly 3 chars
    // to the left-to-right replace) → d3 = 6, 10·6 = 60 ≤ 3·64 passes.
    assert(failSym == 1L, s"fail_symbol $failSym")
    assert(passAll == 2L, s"n_pass_all $passAll")
  }

  test("dsir_weight: empty target slice smooths to n_t = 0; zero-token docs are (0, 0) rows") {
    // fixture with NO lang='en' doc (the target slice is empty) and one
    // empty-text doc — pins the two edge contracts: weights stay finite
    // (Spark coalesces the empty aggregate like the oracle does), and a
    // token-less doc is present as (0, 0) rather than silently missing
    val docsDf = spark.sql(
      """SELECT * FROM VALUES
        |  (0L, 'aaa bbb aaa', 'de', 'src0', 11L),
        |  (1L, 'bbb ccc', 'fr', 'src0', 7L),
        |  (2L, '', 'zh', 'src1', 0L),
        |  (3L, 'aaa ccc ccc', 'zh', 'src1', 11L)
        |  AS t(doc_id, text, lang, source, n_chars)""".stripMargin)
    val tmp = writeDocsFixture(docsDf)
    val out = graft.SparkEntry.queries("dsir_weight")(spark, tmp).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.keySet == Set(0L, 1L, 2L, 3L), "full population, including the empty doc")
    assert(out(2L) == ((0L, 0L)))
    // exact recompute with n_t = 0: corpus aaa:3 bbb:2 ccc:3, n_r = 8, v = 3
    def llr(c: Long): Long = BigDecimal(
      math.log((1.0 * (8 + 3).toDouble) / ((c + 1).toDouble * (0 + 3).toDouble)) * 10000.0)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val (la, lb, lc) = (llr(3), llr(2), llr(3))
    assert(out(0L) == ((3L, 2 * la + lb)))
    assert(out(1L) == ((2L, lb + lc)))
    assert(out(3L) == ((3L, la + 2 * lc)))
    // the selection report counts the SAME population (4 docs, empty one included)
    val rep = graft.SparkEntry.queries("pipeline_dsir")(spark, tmp).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep == Map("src0" -> 2L, "src1" -> 2L))
  }

  test("rules_gate_eval confusion closes on both gates' own marginals") {
    val ev = graft.SparkEntry.queries("rules_gate_eval")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    // cells partition the population
    ev.foreach { case (src, (n, b, ro, lo, ne)) =>
      assert(b + ro + lo + ne == n, s"$src cells don't sum")
    }
    // rules marginal == quality_rules_report's n_pass_all, per source
    val rulesPass = graft.SparkEntry.queries("quality_rules_report")(spark, sf)
      .select(col("source"), col("n_pass_all")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    ev.foreach { case (src, (_, b, ro, _, _)) =>
      assert(b + ro == rulesPass(src), s"$src rules marginal") }
    // both marginals are non-degenerate somewhere (the eval measures
    // a real trade-off, not two constant gates)
    assert(ev.values.exists(v => v._3 > 0 || v._4 > 0), "gates never disagree — vacuous eval")
  }

  test("dedup_lsh_precision: summary closes on the deciles, verified total ties to the pair list") {
    val rows = graft.SparkEntry.queries("dedup_lsh_precision")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val (summary, deciles) = rows.partition(_._1 == -1L)
    assert(summary.length == 1 && deciles.nonEmpty)
    val (_, nCand, nVer, precE6) = summary.head
    // the summary row is exactly the column sums of the decile rows
    assert(nCand == deciles.map(_._2).sum && nVer == deciles.map(_._3).sum)
    // τ = 0.2 aligns with the decile boundary: buckets ≥ 2 are verified
    // wholesale, buckets < 2 contribute nothing
    deciles.foreach { case (b, c, v, _) =>
      assert(if (b >= 2) v == c else v == 0L, s"bucket $b: $v of $c") }
    // exact-integer ratio, and the verified total IS the production pair
    // list (dedup_ngram_jaccard = the thresholded verify, oracle-locked)
    assert(precE6 == nVer * 1000000L / nCand)
    val nPairs = graft.SparkEntry.queries("dedup_ngram_jaccard")(spark, sf).count()
    assert(nVer == nPairs, s"summary $nVer vs pair list $nPairs")
    // the lock is non-vacuous on this corpus: real dups AND real waste
    assert(nVer > 0 && nCand > nVer, s"n_cand=$nCand n_verified=$nVer")
  }

  test("pack_report closes on pack_sequences and a driver-side straddle recompute") {
    val packs = graft.SparkEntry.queries("pack_sequences")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3))) // source, seq_id, n_tokens
    val rep = graft.SparkEntry.queries("pack_report")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    // n_seqs / n_tokens tie exactly to the packer's own output
    packs.groupBy(_._1).foreach { case (src, seqs) =>
      val (_, nSeqs, nTokens, fill, _, _) = rep(src)
      assert(nSeqs == seqs.map(_._2).max + 1 && nSeqs == seqs.length.toLong, src)
      assert(nTokens == seqs.map(_._3).sum, src)
      assert(fill == BigInt(nTokens) * 1000000 / (nSeqs * 256), src)
    }
    // straddle recompute: cumsum the (+1 EOD) counts in doc_id order,
    // count docs whose CONTENT span [st, st+n-2] crosses a multiple of
    // L (an EOD-only spill is not truncated context)
    val raw = graft.sources.Tables.documents(spark, sf)
      .select(col("source"), col("doc_id"), col("text")).collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getString(2).split("\\s+").count(_.nonEmpty).toLong + 1))
    raw.groupBy(_._1).foreach { case (src, ds) =>
      var st = 0L
      var straddle = 0L
      ds.sortBy(_._2).foreach { case (_, _, n) =>
        if (n >= 2 && st / 256 != (st + n - 2) / 256) straddle += 1
        st += n
      }
      val (nDocs, _, _, _, nStraddle, ppm) = rep(src)
      assert(nDocs == ds.length.toLong && nStraddle == straddle, src)
      assert(ppm == straddle * 1000000L / ds.length, src)
    }
    // non-vacuous: this corpus has straddling docs and a ragged tail
    assert(rep.values.exists(_._5 > 0) && rep.values.exists(_._4 < 1000000L))
  }

  test("pack_buckets: bucket algebra equals a driver recompute; tokens reconcile with pack_report") {
    val out = graft.SparkEntry.queries("pack_buckets")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val raw = graft.sources.Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0),
        r.getString(1).split("\\s+").count(_.nonEmpty).toLong + 1))
    def bucketOf(rem: Long): Long =
      if (rem <= 16) 16L else if (rem <= 32) 32L else if (rem <= 64) 64L
      else if (rem <= 128) 128L else 256L
    val want = raw.flatMap { case (src, t) =>
      val full = if (t >= 256) Seq(((src, 256L), (t / 256, (t / 256) * 256L))) else Nil
      val rem = t % 256
      full ++ (if (rem > 0) Seq(((src, bucketOf(rem)), (1L, rem))) else Nil)
    }.groupBy(_._1).map { case (k @ (_, b), vs) =>
      val pieces = vs.map(_._2._1).sum
      val toks = vs.map(_._2._2).sum
      val perSeq = 256L / b
      val nSeqs = (pieces + perSeq - 1) / perSeq
      k -> (pieces, toks, nSeqs, (BigInt(toks) * 1000000 / (nSeqs * 256)).toLong)
    }
    assert(out == want)
    // padding never overfills, and every source's bucketed tokens equal
    // pack_report's n_tokens (same +1-EOD accounting, different policy)
    assert(out.values.forall(_._4 <= 1000000L))
    val rep = graft.SparkEntry.queries("pack_report")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    val bySrc = out.toSeq.groupBy(_._1._1).map { case (s, vs) => s -> vs.map(_._2._2).sum }
    assert(bySrc == rep)
  }

  test("rules_ablation: n_fail ties to quality_rules_report; solo counts match a per-doc joint recompute") {
    val out = graft.SparkEntry.queries("rules_ablation")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val rep = graft.SparkEntry.queries("quality_rules_report")(spark, sf).collect()
      .map(r => r.getString(0) -> Map(
        "nword" -> r.getLong(2), "wordlen" -> r.getLong(3), "symbol" -> r.getLong(4),
        "stop" -> r.getLong(5), "alpha" -> r.getLong(6))).toMap
    rep.foreach { case (src, fails) =>
      fails.foreach { case (rule, n) => assert(out((src, rule))._1 == n, s"$src/$rule") }
    }
    // per-doc joint flags decide solo: recompute with the report spec's rules
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val allStop = graft.text.TextOps.LangStopwords.flatMap(_._2).distinct.toSet
    val soloWant = docs.groupBy(_._1).flatMap { case (src, ds) =>
      val flags = ds.map { case (_, text) =>
        val toks = text.split("\\s+").filter(_.nonEmpty)
        val n = toks.length.toLong
        val nonws = text.count(!_.isWhitespace).toLong
        val na = text.count(c => (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')).toLong
        val nHash = text.count(_ == '#').toLong
        val d3 = (text.length - text.replace("...", "").length).toLong
        val nStop = toks.count(allStop.contains).toLong
        Map("nword" -> (if (n < 50 || n > 100000) 1L else 0L),
          "wordlen" -> (if (nonws < 3 * n || nonws > 10 * n) 1L else 0L),
          "symbol" -> (if (10 * (3 * nHash + d3) > 3 * n) 1L else 0L),
          "stop" -> (if (nStop < 2) 1L else 0L),
          "alpha" -> (if (5 * na < 4 * nonws) 1L else 0L))
      }
      Seq("alpha", "nword", "stop", "symbol", "wordlen").map { rule =>
        (src, rule) -> flags.count(f => f(rule) == 1L && f.values.sum == 1L).toLong
      }
    }
    soloWant.foreach { case (k, solo) =>
      assert(out(k)._2 == solo, s"$k")
      assert(out(k)._3 == solo * 1000000L / docs.count(_._1 == k._1), s"$k ppm")
    }
    // non-vacuous: somewhere a rule does unique work, and somewhere a
    // rule's failures are fully shadowed (solo = 0 with n_fail > 0)
    assert(out.values.exists(_._2 > 0))
    assert(out.exists { case (_, (f, s0, _)) => f > 0 && s0 == 0 })
  }

  test("knn_accuracy: vote/argmax/accuracy algebra recomputed from the brute-force top-k itself") {
    val e = graft.sources.Tables.embeddings(spark, sf)
    val labels = e.select(col("vec_id"), col("label").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val topk = graft.sim.Similarity
      .bruteForceTopK(e, "vec_id", "embedding", col("vec_id") < 40, 5)
      .select(col("q_id"), col("n_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val pred = topk.groupBy(_._1).map { case (q, ns) =>
      val votes = ns.map(n => labels(n._2)).groupBy(identity)
        .map { case (l, g) => (l, g.size) }
      q -> votes.toSeq.minBy { case (l, c) => (-c, l) }._1
    }
    val want = pred.groupBy { case (q, _) => labels(q) }.map { case (l, qs) =>
      val correct = qs.count { case (q, p) => p == labels(q) }.toLong
      l -> (qs.size.toLong, correct, correct * 1000000L / qs.size)
    }
    val got = graft.SparkEntry.queries("knn_accuracy")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == want)
    // every query with a label is scored exactly once
    assert(got.values.map(_._1).sum == pred.size.toLong && got.nonEmpty)
  }

  test("knn_accuracy after an in-place rewrite of embeddings equals a fresh dir with the new data") {
    // 60 vectors, label = id % 3. First data: one direction per label, so
    // every neighbour shares the query's label. Second data: one direction
    // per block of 20 ids, so neighbours carry the other labels.
    def data(dir: Long => Int) = (0L until 60L).map { id =>
      val v = Array.fill(4)(0f)
      v(dir(id)) = 1f
      v(3) = id * 1e-3f
      (id, v, (id % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
    def write(dir: java.nio.file.Path, df: org.apache.spark.sql.DataFrame): String = {
      df.write.mode("overwrite").parquet(dir.resolve("embeddings.parquet").toString)
      dir.toFile.deleteOnExit()
      dir.toString
    }
    def knn(d: String) = graft.SparkEntry.queries("knn_accuracy")(spark, d).collect().toSeq
    val tmp = java.nio.file.Files.createTempDirectory("graft_rewrite")
    val first = knn(write(tmp, data(id => (id % 3).toInt)))
    val second = knn(write(tmp, data(id => (id / 20).toInt)))
    val fresh = knn(write(java.nio.file.Files.createTempDirectory("graft_fresh"),
      data(id => (id / 20).toInt)))
    assert(first != fresh) // the two datasets are told apart
    assert(second == fresh)
  }

  test("window_funnel equals a driver recompute; horizon only ever removes vs funnel_conversion") {
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("e_us")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val T = 86400L * 1000000L
    val want = ev.groupBy(_._1).values.map { rows =>
      val t1 = rows.filter(_._2 == "view").map(_._3).minOption
      val t2 = t1.flatMap(a => rows.filter(r =>
        r._2 == "click" && r._3 > a && r._3 <= a + T).map(_._3).minOption)
      val t3 = (t1, t2) match {
        case (Some(a), Some(b)) => rows.filter(r =>
          r._2 == "purchase" && r._3 > b && r._3 <= a + T).map(_._3).minOption
        case _ => None
      }
      if (t3.isDefined) 3L else if (t2.isDefined) 2L else if (t1.isDefined) 1L else 0L
    }.groupBy(identity).map { case (s0, g) => s0 -> g.size.toLong }
    val got = graft.SparkEntry.queries("window_funnel")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    // the horizon can only REMOVE conversions relative to the unbounded funnel
    val fc = graft.SparkEntry.queries("funnel_conversion")(spark, sf).collect().head
    val (nViewClick, nFull) = (fc.getLong(2), fc.getLong(3))
    assert(got.filter(_._1 >= 2L).values.sum <= nViewClick)
    assert(got.getOrElse(3L, 0L) <= nFull)
    assert(got.values.sum == ev.map(_._1).distinct.length.toLong)
  }

  test("dedup_graph_degree closes on the verified pair list (handshake lemma)") {
    val pairs = graft.SparkEntry.queries("dedup_ngram_jaccard")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val want = (pairs.map(_._1) ++ pairs.map(_._2))
      .groupBy(identity).values.map(_.size.toLong)
      .groupBy(identity).map { case (d0, g) => d0 -> g.size.toLong }
    val got = graft.SparkEntry.queries("dedup_graph_degree")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    // Σ degree·n_nodes = 2·|edges| — the handshake lemma ties the
    // histogram to the pair list it claims to summarize
    assert(got.map { case (d0, n) => d0 * n }.sum == 2L * pairs.length)
    assert(got.nonEmpty)
  }

  test("decontaminate_fuzzy: worst straddling match recomputed from the verified pair list") {
    val pairs = graft.SparkEntry.queries("dedup_ngram_jaccard")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    def bench(id: Long) = id % 50 == 0
    val want = pairs.filter(p => bench(p._1) != bench(p._2))
      .map { case (a, b, j) => if (bench(a)) (b, a, j) else (a, b, j) }
      .groupBy(_._1).map { case (docId, ms) =>
        val best = ms.minBy(m => (-m._3, m._2))
        (docId, best._2, best._3)
      }.toSet
    val got = graft.SparkEntry.queries("decontaminate_fuzzy")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want)
    // non-vacuous, and no bench doc ever appears on the doc side
    assert(got.nonEmpty && got.forall(r => !bench(r._1) && bench(r._2)))
  }

  test("merge_upsert / snapshot_diff close on the changeset: the diff recovers exactly what the merge applied") {
    val orders = graft.sources.Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val base = orders.filter(_._1 % 3 != 0)
    val baseKeys = base.map(_._1).toSet
    val ups = orders.filter(o => o._1 % 7 == 0 && o._1 % 11 != 0)
      .map(o => (o._1, o._2, o._3 * 2))
    val upKeys = ups.map(_._1).toSet
    val delKeys = orders.filter(_._1 % 11 == 0).map(_._1).toSet
    val merged = base.filter(o => !upKeys(o._1) && !delKeys(o._1)) ++ ups
    // merge summary ties to the driver merge
    val gotMerge = graft.SparkEntry.queries("merge_upsert")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val wantMerge = merged.groupBy(_._2).map { case (st, rows) =>
      st -> (rows.length.toLong,
        rows.map(r => BigDecimal(r._3).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble)
    }
    assert(gotMerge == wantMerge)
    // diff closure: added = fresh upsert keys, changed = overlapping
    // upsert keys whose doubled price differs, removed = tombstoned base
    // keys, unchanged = the rest of base
    val basePrice = base.map(o => o._1 -> o._3).toMap
    val added = ups.count(o => !baseKeys(o._1)).toLong
    val changed = ups.count(o => baseKeys(o._1) && o._3 != basePrice(o._1)).toLong
    val removed = delKeys.count(baseKeys).toLong
    val unchanged = base.length - changed - removed
    val gotDiff = graft.SparkEntry.queries("snapshot_diff")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotDiff == Map("added" -> added, "changed" -> changed,
      "removed" -> removed, "unchanged" -> unchanged.toLong))
    // non-vacuous: every status class is exercised at this sf
    assert(Seq(added, changed, removed, unchanged.toLong).forall(_ > 0))
  }

  test("event_transitions equals a driver-side sequence recompute; rows are near-stochastic") {
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("e_us"),
        col("event_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val counts = ev.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val ordered = rows.sortBy(r => (r._2, r._3)).map(_._4)
      ordered.zip(ordered.tail)
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val fromTotals = counts.groupBy(_._1._1).map { case (f, m) => f -> m.values.sum }
    val want = counts.map { case ((f, t), n) =>
      (f, t, n, n * 1000000L / fromTotals(f))
    }.toSet
    val got = graft.SparkEntry.queries("event_transitions")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want)
    // row-normalization: each from_type's probabilities floor-sum to
    // within |types| ppm of 1
    got.groupBy(_._1).foreach { case (f, rows) =>
      // toSeq first: mapping the Set would collapse equal p_e6 values
      val s = rows.toSeq.map(_._4).sum
      assert(s <= 1000000L && s > 1000000L - 25L, s"$f sums to $s")
    }
  }

  test("ts_forecast_eval: BigInt recompute of the lag algebra from Spark-quantized hourly sums") {
    // trust Spark only for the input quantization (cross-checked by the
    // DuckDB oracle); every downstream step — half-away mean, the two
    // lag joins, SAE sums, the MASE division — recomputes here in BigInt
    val hours = graft.sources.Tables.events(spark, sf)
      .groupBy(col("event_type"),
        floor(unix_micros(col("ts").cast("timestamp")) / lit(3600000000L))
          .cast("long").as("b"))
      .agg(sum((col("value").cast("decimal(18,6)") * lit(1000000)).cast("long")).as("su"),
        count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1), BigInt(r.getLong(2)), BigInt(r.getLong(3))))
    def halfAway(num: BigInt, den: BigInt): BigInt =
      if (num < 0) -((2 * -num + den) / (2 * den)) else (2 * num + den) / (2 * den)
    val m = hours.map { case (t, b, su, n) => (t, b) -> halfAway(su, n) }.toMap
    val want = hours.groupBy(_._1).flatMap { case (t, rows) =>
      val pts = rows.map(_._2).filter(b => m.contains((t, b - 24)) && m.contains((t, b - 1)))
      if (pts.isEmpty) None else {
        val saeS = pts.map(b => (m((t, b)) - m((t, b - 24))).abs).sum
        val saeN = pts.map(b => (m((t, b)) - m((t, b - 1))).abs).sum
        Some((t, pts.size.toLong, saeS.toLong, saeN.toLong,
          if (saeN > 0) Some((saeS * 1000000 / saeN).toLong) else None))
      }
    }.toSet
    val got = graft.SparkEntry.queries("ts_forecast_eval")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Long]))).toSet
    assert(got == want)
    assert(got.nonEmpty && got.forall(_._2 > 0))
  }

  test("dedup_lsh_tuning: sweep is monotone in rows-per-band and discriminates both corners") {
    val rows = graft.SparkEntry.queries("dedup_lsh_tuning")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Long]),
        r.getLong(5), r.getLong(6),
        Option(r.get(7)).map(_.asInstanceOf[Long])))
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 4L, 8L))
    rows.foreach { r => assert(r._1 * r._2 == graft.dedup.Dedup.LshParams.K.toLong) }
    // the truth set is banding-independent: identical n_true on every row
    assert(rows.map(_._6).distinct.length == 1 && rows.head._6 > 0)
    // more rows per band = stricter banding: candidates and caught-true
    // both non-increasing
    assert(rows.map(_._3).toSeq == rows.map(_._3).toSeq.sorted.reverse, rows.toSeq.toString)
    assert(rows.map(_._7).toSeq == rows.map(_._7).toSeq.sorted.reverse, rows.toSeq.toString)
    // verified survivors never exceed candidates; caught never exceeds true
    rows.foreach { r => assert(r._4 <= r._3 && r._7 <= r._6) }
    // the table discriminates BOTH corners on this corpus: some config
    // wastes verification (precision < 1) and some config misses true
    // pairs (recall < 1) — a sweep where every row is 1.0/1.0 teaches
    // nothing
    assert(rows.exists(r => r._5.exists(_ < 1000000L)), rows.toSeq.toString)
    assert(rows.exists(r => r._8.exists(_ < 1000000L)), rows.toSeq.toString)
  }

  test("join_bucketed equals the same join over the raw parquet (bucketing is layout, not semantics)") {
    val got = graft.SparkEntry.queries("join_bucketed")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    val raw = graft.sources.Tables.lineitem(spark, sf)
      .join(graft.sources.Tables.orders(spark, sf),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
      .orderBy(col("o_orderstatus")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    assert(got == raw)
    assert(got.nonEmpty)
  }

  test("join_interval equals a driver-side all-pairs overlap recompute") {
    val orders = graft.sources.Tables.orders(spark, sf)
      .select(col("o_orderkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("lo_us"))
      .collect().map(r => (r.getLong(0), Math.floorDiv(r.getLong(1), 1000000L)))
    val a = orders.filter(_._1 % 101 == 0).map { case (k, lo) => (k, lo, lo + 604800L) }
    val b = orders.filter(_._1 % 89 == 0).map { case (k, lo) => (k, lo, lo + 864000L) }
    val want = (for {
      (ak, alo, ahi) <- a
      (_, blo, bhi) <- b
      if alo < bhi && blo < ahi
    } yield (ak, math.min(ahi, bhi) - math.max(alo, blo)))
      .groupBy(_._1).map { case (k, vs) => k -> (vs.length.toLong, vs.map(_._2).sum) }
    val got = graft.SparkEntry.queries("join_interval")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == want)
    assert(got.nonEmpty, "vacuous: no overlapping windows at this sf")
  }

  test("cube_agg grouping sets are mutually consistent (marginals close on the cells)") {
    val rows = graft.SparkEntry.queries("cube_agg")(spark, sf).collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)), r.getLong(2), r.getLong(3)))
    val cells = rows.filter(_._3 == 0L)
    // grand total (grp_id=3) = sum of the finest cells; each marginal
    // (grp_id 1/2) = sum of its slice; the bitmask tags which column
    // was rolled away (leftmost = most significant bit)
    val total = rows.filter(_._3 == 3L)
    assert(total.length == 1 && total.head._1.isEmpty && total.head._2.isEmpty)
    assert(total.head._4 == cells.map(_._4).sum)
    rows.filter(_._3 == 1L).foreach { case (rf, ls, _, n) =>
      assert(ls.isEmpty && n == cells.filter(_._1 == rf).map(_._4).sum, s"rf=$rf")
    }
    rows.filter(_._3 == 2L).foreach { case (rf, ls, _, n) =>
      assert(rf.isEmpty && n == cells.filter(_._2 == ls).map(_._4).sum, s"ls=$ls")
    }
    assert(cells.forall(r => r._1.nonEmpty && r._2.nonEmpty))
  }

  test("unpivot_long is the exact long reshape of the filtered wide rows") {
    val wide = graft.sources.Tables.lineitem(spark, sf)
      .filter(col("l_orderkey") % 50 === 0)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("double"), col("l_extendedprice").cast("double"),
        col("l_discount").cast("double"), col("l_tax").cast("double"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong,
        Map("quantity" -> r.getDouble(2), "extendedprice" -> r.getDouble(3),
          "discount" -> r.getDouble(4), "tax" -> r.getDouble(5))))
    val want = wide.flatMap { case (ok, ln, ms) => ms.map { case (m, v) => (ok, ln, m, v) } }.toSet
    val out = graft.SparkEntry.queries("unpivot_long")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getString(2), r.getDouble(3)))
    assert(out.length == wide.length * 4)
    assert(out.toSet == want)
  }

  test("zipf_fit equals a driver-side exact-integer OLS recompute; natural slopes are negative") {
    val raw = graft.sources.Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    def q6ln(v: Long): BigInt =
      BigInt(new java.math.BigDecimal(math.log(v.toDouble) * 1000000)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact())
    val want = raw.groupBy(_._1).map { case (src, ds) =>
      val counts = ds.flatMap(_._2.split("\\s+").filter(_.nonEmpty))
        .groupBy(identity).map { case (w, ws) => (w, ws.length.toLong) }
      val head = counts.toSeq.sortBy { case (w, c) => (-c, w) }.take(64)
      val terms = head.zipWithIndex.map { case ((_, c), i) => (q6ln(i + 1L), q6ln(c)) }
      val k = BigInt(terms.length)
      val (sx, sy) = (terms.map(_._1).sum, terms.map(_._2).sum)
      val sxy = terms.map(t => t._1 * t._2).sum
      val sxx = terms.map(t => t._1 * t._1).sum
      val (num, den) = (k * sxy - sx * sy, k * sxx - sx * sx)
      val slope = if (den == 0) BigInt(0)
        else if (num < 0) -((-num * 1000000) / den) else (num * 1000000) / den
      (src, terms.length.toLong, slope.toLong)
    }.toSet
    val got = graft.SparkEntry.queries("zipf_fit")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want,
      s"diff got-want ${(got -- want).take(5)} want-got ${(want -- got).take(5)}")
    // natural text's head decays: every source slopes negative here
    assert(got.forall(_._3 < 0L))
  }

  test("corpus_diversity_incremental merge equals the full report bit-for-bit") {
    val full = graft.SparkEntry.queries("corpus_diversity")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val inc = graft.SparkEntry.queries("corpus_diversity_incremental")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(inc == full,
      s"diff inc-full ${(inc -- full).take(5)} full-inc ${(full -- inc).take(5)}")
    // the published base relation landed as a catalog table (the
    // build-once contract a session-restarting nightly job needs)
    assert(spark.catalog.tableExists(
      graft.queries.TextCorpus.diversityBaseTable(spark, sf)))
  }

  test("corpus_diversity equals a driver-side distinct-n recompute") {
    val raw = graft.sources.Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val want = raw.groupBy(_._1).flatMap { case (src, ds) =>
      (1 to 3).flatMap { n =>
        val grams = ds.flatMap(d => d._2.split("\\s+").filter(_.nonEmpty)
          .sliding(n).filter(_.length == n).map(_.mkString(" ")))
        if (grams.isEmpty) Nil
        else Seq((src, n.toLong, grams.length.toLong, grams.distinct.length.toLong,
          (BigInt(grams.distinct.length) * 1000000 / grams.length).toLong))
      }
    }.toSet
    val got = graft.SparkEntry.queries("corpus_diversity")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got == want,
      s"diff got-want ${(got -- want).take(5)} want-got ${(want -- got).take(5)}")
    // diversity strictly increases with n per source (longer grams are
    // rarer), and ratios are sane fractions of 1e6
    got.groupBy(_._1).foreach { case (src, rs) =>
      val byN = rs.toSeq.sortBy(_._2).map(_._5)
      assert(byN == byN.sorted && byN.distinct == byN, s"$src not increasing: $byN")
      assert(rs.forall(r => r._5 > 0 && r._5 <= 1000000L), s"$src out of range")
    }
  }

  test("text_watermark: salted docs flag, clean docs stay in-band, z recomputes exactly") {
    val out = graft.SparkEntry.queries("text_watermark")(spark, sf).collect()
    val (salted, clean) = out.partition(_.getLong(0) % 4 == 0)
    // at sf0.001 every salted doc is short enough that the planted
    // 39-green-pair run clears the 4-sigma bar; no clean doc does
    assert(salted.nonEmpty && salted.forall(_.getLong(4) == 1L),
      "every salted doc must flag")
    assert(clean.forall(_.getLong(4) == 0L), "zero false positives at sf0.001")
    // z is the exact normal-approximation excess recomputed from (g, n)
    out.foreach { r =>
      val (n, g, z) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      val want = (g.toDouble - 0.25 * n.toDouble) / math.sqrt(n.toDouble * 0.1875)
      assert(z == want, s"z must be the exact formula value: $z vs $want")
      assert((r.getLong(4) == 1L) == (z > 4.0))
    }
  }

  test("watermark_eval: ROC monotonicity and consistency with the shipped 4-sigma flag") {
    val out = graft.SparkEntry.queries("watermark_eval")(spark, sf)
      .orderBy(col("thresh")).collect()
    assert(out.length == 4)
    // raising the threshold can only shrink both rates
    out.sliding(2).foreach { case Array(a, b) =>
      assert(b.getLong(5) <= a.getLong(5), "TPR must be non-increasing in threshold")
      assert(b.getLong(6) <= a.getLong(6), "FPR must be non-increasing in threshold")
    }
    // the 4-sigma row must agree with text_watermark's flag counts
    val t4 = out.find(_.getDouble(0) == 4.0).get
    val flags = graft.SparkEntry.queries("text_watermark")(spark, sf).collect()
    val tp = flags.count(r => r.getLong(0) % 4 == 0 && r.getLong(4) == 1L).toLong
    val fp = flags.count(r => r.getLong(0) % 4 != 0 && r.getLong(4) == 1L).toLong
    assert(t4.getLong(3) == tp && t4.getLong(4) == fp,
      "the eval's 4-sigma cell is the detector's own confusion count")
  }

  test("watermark_eval: a fixture with no positive docs NULLs tpr_e6 instead of diverging") {
    import spark.implicits._
    // every doc_id % 4 != 0 -> n_pos = 0 per threshold: the rate must be
    // NULL on both engines (Spark div and DuckDB // disagree on zero
    // divisors — the r19 ADVICE divergence), never an engine-specific 0
    val docsDf = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot", "en", "s0", 38L),
      (2L, "golf hotel india juliet kilo lima mike", "en", "s0", 39L),
      (3L, "november oscar papa quebec romeo sierra", "en", "s0", 40L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = writeDocsFixture(docsDf)
    val out = graft.SparkEntry.queries("watermark_eval")(spark, tmp).collect()
    assert(out.length == 4)
    out.foreach { r =>
      assert(r.getLong(1) == 0L, "no positive docs in the fixture")
      assert(r.isNullAt(5), "tpr_e6 must be NULL when n_pos = 0")
      assert(!r.isNullAt(6), "fpr_e6 has a real denominator")
    }
  }

  test("text_watermark: greenlist membership is the seeded-hash convention on a known pair") {
    import spark.implicits._
    // wm8#wm8 hashes green (the salt token was CHOSEN for it); a one-pair
    // doc of it scores g=1, n=1, z=(1-0.25)/sqrt(0.1875) ~= +1.73 (not
    // flagged) -- pins the hash convention and the tiny-doc algebra.
    // doc_id 1: NOT a salted id (1 % 4 != 0), so the text stays as-is
    val docsDf = Seq((1L, "wm8 wm8", "en", "s0", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = writeDocsFixture(docsDf)
    val r = graft.SparkEntry.queries("text_watermark")(spark, tmp).collect()
    assert(r.length == 1)
    assert(r.head.getLong(1) == 1L && r.head.getLong(2) == 1L)
    assert(r.head.getDouble(3) == 0.75 / math.sqrt(0.1875))
    assert(r.head.getLong(4) == 0L)
  }
}
