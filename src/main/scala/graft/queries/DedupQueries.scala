package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.dedup.Dedup
import graft.functions.ExactRound
import graft.multimodal.Multimodal
import graft.sim.Similarity
import graft.text.TextOps

/** Deduplication queries over `documents` / `embeddings`
  * (training-data-pipeline extensions): exact fingerprint groups,
  * LSH-bounded n-gram Jaccard near-dup pairs, MinHash signatures, LSH
  * band keys, keep-first dup resolution, SimHash signatures,
  * embedding-cosine near-dup pairs.
  *
  * The near-dup family is checked end-to-end: signatures
  * (`dedup_minhash_sig`) → band keys (`dedup_lsh_bands`) → verified
  * candidate pairs (`dedup_ngram_jaccard`) → keep-first resolution
  * (`dedup_lsh_pairs`), each with a DuckDB oracle replicating the same
  * deterministic md5-derived hashing.
  */
object DedupQueries {
  private type Q = (SparkSession, String) => DataFrame
  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  /** LSH parameters shared by the memoized Spark pipeline, every SQL
    * oracle rendered below, AND the streaming candidate generator —
    * the single library-level definition ([[Dedup.LshParams]]), so none
    * of them can silently diverge when a parameter changes.
    */
  private[queries] val LshParams = Dedup.LshParams

  /** One text-LSH pipeline per (session, dir), shared by ALL its
    * consumers — `dedup_minhash_sig`, `dedup_lsh_bands`,
    * `dedup_ngram_jaccard`, `dedup_lsh_pairs` each used to rebuild (and
    * re-cache, and leak) the shingle→signatures→verify pipeline from
    * scratch. The memo holds the two reusable stages persisted: the
    * distinct shingle-hash relation (the expensive tokenize+md5 scan,
    * root of everything) and the verified pair set (root of the pair
    * list and the keep-first resolution). This is also the 100 TB shape: a production
    * dedup run computes the shingle index once and derives every
    * artifact from it. Each part is its own [[Memo]] relation; a part
    * asks for its inputs first, so a hit re-persists them in build
    * order after a cache clear.
    */
  private def lshEx(s: SparkSession, d: String): DataFrame =
    Memo.relation(s, d, "lshShared/ex") {
      Dedup.shingleHashRelation(docs(s, d), "text", "doc_id")
    }
  private def lshSigs(s: SparkSession, d: String): DataFrame = {
    val ex = lshEx(s, d)
    Memo.relation(s, d, "lshShared/sigs")(Dedup.signaturesFromHashes(ex, "doc_id", LshParams.K))
  }
  private[queries] def verifiedPairs(s: SparkSession, d: String): DataFrame = {
    val (ex, sigs) = (lshEx(s, d), lshSigs(s, d))
    Memo.relation(s, d, "lshShared/pairs") {
      Dedup.verifiedPairsFromParts(ex, sigs, "doc_id",
        rowsPerBand = LshParams.RowsPerBand, threshold = LshParams.Threshold)
    }
  }

  /** The UNVERIFIED banded candidate-pair relation (distinct id_a <
    * id_b), memoized per (session, dir) and PERSISTED — r21 optimization
    * (guide §1.2 step 1): four keys (`dedup_containment`,
    * `dedup_lsh_recall`, `dedup_lsh_precision`, `dedup_minhash_est`)
    * each re-ran band-key hashing + the band self-join over the shared
    * signature relation. The pair set is collision-sparse (LSH-bounded)
    * so the persisted footprint is small at any scale; same lifecycle
    * as the verified `pairs` memo it feeds beside.
    */
  private def lshCandidates(s: SparkSession, d: String): DataFrame = {
    val sigs = lshSigs(s, d)
    Memo.relation(s, d, "lshCandidates") {
      Dedup.lshCandidatePairs(sigs, "doc_id", LshParams.RowsPerBand)
    }
  }

  /** Text-LSH cluster labels (doc_id, canonical), shared by FOUR
    * consumers (dedup_cluster, dedup_cluster_best, split_leak_safe,
    * split_leakage), which each used to re-run the union-find probe
    * over the same verified pair set. The memo keys on which branch of
    * [[Dedup.clusterLabels]] ran: the small-graph result (a driver-local
    * relation — plan-literal rows, nothing to lose) is memoized, and for
    * a large graph the memo holds None, so the size probe runs once per
    * data stamp. The distributed fixpoint result is rooted in
    * localCheckpoint blocks with TRUNCATED lineage: pinning it
    * session-wide would turn one lost executor into a sticky,
    * unrecoverable failure for all four consumers, so the large path
    * rebuilds per call (recoverable, and already the pre-memo behavior).
    */
  private def textClusterLabels(s: SparkSession, d: String): DataFrame =
    Memo.value(s, d, "textClusterLabels")(Dedup.localClusterLabels(verifiedPairs(s, d)))
      .getOrElse {
        MemoTrace.built("textClusterLabels")
        Dedup.clusterLabelsWithRounds(verifiedPairs(s, d))._1
      }

  // ========================================================================
  // dedup_exact — canonical-fingerprint group-by: one map-side-combined
  // aggregation; only (fp, id) shuffles, never the text.
  // ========================================================================
  def dedupExact(s: SparkSession, d: String): DataFrame =
    Dedup.exactGroups(docs(s, d), "text", "doc_id").orderBy(col("fp"))

  private val dedupExactSql =
    s"""SELECT ${TextOps.fingerprintSql("text")} AS fp,
      |  count(*) AS n_docs, min(doc_id) AS keep_id
      |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin

  /** Shared DuckDB pipeline: MinHash signatures (k=8, Carter-Wegman from
    * one md5 per shingle) → LSH bands (rowsPerBand=2) → colliding
    * candidate pairs → exact Jaccard verify on candidates only. Mirrors
    * [[Dedup.verifiedPairsFromHashes]] stage for stage.
    */
  private[queries] val lshPipelineCtes =
    raw"""hp AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    list_transform(range(1, len(t) - 1),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]),
      |    s -> md5(s))) AS hx
      |  FROM (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents)
      |  WHERE len(t) >= 3),
      |sig AS (
      |  SELECT doc_id, i, list_min(list_transform(hx, x ->
      |    (('0x' || substr(x, 1, 14))::BIGINT
      |     + i * ('0x' || substr(x, 15, 14))::BIGINT) & ${Dedup.HashMask})) AS minh
      |  FROM hp, range(0, ${LshParams.K}) r(i)),
      |banded AS (
      |  SELECT doc_id, i // ${LshParams.RowsPerBand} AS band,
      |    ('0x' || substr(md5(string_agg(minh, ',' ORDER BY i)), 1, 15))::BIGINT AS band_key
      |  FROM sig GROUP BY doc_id, i // ${LshParams.RowsPerBand}),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
      |shd AS (
      |  SELECT doc_id, list_distinct(list_transform(hx,
      |    x -> ('0x' || substr(x, 1, 14))::BIGINT)) AS sh
      |  FROM hp),
      |ver AS (
      |  SELECT id_a, id_b,
      |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
      |  FROM cand JOIN shd a ON cand.id_a = a.doc_id
      |            JOIN shd b ON cand.id_b = b.doc_id)""".stripMargin

  // ========================================================================
  // dedup_ngram_jaccard — near-dup pairs by exact 3-gram Jaccard, verified
  // ONLY on LSH-banded MinHash candidates: every stage linear in the
  // corpus, no block-size-unbounded join (the round-1 `source`-blocked
  // form enumerated pairs quadratically because block cardinality was
  // constant; it survives as Dedup.ngramJaccardPairsPersisted for explicit
  // fine-grained blocking keys).
  // ========================================================================
  def dedupNgramJaccard(s: SparkSession, d: String): DataFrame =
    verifiedPairs(s, d).orderBy(col("id_a"), col("id_b"))

  private val dedupNgramJaccardSql =
    s"""WITH $lshPipelineCtes
       |SELECT id_a, id_b, jaccard FROM ver
       |WHERE jaccard >= ${LshParams.Threshold}
       |ORDER BY id_a, id_b""".stripMargin

  // ========================================================================
  // dedup_containment — asymmetric overlap on the SAME LSH candidates:
  // Broder 1997's containment |A∩B|/|A|, the signal Jaccard
  // structurally under-ranks when one doc is a SUBSET of the other
  // (B = A + 20% boilerplate: jaccard ≈ 0.83, containment(A→B) = 1.0 —
  // the quote-expansion / wrapper-page dup class). Both directions
  // emitted; kept when either reaches 0.5. Candidates still come from
  // the banded MinHash (a pair must be Jaccard-reachable to surface —
  // full containment recall for extreme size ratios needs a bottom-k
  // shingle index, the known Broder trade-off, noted not built: at the
  // LSH threshold 0.3 the reachable containment pairs are those with
  // |B| ≲ 3.3|A|, which covers the wrapper class).
  // Scale: identical join shape to the jaccard verify — candidates ×
  // shingle relation equi-joins, no new corpus pass (the shd/sigs
  // relations ride the shared memo).
  // ========================================================================
  private val ContainmentMin = 0.5

  def dedupContainment(s: SparkSession, d: String): DataFrame = {
    val cand = lshCandidates(s, d)
    Dedup.pairContainment(cand, lshEx(s, d), "doc_id")
      .filter(greatest(col("cont_a"), col("cont_b")) >= ContainmentMin)
      .orderBy(col("id_a"), col("id_b"))
  }

  private val dedupContainmentSql =
    s"""WITH $lshPipelineCtes
       |SELECT id_a, id_b,
       |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh) AS cont_a,
       |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(b.sh) AS cont_b
       |FROM cand JOIN shd a ON cand.id_a = a.doc_id
       |          JOIN shd b ON cand.id_b = b.doc_id
       |WHERE greatest(
       |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh),
       |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(b.sh)) >= $ContainmentMin
       |ORDER BY id_a, id_b""".stripMargin

  // ========================================================================
  // dedup_containment_bottomk — the candidate generator dedup_containment
  // documents as missing: a BOTTOM-K shingle index (Broder 1997's
  // min-wise sketch used directionally). A doc's MIN shingle hash must
  // appear in any superset's hash set, and lands in the superset's
  // bottom-k with probability ≈ 1 − (1−k/|B|)^|A| — high whenever
  // k·|A| ≳ |B| — so joining each doc's min hash against every doc's
  // bottom-16 relation surfaces contained-subset pairs at size ratios
  // far beyond what Jaccard-threshold LSH can reach (a 5× wrapper has
  // jaccard 0.2, invisible to banding at 0.3; its min hash is in the
  // wrapper's bottom-16 with prob ≈ 1 − (1−16/5n)^n ≈ 0.96 already at
  // n = |A| = 50). Candidates verify by EXACT containment ≥ 0.9.
  //
  // Scale: min-hash relation is 1 row/doc, bottom-k is ≤ k rows/doc
  // (keyed window, never global); the candidate join is an equi-join on
  // the hash value — fan-out is bounded by hash popularity (heavy
  // exact-dup groups share a min; group by distinct hash first if a
  // corpus makes that hot, the dedup_image_phash treatment). Verify is
  // the shared pairContainment join; shd/ex ride the lshShared memo.
  // ========================================================================
  private val BottomK = 16
  private val BottomKContainmentMin = 0.9

  def dedupContainmentBottomk(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ex = lshEx(s, d)
    val sh = ex.select(col("doc_id"), col("h1").as("h")).distinct()
    val mn = sh.groupBy(col("doc_id")).agg(min(col("h")).as("h"))
    val wk = Window.partitionBy(col("doc_id")).orderBy(col("h"))
    val bk = sh.withColumn("rk", row_number().over(wk))
      .filter(col("rk") <= BottomK).select(col("doc_id"), col("h"))
    val cand = mn.select(col("doc_id").as("id_a"), col("h"))
      .join(bk.select(col("doc_id").as("id_b"), col("h")), Seq("h"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    Dedup.pairContainment(cand, ex, "doc_id")
      .filter(col("cont_a") >= BottomKContainmentMin)
      .orderBy(col("id_a"), col("id_b"))
  }

  private val dedupContainmentBottomkSql =
    s"""WITH $lshPipelineCtes,
       |mn AS (SELECT doc_id, list_min(sh) AS h FROM shd),
       |bk AS (SELECT doc_id, unnest(list_sort(sh)[1:$BottomK]) AS h FROM shd),
       |cand2 AS (
       |  SELECT DISTINCT mn.doc_id AS id_a, bk.doc_id AS id_b
       |  FROM mn JOIN bk ON mn.h = bk.h AND mn.doc_id <> bk.doc_id)
       |SELECT id_a, id_b,
       |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh) AS cont_a,
       |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(b.sh) AS cont_b
       |FROM cand2 JOIN shd a ON cand2.id_a = a.doc_id
       |           JOIN shd b ON cand2.id_b = b.doc_id
       |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh)
       |      >= $BottomKContainmentMin
       |ORDER BY id_a, id_b""".stripMargin

  // ========================================================================
  // dedup_graph_rank — centrality over the verified near-dup graph:
  // 3 damped power-iteration rounds (PageRank, Brin & Page 1998) in
  // EXACT INTEGER nano-units. Why a curation pipeline wants it: the
  // keep-first convention elects the smallest id as a cluster's
  // canonical — arbitrary; electing the highest-centrality member keeps
  // the version most other variants derive from (the hub of a
  // template's family), and centrality also ranks which dup clusters
  // dominate the corpus. Degree-normalized contributions use FLOOR
  // division ((85·pr) div (100·deg)) and the teleport term (15·10⁹) div
  // (100·N), so every value is an exact integer at every round — sums
  // are order-free across the shuffle, and the oracle replays the same
  // three rounds as unrolled CTEs (mass lost to flooring is identical
  // by construction). Fixed 3 rounds, not convergence: near-dup
  // components are small-diameter, and a deterministic round count is
  // what makes the result engine-exact.
  //
  // Scale: nodes/edges are the verified-pair graph (LSH-bounded, never
  // all-pairs); each round is one equi-join + one map-side-combined
  // integer agg on the node key; N and the teleport term ride one
  // broadcast row.
  // ========================================================================
  // Small-graph fast path, the [[Dedup.clusterLabels]] treatment: the
  // three fixed rounds are pure integer arithmetic, so when the verified
  // pair set fits the guarded probe the whole iteration runs in-process
  // over long maps — identical values BY CONSTRUCTION (truncating long
  // division on positive operands IS the floor `div` both engines run)
  // — and three rounds of distributed join+agg scheduler latency vanish.
  // An overflowing probe falls through to the distributed plan.
  def dedupGraphRank(s: SparkSession, d: String): DataFrame = {
    val pairs = verifiedPairs(s, d)
      // defensive cast (the clusterLabels contract): an integer-typed id
      // column must take the fast path, not throw in getLong
      .select(col("id_a").cast("long"), col("id_b").cast("long"))
    // count-first size gate (the clusterLabels contract): overflow decides
    // on one long, never a discarded multi-MB collect; pairs is the
    // memoized persisted lshShared relation so the small-case re-read hits
    // cache
    val small = pairs.limit(Dedup.DriverComponentsMaxEdges + 1).count() <=
      Dedup.DriverComponentsMaxEdges
    // re-checked on the collect (the clusterLabels contract): count and
    // collect are separate jobs, so a row set that grew in between falls
    // through to the distributed plan instead of silently truncating
    lazy val probe = pairs.limit(Dedup.DriverComponentsMaxEdges + 1).collect()
    if (small && probe.length <= Dedup.DriverComponentsMaxEdges) {
      val edges = probe.flatMap { r =>
        val a = r.getLong(0); val b = r.getLong(1)
        Seq((a, b), (b, a))
      }.distinct
      val deg = new scala.collection.mutable.LongMap[Long]()
      edges.foreach { case (src, _) => deg(src) = deg.getOrElse(src, 0L) + 1L }
      val nn = deg.size.toLong
      var pr = new scala.collection.mutable.LongMap[Long]()
      if (nn > 0) deg.keys.foreach(id => pr(id) = 1000000000L / nn)
      (1 to 3).foreach { _ =>
        val cin = new scala.collection.mutable.LongMap[Long]()
        edges.foreach { case (src, dst) =>
          cin(dst) = cin.getOrElse(dst, 0L) + (85L * pr(src)) / (100L * deg(src))
        }
        val next = new scala.collection.mutable.LongMap[Long]()
        deg.keys.foreach(id => next(id) = 150000000L / nn + cin.getOrElse(id, 0L))
        pr = next
      }
      import s.implicits._
      deg.keys.toSeq.sorted.map(id => (id, deg(id), pr(id)))
        .toDF("id", "deg", "pr_e9")
    } else {
      val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
        .distinct()
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
            (expr("CAST(150000000 AS BIGINT) div nn")
              + coalesce(col("cin"), lit(0L))).as("pr"))
      }
      ranked.select(col("id"), col("deg"), col("pr").as("pr_e9"))
        .orderBy(col("id"))
    }
  }

  private val dedupGraphRankSql = {
    def round(k: Int) =
      s"""c$k AS (
         |  SELECT ed.dst AS id, CAST(sum((85 * p${k - 1}.pr) // (100 * p${k - 1}.deg)) AS BIGINT) AS cin
         |  FROM ed JOIN p${k - 1} ON p${k - 1}.id = ed.src GROUP BY ed.dst),
         |p$k AS (
         |  SELECT dg.id, dg.deg, nc.nn,
         |    (CAST(150000000 AS BIGINT) // nc.nn) + coalesce(c$k.cin, 0) AS pr
         |  FROM dg CROSS JOIN nc LEFT JOIN c$k ON c$k.id = dg.id)"""
    s"""WITH $lshPipelineCtes,
       |pp AS (SELECT id_a, id_b FROM ver WHERE jaccard >= ${LshParams.Threshold}),
       |ed AS (SELECT id_a AS src, id_b AS dst FROM pp
       |       UNION SELECT id_b, id_a FROM pp),
       |dg AS (SELECT src AS id, count(*) AS deg FROM ed GROUP BY src),
       |nc AS (SELECT count(*) AS nn FROM dg),
       |p0 AS (SELECT dg.id, dg.deg, nc.nn,
       |         CAST(1000000000 AS BIGINT) // nc.nn AS pr FROM dg CROSS JOIN nc),
       |${round(1)},
       |${round(2)},
       |${round(3)}
       |SELECT id, deg, CAST(pr AS BIGINT) AS pr_e9 FROM p3
       |ORDER BY id""".stripMargin
  }

  // ========================================================================
  // dedup_cluster_best — QUALITY-AWARE canonical election: per near-dup
  // cluster, keep the member that maximizes (quality, centrality,
  // min id) instead of the arbitrary smallest id — what a production
  // pipeline actually ships (Lee et al. arXiv:2107.06499 keep one
  // member per cluster; keeping the BEST variant, not the first seen,
  // is the difference between deduplication and quality regression).
  // Composes three existing relations: the transitive components
  // (dedup_cluster), the PageRank centralities (dedup_graph_rank), and
  // the text_quality composite — quantized to integer 1e-6 units via
  // floor division of the score's exact integer numerator, so every
  // tie-break in the argmax chain (q_e6 desc, pr_e9 desc, doc_id asc)
  // compares exact integers and the oracle agrees bit-for-bit.
  // Output: every cluster member with its scores, the elected best_id,
  // and the kept flag.
  //
  // Scale: components and centralities reuse the PERSISTED verified-pair
  // relation (no re-shuffle of the corpus); quality is computed only for
  // cluster members by broadcasting the (small) membership onto ONE
  // documents scan; the election window partitions by cluster over that
  // member relation — never corpus-wide.
  // ========================================================================
  def dedupClusterBest(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comp = textClusterLabels(s, d)
      .select(col("doc_id"), col("canonical").as("cluster"))
    val pr = dedupGraphRank(s, d).select(col("id").as("doc_id"), col("pr_e9"))
    val enStop = TextOps.LangStopwords.toMap.apply("en")
    val scored = docs(s, d)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      // hint-free: cluster membership is dup-rate-bounded, not
      // small-bounded — statistics/AQE broadcast it while it fits and
      // shuffle-join when a 100 TB corpus makes it corpus-scale
      .join(comp, Seq("doc_id"))
      .select(col("doc_id"), col("cluster"),
        size(col("toks")).cast("long").as("n"),
        TextOps.wordSetCount(col("toks"), enStop).cast("long").as("n_stop"),
        TextOps.distinctCount(col("toks")).as("n_dist"))
      .select(col("doc_id"), col("cluster"),
        expr(TextQueries.QualityE6Expr).as("q_e6"))
      .join(pr, Seq("doc_id"))
    // single-pass election: ONE window aggregate computes the argmax
    // struct per cluster — a row_number + join-back would consume
    // `scored` twice and recompute its whole upstream (the rank plan,
    // the quality scan) once per branch
    val elected = max(struct(col("q_e6"), col("pr_e9"),
        (-col("doc_id")).as("neg_id"), col("doc_id").as("elect_id")))
      .over(Window.partitionBy(col("cluster")))
    scored.withColumn("best_id", elected.getField("elect_id"))
      .select(col("doc_id"), col("cluster"), col("q_e6"), col("pr_e9"), col("best_id"),
        when(col("doc_id") === col("best_id"), 1L).otherwise(0L).as("kept"))
      .orderBy(col("doc_id"))
  }

  private val dedupClusterBestSql = {
    def round(k: Int) =
      s"""c$k AS (
         |  SELECT edges.dst AS id,
         |    CAST(sum((85 * p${k - 1}.pr) // (100 * p${k - 1}.deg)) AS BIGINT) AS cin
         |  FROM edges JOIN p${k - 1} ON p${k - 1}.id = edges.src GROUP BY edges.dst),
         |p$k AS (
         |  SELECT dg.id, dg.deg, nc.nn,
         |    (CAST(150000000 AS BIGINT) // nc.nn) + coalesce(c$k.cin, 0) AS pr
         |  FROM dg CROSS JOIN nc LEFT JOIN c$k ON c$k.id = dg.id)"""
    s"""WITH RECURSIVE $lshPipelineCtes,
       |vp AS (SELECT id_a, id_b FROM ver WHERE jaccard >= ${LshParams.Threshold}),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM vp
       |  UNION SELECT id_b, id_a FROM vp),
       |reach AS (
       |  SELECT src AS doc_id, src AS lbl FROM edges
       |  UNION
       |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.doc_id),
       |comp AS (SELECT doc_id, min(lbl) AS cluster FROM reach GROUP BY doc_id),
       |dg AS (SELECT src AS id, count(*) AS deg FROM edges GROUP BY src),
       |nc AS (SELECT count(*) AS nn FROM dg),
       |p0 AS (SELECT dg.id, dg.deg, nc.nn,
       |         CAST(1000000000 AS BIGINT) // nc.nn AS pr FROM dg CROSS JOIN nc),
       |${round(1)},
       |${round(2)},
       |${round(3)},
       |qual AS (
       |  SELECT doc_id,
       |    CAST(${TextQueries.QualityE6Sql} AS BIGINT) AS q_e6
       |  FROM (
       |    SELECT doc_id,
       |      CAST(len(toks) AS BIGINT) AS n,
       |      CAST(len(list_filter(toks, t -> t IN (${TextQueries.EnStopSqlList}))) AS BIGINT)
       |        AS n_stop,
       |      CAST(len(list_distinct(toks)) AS BIGINT) AS n_dist
       |    FROM (SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks FROM documents))),
       |scored AS (
       |  SELECT comp.doc_id, comp.cluster, qual.q_e6, CAST(p3.pr AS BIGINT) AS pr_e9
       |  FROM comp JOIN qual USING (doc_id) JOIN p3 ON p3.id = comp.doc_id),
       |best AS (
       |  SELECT cluster, doc_id AS best_id FROM (
       |    SELECT cluster, doc_id, row_number() OVER (
       |      PARTITION BY cluster ORDER BY q_e6 DESC, pr_e9 DESC, doc_id) AS rn
       |    FROM scored) WHERE rn = 1)
       |SELECT s.doc_id, s.cluster, s.q_e6, s.pr_e9, b.best_id,
       |  CAST(CASE WHEN s.doc_id = b.best_id THEN 1 ELSE 0 END AS BIGINT) AS kept
       |FROM scored s JOIN best b USING (cluster)
       |ORDER BY s.doc_id""".stripMargin
  }

  // ========================================================================
  // dedup_lsh_bands — the LSH band-key relation itself (doc_id, band,
  // band_key): the linchpin of the dedup scale story, checked directly.
  // ========================================================================
  def dedupLshBands(s: SparkSession, d: String): DataFrame =
    Dedup.bandKeys(lshSigs(s, d), "doc_id", LshParams.RowsPerBand)
      .orderBy(col("doc_id"), col("band"))

  private val dedupLshBandsSql =
    s"""WITH $lshPipelineCtes
       |SELECT doc_id, band, band_key FROM banded
       |ORDER BY doc_id, band""".stripMargin

  // ========================================================================
  // dedup_lsh_pairs — end-to-end keep-first resolution: candidates →
  // verify (jaccard ≥ 0.2) → each duplicate doc mapped to its smallest
  // verified partner. The full production dedup decision.
  // ========================================================================
  // ========================================================================
  // dedup_lsh_recall — the LSH S-curve, measured: on a BOUNDED corpus
  // slice (doc_id < 60 → ≤ 1770 pairs, CONSTANT cost at any corpus
  // size), exact 3-gram Jaccard for every intersecting pair is the
  // ground truth, and each truth pair is checked against the banding
  // pipeline's candidate set. Bucketed by Jaccard decile, `recall` per
  // bucket draws the S-curve the (K=8, rowsPerBand=2) parameters imply:
  // near-certain capture above the threshold, sharply decaying below —
  // the quality lock for the LSH PARAMETERS themselves (dedup_minhash_est
  // locks the estimator; this locks the candidate generator), the same
  // role ann_recall plays for IVF. The deliberate all-pairs join is the
  // evaluation harness, not the operator: it is constant-bounded by the
  // slice, never corpus-sized.
  // ========================================================================
  def dedupLshRecall(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val SliceMax = 60
    // r21 optimization — the dedup_lsh_tuning driver-side precedent
    // (guide §1.2: the sweep input is STRUCTURALLY bounded): the truth
    // side is ≤ SliceMax docs and ≤ C(60,2) pairs, yet it ran a
    // multi-stage distributed all-pairs jaccard pipeline per call. Two
    // bounded collects against the memoized persisted relations (the
    // slice's distinct shingle hashes; the candidate pairs restricted
    // to the slice) and the exact jaccard + decile bucketing run
    // in-process — identical doubles by construction (integer set
    // sizes, ONE division, one ×10 multiply, floor — the tuning key's
    // jac() algebra). The planted bucket-10 row stays DISTRIBUTED: its
    // fp-equal pair set is corpus-wide, never slice-bounded.
    val shRows = lshEx(s, d).filter(col("doc_id") < SliceMax)
      .select(col("doc_id"), col("h1")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val sh: Map[Long, Set[Long]] =
      shRows.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val caughtSlice: Set[(Long, Long)] = lshCandidates(s, d)
      .filter(col("id_a") < SliceMax && col("id_b") < SliceMax)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ids = sh.keySet.toSeq.sorted
    val pairRows = for {
      i <- ids.indices
      j <- (i + 1) until ids.length
      inter = (sh(ids(i)) & sh(ids(j))).size
      if inter > 0 // zero-overlap slice pairs are outside the truth set
    } yield {
      val a = ids(i); val b = ids(j)
      val jac = inter.toDouble / (sh(a).size + sh(b).size - inter)
      val bucket = math.min(math.floor(jac * 10), 9.0).toLong
      (bucket, if (caughtSlice.contains((a, b))) 1L else 0L)
    }
    val curve = pairRows.groupBy(_._1).toSeq
      .map { case (bkt, xs) => (bkt, xs.size.toLong, xs.map(_._2).sum) }
      .toDF("bucket", "n_true", "n_caught")
    val caughtAll = lshCandidates(s, d).withColumn("hit", lit(1L))
    // planted truth: exact-FINGERPRINT dup pairs, known INDEPENDENTLY of
    // MinHash (bucket 10) — an id-range slice cannot contain both ends
    // of a cross-range dup pair, but every fp-equal pair anywhere in the
    // corpus must be a banding candidate (identical shingles → identical
    // signatures → identical band keys). Equi-join on fp, collision-
    // sparse; emitted only when the corpus has exact dups. Restricted to
    // docs that HAVE signatures (≥3 tokens): a sub-3-token exact-dup
    // pair is real duplication but invisible to shingling by definition,
    // so counting it in n_true would depress bucket-10 recall below 1.0
    // and false-alarm the lock on a corpus with short dup docs.
    val fpRel = docs(s, d).select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .join(lshEx(s, d).select(col("doc_id")).distinct(), Seq("doc_id"), "left_semi")
    val planted = fpRel.select(col("fp"), col("doc_id").as("id_a"))
      .join(fpRel.select(col("fp"), col("doc_id").as("id_b")), Seq("fp"))
      .filter(col("id_a") < col("id_b")).select(col("id_a"), col("id_b"))
      .join(caughtAll, Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("n_true"),
        coalesce(sum(col("hit")), lit(0L)).as("n_caught"))
      .select(lit(10L).as("bucket"), col("n_true"), col("n_caught"))
      .filter(col("n_true") > 0)
    curve.unionByName(planted)
      .withColumn("recall", col("n_caught").cast("double") / col("n_true"))
      .orderBy(col("bucket"))
  }

  private val dedupLshRecallSql =
    s"""WITH $lshPipelineCtes,
       |sl AS (SELECT doc_id, sh FROM shd WHERE doc_id < 60),
       |tp AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS j
       |  FROM sl a JOIN sl b ON a.doc_id < b.doc_id
       |  WHERE len(list_intersect(a.sh, b.sh)) > 0),
       |ct AS (SELECT id_a, id_b FROM cand WHERE id_a < 60 AND id_b < 60),
       |curve AS (
       |  SELECT CAST(least(floor(j * 10), CAST(9 AS DOUBLE)) AS BIGINT) AS bucket,
       |    count(*) AS n_true,
       |    CAST(sum(CASE WHEN ct.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_caught
       |  FROM tp LEFT JOIN ct ON tp.id_a = ct.id_a AND tp.id_b = ct.id_b
       |  GROUP BY bucket),
       |efp AS (
       |  SELECT doc_id, ${TextOps.fingerprintSql("text")} AS fp
       |  FROM documents WHERE doc_id IN (SELECT doc_id FROM hp)),
       |ep AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM efp a JOIN efp b ON a.fp = b.fp AND a.doc_id < b.doc_id),
       |pl AS (
       |  SELECT CAST(10 AS BIGINT) AS bucket, count(*) AS n_true,
       |    CAST(coalesce(sum(CASE WHEN cand.id_a IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_caught
       |  FROM ep LEFT JOIN cand ON ep.id_a = cand.id_a AND ep.id_b = cand.id_b)
       |SELECT bucket, n_true, n_caught,
       |  CAST(n_caught AS DOUBLE) / n_true AS recall
       |FROM (SELECT * FROM curve UNION ALL SELECT * FROM pl WHERE n_true > 0)
       |ORDER BY bucket""".stripMargin

  // ========================================================================
  // dedup_lsh_precision — candidate-efficiency lock for the LSH banding,
  // the third leg of the dedup quality triangle: dedup_minhash_est locks
  // the ESTIMATOR, dedup_lsh_recall locks what the bands CATCH, this
  // locks what they WASTE. Exact Jaccard for EVERY candidate pair (the
  // unthresholded production verify join), histogrammed by decile, plus
  // a summary row (bucket −1) with total candidates, verified survivors
  // at τ, and exact-integer precision_e6 — a band-key or hash-family
  // regression that floods verification with junk pairs collapses
  // precision here long before recall moves, and precision is what
  // prices the verify stage at corpus scale (candidates × shingle-join
  // cost). Scale: the exact verify over candidates is the cost the
  // production pair list already pays; the histogram adds one
  // map-side-combined aggregation over the collision-sparse candidate
  // set — never corpus-sized. Zero-overlap candidates (banded but
  // shingle-disjoint) count at jaccard 0 — they are exactly the waste
  // the lock exists to expose (Spark left-joins them back; DuckDB's ver
  // keeps them inherently).
  // ========================================================================
  def dedupLshPrecision(s: SparkSession, d: String): DataFrame = {
    val cand = lshCandidates(s, d)
    val cj = cand
      .join(Dedup.pairJaccard(cand, lshEx(s, d), "doc_id"), Seq("id_a", "id_b"), "left")
      .select(coalesce(col("jaccard"), lit(0.0)).as("j"))
    val binned = cj
      .withColumn("bucket", least(floor(col("j") * 10), lit(9.0)).cast("long"))
      .withColumn("ok", when(col("j") >= LshParams.Threshold, 1L).otherwise(0L))
    val hist = binned.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_cand"), sum(col("ok")).as("n_verified"))
    // the summary derives from the <=10 decile rows — never a second
    // run of the candidate + verify subtree (a candidate-free corpus
    // sums to null and the filter emits nothing, not 0/0)
    val total = hist
      .agg(sum(col("n_cand")).as("n_cand"), sum(col("n_verified")).as("n_verified"))
      .select(lit(-1L).as("bucket"), col("n_cand"), col("n_verified"))
      .filter(col("n_cand") > 0)
    hist.unionByName(total)
      .withColumn("precision_e6", expr("(n_verified * 1000000) div n_cand"))
      .orderBy(col("bucket"))
  }

  private val dedupLshPrecisionSql =
    s"""WITH $lshPipelineCtes,
       |cj AS (SELECT jaccard AS j FROM ver),
       |cb AS (
       |  SELECT CAST(least(floor(j * 10), CAST(9 AS DOUBLE)) AS BIGINT) AS bucket,
       |    CASE WHEN j >= ${LshParams.Threshold} THEN 1 ELSE 0 END AS ok
       |  FROM cj),
       |h AS (
       |  SELECT bucket, count(*) AS n_cand, CAST(sum(ok) AS BIGINT) AS n_verified
       |  FROM cb GROUP BY bucket),
       |t AS (
       |  SELECT CAST(-1 AS BIGINT) AS bucket, CAST(sum(n_cand) AS BIGINT) AS n_cand,
       |    CAST(sum(n_verified) AS BIGINT) AS n_verified
       |  FROM h HAVING coalesce(sum(n_cand), 0) > 0)
       |SELECT bucket, n_cand, n_verified,
       |  CAST((n_verified * 1000000) // n_cand AS BIGINT) AS precision_e6
       |FROM (SELECT * FROM h UNION ALL SELECT * FROM t)
       |ORDER BY bucket""".stripMargin

  // ========================================================================
  // dedup_lsh_tuning — the banding PARAMETER SWEEP: precision and recall
  // for every rows-per-band config the K=8 signature supports (r ∈
  // {1,2,4,8} → 8/4/2/1 bands), measured on the same bounded corpus
  // slice as dedup_lsh_recall. The recall/precision locks pin ONE
  // config; this is the table an operator reads to CHOOSE it — the
  // S-curve trade made concrete: r=1 (8 bands of 1) catches everything
  // and floods the verifier (precision→0), r=8 (1 band of 8) verifies
  // almost nothing it catches is wrong but misses most true pairs. The
  // production config (r=2) should dominate the corners — the spec pins
  // the monotonicity (n_cand non-increasing, recall non-increasing in
  // r).
  //
  // Scale: a TUNING HARNESS, slice-bounded like dedup_lsh_recall — at
  // 100 TB this is exactly how banding is tuned (sample a slice, sweep
  // configs on the sample, ship the winner). The slice must CONTAIN
  // near-dups to discriminate (a plain id-range sample goes vacuous at
  // sf0.1 — dup partners spread across the id space), so it seeds with
  // the docs of the first 30 verified pairs (deterministic order) plus
  // the id<60 filler: ≤120 docs, ≤7140 truth pairs, constant in corpus
  // size. Within the slice the truth is the exact all-pairs Jaccard —
  // the seed only decides WHICH docs are measurable, not how their
  // pairs score. Every per-config candidate set and verify join is
  // slice-bounded; the signature relation is the memoized corpus one
  // (semi-join pushdown, no re-hash). Exact-integer
  // precision_e6/recall_e6 (div floor, NULL-guarded for candidate-free
  // configs).
  // ========================================================================
  def dedupLshTuning(s: SparkSession, d: String): DataFrame = {
    val SliceMax = 60
    val SeedPairs = 30
    // Driver-side fast path (the clusterLabels / recall-truth-set
    // precedent): the whole sweep input is structurally bounded — ≤ 60
    // seed-pair docs + ≤ 60 id-range docs — so a distributed plan pays
    // ~12 slice-sized shuffle branches (measured 26 s at local[32]) for
    // microseconds of work. Three bounded collects against the memoized
    // persisted relations, then the sweep runs in-process; the four
    // result rows return as a local relation (plan-guarded).
    val seedIds = verifiedPairs(s, d).orderBy(col("id_a"), col("id_b")).limit(SeedPairs)
      .collect().flatMap(r => Seq(r.getLong(0), r.getLong(1)))
    val rangeIds = lshEx(s, d).select(col("doc_id")).filter(col("doc_id") < SliceMax)
      .distinct().collect().map(_.getLong(0))
    val ids = (seedIds ++ rangeIds).distinct.sorted
    val sigRows = lshSigs(s, d).filter(col("doc_id").isInCollection(ids))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val shRows = lshEx(s, d).filter(col("doc_id").isInCollection(ids))
      .select(col("doc_id"), col("h1")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val sh: Map[Long, Set[Long]] =
      shRows.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val sigs: Map[Long, Seq[(Long, Long)]] =
      sigRows.groupBy(_._1).map { case (k, v) => k -> v.map(t => (t._2, t._3)).sortBy(_._1) }
    // identical doubles to both engines: integer inter/union, one division
    def jac(a: Long, b: Long): Double = {
      val (x, y) = (sh(a), sh(b))
      val inter = (x & y).size
      inter.toDouble / (x.size + y.size - inter)
    }
    val docIds = sh.keySet.toSeq.sorted
    val truth = (for {
      i <- docIds.indices.iterator
      j <- (i + 1) until docIds.length
      if jac(docIds(i), docIds(j)) >= LshParams.Threshold
    } yield (docIds(i), docIds(j))).toSet
    // TextOps.hash60 replicated bit-for-bit (md5 hex, first 15 chars,
    // base-16) so the in-process band keys equal the pipeline's and the
    // oracle's — tuple equality alone would diverge on a (2^-60) hash
    // collision the hashed engines would both admit
    def hash60(str: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(str.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val out = Seq(1, 2, 4, 8).map { rpb =>
      val cand = sigs.toSeq
        .flatMap { case (id, sv) =>
          sv.groupBy { case (i, _) => i / rpb }.map { case (band, g) =>
            ((band, hash60(g.sortBy(_._1).map(_._2).mkString(","))), id)
          }
        }
        .groupBy(_._1).values.flatMap { g =>
          val in = g.map(_._2).distinct.sorted
          for { i <- in.indices; j <- (i + 1) until in.length } yield (in(i), in(j))
        }.toSet
      val nCand = cand.size.toLong
      val nVer = cand.count { case (a, b) => jac(a, b) >= LshParams.Threshold }.toLong
      val nCaught = truth.count(cand.contains).toLong
      val nTrue = truth.size.toLong
      (rpb.toLong, (LshParams.K / rpb).toLong, nCand, nVer,
        if (nCand > 0) Some(nVer * 1000000L / nCand) else None,
        nTrue, nCaught,
        if (nTrue > 0) Some(nCaught * 1000000L / nTrue) else None)
    }
    import s.implicits._
    out.toDF("rows_per_band", "n_bands", "n_cand", "n_verified",
        "precision_e6", "n_true", "n_caught", "recall_e6")
      .orderBy(col("rows_per_band"))
  }

  private val dedupLshTuningSql =
    s"""WITH $lshPipelineCtes,
       |sp AS (
       |  SELECT id_a, id_b FROM ver WHERE jaccard >= ${LshParams.Threshold}
       |  ORDER BY id_a, id_b LIMIT 30),
       |sid AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT id_a AS doc_id FROM sp
       |    UNION ALL SELECT id_b FROM sp
       |    UNION ALL SELECT doc_id FROM hp WHERE doc_id < 60)),
       |ssig AS (SELECT s.doc_id, s.i, s.minh FROM sig s JOIN sid USING (doc_id)),
       |ssh AS (SELECT s.doc_id, s.sh FROM shd s JOIN sid USING (doc_id)),
       |tp AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM ssh a JOIN ssh b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
       |    >= ${LshParams.Threshold}),
       |nt AS (SELECT count(*) AS n_true FROM tp),
       |cfg AS (SELECT * FROM (VALUES (1), (2), (4), (8)) c(rpb)),
       |bnd AS (
       |  SELECT c.rpb, s.doc_id, s.i // c.rpb AS band,
       |    ('0x' || substr(md5(string_agg(s.minh, ',' ORDER BY s.i)), 1, 15))::BIGINT AS band_key
       |  FROM ssig s, cfg c GROUP BY c.rpb, s.doc_id, s.i // c.rpb),
       |cnd AS (
       |  SELECT DISTINCT a.rpb, a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bnd a JOIN bnd b
       |    ON a.rpb = b.rpb AND a.band = b.band AND a.band_key = b.band_key
       |    AND a.doc_id < b.doc_id),
       |vc AS (
       |  SELECT cnd.rpb,
       |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS j
       |  FROM cnd JOIN ssh a ON cnd.id_a = a.doc_id
       |           JOIN ssh b ON cnd.id_b = b.doc_id),
       |cs AS (
       |  SELECT rpb, count(*) AS n_cand,
       |    CAST(sum(CASE WHEN j >= ${LshParams.Threshold} THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_verified
       |  FROM vc GROUP BY rpb),
       |ct AS (
       |  SELECT rpb, count(*) AS n_caught
       |  FROM cnd JOIN tp ON cnd.id_a = tp.id_a AND cnd.id_b = tp.id_b
       |  GROUP BY rpb)
       |SELECT CAST(c.rpb AS BIGINT) AS rows_per_band,
       |  CAST(${LshParams.K} // c.rpb AS BIGINT) AS n_bands,
       |  CAST(coalesce(cs.n_cand, 0) AS BIGINT) AS n_cand,
       |  CAST(coalesce(cs.n_verified, 0) AS BIGINT) AS n_verified,
       |  CASE WHEN coalesce(cs.n_cand, 0) > 0
       |    THEN CAST((cs.n_verified * 1000000) // cs.n_cand AS BIGINT) END AS precision_e6,
       |  CAST(nt.n_true AS BIGINT) AS n_true,
       |  CAST(coalesce(ct.n_caught, 0) AS BIGINT) AS n_caught,
       |  CASE WHEN nt.n_true > 0
       |    THEN CAST((coalesce(ct.n_caught, 0) * 1000000) // nt.n_true AS BIGINT) END AS recall_e6
       |FROM cfg c
       |LEFT JOIN cs ON cs.rpb = c.rpb
       |LEFT JOIN ct ON ct.rpb = c.rpb
       |CROSS JOIN nt
       |ORDER BY rows_per_band""".stripMargin

  // ========================================================================
  // dedup_graph_degree — degree distribution of the verified near-dup
  // graph: for each degree, how many docs have exactly that many
  // verified partners. The graph-health dial the cluster keys
  // summarize away: a heavy tail (one doc with hundreds of partners)
  // means a template/boilerplate hub that will dominate cluster sizes
  // and skew the banding buckets — the signal to add a shingle
  // stop-list or cap cluster size BEFORE the component resolution pays
  // for it. Exact integers end-to-end.
  //
  // Scale shape: a reshape of the memoized verified-pair relation
  // (collision-sparse); degrees = one union + one count agg keyed by
  // doc id, the histogram a second map-side-combined agg over the
  // ≤|distinct degrees| relation. The corpus is never touched.
  // ========================================================================
  def dedupGraphDegree(s: SparkSession, d: String): DataFrame = {
    val pairs = verifiedPairs(s, d)
    pairs.select(col("id_a").as("id"))
      .unionByName(pairs.select(col("id_b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("degree"))
  }

  private val dedupGraphDegreeSql =
    s"""WITH $lshPipelineCtes,
       |vp AS (SELECT id_a, id_b FROM ver WHERE jaccard >= ${LshParams.Threshold}),
       |dg AS (
       |  SELECT id, count(*) AS degree
       |  FROM (SELECT id_a AS id FROM vp UNION ALL SELECT id_b FROM vp)
       |  GROUP BY id)
       |SELECT degree, count(*) AS n_nodes
       |FROM dg GROUP BY degree ORDER BY degree""".stripMargin

  // ========================================================================
  // decontaminate_fuzzy — NEAR-DUP benchmark contamination with
  // provenance: the exact-shingle screens (`decontaminate`,
  // `decontaminate_bloom`, TextQueries) catch verbatim leakage; a
  // paraphrased or lightly-edited benchmark item shares few exact
  // 4-grams yet still leaks the answer. This key reports every corpus
  // doc whose verified near-dup pair (3-gram Jaccard ≥ the LSH
  // threshold) STRADDLES the benchmark boundary (the same deterministic
  // doc_id % 50 = 0 slice the exact screens use), keeping per doc its
  // worst match: (doc_id, bench_id, jaccard) — the evidence row a
  // removal decision audits, not just a flag.
  //
  // Scale shape: a pure reshape of the memoized verified-pair relation
  // (lshShared — banding is corpus-linear, the pair set
  // collision-sparse); the boundary filter, worst-match window (keyed
  // by doc_id over the sparse pair set) and ordering never touch the
  // corpus. At 100 TB with an EXTERNAL benchmark set, the same shape
  // holds: bench docs are signature rows unioned into the banding —
  // still one corpus pass.
  // ========================================================================
  private val FuzzyBenchMod = 50

  def decontaminateFuzzy(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def isBench(c: org.apache.spark.sql.Column) = c % FuzzyBenchMod === 0
    val straddle = verifiedPairs(s, d)
      .filter(isBench(col("id_a")) =!= isBench(col("id_b")))
      .select(
        when(isBench(col("id_a")), col("id_b")).otherwise(col("id_a")).as("doc_id"),
        when(isBench(col("id_a")), col("id_a")).otherwise(col("id_b")).as("bench_id"),
        col("jaccard"))
    straddle
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("jaccard").desc, col("bench_id"))))
      .filter(col("rn") === 1).drop("rn")
      .orderBy(col("doc_id"))
  }

  private val decontaminateFuzzySql =
    s"""WITH $lshPipelineCtes,
       |vp AS (SELECT id_a, id_b, jaccard FROM ver
       |       WHERE jaccard >= ${LshParams.Threshold}),
       |st AS (
       |  SELECT CASE WHEN id_a % $FuzzyBenchMod = 0 THEN id_b ELSE id_a END AS doc_id,
       |         CASE WHEN id_a % $FuzzyBenchMod = 0 THEN id_a ELSE id_b END AS bench_id,
       |         jaccard
       |  FROM vp
       |  WHERE (id_a % $FuzzyBenchMod = 0) <> (id_b % $FuzzyBenchMod = 0)),
       |rk AS (
       |  SELECT doc_id, bench_id, jaccard,
       |    row_number() OVER (PARTITION BY doc_id
       |                       ORDER BY jaccard DESC, bench_id) AS rn
       |  FROM st)
       |SELECT doc_id, bench_id, jaccard FROM rk WHERE rn = 1
       |ORDER BY doc_id""".stripMargin

  // ========================================================================
  // dedup_cross_source — duplication provenance: which source pairs
  // share verified near-dups, how many, and how close. The corpus-
  // analysis view a curation team reads before deciding which feed to
  // drop — within-source dup density is normal (mirrors, reposts),
  // heavy CROSS-source overlap means two feeds crawl the same site.
  // Source pairs are canonicalized (least, greatest) so (a,b) and (b,a)
  // collapse. Scale shape: the verified-pair set is collision-sparse by
  // construction and BROADCASTS onto the corpus (doc_id, source)
  // projection twice — the corpus never shuffles; the final agg moves
  // only per-source-pair partials. Aggregates are order-independent
  // (count, max), so no rounding is needed.
  // ========================================================================
  def dedupCrossSource(s: SparkSession, d: String): DataFrame = {
    val src = docs(s, d).select(col("doc_id"), col("source"))
    val pairs = verifiedPairs(s, d)
    val withA = src.select(col("doc_id").as("id_a"), col("source").as("sa"))
      .join(broadcast(pairs), Seq("id_a"))
    val withB = src.select(col("doc_id").as("id_b"), col("source").as("sb"))
      .join(broadcast(withA), Seq("id_b"))
    withB
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"), col("jaccard"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"), max(col("jaccard")).as("max_jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }

  private val dedupCrossSourceSql =
    s"""WITH $lshPipelineCtes,
       |sp AS (
       |  SELECT least(da.source, db.source) AS src_a,
       |    greatest(da.source, db.source) AS src_b, jaccard
       |  FROM ver JOIN documents da ON ver.id_a = da.doc_id
       |           JOIN documents db ON ver.id_b = db.doc_id
       |  WHERE jaccard >= ${LshParams.Threshold})
       |SELECT src_a, src_b, count(*) AS n_pairs, max(jaccard) AS max_jaccard
       |FROM sp GROUP BY src_a, src_b
       |ORDER BY src_a, src_b""".stripMargin

  def dedupLshPairs(s: SparkSession, d: String): DataFrame =
    Dedup.dupOfFirst(verifiedPairs(s, d)).orderBy(col("doc_id"))

  private val dedupLshPairsSql =
    s"""WITH $lshPipelineCtes
       |SELECT id_b AS doc_id, min(id_a) AS dup_of FROM ver
       |WHERE jaccard >= ${LshParams.Threshold}
       |GROUP BY id_b ORDER BY doc_id""".stripMargin

  // ========================================================================
  // dedup_cluster — TRANSITIVE resolution of the verified pairs:
  // connected components by min-label propagation (pointer-jumped,
  // O(log n) rounds) so a chain a–b, b–c maps ALL of {a,b,c} to a, even
  // when a–c itself was never verified. Unlike dedup_lsh_pairs (direct
  // partners only), following `canonical` always lands on a kept doc.
  // Oracle: DuckDB recursive CTE computing min reachable id per node.
  // ========================================================================
  def dedupCluster(s: SparkSession, d: String): DataFrame =
    textClusterLabels(s, d).orderBy(col("doc_id"))

  private val dedupClusterSql =
    s"""WITH RECURSIVE $clusterCtesSql
       |SELECT doc_id, canonical FROM cl ORDER BY doc_id""".stripMargin

  /** Recursive connected-components CTE block shared by the cluster
    * oracle and the split-leakage oracles: `cl` = (doc_id, canonical)
    * for every clustered doc.
    */
  // lazy: referenced by dedupClusterSql, which is declared first —
  // object vals initialize in declaration order and a forward reference
  // to a strict val would read null into the rendered SQL
  private lazy val clusterCtesSql =
    s"""$lshPipelineCtes,
       |vp AS (SELECT id_a, id_b FROM ver WHERE jaccard >= ${LshParams.Threshold}),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM vp
       |  UNION SELECT id_b, id_a FROM vp),
       |reach AS (
       |  SELECT src AS doc_id, src AS lbl FROM edges
       |  UNION
       |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.doc_id),
       |cl AS (SELECT doc_id, min(lbl) AS canonical FROM reach GROUP BY doc_id)""".stripMargin

  // ========================================================================
  // split_leak_safe — near-dup-aware train/val/test assignment: the
  // doc's split is hashed from its dedup-CLUSTER canonical id, not its
  // own content, so LSH-verified near-duplicates can NEVER straddle
  // splits. The upgrade over `sample_hash_split` (content-fingerprint
  // buckets): an exact fingerprint only pins byte-identical re-crawls
  // to one split — a near-duplicate with one word changed hashes to a
  // different fingerprint and has a 2·5% chance of landing across the
  // train/test boundary, which is test-set leakage a published eval
  // can't survive (the measured gap is `split_leakage`). Same 5/5/90
  // bucket convention as sample_hash_split; unclustered docs hash
  // their own id (their canonical).
  //
  // Scale shape: the cluster-label relation is membership-sized
  // (sparse — only docs with >= 1 verified near-dup), so the left join
  // onto the id scan is stats-chosen broadcast at bench scale and a
  // doc_id-keyed shuffle join at corpus scale; the bucket hash is
  // scan-side; text is pruned from the probe side. The label relation
  // itself rides the memoized lshShared pair set (built once per
  // corpus). At 100 TB this is exactly a production split job: one
  // cluster pass, then an embarrassingly parallel hash per doc.
  // ========================================================================
  def splitLeakSafe(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"))
      .join(textClusterLabels(s, d), Seq("doc_id"), "left")
      .withColumn("canonical", coalesce(col("canonical"), col("doc_id")))
      .withColumn("bucket",
        TextOps.hash60(col("canonical").cast("string")) % 100)
      .withColumn("split", TextOps.splitOf(col("bucket")))
      .orderBy(col("doc_id"))

  private val splitLeakSafeSql =
    s"""WITH RECURSIVE $clusterCtesSql,
       |asg AS (
       |  SELECT d.doc_id, coalesce(cl.canonical, d.doc_id) AS canonical
       |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
       |bk AS (
       |  SELECT doc_id, canonical,
       |    ('0x' || substr(md5(CAST(canonical AS VARCHAR)), 1, 15))::BIGINT % 100
       |      AS bucket
       |  FROM asg)
       |SELECT doc_id, canonical, bucket,
       |  ${TextOps.splitOfSql("bucket")} AS split
       |FROM bk ORDER BY doc_id""".stripMargin

  // ========================================================================
  // split_leakage — the audit that justifies split_leak_safe: for each
  // split policy, how many LSH-VERIFIED near-dup pairs straddle two
  // different splits (their shared content trains the model AND grades
  // it)? `fingerprint` = sample_hash_split's content-fingerprint
  // buckets (exact-dup-safe only); `cluster` = split_leak_safe's
  // canonical-id buckets — provably 0 straddles (both endpoints of any
  // verified pair share a component, hence a canonical, hence a
  // bucket), and the report computes that 0 honestly from the pair
  // relation rather than asserting it. THE number a data card should
  // carry next to its train/test split methodology.
  //
  // Scale shape: both sides join the bounded verified-pair relation
  // (memoized) against per-doc split columns derived scan-side; the
  // output is 2 rows. No corpus shuffle beyond the label build.
  // ========================================================================
  def splitLeakage(s: SparkSession, d: String): DataFrame = {
    val pairs = verifiedPairs(s, d).select(col("id_a"), col("id_b"))
    // r22 (§2.3 compute expensive expressions on fewer rows): the audit
    // only reads split buckets for PAIR ENDPOINTS, but projecting the
    // fingerprint before the join evaluated the normalize+md5 chain over
    // the whole corpus — twice (id_a and id_b sides), for both policies.
    // A semi-join on the bounded endpoint set first restricts the hash
    // to the ≤ 2·|pairs| docs the aggregate actually consumes; the
    // verified-pair relation is the memoized persisted lshShared output,
    // so the endpoint set costs no corpus pass.
    // explicit broadcast: hint-free, AQE materialized a doc_id shuffle of
    // the corpus before converting (measured: 14 → 23 jobs, 736 tasks);
    // the endpoint set is ids-only and dup-rate-bounded — at a scale
    // where it outgrows a broadcast, the §3.2 Bloom pre-filter is the
    // swap-in (false positives only cost extra fingerprints)
    val ends = broadcast(pairs.select(col("id_a").as("doc_id"))
      .unionByName(pairs.select(col("id_b").as("doc_id"))).distinct())
    val fpSplit = docs(s, d).join(ends, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        (TextOps.hash60(TextOps.fingerprint(col("text"))) % 100).as("bk"))
    val clSplit = docs(s, d).select(col("doc_id"))
      .join(ends, Seq("doc_id"), "left_semi")
      .join(textClusterLabels(s, d), Seq("doc_id"), "left")
      .select(col("doc_id"),
        (TextOps.hash60(coalesce(col("canonical"), col("doc_id"))
          .cast("string")) % 100).as("bk"))
    def audit(splits: DataFrame, policy: String): DataFrame = {
      def sp(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        TextOps.splitOf(c)
      pairs
        .join(splits.select(col("doc_id").as("id_a"), col("bk").as("bk_a")), Seq("id_a"))
        .join(splits.select(col("doc_id").as("id_b"), col("bk").as("bk_b")), Seq("id_b"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(sp(col("bk_a")) =!= sp(col("bk_b")), 1L).otherwise(0L))
            .as("n_straddle"))
        .select(lit(policy).as("policy"), col("n_pairs"),
          coalesce(col("n_straddle"), lit(0L)).as("n_straddle"))
    }
    audit(fpSplit, "fingerprint").unionByName(audit(clSplit, "cluster"))
      .orderBy(col("policy"))
  }

  private val splitLeakageSql = {
    def sp(c: String) = TextOps.splitOfSql(c)
    s"""WITH RECURSIVE $clusterCtesSql,
       |fp AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(${TextOps.fingerprintSql("text")}), 1, 15))::BIGINT
       |      % 100 AS bk
       |  FROM documents),
       |cb AS (
       |  SELECT d.doc_id,
       |    ('0x' || substr(md5(CAST(coalesce(cl.canonical, d.doc_id) AS VARCHAR)),
       |      1, 15))::BIGINT % 100 AS bk
       |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
       |pr AS (SELECT id_a, id_b FROM vp)
       |SELECT * FROM (
       |  SELECT 'fingerprint' AS policy, count(*) AS n_pairs,
       |    CAST(coalesce(sum(CASE WHEN ${sp("a.bk")} <> ${sp("b.bk")}
       |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_straddle
       |  FROM pr JOIN fp a ON pr.id_a = a.doc_id JOIN fp b ON pr.id_b = b.doc_id
       |  UNION ALL
       |  SELECT 'cluster' AS policy, count(*) AS n_pairs,
       |    CAST(coalesce(sum(CASE WHEN ${sp("a.bk")} <> ${sp("b.bk")}
       |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_straddle
       |  FROM pr JOIN cb a ON pr.id_a = a.doc_id JOIN cb b ON pr.id_b = b.doc_id)
       |ORDER BY policy""".stripMargin
  }

  // ========================================================================
  // dedup_minhash_sig — k=8 MinHash signatures in long form (doc_id, i,
  // minh): per-row expressions + a generator, shuffle-free; LSH banding
  // over these is in DedupSpec.
  // ========================================================================
  def dedupMinhashSig(s: SparkSession, d: String): DataFrame =
    lshSigs(s, d).orderBy(col("doc_id"), col("i"))

  private val dedupMinhashSigSql =
    raw"""WITH hp AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    list_transform(range(1, len(t) - 1),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]),
      |    s -> md5(s))) AS hx
      |  FROM (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents)
      |  WHERE len(t) >= 3)
      |SELECT doc_id, i, list_min(list_transform(hx, x ->
      |    (('0x' || substr(x, 1, 14))::BIGINT
      |     + i * ('0x' || substr(x, 15, 14))::BIGINT) & ${Dedup.HashMask})) AS minh
      |FROM hp, range(0, ${LshParams.K}) r(i)
      |ORDER BY doc_id, i""".stripMargin

  // ========================================================================
  // dedup_simhash — 48-bit SimHash per doc: exploded (token × bit) votes,
  // two integer aggregations; cross-engine exact (pure integer math).
  // ========================================================================
  def dedupSimhash(s: SparkSession, d: String): DataFrame =
    Dedup.simhash48(docs(s, d), "text", "doc_id").orderBy(col("doc_id"))

  private val dedupSimhashSql =
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS tok FROM documents),
      |h AS (
      |  SELECT doc_id, ('0x' || substr(md5(tok), 1, 12))::BIGINT AS h FROM toks),
      |votes AS (
      |  SELECT doc_id, i,
      |    sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      |  FROM h, range(0, 48) r(i) GROUP BY doc_id, i)
      |SELECT doc_id,
      |  CAST(sum(CASE WHEN vote > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS simhash
      |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ========================================================================
  // dedup_image_phash — image near-dup by perceptual hash: the multimodal
  // counterpart of dedup_simhash, composing the REAL ImageIO decode path
  // (Multimodal.dhash56 over the BMP/PNG corpus multimodal_pixels
  // verifies) with the banding machinery text dedup uses. 56-bit dHash
  // per image → collapse to DISTINCT hashes (exact perceptual dups form
  // groups, counted in n_a/n_b — pairing at image level would re-expand
  // heavy clusters quadratically) → Hamming banding (8 bands × 7 bits:
  // every hash pair within distance 7 shares a band by pigeonhole, so
  // candidate recall below the verify threshold is exactly 1.0) → exact
  // bit_count verify ≤ 6. Output: the hash-level near-dup graph with
  // cluster sizes. Oracle: the closed-form pixel formula recomputes every
  // grid sample, luminance, hash bit, band key, and Hamming distance in
  // exact integer SQL — one flipped comparison anywhere breaks the match.
  // Scale: decode partition-local, only (id, hash) shuffles; the join is
  // (band, slice)-keyed over distinct hashes, never image-quadratic.
  // ========================================================================
  /** One image-phash pipeline per (session, dir) — the text-LSH
    * layout applied to the image family: the decode→dHash relation,
    * the distinct-hash groups, and the verified (≤ 6 bit) near-dup
    * pairs are each computed once and persisted; `dedup_image_phash`
    * and `dedup_image_cluster` both derive from them (the cluster query
    * used to re-decode the whole corpus to rebuild the same pairs).
    */
  private def imageHashes(s: SparkSession, d: String): DataFrame =
    Memo.relation(s, d, "imageShared/hashes") {
      Multimodal.dhash56(s, Multimodal.syntheticPixelPayloads(s, docs(s, d))).toDF()
    }
  private def imageGrp(s: SparkSession, d: String): DataFrame = {
    val hashes = imageHashes(s, d)
    Memo.relation(s, d, "imageShared/grp") {
      hashes.groupBy(col("phash"))
        .agg(count(lit(1)).as("n"), min(col("asset_id")).as("keep_id"))
    }
  }
  private def imagePairs(s: SparkSession, d: String): DataFrame = {
    val grp = imageGrp(s, d)
    Memo.relation(s, d, "imageShared/pairs") {
      Dedup.hammingBandPairs(grp, "phash", nBands = 8, bitsPerBand = 7)
        .withColumn("hamming", expr("CAST(bit_count(phash_a ^ phash_b) AS BIGINT)"))
        .filter(col("hamming") <= 6)
    }
  }

  def dedupImagePhash(s: SparkSession, d: String): DataFrame = {
    imagePairs(s, d)
      .join(imageGrp(s, d).select(col("phash").as("phash_a"), col("n").as("n_a")), Seq("phash_a"))
      .join(imageGrp(s, d).select(col("phash").as("phash_b"), col("n").as("n_b")), Seq("phash_b"))
      .select(col("phash_a"), col("phash_b"), col("hamming"), col("n_a"), col("n_b"))
      .orderBy(col("phash_a"), col("phash_b"))
  }

  /** The image-phash pipeline CTEs (payload formula → grid → luminance →
    * 56-bit dHash → distinct-hash groups → Hamming bands → candidate
    * hash pairs) — shared by the pair query and the cluster resolution.
    */
  private val imagePhashCtesSql =
    """p AS (
      |  SELECT doc_id AS asset_id, doc_id % 7 + 2 AS w, doc_id % 5 + 2 AS h
      |  FROM documents),
      |g AS (
      |  SELECT asset_id, s.i % 8 AS gi, s.i // 8 AS gj,
      |    ((s.i % 8) * w) // 8 AS sx, ((s.i // 8) * h) // 8 AS sy
      |  FROM p, range(0, 64) s(i)),
      |l AS (
      |  SELECT asset_id, gi, gj,
      |    299 * ((asset_id + 13 * sx + 31 * sy) % 256)
      |    + 587 * ((2 * asset_id + 7 * sx + 3 * sy) % 256)
      |    + 114 * ((5 * asset_id + 11 * sx + 17 * sy) % 256) AS lum
      |  FROM g),
      |hsh AS (
      |  SELECT a.asset_id,
      |    CAST(sum(CASE WHEN b.lum > a.lum
      |      THEN (1::BIGINT << (a.gj * 7 + a.gi)) ELSE 0 END) AS BIGINT) AS phash
      |  FROM l a JOIN l b ON a.asset_id = b.asset_id AND a.gj = b.gj
      |    AND b.gi = a.gi + 1
      |  WHERE a.gi < 7
      |  GROUP BY a.asset_id),
      |grp AS (SELECT phash, count(*) AS n FROM hsh GROUP BY phash),
      |bands AS (
      |  SELECT phash, r.b AS band, (phash >> (7 * CAST(r.b AS INT))) & 127 AS bkey
      |  FROM grp, range(0, 8) r(b)),
      |cand AS (
      |  SELECT DISTINCT a.phash AS phash_a, b.phash AS phash_b
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.bkey = b.bkey AND a.phash < b.phash)""".stripMargin

  private val dedupImagePhashSql =
    s"""WITH $imagePhashCtesSql
      |SELECT phash_a, phash_b,
      |  CAST(bit_count(xor(phash_a, phash_b)) AS BIGINT) AS hamming,
      |  ga.n AS n_a, gb.n AS n_b
      |FROM cand JOIN grp ga ON cand.phash_a = ga.phash
      |          JOIN grp gb ON cand.phash_b = gb.phash
      |WHERE bit_count(xor(phash_a, phash_b)) <= 6
      |ORDER BY phash_a, phash_b""".stripMargin

  // ========================================================================
  // dedup_image_cluster — TRANSITIVE resolution of the image near-dup
  // graph with keep-first election: the dedup_cluster treatment applied
  // to the perceptual-hash pairs. Components form over DISTINCT hashes
  // (min-label propagation, pointer-jumped — the image-level graph
  // would re-expand heavy perceptual-dup groups quadratically); every
  // image then joins its hash's component, EXACT perceptual dups
  // (hash groups with n ≥ 2) participate even when their hash has no
  // near-dup partner (a singleton component), and the kept image per
  // cluster is the smallest asset id. Output: (asset_id, canonical,
  // kept) for every image in any cluster. Oracle: recursive CTE over
  // the hash edges + the same membership/keep-first election.
  // ========================================================================
  def dedupImageCluster(s: SparkSession, d: String): DataFrame = {
    val pairs = imagePairs(s, d).select(col("phash_a").as("id_a"), col("phash_b").as("id_b"))
    val comp = Dedup.clusterLabels(pairs)
      .select(col("doc_id").as("phash"), col("canonical").as("clbl"))
    val members = imageHashes(s, d).join(imageGrp(s, d).select(col("phash"), col("n")), Seq("phash"))
      .join(comp, Seq("phash"), "left")
      .filter(col("n") >= 2 || col("clbl").isNotNull)
      .withColumn("clbl", coalesce(col("clbl"), col("phash")))
    val canon = members.groupBy(col("clbl")).agg(min(col("asset_id")).as("canonical"))
    members.join(canon, Seq("clbl"))
      .select(col("asset_id"), col("canonical"),
        when(col("asset_id") === col("canonical"), 1L).otherwise(0L).as("kept"))
      .orderBy(col("asset_id"))
  }

  private val dedupImageClusterSql =
    s"""WITH RECURSIVE $imagePhashCtesSql,
      |vp AS (
      |  SELECT phash_a, phash_b FROM cand
      |  WHERE bit_count(xor(phash_a, phash_b)) <= 6),
      |edges AS (
      |  SELECT phash_a AS src, phash_b AS dst FROM vp
      |  UNION SELECT phash_b, phash_a FROM vp),
      |reach AS (
      |  SELECT src AS ph, src AS lbl FROM edges
      |  UNION
      |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.ph),
      |comp AS (SELECT ph AS phash, min(lbl) AS clbl FROM reach GROUP BY ph),
      |members AS (
      |  SELECT h.asset_id, coalesce(c.clbl, h.phash) AS clbl
      |  FROM hsh h JOIN grp g2 USING (phash) LEFT JOIN comp c USING (phash)
      |  WHERE g2.n >= 2 OR c.clbl IS NOT NULL),
      |canon AS (SELECT clbl, min(asset_id) AS canonical FROM members GROUP BY clbl)
      |SELECT m.asset_id, c.canonical,
      |  CAST(CASE WHEN m.asset_id = c.canonical THEN 1 ELSE 0 END AS BIGINT) AS kept
      |FROM members m JOIN canon c USING (clbl)
      |ORDER BY m.asset_id""".stripMargin

  // ========================================================================
  // dedup_substring — EXACT duplicated-substring spans, the third text
  // dedup granularity after whole-document (dedup_exact) and
  // whole-document-near (MinHash/LSH): maximal token spans of length
  // ≥ 8 that appear verbatim in ≥ 2 documents, per Lee et al.,
  // "Deduplicating Training Data Makes Language Models Better"
  // (arXiv:2107.06499) — boilerplate headers/licenses/templates
  // duplicate at span level long before documents do. Suffix arrays
  // (the paper's single-node tool) don't shard; the Spark-native shape
  // is: positioned 8-gram fingerprints (posexplode + 7 codegen'd leads
  // over ONE per-doc window sort — the shingleHexRows pattern) →
  // map-side-combined fingerprint aggregation keeping cross-doc grams
  // (distinct docs ≥ 2) → join back → per-doc gaps-and-islands merge of
  // overlapping/adjacent duplicated windows (two windows over the SAME
  // per-doc partitioning) → span count, duplicated-token total and
  // fraction per affected doc. Every stage is linear; the only shuffle
  // keys are (doc, pos) and the 16-byte gram hash. Oracle: the same
  // pipeline over DuckDB list slices, exact integer arithmetic
  // end-to-end (dup_frac is one rounded division of identical ints).
  // ========================================================================
  private val SubstrK = 8

  /** Positioned 8-gram fingerprints (doc_id, pos, h) of a document
    * slice — posexplode + K−1 codegen'd leads over ONE per-doc window,
    * hash = the first 56 bits of the window md5. The single definition
    * of "span-dedup gram", shared by the full-corpus span pipeline and
    * the incremental probe so batch and increment cannot hash
    * different grams.
    */
  private def positionedGrams(docsDf: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wp = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val toks = docsDf.select(col("doc_id"),
      posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "tok")))
    val leads = (1 until SubstrK).foldLeft(toks) { (df, j) =>
      df.withColumn(s"t$j", lead(col("tok"), j).over(wp))
    }
    leads.filter(col(s"t${SubstrK - 1}").isNotNull)
      .select(col("doc_id"), col("pos"),
        conv(substring(md5(concat_ws(" ",
          col("tok") +: (1 until SubstrK).map(j => col(s"t$j")): _*)), 1, 14), 16, 10)
          .cast("long").as("h"))
  }

  /** The merged duplicated-span relation (doc_id, g, sp, ep) — shared
    * by the span report and the span-removal transform. Memoized per
    * (session, dir) and PERSISTED, the lshShared lifecycle: the gram
    * index (one row per corpus TOKEN) is the expensive artifact and it
    * feeds two plan branches (cross-doc filter + join-back), so it is
    * cached for the build and released once the small span relation is
    * materialized — `dedup_substring` and `scrub_substring` then both
    * read the persisted spans instead of re-running posexplode + seven
    * lead windows each.
    */
  private def substringSpans(s: SparkSession, d: String): DataFrame =
    Memo.relation(s, d, "substrFp") {
      import org.apache.spark.sql.expressions.Window
      val wp = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val kg = positionedGrams(docs(s, d)).persist()
      val dup = kg.groupBy(col("h"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2).select(col("h"))
      val dp = kg.join(dup, Seq("h")).select(col("doc_id"), col("pos"))
      // gaps-and-islands: a position starts a new span iff it lies beyond
      // the running max end (pos + K) of everything before it — adjacent
      // windows (pos == prev end) merge into one contiguous region
      val wprev = wp.rowsBetween(Window.unboundedPreceding, -1)
      val spans = dp
        .withColumn("brk", when(col("pos") >
          coalesce(max(col("pos") + SubstrK).over(wprev), lit(-1)), 1L).otherwise(0L))
        .withColumn("g", sum(col("brk")).over(wp))
        .groupBy(col("doc_id"), col("g"))
        .agg(min(col("pos")).as("sp"), (max(col("pos")) + SubstrK).as("ep"))
        .persist()
      spans.count() // materialize now so the token-level gram cache can go
      kg.unpersist(false)
      spans
    }

  def dedupSubstring(s: SparkSession, d: String): DataFrame = {
    val nt = docs(s, d).select(col("doc_id"),
      size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
    substringSpans(s, d).groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("ep") - col("sp")).cast("long").as("dup_tokens"))
      .join(nt, Seq("doc_id"))
      .select(col("doc_id"), col("n_spans"), col("dup_tokens"), col("n_tokens"),
        // ExactRound: round(dup_tokens/n_tokens, 4) as an exact-integer
        // half-away — the ratio lands on a representable .5 whenever
        // n_tokens is a power of two (same class as text_rarity's red row)
        (expr(ExactRound.spark("dup_tokens * 10000", "n_tokens")).cast("double")
          / lit(10000.0)).as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  /** The duplicated-span pipeline as DuckDB CTEs (no WITH prefix),
    * ending at `spans (doc_id, g, sp, ep)` — shared by the span REPORT
    * (`dedup_substring`) and the span REMOVAL (`scrub_substring`).
    */
  private val substringCtesSql =
    raw"""toks AS (
      |  SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
      |kg AS (
      |  SELECT doc_id, i AS pos,
      |    ('0x' || substr(md5(list_aggregate(t[i + 1:i + $SubstrK], 'string_agg', ' ')), 1, 14))::BIGINT AS h
      |  FROM toks, unnest(range(0, len(t) - ${SubstrK - 1})) r(i)),
      |dup AS (
      |  SELECT h FROM kg GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
      |dp AS (
      |  SELECT kg.doc_id, kg.pos FROM kg JOIN dup USING (h)),
      |isl AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN pos > coalesce(max(pos + $SubstrK) OVER (
      |        PARTITION BY doc_id ORDER BY pos
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
      |      THEN 1 ELSE 0 END AS brk
      |  FROM dp),
      |grpd AS (
      |  SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
      |  FROM isl),
      |spans AS (
      |  SELECT doc_id, g, min(pos) AS sp, max(pos) + $SubstrK AS ep
      |  FROM grpd GROUP BY doc_id, g)""".stripMargin

  private val dedupSubstringSql =
    raw"""WITH $substringCtesSql,
      |nt AS (
      |  SELECT doc_id, CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
      |  FROM documents)
      |SELECT sp.doc_id, count(*) AS n_spans,
      |  CAST(sum(ep - sp.sp) AS BIGINT) AS dup_tokens,
      |  any_value(nt.n_tokens) AS n_tokens,
      |  CAST(${ExactRound.duck("CAST(sum(ep - sp.sp) AS BIGINT) * 10000", "any_value(nt.n_tokens)")} AS DOUBLE) / 10000.0 AS dup_frac
      |FROM spans sp JOIN nt ON nt.doc_id = sp.doc_id
      |GROUP BY sp.doc_id
      |ORDER BY sp.doc_id""".stripMargin

  // ========================================================================
  // scrub_substring — the REMOVAL transform over the duplicated-span
  // relation: every token inside any cross-document duplicated span is
  // dropped and the cleaned document re-emitted (as its token count and
  // content md5 — the full-content verification pattern of text_scrub).
  // This is the transformation Lee et al.'s exact-substring dedup
  // actually applies to training corpora; dedup_substring is its audit
  // view. Span positions explode to at most dup_tokens rows per doc
  // (bounded by doc length) and anti-join the positioned tokens —
  // nothing corpus-quadratic; the reassembly is one doc-keyed
  // aggregation over kept tokens in position order.
  // ========================================================================
  def scrubSubstring(s: SparkSession, d: String): DataFrame = {
    val spanPos = substringSpans(s, d)
      .select(col("doc_id"), explode(sequence(col("sp"), col("ep") - 1)).as("pos"))
    val toks = docs(s, d).select(col("doc_id"),
      posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "tok")))
    val kept = toks.join(spanPos, Seq("doc_id", "pos"), "left_anti")
    val agg = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        md5(concat_ws(" ", expr(
          "transform(sort_array(collect_list(struct(pos, tok))), x -> x.tok)")))
          .as("clean_md5"))
    docs(s, d).select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_md5"), md5(lit(""))).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  private val scrubSubstringSql =
    raw"""WITH $substringCtesSql,
      |sp2 AS (
      |  SELECT doc_id, unnest(range(sp, ep)) AS pos FROM spans),
      |tok2 AS (
      |  SELECT doc_id, unnest(t) AS tok, unnest(range(0, len(t))) AS pos FROM toks),
      |kept AS (
      |  SELECT t2.doc_id, t2.pos, t2.tok
      |  FROM tok2 t2 LEFT JOIN sp2 ON sp2.doc_id = t2.doc_id AND sp2.pos = t2.pos
      |  WHERE sp2.doc_id IS NULL),
      |agg AS (
      |  SELECT doc_id, count(*) AS n_kept,
      |    md5(string_agg(tok, ' ' ORDER BY pos)) AS clean_md5
      |  FROM kept GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(len(regexp_extract_all(d.text, '\S+')) AS BIGINT) AS n_tokens,
      |  CAST(coalesce(agg.n_kept, 0) AS BIGINT) AS n_kept,
      |  coalesce(agg.clean_md5, md5('')) AS clean_md5
      |FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // ========================================================================
  // dedup_substring_incremental — the span-granularity continuation of
  // dedup_incremental / ann_ivf_append: dedup a NEW document slice
  // against the EXISTING corpus at Lee et al. span granularity without
  // re-running the corpus-wide fingerprint aggregation per increment.
  // The existing corpus' DISTINCT positioned-gram hashes are the
  // PERSISTED INDEX (memoized per (session, dir), repartitioned on the
  // hash BEFORE persisting — the ann_ivf_persisted lifecycle — so
  // every probe join reuses the stored partitioning and only the
  // increment side exchanges). Each increment doc's duplicated span is
  // classified by provenance: dup-against-OLD (gram present in the
  // index) and/or dup-within-INCREMENT (gram in ≥ 2 distinct new docs
  // — an O(increment) aggregation, never touching the corpus).
  //
  // Union equivalence (SubstringIncrementalSpec): a gram is duplicated
  // for an increment doc iff ≥ 2 distinct docs of old ∪ increment hold
  // it — old-membership supplies one distinct holder, the within-
  // increment count the rest — so the incremental spans equal the
  // full-corpus dedup_substring spans restricted to increment docs.
  // Everything that shuffles at probe time is O(increment +
  // collisions): the increment's grams, its within-increment
  // aggregation, and the duplicated positions; the corpus index
  // shuffles ONCE at build, then serves every increment from cache
  // (plan-guarded: the probe join's corpus side is an
  // InMemoryTableScan with no exchange above it).
  // ========================================================================
  private def substrIndex(s: SparkSession, d: String): DataFrame =
    Memo.relation(s, d, "substrIndex") {
      positionedGrams(docs(s, d).filter(col("doc_id") % 3 =!= 0))
        .select(col("h")).distinct()
        .repartition(col("h"))
    }

  /** The increment's merged duplicated spans (doc_id, sp, ep, has_old,
    * has_inc) — factored so the report (`dedup_substring_incremental`)
    * and the removal transform (`scrub_substring_incremental`) share
    * one definition.
    */
  private def incrementalSpans(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val isNew = col("doc_id") % 3 === 0
    val inc = positionedGrams(docs(s, d).filter(isNew))
    val withinInc = inc.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd")).filter(col("nd") >= 2)
      .select(col("h"), lit(1L).as("ic"))
    val flagged = inc
      .join(substrIndex(s, d).withColumn("o", lit(1L)), Seq("h"), "left")
      .join(withinInc, Seq("h"), "left")
      .filter(col("o").isNotNull || col("ic").isNotNull)
      .select(col("doc_id"), col("pos"),
        coalesce(col("o"), lit(0L)).as("o"), coalesce(col("ic"), lit(0L)).as("ic"))
    val wp = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val wprev = wp.rowsBetween(Window.unboundedPreceding, -1)
    flagged
      .withColumn("brk", when(col("pos") >
        coalesce(max(col("pos") + SubstrK).over(wprev), lit(-1)), 1L).otherwise(0L))
      .withColumn("g", sum(col("brk")).over(wp))
      .groupBy(col("doc_id"), col("g"))
      .agg(min(col("pos")).as("sp"), (max(col("pos")) + SubstrK).as("ep"),
        max(col("o")).as("has_old"), max(col("ic")).as("has_inc"))
  }

  def dedupSubstringIncremental(s: SparkSession, d: String): DataFrame = {
    val isNew = col("doc_id") % 3 === 0
    val spans = incrementalSpans(s, d)
    val nt = docs(s, d).filter(isNew).select(col("doc_id"),
      size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
    spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("ep") - col("sp")).cast("long").as("dup_tokens"),
        sum(when(col("has_old") === 1, 1L).otherwise(0L)).as("n_spans_old"),
        sum(when(col("has_inc") === 1, 1L).otherwise(0L)).as("n_spans_inc"))
      .join(nt, Seq("doc_id"))
      .select(col("doc_id"), col("n_spans"), col("dup_tokens"), col("n_tokens"),
        col("n_spans_old"), col("n_spans_inc"))
      .orderBy(col("doc_id"))
  }

  /** CTE chain to the increment's merged spans — shared by the report
    * and the removal transform oracles.
    */
  private val substrIncCtesSql =
    raw"""toks AS (
      |  SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
      |kg AS (
      |  SELECT doc_id, i AS pos,
      |    ('0x' || substr(md5(list_aggregate(t[i + 1:i + $SubstrK], 'string_agg', ' ')), 1, 14))::BIGINT AS h
      |  FROM toks, unnest(range(0, len(t) - ${SubstrK - 1})) r(i)),
      |oldh AS (SELECT DISTINCT h FROM kg WHERE doc_id % 3 <> 0),
      |inc AS (SELECT doc_id, pos, h FROM kg WHERE doc_id % 3 = 0),
      |wi AS (SELECT h FROM inc GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
      |fl AS (
      |  SELECT i.doc_id, i.pos,
      |    CASE WHEN o.h IS NOT NULL THEN 1 ELSE 0 END AS o,
      |    CASE WHEN w.h IS NOT NULL THEN 1 ELSE 0 END AS ic
      |  FROM inc i LEFT JOIN oldh o ON o.h = i.h LEFT JOIN wi w ON w.h = i.h
      |  WHERE o.h IS NOT NULL OR w.h IS NOT NULL),
      |isl AS (
      |  SELECT doc_id, pos, o, ic,
      |    CASE WHEN pos > coalesce(max(pos + $SubstrK) OVER (
      |        PARTITION BY doc_id ORDER BY pos
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
      |      THEN 1 ELSE 0 END AS brk
      |  FROM fl),
      |grpd AS (
      |  SELECT doc_id, pos, o, ic,
      |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
      |  FROM isl),
      |spans AS (
      |  SELECT doc_id, g, min(pos) AS sp, max(pos) + $SubstrK AS ep,
      |    max(o) AS has_old, max(ic) AS has_inc
      |  FROM grpd GROUP BY doc_id, g)""".stripMargin

  private val dedupSubstringIncrementalSql =
    raw"""WITH $substrIncCtesSql,
      |nt AS (
      |  SELECT doc_id, CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
      |  FROM documents WHERE doc_id % 3 = 0)
      |SELECT sp.doc_id, count(*) AS n_spans,
      |  CAST(sum(ep - sp.sp) AS BIGINT) AS dup_tokens,
      |  any_value(nt.n_tokens) AS n_tokens,
      |  CAST(sum(CASE WHEN has_old = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_spans_old,
      |  CAST(sum(CASE WHEN has_inc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_spans_inc
      |FROM spans sp JOIN nt ON nt.doc_id = sp.doc_id
      |GROUP BY sp.doc_id
      |ORDER BY sp.doc_id""".stripMargin

  // ========================================================================
  // scrub_substring_incremental — the REMOVAL transform over the
  // incremental span report: tokens inside any duplicated span of an
  // increment document (against the persisted corpus index OR within
  // the increment) are dropped and the cleaned doc re-emitted as token
  // count + content md5 — the transformation an ingest pipeline
  // actually applies before admitting a batch (the scrub_substring
  // treatment at the continuous-ingestion boundary). Shares ONE span
  // definition with dedup_substring_incremental (incrementalSpans /
  // substrIncCtesSql). Scale: span positions explode bounded by doc
  // length and anti-join the increment's positioned tokens — O(increment).
  // ========================================================================
  def scrubSubstringIncremental(s: SparkSession, d: String): DataFrame = {
    val isNew = col("doc_id") % 3 === 0
    val spanPos = incrementalSpans(s, d)
      .select(col("doc_id"), explode(sequence(col("sp"), col("ep") - 1)).as("pos"))
    val toks = docs(s, d).filter(isNew).select(col("doc_id"),
      posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "tok")))
    val kept = toks.join(spanPos, Seq("doc_id", "pos"), "left_anti")
    val agg = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        md5(concat_ws(" ", expr(
          "transform(sort_array(collect_list(struct(pos, tok))), x -> x.tok)")))
          .as("clean_md5"))
    docs(s, d).filter(isNew).select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_md5"), md5(lit(""))).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  private val scrubSubstringIncrementalSql =
    raw"""WITH $substrIncCtesSql,
      |sp2 AS (
      |  SELECT doc_id, unnest(range(sp, ep)) AS pos FROM spans),
      |tok2 AS (
      |  SELECT doc_id, unnest(t) AS tok, unnest(range(0, len(t))) AS pos
      |  FROM toks WHERE doc_id % 3 = 0),
      |kept AS (
      |  SELECT t2.doc_id, t2.pos, t2.tok
      |  FROM tok2 t2 LEFT JOIN sp2 ON sp2.doc_id = t2.doc_id AND sp2.pos = t2.pos
      |  WHERE sp2.doc_id IS NULL),
      |agg AS (
      |  SELECT doc_id, count(*) AS n_kept,
      |    md5(string_agg(tok, ' ' ORDER BY pos)) AS clean_md5
      |  FROM kept GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(len(regexp_extract_all(d.text, '\S+')) AS BIGINT) AS n_tokens,
      |  coalesce(agg.n_kept, 0) AS n_kept,
      |  coalesce(agg.clean_md5, md5('')) AS clean_md5
      |FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
      |WHERE d.doc_id % 3 = 0
      |ORDER BY d.doc_id""".stripMargin

  // ========================================================================
  // dedup_video_phash — near-dup CLIPS by per-frame perceptual hash:
  // the video completion of the multimodal dedup story. Every 2nd frame
  // of each mono y4m clip (REAL byte walk, planted perturbed replicas at
  // doc_id % 10 == 3) gets a 56-bit dHash; clips collapse to DISTINCT
  // clip signatures (md5 of the ordered frame-hash list — exact
  // perceptual dups never pair quadratically, the dedup_image_phash
  // treatment lifted to sequences). Candidates come from WHOLE-CLIP
  // Hamming bands: for each of 4 bands, the clip's key is its frame
  // list plus the per-frame 14-bit slices of that band concatenated in
  // frame order — two clips collide only when a band agrees across
  // EVERY sampled frame. Pigeonhole-complete for the verify criterion
  // (same frame set, TOTAL Hamming over all aligned frames ≤ 3): ≤ 3
  // differing bits cannot touch all 4 bands, so one band's whole-clip
  // key must match. Per-frame banding was measured first and rejected:
  // smooth-gradient frames make single-band keys low-entropy (1.6M
  // candidate pairs at sf0.1 — a hot-key skew hazard at 100 TB);
  // whole-clip keys compose the entropy of every frame (~200
  // candidates for the same corpus). Scale: payload bytes stay
  // partition-local (hashes computed in the stream walk, no plane
  // copies); only (sig, frame, hash) rows shuffle; nothing is
  // clip-quadratic. Oracle: the closed-form luma recomputed per grid
  // sample, every hash bit, band key, signature md5 and Hamming
  // distance in exact integer SQL.
  // ========================================================================
  /** One video-phash pipeline per (session, dir) — the image family's
    * layout applied to the video family: the per-frame decode→hash
    * walk, the clip signatures, the distinct-signature groups, and the
    * verified (total Hamming ≤ 3, aligned ≥ 2) near-dup pairs each
    * computed once and persisted; `dedup_video_phash` and
    * `dedup_video_cluster` both derive from them.
    */
  private def videoSig(s: SparkSession, d: String): DataFrame =
    Memo.relation(s, d, "videoShared/sig") {
      val fh = Multimodal.frameDhashes(s,
        Multimodal.syntheticY4mReplicaPayloads(s, docs(s, d)), step = 2).toDF()
      // ordered frame-hash list per clip (sort_array on the (idx, hash)
      // structs makes the ordering explicit and shuffle-safe), then the
      // clip signature and the per-band whole-clip keys derive from it
      val lists = fh.groupBy(col("asset_id"))
        .agg(sort_array(collect_list(struct(col("frame_idx"), col("fhash")))).as("fs"))
      lists.select(col("asset_id"), col("fs"),
        md5(concat_ws(",", expr("transform(fs, x -> CAST(x.fhash AS STRING))"))).as("csig"))
    }
  private def videoSgrp(s: SparkSession, d: String): DataFrame = {
    val sig = videoSig(s, d)
    Memo.relation(s, d, "videoShared/sgrp") {
      sig.groupBy(col("csig"))
        .agg(count(lit(1)).as("n"), min(col("asset_id")).as("rep_id"))
    }
  }
  private def videoPairs(s: SparkSession, d: String): DataFrame = {
    val (sig, sgrp) = (videoSig(s, d), videoSgrp(s, d))
    Memo.relation(s, d, "videoShared/pairs") {
      // one representative (frame list) per distinct signature
      val srep = sgrp.join(sig.select(col("asset_id").as("rep_id"), col("fs")), Seq("rep_id"))
      val banded = srep
        .withColumn("band", explode(sequence(lit(0), lit(3))))
        .select(col("csig"), col("band"), concat_ws(",",
          expr("transform(fs, x -> concat(CAST(x.frame_idx AS STRING), ':', " +
            "CAST(shiftright(x.fhash, CAST(band * 14 AS INT)) & 16383 AS STRING)))"))
          .as("bkey"))
      val cand = banded.as("a").join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
            col("a.csig") < col("b.csig"))
        .select(col("a.csig").as("sig_a"), col("b.csig").as("sig_b"))
        .distinct()
      val sfh = srep.select(col("csig"), explode(col("fs")).as("fx"))
        .select(col("csig"), col("fx.frame_idx").as("frame_idx"), col("fx.fhash").as("fhash"))
      val ha = sfh.select(col("csig").as("sig_a"), col("frame_idx"), col("fhash").as("fha"))
      val hb = sfh.select(col("csig").as("sig_b"), col("frame_idx"), col("fhash").as("fhb"))
      cand.join(ha, Seq("sig_a")).join(hb, Seq("sig_b", "frame_idx"))
        .withColumn("hamming", expr("CAST(bit_count(fha ^ fhb) AS BIGINT)"))
        .groupBy(col("sig_a"), col("sig_b"))
        .agg(count(lit(1)).as("n_aligned"), sum(col("hamming")).as("total_hamming"))
        .filter(col("total_hamming") <= 3 && col("n_aligned") >= 2)
    }
  }

  def dedupVideoPhash(s: SparkSession, d: String): DataFrame = {
    videoPairs(s, d)
      .join(videoSgrp(s, d).select(col("csig").as("sig_a"), col("n").as("n_a")), Seq("sig_a"))
      .join(videoSgrp(s, d).select(col("csig").as("sig_b"), col("n").as("n_b")), Seq("sig_b"))
      .select(col("sig_a"), col("sig_b"), col("n_aligned"), col("total_hamming"),
        col("n_a"), col("n_b"))
      .orderBy(col("sig_a"), col("sig_b"))
  }

  /** The video-phash pipeline CTEs (luma formula → per-frame dHash →
    * clip signatures → signature groups → whole-clip band keys →
    * candidates → aligned-frame verification `ver`) — shared by the
    * pair query and the cluster resolution.
    */
  private val videoPhashCtesSql =
    """p AS (
      |  SELECT doc_id AS asset_id,
      |    CASE WHEN doc_id % 10 = 3 THEN doc_id - 1 ELSE doc_id END AS rep
      |  FROM documents),
      |dims AS (
      |  SELECT asset_id, rep, rep % 9 + 8 AS w, rep % 5 + 8 AS h, rep % 7 + 3 AS nf
      |  FROM p),
      |fr AS (
      |  SELECT asset_id, rep, w, h, f.f AS f
      |  FROM dims, range(0, 10) f(f) WHERE f.f < nf AND f.f % 2 = 0),
      |vg AS (
      |  SELECT asset_id, rep, w, h, f, s.i % 8 AS gi, s.i // 8 AS gj,
      |    ((s.i % 8) * w) // 8 AS sx, ((s.i // 8) * h) // 8 AS sy
      |  FROM fr, range(0, 64) s(i)),
      |vl AS (
      |  SELECT asset_id, f, gi, gj,
      |    ((rep * 7 + f * 19 + sx * 13 + sy * 31 + (sx * sy + 3) * (rep % 23)) % 250
      |     + CASE WHEN asset_id % 10 = 3 AND f = 0 AND sx = 0 AND sy = 0
      |         THEN 60 ELSE 0 END) % 250 AS lum
      |  FROM vg),
      |fhsh AS (
      |  SELECT a.asset_id, a.f,
      |    CAST(sum(CASE WHEN b.lum > a.lum
      |      THEN (1::BIGINT << (a.gj * 7 + a.gi)) ELSE 0 END) AS BIGINT) AS fhash
      |  FROM vl a JOIN vl b ON a.asset_id = b.asset_id AND a.f = b.f
      |    AND a.gj = b.gj AND b.gi = a.gi + 1
      |  WHERE a.gi < 7
      |  GROUP BY a.asset_id, a.f),
      |sig AS (
      |  SELECT asset_id, md5(string_agg(fhash, ',' ORDER BY f)) AS csig
      |  FROM fhsh GROUP BY asset_id),
      |sgrp AS (SELECT csig, count(*) AS n, min(asset_id) AS rep_id FROM sig GROUP BY csig),
      |sfh AS (
      |  SELECT s.csig, h.f, h.fhash FROM sgrp s JOIN fhsh h ON h.asset_id = s.rep_id),
      |bands AS (
      |  SELECT csig, r.b AS band,
      |    string_agg(f || ':' || ((fhash >> (14 * CAST(r.b AS INT))) & 16383),
      |      ',' ORDER BY f) AS bkey
      |  FROM sfh, range(0, 4) r(b)
      |  GROUP BY csig, r.b),
      |cand AS (
      |  SELECT DISTINCT a.csig AS sig_a, b.csig AS sig_b
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.bkey = b.bkey AND a.csig < b.csig),
      |ver AS (
      |  SELECT c.sig_a, c.sig_b, count(*) AS n_aligned,
      |    CAST(sum(bit_count(xor(ha.fhash, hb.fhash))) AS BIGINT) AS total_hamming
      |  FROM cand c JOIN sfh ha ON ha.csig = c.sig_a
      |              JOIN sfh hb ON hb.csig = c.sig_b AND hb.f = ha.f
      |  GROUP BY c.sig_a, c.sig_b)""".stripMargin

  private val dedupVideoPhashSql =
    s"""WITH $videoPhashCtesSql
      |SELECT v.sig_a, v.sig_b, v.n_aligned, v.total_hamming, ga.n AS n_a, gb.n AS n_b
      |FROM ver v JOIN sgrp ga ON ga.csig = v.sig_a
      |           JOIN sgrp gb ON gb.csig = v.sig_b
      |WHERE v.total_hamming <= 3 AND v.n_aligned >= 2
      |ORDER BY v.sig_a, v.sig_b""".stripMargin

  // ========================================================================
  // dedup_video_cluster — TRANSITIVE resolution of the video near-dup
  // graph with keep-first election: the dedup_image_cluster treatment
  // lifted to clip signatures. Signature-level verified pairs map to
  // their groups' NUMERIC representative ids (rep_id = min asset per
  // distinct signature) so components form over longs via the same
  // pointer-jumped min-label propagation; every clip then joins its
  // signature group's component, EXACT signature dups (n ≥ 2)
  // participate even as singleton components. Because rep_id is the
  // min asset of its signature group and the component label is the
  // min rep_id, the component label IS the cluster's min asset id —
  // the canonical directly, no second election needed. Output:
  // (asset_id, canonical, kept) for every clip in any cluster.
  // Oracle: recursive CTE over the rep-id edges.
  // ========================================================================
  def dedupVideoCluster(s: SparkSession, d: String): DataFrame = {
    val repPairs = videoPairs(s, d)
      .join(videoSgrp(s, d).select(col("csig").as("sig_a"), col("rep_id").as("id_a")), Seq("sig_a"))
      .join(videoSgrp(s, d).select(col("csig").as("sig_b"), col("rep_id").as("id_b")), Seq("sig_b"))
      .select(col("id_a"), col("id_b"))
    val comp = Dedup.clusterLabels(repPairs)
      .select(col("doc_id").as("rep_id"), col("canonical").as("clbl"))
    videoSig(s, d).select(col("asset_id"), col("csig"))
      .join(videoSgrp(s, d).select(col("csig"), col("n"), col("rep_id")), Seq("csig"))
      .join(comp, Seq("rep_id"), "left")
      .filter(col("n") >= 2 || col("clbl").isNotNull)
      .withColumn("canonical", coalesce(col("clbl"), col("rep_id")))
      .select(col("asset_id"), col("canonical"),
        when(col("asset_id") === col("canonical"), 1L).otherwise(0L).as("kept"))
      .orderBy(col("asset_id"))
  }

  private val dedupVideoClusterSql =
    s"""WITH RECURSIVE $videoPhashCtesSql,
      |vp AS (
      |  SELECT ga.rep_id AS src, gb.rep_id AS dst
      |  FROM ver v JOIN sgrp ga ON ga.csig = v.sig_a
      |             JOIN sgrp gb ON gb.csig = v.sig_b
      |  WHERE v.total_hamming <= 3 AND v.n_aligned >= 2),
      |edges AS (SELECT src, dst FROM vp UNION SELECT dst, src FROM vp),
      |reach AS (
      |  SELECT src AS rid, src AS lbl FROM edges
      |  UNION
      |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.rid),
      |comp AS (SELECT rid AS rep_id, min(lbl) AS clbl FROM reach GROUP BY rid),
      |members AS (
      |  SELECT s.asset_id, coalesce(c.clbl, g.rep_id) AS canonical
      |  FROM sig s JOIN sgrp g USING (csig) LEFT JOIN comp c ON c.rep_id = g.rep_id
      |  WHERE g.n >= 2 OR c.clbl IS NOT NULL)
      |SELECT asset_id, canonical,
      |  CAST(CASE WHEN asset_id = canonical THEN 1 ELSE 0 END AS BIGINT) AS kept
      |FROM members
      |ORDER BY asset_id""".stripMargin

  // ========================================================================
  // dedup_audio_phash — near-dup AUDIO clips by amplitude fingerprint:
  // the third modality of the multimodal dedup story (image, video,
  // audio). Each mono PCM-16 WAV (REAL RIFF chunk walk, planted
  // perturbed replicas at doc_id % 10 == 3) gets a 56-bit amplitude
  // dHash — the |sample| envelope floor-resampled to a 57-point grid,
  // bit j = grid(j+1) > grid(j) (Multimodal.audioDhash56) — then the
  // dedup_image_phash treatment verbatim: clips collapse to DISTINCT
  // fingerprints, candidates come from Hamming bands over the distinct
  // set, verified pairs carry exact bit_count distance ≤ 3.
  //
  // Band layout is 4 bands × 14 bits (not image's 8 × 7):
  // pigeonhole-complete for the ≤ 3 criterion — 3 differing bits
  // cannot touch all 4 bands, so one band's key must agree — while the
  // 14-bit keys keep candidates sparse on waveform fingerprints, whose
  // per-bit entropy is lower than imagery's (the dedup_video_phash
  // low-entropy lesson: short band keys on smooth signals explode the
  // candidate set; wider keys compose more bits into each bucket).
  // Scale: payload bytes stay partition-local (the hash is computed
  // inside the chunk walk — no sample array materializes); only
  // (id, n, hash) rows shuffle; the band join is over DISTINCT
  // fingerprints, never clip-quadratic. Oracle: the closed-form s16
  // samples, every grid point, hash bit, band key and Hamming distance
  // in exact integer SQL.
  // ========================================================================
  /** One audio-phash pipeline per (session, dir) — the image family's
    * layout applied to the audio family: the decode→fingerprint
    * relation, the distinct-hash groups, and the verified (≤ 3 bit)
    * near-dup pairs each computed once and persisted;
    * `dedup_audio_phash` and `dedup_audio_cluster` both derive from
    * them.
    */
  private def audioHashes(s: SparkSession, d: String): DataFrame =
    Memo.relation(s, d, "audioShared/hashes") {
      Multimodal.audioDhashes(s, Multimodal.syntheticWavReplicaPayloads(s, docs(s, d))).toDF()
    }
  private def audioGrp(s: SparkSession, d: String): DataFrame = {
    val hashes = audioHashes(s, d)
    Memo.relation(s, d, "audioShared/grp") {
      hashes.groupBy(col("ahash"))
        .agg(count(lit(1)).as("n"), min(col("asset_id")).as("keep_id"))
    }
  }
  private def audioPairs(s: SparkSession, d: String): DataFrame = {
    val grp = audioGrp(s, d)
    Memo.relation(s, d, "audioShared/pairs") {
      Dedup.hammingBandPairs(grp, "ahash", nBands = 4, bitsPerBand = 14)
        .withColumn("hamming", expr("CAST(bit_count(ahash_a ^ ahash_b) AS BIGINT)"))
        .filter(col("hamming") <= 3)
    }
  }

  def dedupAudioPhash(s: SparkSession, d: String): DataFrame = {
    audioPairs(s, d)
      .join(audioGrp(s, d).select(col("ahash").as("ahash_a"), col("n").as("n_a")), Seq("ahash_a"))
      .join(audioGrp(s, d).select(col("ahash").as("ahash_b"), col("n").as("n_b")), Seq("ahash_b"))
      .select(col("ahash_a"), col("ahash_b"), col("hamming"), col("n_a"), col("n_b"))
      .orderBy(col("ahash_a"), col("ahash_b"))
  }

  /** The audio-fingerprint pipeline CTEs (sample formula → |s| envelope
    * grid → 56-bit amplitude dHash → distinct-hash groups → Hamming
    * bands → candidate hash pairs) — shared by the pair query and the
    * cluster resolution, like [[imagePhashCtesSql]].
    */
  private val audioPhashCtesSql =
    """p AS (
      |  SELECT doc_id AS asset_id,
      |    CASE WHEN doc_id % 10 = 3 THEN doc_id - 1 ELSE doc_id END AS rep
      |  FROM documents),
      |dims AS (SELECT asset_id, rep, rep % 50 + 57 AS n FROM p),
      |vphase AS (
      |  SELECT asset_id, j.j AS j,
      |    (rep * 31 + ((j.j * n) // 57) * 17
      |     + CASE WHEN asset_id % 10 = 3 AND (j.j * n) // 57 = 0
      |         THEN 7000 ELSE 0 END) % 65536 AS v
      |  FROM dims, range(0, 57) j(j)),
      |agrid AS (
      |  SELECT asset_id, j, abs((v * v // 7 + v * 13) % 65536 - 32768) AS av
      |  FROM vphase),
      |hsh AS (
      |  SELECT a.asset_id,
      |    CAST(sum(CASE WHEN b.av > a.av
      |      THEN (1::BIGINT << a.j) ELSE 0 END) AS BIGINT) AS ahash
      |  FROM agrid a JOIN agrid b ON a.asset_id = b.asset_id AND b.j = a.j + 1
      |  WHERE a.j < 56
      |  GROUP BY a.asset_id),
      |grp AS (SELECT ahash, count(*) AS n FROM hsh GROUP BY ahash),
      |bands AS (
      |  SELECT ahash, r.b AS band, (ahash >> (14 * CAST(r.b AS INT))) & 16383 AS bkey
      |  FROM grp, range(0, 4) r(b)),
      |cand AS (
      |  SELECT DISTINCT a.ahash AS ahash_a, b.ahash AS ahash_b
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.bkey = b.bkey AND a.ahash < b.ahash)""".stripMargin

  private val dedupAudioPhashSql =
    s"""WITH $audioPhashCtesSql
      |SELECT c.ahash_a, c.ahash_b,
      |  CAST(bit_count(xor(c.ahash_a, c.ahash_b)) AS BIGINT) AS hamming,
      |  ga.n AS n_a, gb.n AS n_b
      |FROM cand c JOIN grp ga ON ga.ahash = c.ahash_a
      |            JOIN grp gb ON gb.ahash = c.ahash_b
      |WHERE bit_count(xor(c.ahash_a, c.ahash_b)) <= 3
      |ORDER BY c.ahash_a, c.ahash_b""".stripMargin

  // ========================================================================
  // dedup_audio_cluster — TRANSITIVE resolution of the audio near-dup
  // graph with keep-first election: the dedup_image_cluster treatment
  // applied to the amplitude-fingerprint pairs. Components form over
  // DISTINCT fingerprints (min-label propagation, pointer-jumped);
  // every clip then joins its fingerprint's component, EXACT
  // fingerprint dups (groups with n ≥ 2) participate even as singleton
  // components, and the kept clip per cluster is the smallest asset
  // id. Output: (asset_id, canonical, kept) for every clip in any
  // cluster. Oracle: recursive CTE over the fingerprint edges + the
  // same membership/keep-first election. Scale: identical shape to the
  // image cluster — components over distinct hashes (heavy exact-dup
  // groups never re-expand), fixpoint rounds bounded by component
  // diameter, decode shared via the persisted audioShared relation.
  // ========================================================================
  def dedupAudioCluster(s: SparkSession, d: String): DataFrame = {
    val pairs = audioPairs(s, d).select(col("ahash_a").as("id_a"), col("ahash_b").as("id_b"))
    val comp = Dedup.clusterLabels(pairs)
      .select(col("doc_id").as("ahash"), col("canonical").as("clbl"))
    val members = audioHashes(s, d).select(col("asset_id"), col("ahash"))
      .join(audioGrp(s, d).select(col("ahash"), col("n")), Seq("ahash"))
      .join(comp, Seq("ahash"), "left")
      .filter(col("n") >= 2 || col("clbl").isNotNull)
      .withColumn("clbl", coalesce(col("clbl"), col("ahash")))
    val canon = members.groupBy(col("clbl")).agg(min(col("asset_id")).as("canonical"))
    members.join(canon, Seq("clbl"))
      .select(col("asset_id"), col("canonical"),
        when(col("asset_id") === col("canonical"), 1L).otherwise(0L).as("kept"))
      .orderBy(col("asset_id"))
  }

  private val dedupAudioClusterSql =
    s"""WITH RECURSIVE $audioPhashCtesSql,
      |vp AS (
      |  SELECT ahash_a, ahash_b FROM cand
      |  WHERE bit_count(xor(ahash_a, ahash_b)) <= 3),
      |edges AS (
      |  SELECT ahash_a AS src, ahash_b AS dst FROM vp
      |  UNION SELECT ahash_b, ahash_a FROM vp),
      |reach AS (
      |  SELECT src AS ph, src AS lbl FROM edges
      |  UNION
      |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.ph),
      |comp AS (SELECT ph AS ahash, min(lbl) AS clbl FROM reach GROUP BY ph),
      |members AS (
      |  SELECT h.asset_id, coalesce(c.clbl, h.ahash) AS clbl
      |  FROM hsh h JOIN grp g2 USING (ahash) LEFT JOIN comp c USING (ahash)
      |  WHERE g2.n >= 2 OR c.clbl IS NOT NULL),
      |canon AS (SELECT clbl, min(asset_id) AS canonical FROM members GROUP BY clbl)
      |SELECT m.asset_id, c.canonical,
      |  CAST(CASE WHEN m.asset_id = c.canonical THEN 1 ELSE 0 END AS BIGINT) AS kept
      |FROM members m JOIN canon c USING (clbl)
      |ORDER BY m.asset_id""".stripMargin

  // ========================================================================
  // dedup_embedding_cosine — near-dup pairs by embedding cosine within a
  // coarse block (label = IVF-cell stand-in). Double-precision
  // left-to-right dots both sides; threshold 0.3 (this corpus has no
  // tight clusters — max within-label cosine ≈ 0.47).
  // ========================================================================
  def dedupEmbeddingCosine(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("label"), col("embedding"),
      Similarity.norm(col("embedding")).as("nrm"))
    val a = e.select(col("vec_id").as("id_a"), col("label"),
      col("embedding").as("va"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("id_b"), col("label"),
      col("embedding").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("label"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= 0.3)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
      .orderBy(col("id_a"), col("id_b"))
  }

  private val dedupEmbeddingCosineSql =
    """WITH e AS (
      |  SELECT vec_id, label, embedding,
      |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
      |  FROM embeddings)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b, round(cos, 4) AS cos
      |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id,
      |  LATERAL (SELECT list_sum(list_transform(range(1, len(a.embedding) + 1),
      |    i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) / (a.nrm * b.nrm) AS cos)
      |WHERE cos >= 0.3
      |ORDER BY id_a, id_b""".stripMargin

  // ========================================================================
  // dedup_embedding_lsh — the SCALE path for embedding near-dup: candidate
  // pairs from hyperplane-LSH buckets (2^8 buckets here; nPlanes grows
  // with the corpus, see Dedup.embeddingLshPairs), exact cosine verify on
  // same-bucket pairs only. Replaces the constant-cardinality `label`
  // blocking of dedup_embedding_cosine (kept as the oracle fixture) whose
  // pair count grows quadratically with the corpus.
  // ========================================================================
  def dedupEmbeddingLsh(s: SparkSession, d: String): DataFrame =
    Dedup.embeddingLshPairs(Tables.embeddings(s, d), "vec_id", "embedding",
        nPlanes = 8, threshold = 0.3)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
      .orderBy(col("id_a"), col("id_b"))

  private val dedupEmbeddingLshSql = {
    // bucket bits replicate Similarity.planeCoef exactly — one shared
    // rendering for every hyperplane oracle (SimQueries.hyperplaneBitsSql)
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    CAST(${SimQueries.hyperplaneBitsSql(8)} AS BIGINT) AS bucket,
       |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
       |  FROM embeddings)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b, round(cos, 4) AS cos
       |FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id,
       |  LATERAL (SELECT list_sum(list_transform(range(1, len(a.embedding) + 1),
       |    i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) / (a.nrm * b.nrm) AS cos)
       |WHERE cos >= 0.3
       |ORDER BY id_a, id_b""".stripMargin
  }

  // ========================================================================
  // dedup_embedding_cluster — TRANSITIVE resolution of the EMBEDDING
  // near-dup graph: the cluster treatment every other near-dup family
  // ships (text dedup_cluster, image/video/audio *_cluster) applied to
  // the hyperplane-LSH verified cosine pairs. Semantic duplicates chain
  // (A≈B≈C with cos(A,C) below threshold is one redundancy group), so
  // keep-first must act on components, not pairs. Components form by
  // the same pointer-jumped min-label propagation; canonical = the
  // component's minimum vec id; output (vec_id, canonical, kept) for
  // every vector in any component. Oracle: recursive CTE over the LSH
  // pair edges. Scale: pair generation is the LSH-bucketed path (never
  // all-pairs); the fixpoint is over the pair graph only (vectors
  // without a near-dup never enter it).
  // ========================================================================
  def dedupEmbeddingCluster(s: SparkSession, d: String): DataFrame = {
    val pairs = Dedup.embeddingLshPairs(Tables.embeddings(s, d), "vec_id", "embedding",
        nPlanes = 8, threshold = 0.3)
      .select(col("id_a"), col("id_b"))
    Dedup.clusterLabels(pairs)
      .select(col("doc_id").as("vec_id"), col("canonical"),
        when(col("doc_id") === col("canonical"), 1L).otherwise(0L).as("kept"))
      .orderBy(col("vec_id"))
  }

  private val dedupEmbeddingClusterSql =
    s"""WITH RECURSIVE e AS (
       |  SELECT vec_id, embedding,
       |    CAST(${SimQueries.hyperplaneBitsSql(8)} AS BIGINT) AS bucket,
       |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
       |  FROM embeddings),
       |vp AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |  WHERE list_sum(list_transform(range(1, len(a.embedding) + 1),
       |      i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) / (a.nrm * b.nrm) >= 0.3),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM vp
       |          UNION SELECT id_b, id_a FROM vp),
       |reach AS (
       |  SELECT src AS v, src AS lbl FROM edges
       |  UNION
       |  SELECT e2.dst, r.lbl FROM reach r JOIN edges e2 ON e2.src = r.v),
       |comp AS (SELECT v AS vec_id, min(lbl) AS canonical FROM reach GROUP BY v)
       |SELECT vec_id, canonical,
       |  CAST(CASE WHEN vec_id = canonical THEN 1 ELSE 0 END AS BIGINT) AS kept
       |FROM comp
       |ORDER BY vec_id""".stripMargin

  // ========================================================================
  // dedup_embedding_lsh_multi — OR-amplified multi-table variant (4
  // independent plane families): recall amplification with candidates
  // deduplicated before the single exact-cosine verify per pair.
  // ========================================================================
  def dedupEmbeddingLshMulti(s: SparkSession, d: String): DataFrame =
    Dedup.embeddingLshPairsMulti(Tables.embeddings(s, d), "vec_id", "embedding",
        nPlanes = 8, nTables = 4, threshold = 0.3)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
      .orderBy(col("id_a"), col("id_b"))

  private val dedupEmbeddingLshMultiSql = {
    val tables = (0 until 4).map(t =>
      s"SELECT vec_id, $t AS tbl, CAST(${SimQueries.hyperplaneBitsSql(8, t * 8)} AS BIGINT) AS bucket FROM embeddings")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH b AS (
       |  $tables),
       |e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
       |  FROM embeddings),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
       |  FROM b a JOIN b c
       |    ON a.tbl = c.tbl AND a.bucket = c.bucket AND a.vec_id < c.vec_id)
       |SELECT id_a, id_b, round(cos, 4) AS cos
       |FROM cand JOIN e ea ON cand.id_a = ea.vec_id
       |          JOIN e eb ON cand.id_b = eb.vec_id,
       |  LATERAL (SELECT list_sum(list_transform(range(1, len(ea.embedding) + 1),
       |    i -> ea.embedding[i]::DOUBLE * eb.embedding[i]::DOUBLE)) / (ea.nrm * eb.nrm) AS cos)
       |WHERE cos >= 0.3
       |ORDER BY id_a, id_b""".stripMargin
  }

  // ========================================================================
  // dedup_minhash_est — MinHash estimator quality on a SAMPLE of the
  // candidate set: for each sampled LSH candidate pair, the
  // signature-agreement estimate (matching components / K) next to the
  // exact 3-gram Jaccard and the absolute error. The quality lock for
  // the MinHash family — a broken hash family or band key shows up here
  // as estimator drift before it shows up as missed dups.
  //
  // Scale posture: a lock must not pay the population verify cost. The
  // sample is CONTENT-ADDRESSED (md5 of "id_a#id_b" mod m — the
  // sample_weighted trick, deterministic and oracle-mirrorable) with the
  // modulus DERIVED FROM THE CANDIDATE COUNT, m = max(1, n/32): the
  // sampled set stays ~32–64 pairs whether the corpus yields 6e2 or 3e5
  // candidates, so the verify cost is FLAT in corpus size (the r11 10×
  // probe grew 632→285k pairs and 23.7 s at a fixed full verify). At
  // gate scale (sf0.01, 28 candidates) m=1 keeps every pair — full lock
  // strength where the oracle runs. Both engines compute m from their
  // own candidate count, so the sampled sets agree by construction.
  //
  // Zero-intersection candidates (banded-but-disjoint docs) are KEPT
  // with jaccard = 0: the estimate side covers every sampled candidate
  // (inner join to signatures, total for banded docs) and the exact
  // side is LEFT-joined and coalesced — matching the oracle's
  // list_intersect, which never drops a pair. (Previously both sides
  // rode on the inner shingle join, a live cross-engine asymmetry.)
  // ========================================================================
  private[queries] val EstSampleTarget = 32
  def dedupMinhashEst(s: SparkSession, d: String): DataFrame = {
    val cand = lshCandidates(s, d)
    val nCand = cand.groupBy().agg(count(lit(1)).as("n_cand"))
    val sampled = cand.crossJoin(broadcast(nCand))
      .filter(TextOps.hash60(concat(col("id_a"), lit("#"), col("id_b")))
        % greatest(lit(1L), floor(col("n_cand") / lit(EstSampleTarget)).cast("long")) === 0L)
      .select(col("id_a"), col("id_b"))
    val jac = Dedup.pairJaccard(sampled, lshEx(s, d), "doc_id")
    val est = sampled
      .join(lshSigs(s, d).select(col("doc_id").as("id_a"), col("i"), col("minh").as("ma")),
        Seq("id_a"))
      .join(lshSigs(s, d).select(col("doc_id").as("id_b"), col("i"), col("minh").as("mb")),
        Seq("id_b", "i"))
      .groupBy(col("id_a"), col("id_b"))
      .agg((sum(when(col("ma") === col("mb"), 1L).otherwise(0L)).cast("double")
        / lit(LshParams.K.toDouble)).as("est"))
    est.join(jac, Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"), col("est"),
        coalesce(col("jaccard"), lit(0.0)).as("jaccard"),
        abs(col("est") - coalesce(col("jaccard"), lit(0.0))).as("abs_err"))
      .orderBy(col("id_a"), col("id_b"))
  }

  private val dedupMinhashEstSql =
    s"""WITH $lshPipelineCtes,
       |scand AS (
       |  SELECT id_a, id_b FROM cand
       |  WHERE (('0x' || substr(md5(id_a || '#' || id_b), 1, 15))::BIGINT)
       |        % greatest(1, (SELECT count(*) FROM cand) // $EstSampleTarget) = 0),
       |sver AS (
       |  SELECT id_a, id_b,
       |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
       |  FROM scand JOIN shd a ON scand.id_a = a.doc_id
       |             JOIN shd b ON scand.id_b = b.doc_id),
       |est AS (
       |  SELECT c.id_a, c.id_b,
       |    CAST(sum(CASE WHEN a.minh = b.minh THEN 1 ELSE 0 END) AS DOUBLE)
       |      / ${LshParams.K} AS est
       |  FROM scand c
       |  JOIN sig a ON a.doc_id = c.id_a
       |  JOIN sig b ON b.doc_id = c.id_b AND b.i = a.i
       |  GROUP BY c.id_a, c.id_b)
       |SELECT sver.id_a, sver.id_b, est, jaccard, abs(est - jaccard) AS abs_err
       |FROM sver JOIN est ON est.id_a = sver.id_a AND est.id_b = sver.id_b
       |ORDER BY sver.id_a, sver.id_b""".stripMargin

  // ========================================================================
  // dedup_incremental — dedup a NEW slice of the corpus against the
  // EXISTING corpus: the production shape for continuous ingestion,
  // where recomputing the full-corpus pairwise dedup per increment is
  // the thing you must never do. The deterministic doc_id % 3 = 0 slice
  // plays the increment; each new doc is classified
  // `exact_dup` (canonical fingerprint already present — dup_of is the
  // smallest holder), else `near_dup` (LSH band collision with an
  // existing doc verified at exact 3-gram Jaccard ≥ threshold — dup_of
  // is the smallest verified partner), else `unique`.
  //
  // Scale shape: the existing side's fingerprints/signatures/bands ARE
  // the persisted corpus index (here the memoized lshShared pipeline —
  // in production a stored table, incrementally appended); the increment
  // computes its own fp/bands (linear in the increment), candidates come
  // from an equi-join on (band, band_key) restricted new × old (never
  // new × new, never all-pairs), and the Jaccard verify touches
  // candidates only. Everything that shuffles is O(increment + collisions).
  // ========================================================================
  def dedupIncremental(s: SparkSession, d: String): DataFrame = {
    val IncMod = 3
    val isNew = col("doc_id") % IncMod === 0
    val fp = docs(s, d).select(col("doc_id"),
      graft.text.TextOps.fingerprint(col("text")).as("fp"))
    val oldFp = fp.filter(!isNew).groupBy(col("fp"))
      .agg(min(col("doc_id")).as("exact_of"))
    val exact = fp.filter(isNew)
      .join(oldFp, Seq("fp"), "left").select(col("doc_id"), col("exact_of"))
    val bands = Dedup.bandKeys(lshSigs(s, d), "doc_id", LshParams.RowsPerBand)
    val cand = bands.filter(isNew)
      .select(col("doc_id").as("id_a"), col("band"), col("band_key"))
      .join(bands.filter(!isNew)
        .select(col("doc_id").as("id_b"), col("band"), col("band_key")),
        Seq("band", "band_key"))
      .select(col("id_a"), col("id_b")).distinct()
    val near = Dedup.pairJaccard(cand, lshEx(s, d), "doc_id")
      .filter(col("jaccard") >= LshParams.Threshold)
      .groupBy(col("id_a")).agg(min(col("id_b")).as("near_of"))
    exact.join(near, col("doc_id") === col("id_a"), "left")
      .select(col("doc_id"),
        when(col("exact_of").isNotNull, "exact_dup")
          .when(col("near_of").isNotNull, "near_dup")
          .otherwise("unique").as("status"),
        coalesce(col("exact_of"), col("near_of")).as("dup_of"))
      .orderBy(col("doc_id"))
  }

  private val dedupIncrementalSql =
    s"""WITH $lshPipelineCtes,
       |afp AS (
       |  SELECT doc_id,
       |    ${TextOps.fingerprintSql("text")} AS fp
       |  FROM documents),
       |old_fp AS (
       |  SELECT fp, min(doc_id) AS exact_of FROM afp WHERE doc_id % 3 <> 0 GROUP BY fp),
       |nearc AS (
       |  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.band_key = b.band_key
       |  WHERE a.doc_id % 3 = 0 AND b.doc_id % 3 <> 0),
       |nearv AS (
       |  SELECT new_id, min(old_id) AS near_of
       |  FROM nearc c JOIN shd a ON c.new_id = a.doc_id
       |               JOIN shd b ON c.old_id = b.doc_id
       |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
       |        >= ${LshParams.Threshold}
       |  GROUP BY new_id)
       |SELECT n.doc_id,
       |  CASE WHEN e.exact_of IS NOT NULL THEN 'exact_dup'
       |       WHEN v.near_of IS NOT NULL THEN 'near_dup'
       |       ELSE 'unique' END AS status,
       |  coalesce(e.exact_of, v.near_of) AS dup_of
       |FROM (SELECT doc_id, fp FROM afp WHERE doc_id % 3 = 0) n
       |LEFT JOIN old_fp e ON e.fp = n.fp
       |LEFT JOIN nearv v ON v.new_id = n.doc_id
       |ORDER BY n.doc_id""".stripMargin

  // ========================================================================
  // diversity_sample — SemDeDup-style semantic pruning (Abbas et al.,
  // arXiv:2303.09540: cluster embeddings, keep one representative per
  // cluster — removing "semantic duplicates" that no lexical dedup
  // catches cut LAION training cost 2× at equal accuracy). Cells here
  // are hyperplane-LSH buckets over the embedding column (deterministic
  // and oracle-replicable, where the paper's k-means is seed-dependent);
  // the kept representative is the cell's LONGEST document (n_chars,
  // ties to the smaller doc_id) — the "most informative member" proxy.
  // Output: one row per non-empty cell (bucket, kept doc, its length,
  // cell population) — the survivor list plus the audit of how much
  // each cell pruned.
  //
  // Scale shape: bucket assignment is per-row codegen
  // ([[graft.plans.HyperplaneBuckets]], no shuffle); doc metadata joins
  // by doc_id equi-join; the argmax and cell count are windows over the
  // SAME bucket partitioning — one shuffle total, and only (id, bucket,
  // n_chars) rides it, never text or vectors. At 100 TB the plane count
  // grows with corpus size (cells ≈ corpus/expected-cell-size), keeping
  // per-cell populations bounded.
  // ========================================================================
  def diversitySample(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wb = Window.partitionBy(col("bucket"))
    val sel = wb.orderBy(col("n_chars").desc, col("doc_id"))
    Tables.embeddings(s, d)
      .select(col("vec_id").as("doc_id"),
        Similarity.hyperplaneBucket(col("embedding"), 8).as("bucket"))
      .join(docs(s, d).select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .withColumn("n_bucket", count(lit(1)).over(wb))
      .withColumn("rn", row_number().over(sel))
      .filter(col("rn") === 1)
      .select(col("bucket"), col("doc_id"), col("n_chars"), col("n_bucket"))
      .orderBy(col("bucket"))
  }

  private val diversitySampleSql =
    s"""WITH b AS (
       |  SELECT vec_id AS doc_id,
       |    CAST(${SimQueries.hyperplaneBitsSql(8)} AS BIGINT) AS bucket
       |  FROM embeddings),
       |j AS (
       |  SELECT b.bucket, b.doc_id, d.n_chars,
       |    count(*) OVER (PARTITION BY b.bucket) AS n_bucket
       |  FROM b JOIN documents d USING (doc_id))
       |SELECT bucket, doc_id, n_chars, n_bucket
       |FROM j
       |QUALIFY row_number() OVER (PARTITION BY bucket ORDER BY n_chars DESC, doc_id) = 1
       |ORDER BY bucket""".stripMargin

  // ========================================================================
  // sample_coreset — greedy k-center coreset selection over the
  // embedding corpus (Gonzalez 1985's 2-approximation farthest-point
  // traversal; Sener & Savarese ICLR 2018 use exactly this greedy as
  // the core-set selector for training-data subset selection). Where
  // diversity_sample PRUNES near-duplicates cell by cell, the coreset
  // SELECTS a fixed budget of k=8 maximally-spread exemplars: seed =
  // vec_id 0, then each round adds the point whose nearest selected
  // center is FARTHEST (here: lowest max-cosine, ties to the smaller
  // vec_id). Output: the selection order with each pick's max-cosine
  // to the already-selected set (NULL for the seed) — the marginal-
  // coverage curve a data buyer reads (a pick arriving with max-cos
  // ≈ 1 means the budget has saturated the corpus's spread).
  //
  // Scale shape: the selected set rides as ONE broadcast row (an array
  // of ≤ k (vector, norm) structs built by a tiny aggregation of the
  // corpus slice); each round's scoring is a per-row array_max over
  // that array — no shuffle — and the argmin plans as a distributed
  // TakeOrderedAndProject (per-partition heaps). Total: k exchange-free
  // corpus passes, the textbook greedy cost; driver state is ≤ k ids.
  // ========================================================================
  private[queries] val CoresetK = 8

  /** The embeddings corpus projected to (vec_id, embedding, nrm) — the
    * relation both coreset keys score against.
    */
  private def coresetCorpus(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(col("vec_id"), col("embedding"),
      Similarity.norm(col("embedding")).as("nrm"))

  /** The greedy selection (rank, vec_id, maxsim-at-selection) — memoized
    * per (session, dir): the k driver-sequenced jobs run once and serve
    * both `sample_coreset` (the selection order itself) and
    * `coreset_assign` (which needs the ids). Driver state is k rows.
    */
  private def coresetRows(s: SparkSession, d: String): Seq[(Long, Long, Option[Double])] =
    Memo.value(s, d, "coresetSelect")(coresetBuild(s, d))

  private def coresetBuild(s: SparkSession, d: String): Seq[(Long, Long, Option[Double])] = {
    val e = coresetCorpus(s, d)
    var selected = Seq(0L)
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Option[Double])](
      (1L, 0L, None))
    var step = 2
    var remaining = true
    while (step <= CoresetK && remaining) {
      val selArr = e.filter(col("vec_id").isin(selected: _*))
        .agg(collect_list(struct(col("embedding").as("v"), col("nrm").as("n")))
          .as("sel"))
      // a corpus smaller than CoresetK exhausts the remainder before the
      // budget: stop and emit the shorter list (the oracle's unrolled
      // s_i CTEs go empty the same way) instead of throwing on head()
      e.filter(!col("vec_id").isin(selected: _*))
        .crossJoin(broadcast(selArr))
        .withColumn("maxsim", array_max(transform(col("sel"),
          x => Similarity.dot(col("embedding"), x.getField("v"))
            / (col("nrm") * x.getField("n")))))
        .select(col("vec_id"), col("maxsim"))
        .orderBy(col("maxsim").asc, col("vec_id")).limit(1)
        .collect().headOption match {
        case Some(win) =>
          selected = selected :+ win.getLong(0)
          out += ((step.toLong, win.getLong(0), Some(Similarity.round4(win.getDouble(1)))))
          step += 1
        case None => remaining = false
      }
    }
    out.toSeq
  }

  def sampleCoreset(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    coresetRows(s, d).toDF("rank", "vec_id", "maxsim").orderBy(col("rank"))
  }

  /** The coreset oracle unrolls the k−1 greedy rounds as CTE steps —
    * `sel_i` accumulates picked ids, `s_i` is round i's argmin of the
    * max-cosine to `sel_{i-1}` — mirroring the Spark loop pick for pick
    * (same left-to-right double dots, same (maxsim asc, vec_id) total
    * order). Every CTE is MATERIALIZED: DuckDB inlines CTEs, and an
    * inlined sel-chain re-expands the whole upstream pipeline 2^k
    * times. Shared by `sample_coreset` and `coreset_assign`.
    */
  private val coresetSelCtesSql: String = {
    val cosExpr =
      """list_sum(list_transform(range(1, len(c.embedding) + 1),
        |      i -> c.embedding[i]::DOUBLE * sv.embedding[i]::DOUBLE)) / (c.nrm * sv.nrm)""".stripMargin
    val steps = (2 to CoresetK).map { i =>
      s"""s$i AS MATERIALIZED (
         |  SELECT c.vec_id, max($cosExpr) AS maxsim, $i AS rank
         |  FROM e c JOIN e sv ON sv.vec_id IN (SELECT vec_id FROM sel${i - 1})
         |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${i - 1})
         |  GROUP BY c.vec_id
         |  ORDER BY maxsim ASC, c.vec_id LIMIT 1),
         |sel$i AS MATERIALIZED (SELECT vec_id FROM sel${i - 1} UNION ALL SELECT vec_id FROM s$i)""".stripMargin
    }.mkString(",\n")
    s"""e AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
       |  FROM embeddings),
       |sel1 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS vec_id),
       |$steps""".stripMargin
  }

  private val coresetUnionsSql: String = (2 to CoresetK)
    .map(i => s"SELECT rank, vec_id, maxsim FROM s$i").mkString("\n  UNION ALL ")

  private val sampleCoresetSql: String =
    s"""WITH $coresetSelCtesSql
       |SELECT CAST(rank AS BIGINT) AS rank, vec_id, round(maxsim, 4) AS maxsim FROM (
       |  SELECT 1 AS rank, CAST(0 AS BIGINT) AS vec_id, CAST(NULL AS DOUBLE) AS maxsim
       |  UNION ALL $coresetUnionsSql)
       |ORDER BY rank""".stripMargin

  // ========================================================================
  // coreset_assign — the ASSIGNMENT/audit stage completing the coreset
  // lifecycle (select → assign → audit, the graph family's lifecycle
  // convention): every corpus vector is quantized to its most-similar
  // coreset center (max cosine, ties to the smaller center id), and the
  // report aggregates per center — population, exact-integer total and
  // worst-case assigned similarity (per-row e6 quantization before
  // aggregation, the zipf_fit treatment, so the order-dependent double
  // sum never crosses the engine boundary). The report a data-pruning
  // run reads: center populations say how the corpus mass splits across
  // the selected exemplars; a center's min_cos_e6 is the worst-covered
  // member of its cell.
  //
  // Scale shape: the k centers ride as ONE broadcast row (array of
  // structs); per corpus row the argmax is a bounded array fold — no
  // join, no shuffle — and the per-center report is one map-side-
  // combined aggregation over ≤ k groups. Exchange-free up to k rows.
  // ========================================================================
  def coresetAssign(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ids = coresetRows(s, d).map(_._2)
    val ranks = coresetRows(s, d).map(r => (r._1, r._2)).toDF("rank", "center_id")
    val e = coresetCorpus(s, d)
    val centsArr = e.filter(col("vec_id").isin(ids: _*))
      .agg(collect_list(struct(col("vec_id").as("cid"),
        col("embedding").as("cvec"), col("nrm").as("cnrm"))).as("cents"))
    e.crossJoin(broadcast(centsArr))
      .withColumn("css", transform(col("cents"), c =>
        struct((Similarity.dot(col("embedding"), c.getField("cvec"))
          / (col("nrm") * c.getField("cnrm"))).as("cos"),
          c.getField("cid").as("cid"))))
      .withColumn("mc", array_max(transform(col("css"), x => x.getField("cos"))))
      .withColumn("center_id", array_min(transform(
        filter(col("css"), x => x.getField("cos") === col("mc")),
        x => x.getField("cid"))))
      .withColumn("mce6", expr("CAST(round(mc * 1000000) AS BIGINT)"))
      .groupBy(col("center_id"))
      .agg(count(lit(1)).as("n_assigned"),
        expr("CAST(sum(CAST(mce6 AS DECIMAL(38,0))) AS BIGINT)").as("sum_cos_e6"),
        min(col("mce6")).as("min_cos_e6"))
      .join(ranks, Seq("center_id"))
      .select(col("rank"), col("center_id"), col("n_assigned"),
        col("sum_cos_e6"), col("min_cos_e6"))
      .orderBy(col("rank"))
  }

  private val coresetAssignSql: String =
    s"""WITH $coresetSelCtesSql,
       |cents AS MATERIALIZED (
       |  SELECT CAST(rank AS BIGINT) AS rank, e.vec_id AS cid, e.embedding, e.nrm
       |  FROM (SELECT 1 AS rank, CAST(0 AS BIGINT) AS vec_id
       |        UNION ALL ${(2 to CoresetK)
                  .map(i => s"SELECT rank, vec_id FROM s$i")
                  .mkString("\n       |        UNION ALL ")}) c
       |  JOIN e ON e.vec_id = c.vec_id),
       |cj AS MATERIALIZED (
       |  SELECT p.vec_id, ct.cid,
       |    list_sum(list_transform(range(1, len(p.embedding) + 1),
       |      i -> p.embedding[i]::DOUBLE * ct.embedding[i]::DOUBLE)) / (p.nrm * ct.nrm) AS cos
       |  FROM e p CROSS JOIN cents ct),
       |mx AS MATERIALIZED (SELECT vec_id, max(cos) AS mc FROM cj GROUP BY vec_id),
       |asn AS MATERIALIZED (
       |  SELECT cj.vec_id, min(cj.cid) AS center_id,
       |    CAST(round(any_value(mx.mc) * 1000000) AS BIGINT) AS mce6
       |  FROM cj JOIN mx ON cj.vec_id = mx.vec_id AND cj.cos = mx.mc
       |  GROUP BY cj.vec_id)
       |SELECT ct.rank, asn.center_id, count(*) AS n_assigned,
       |  CAST(sum(asn.mce6) AS BIGINT) AS sum_cos_e6,
       |  CAST(min(asn.mce6) AS BIGINT) AS min_cos_e6
       |FROM asn JOIN (SELECT DISTINCT rank, cid FROM cents) ct ON asn.center_id = ct.cid
       |GROUP BY ct.rank, asn.center_id
       |ORDER BY ct.rank""".stripMargin

  // ========================================================================
  // dedup_semantic_incremental — SemDeDup at the INGEST boundary: the
  // diversity_sample policy applied to a corpus increment (vec_id % 3
  // = 0, the family's split convention). The EXISTING slice's cells
  // already have survivors (keep-first: the cell's longest incumbent);
  // an arriving vector is admitted iff its semantic cell has NO
  // incumbent — the keep-first admission semantics every streaming
  // stage in this engine uses, here on hyperplane-LSH cells. Output:
  // every increment doc with its cell, the incumbent that blocks it
  // (if any), and the admit flag — the per-batch redundancy report an
  // ingest pipeline acts on.
  //
  // Scale: cell assignment is per-row codegen; the incumbent relation
  // aggregates the EXISTING slice once (one keyed shuffle) and joins
  // the increment by cell equi-join — O(increment + cells), the
  // dedup_incremental contract on the semantic axis.
  // ========================================================================
  def dedupSemanticIncremental(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id").as("doc_id"),
        Similarity.hyperplaneBucket(col("embedding"), 8).as("bucket"))
      .join(docs(s, d).select(col("doc_id"), col("n_chars")), Seq("doc_id"))
    val sel = Window.partitionBy(col("bucket"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    val incumbents = emb.filter(col("doc_id") % 3 =!= 0)
      .withColumn("rn", row_number().over(sel)).filter(col("rn") === 1)
      .select(col("bucket"), col("doc_id").as("incumbent"))
    emb.filter(col("doc_id") % 3 === 0)
      .join(incumbents, Seq("bucket"), "left")
      .select(col("doc_id"), col("bucket"), col("n_chars"), col("incumbent"),
        when(col("incumbent").isNull, 1L).otherwise(0L).as("admit"))
      .orderBy(col("doc_id"))
  }

  private val dedupSemanticIncrementalSql =
    s"""WITH b AS (
       |  SELECT vec_id AS doc_id,
       |    CAST(${SimQueries.hyperplaneBitsSql(8)} AS BIGINT) AS bucket
       |  FROM embeddings),
       |j AS (SELECT b.bucket, b.doc_id, d.n_chars FROM b JOIN documents d USING (doc_id)),
       |inc AS (
       |  SELECT bucket, doc_id AS incumbent FROM (
       |    SELECT bucket, doc_id, n_chars FROM j WHERE doc_id % 3 <> 0)
       |  QUALIFY row_number() OVER (PARTITION BY bucket ORDER BY n_chars DESC, doc_id) = 1)
       |SELECT j.doc_id, j.bucket, j.n_chars, inc.incumbent,
       |  CAST(CASE WHEN inc.incumbent IS NULL THEN 1 ELSE 0 END AS BIGINT) AS admit
       |FROM j LEFT JOIN inc ON inc.bucket = j.bucket
       |WHERE j.doc_id % 3 = 0
       |ORDER BY j.doc_id""".stripMargin

  // ========================================================================
  // dedup_winnow — winnowing local fingerprints (Schleimer, Wilkerson &
  // Aiken, SIGMOD 2003 — the MOSS algorithm): over the CANONICAL text
  // (the exact-dedup normalization, shared via TextOps.canonicalText),
  // hash every K=12-char gram, slide a W=8 window over consecutive
  // gram hashes, and select each window's minimum (rightmost position
  // on ties — the paper's tie rule). The guarantee the shingle/MinHash
  // family can't give: any shared substring of length ≥ K+W−1 = 19
  // canonical chars yields at least one IDENTICAL selected fingerprint
  // in both documents — detection of partial overlap (quotes, mirrored
  // paragraphs) is positional and deterministic, not probabilistic.
  // Fingerprints seen in more than DfCap=20 documents are discarded
  // before pairing (the paper's "ignore extremely common" rule —
  // boilerplate n-grams would otherwise wire the corpus into one
  // component and make the inverted-index join quadratic on the hot
  // key); docs pair when they share ≥ MinShared=8 surviving
  // fingerprints, reported with both set sizes and the exact-integer
  // winnow-Jaccard (the jaccard_e6 convention).
  //
  // Scale shape: gram hashing and window membership are per-row
  // explodes (positions·W skinny rows, text never duplicated); the
  // min-select is one (doc, window) keyed exchange; the df cap and the
  // pair join shuffle only (h, doc_id) — and the cap BOUNDS every
  // h-bucket at DfCap docs, so candidate enumeration is ≤ DfCap²/2 per
  // fingerprint, linear in corpus size by construction.
  // ========================================================================
  private[graft] val WinnowK = 12      // gram length (canonical chars)
  private[graft] val WinnowW = 8       // window: hashes per selection
  private[graft] val WinnowDfCap = 20  // max docs sharing a usable fp
  private[graft] val WinnowMinShared = 8

  /** The selected winnowing fingerprint set (doc_id, h) of a documents
    * relation — the stage BEFORE the df cap and pairing, exposed so
    * WinnowSpec can pin the paper's guarantee (a shared canonical
    * substring of ≥ K+W−1 chars yields a shared selected fingerprint)
    * directly on the relation.
    *
    * The paper's rightmost-tie rule picks a POSITION per window; since
    * this engine's fingerprints dedupe to per-doc HASH sets (positions
    * never cross the pairing join), the selected set is exactly
    * {min hash of each window} regardless of tie rule — computed in ONE
    * per-row pass by the codegen'd [[graft.plans.WinnowFingerprints]]
    * (monotonic deque, no position explode, no doc-keyed exchange: the
    * declarative explode+window formulation measured 4.7 s at sf0.1
    * for the identical output the oracle still states declaratively).
    */
  private[graft] def winnowFingerprints(docsDf: DataFrame): DataFrame =
    docsDf.select(col("doc_id"),
      explode(graft.plans.WinnowFingerprints.of(
        TextOps.canonicalText(col("text")), WinnowK, WinnowW)).as("h"))

  /** Corpus-wide selected fingerprint relation (doc_id, h) — memoized
    * per (session, dir) + persisted ([[Memo]]): four
    * consumers inside dedup_winnow (df cap, both pair sides, sizes) and
    * the incremental index build would otherwise each re-run the
    * per-doc hashing pass (plan-guarded: one Generate, not four).
    */
  private def winnowSel(s: SparkSession, d: String): DataFrame =
    Memo.relation(s, d, "winnowSel")(winnowFingerprints(docs(s, d)))

  def dedupWinnow(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sel = winnowSel(s, d)
    val keep = sel
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("df") <= WinnowDfCap)
      .select(col("doc_id"), col("h"))
    val sizes = keep.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    keep.select(col("doc_id").as("id_a"), col("h"))
      .join(keep.select(col("doc_id").as("id_b"), col("h")), Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowMinShared)
      .join(sizes.select(col("doc_id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
      .withColumn("jaccard_e6",
        expr("(n_shared * 1000000) div (n_a + n_b - n_shared)"))
      .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"),
        col("n_shared"), col("jaccard_e6"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** CTE chain to the selected winnowing fingerprint set `sel (doc_id,
    * h)` — the declarative statement of what [[winnowFingerprints]]'s
    * one-pass expression computes, shared by the full-corpus and
    * incremental winnow oracles so the gram/hash/window scheme exists
    * once per engine.
    */
  private val winnowSelCtesSql =
    s"""ct AS (
       |  SELECT doc_id, ${TextOps.canonicalTextSql("text")} AS ct FROM documents),
       |ps AS (
       |  SELECT doc_id, ct, CAST(len(ct) - $WinnowK + 1 AS BIGINT) AS p_max
       |  FROM ct WHERE len(ct) - $WinnowK + 1 >= $WinnowW),
       |pos AS (SELECT doc_id, p_max, ct, unnest(range(1, p_max + 1)) AS p FROM ps),
       |hh AS (
       |  SELECT doc_id, p_max, p,
       |    ('0x' || substr(md5(substr(ct, p::INT, $WinnowK)), 1, 14))::BIGINT AS h
       |  FROM pos),
       |sel AS (
       |  SELECT DISTINCT doc_id, h FROM (
       |    SELECT doc_id, p, p_max,
       |      min(h) OVER (PARTITION BY doc_id ORDER BY p
       |        ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS h
       |    FROM hh) WHERE p <= p_max - $WinnowW + 1)""".stripMargin

  private val dedupWinnowSql =
    s"""WITH $winnowSelCtesSql,
       |keep AS (
       |  SELECT doc_id, h FROM sel
       |  QUALIFY count(*) OVER (PARTITION BY h) <= $WinnowDfCap),
       |sz AS (SELECT doc_id, count(*) AS n FROM keep GROUP BY doc_id),
       |pr AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
       |  FROM keep a JOIN keep b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= $WinnowMinShared)
       |SELECT id_a, id_b, sa.n AS n_a, sb.n AS n_b, n_shared,
       |  CAST((n_shared * 1000000) // (sa.n + sb.n - n_shared) AS BIGINT) AS jaccard_e6
       |FROM pr JOIN sz sa ON pr.id_a = sa.doc_id
       |        JOIN sz sb ON pr.id_b = sb.doc_id
       |ORDER BY id_a, id_b""".stripMargin

  // ========================================================================
  // dedup_winnow_incremental — winnowing at the INGEST boundary (the
  // dedup_incremental / dedup_substring_incremental convention,
  // doc_id % 3 = 0 as the arriving slice): the BASE slice's df-capped
  // fingerprint relation is the PERSISTED INDEX (memoized per
  // (session, dir), repartitioned on the hash before persisting — the
  // substrIndex lifecycle, so every probe join reuses the stored
  // partitioning and only the increment side exchanges). An arriving
  // doc's winnowed fingerprints probe the index; (increment, base)
  // pairs sharing ≥ MinShared surviving fingerprints are reported with
  // the winnow-Jaccard. The df cap is a BASE-SIDE index statistic
  // (published once with the index, the way a production fingerprint
  // service ships it) — increment fingerprints are not capped, so a
  // new doc made of base boilerplate simply finds no index entries to
  // hit. Probe cost is O(increment + collisions); the corpus text is
  // never re-read.
  // ========================================================================
  private[graft] def winnowIndex(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Memo.relation(s, d, "winnowIndex") {
      winnowSel(s, d).filter(col("doc_id") % 3 =!= 0)
        .withColumn("df", count(lit(1)).over(Window.partitionBy(col("h"))))
        .filter(col("df") <= WinnowDfCap)
        .select(col("doc_id").as("base_id"), col("h"))
        .repartition(col("h"))
    }
  }

  // ========================================================================
  // winnow_stats — fingerprint-index health audit (the ann_graph_stats
  // convention: a served index needs an observability dial): the
  // document-frequency spectrum of the corpus fingerprint relation,
  // banded as singleton / pairable (2..5) / common (6..DfCap) /
  // capped-out (> DfCap, excluded from pairing). The dial an index
  // operator reads before trusting pair recall: a corpus whose mass
  // sits in capped-out fingerprints is boilerplate-dominated (the cap
  // is silently discarding its signal), while an all-singleton spectrum
  // means winnowing can pair nothing. Pure reshape of the memoized
  // fingerprint relation — the corpus text is never re-hashed; one
  // fingerprint-keyed count and a 4-row band aggregation.
  // ========================================================================
  def winnowStats(s: SparkSession, d: String): DataFrame = {
    val df = winnowSel(s, d).groupBy(col("h")).agg(count(lit(1)).as("df"))
    df.withColumn("band",
        when(col("df") === 1, "1_singleton")
          .when(col("df") <= 5, "2_pairable")
          .when(col("df") <= WinnowDfCap, "3_common")
          .otherwise("4_capped_out"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_fps"), sum(col("df")).as("n_postings"),
        max(col("df")).as("max_df"))
      .orderBy(col("band"))
  }

  private val winnowStatsSql =
    s"""WITH $winnowSelCtesSql,
       |df AS (SELECT h, count(*) AS df FROM sel GROUP BY h)
       |SELECT CASE WHEN df = 1 THEN '1_singleton'
       |            WHEN df <= 5 THEN '2_pairable'
       |            WHEN df <= $WinnowDfCap THEN '3_common'
       |            ELSE '4_capped_out' END AS band,
       |  count(*) AS n_fps, CAST(sum(df) AS BIGINT) AS n_postings,
       |  CAST(max(df) AS BIGINT) AS max_df
       |FROM df GROUP BY band ORDER BY band""".stripMargin

  /** Streaming admission probe (the online half of
    * `dedup_winnow_incremental`, the graph_admit convention): each
    * arriving document's selected fingerprints (one per-row
    * [[graft.plans.WinnowFingerprints]] pass) probe the PUBLISHED base
    * index via a stream-static equi-join, emitting candidate
    * (doc, base, h) hits; the batch incremental finalizes pair
    * thresholds. ZERO streaming state — the index is a static cached
    * relation, the probe a per-batch join.
    */
  def winnowAdmitCandidates(df: DataFrame, index: DataFrame): DataFrame =
    winnowFingerprints(df).join(index, Seq("h"))
      .select(col("doc_id"), col("base_id"), col("h"))

  def dedupWinnowIncremental(s: SparkSession, d: String): DataFrame = {
    val idx = winnowIndex(s, d)
    val bsz = idx.groupBy(col("base_id")).agg(count(lit(1)).as("n_base"))
    val incFps = winnowSel(s, d).filter(col("doc_id") % 3 === 0)
    val isz = incFps.groupBy(col("doc_id")).agg(count(lit(1)).as("n_inc"))
    incFps.join(idx, Seq("h"))
      .groupBy(col("doc_id"), col("base_id")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowMinShared)
      .join(isz, Seq("doc_id"))
      .join(bsz, Seq("base_id"))
      .withColumn("jaccard_e6",
        expr("(n_shared * 1000000) div (n_inc + n_base - n_shared)"))
      .select(col("doc_id"), col("base_id"), col("n_inc"), col("n_base"),
        col("n_shared"), col("jaccard_e6"))
      .orderBy(col("doc_id"), col("base_id"))
  }

  private val dedupWinnowIncrementalSql =
    s"""WITH $winnowSelCtesSql,
       |bkeep AS (
       |  SELECT doc_id AS base_id, h FROM (SELECT doc_id, h FROM sel WHERE doc_id % 3 <> 0)
       |  QUALIFY count(*) OVER (PARTITION BY h) <= $WinnowDfCap),
       |bsz AS (SELECT base_id, count(*) AS n_base FROM bkeep GROUP BY base_id),
       |inc AS (SELECT doc_id, h FROM sel WHERE doc_id % 3 = 0),
       |isz AS (SELECT doc_id, count(*) AS n_inc FROM inc GROUP BY doc_id),
       |pr AS (
       |  SELECT i.doc_id, b.base_id, count(*) AS n_shared
       |  FROM inc i JOIN bkeep b ON i.h = b.h
       |  GROUP BY 1, 2 HAVING count(*) >= $WinnowMinShared)
       |SELECT pr.doc_id, pr.base_id, isz.n_inc, bsz.n_base, n_shared,
       |  CAST((n_shared * 1000000) // (isz.n_inc + bsz.n_base - n_shared) AS BIGINT) AS jaccard_e6
       |FROM pr JOIN isz ON pr.doc_id = isz.doc_id
       |        JOIN bsz ON pr.base_id = bsz.base_id
       |ORDER BY pr.doc_id, pr.base_id""".stripMargin

  val queries: Map[String, Q] = Map(
    "dedup_semantic_incremental" -> (dedupSemanticIncremental _),
    "dedup_winnow" -> (dedupWinnow _),
    "dedup_winnow_incremental" -> (dedupWinnowIncremental _),
    "winnow_stats" -> (winnowStats _),
    "sample_coreset" -> (sampleCoreset _),
    "coreset_assign" -> (coresetAssign _),
    "diversity_sample" -> (diversitySample _),
    "dedup_containment" -> (dedupContainment _),
    "dedup_containment_bottomk" -> (dedupContainmentBottomk _),
    "dedup_graph_rank" -> (dedupGraphRank _),
    "dedup_cluster_best" -> (dedupClusterBest _),
    "dedup_incremental" -> (dedupIncremental _),
    "dedup_minhash_est" -> (dedupMinhashEst _),
    "dedup_exact" -> (dedupExact _),
    "dedup_ngram_jaccard" -> (dedupNgramJaccard _),
    "dedup_lsh_bands" -> (dedupLshBands _),
    "dedup_lsh_pairs" -> (dedupLshPairs _),
    "dedup_cross_source" -> (dedupCrossSource _),
    "decontaminate_fuzzy" -> (decontaminateFuzzy _),
    "dedup_graph_degree" -> (dedupGraphDegree _),
    "dedup_lsh_recall" -> (dedupLshRecall _),
    "dedup_lsh_precision" -> (dedupLshPrecision _),
    "dedup_lsh_tuning" -> (dedupLshTuning _),
    "dedup_cluster" -> (dedupCluster _),
    "split_leak_safe" -> (splitLeakSafe _),
    "split_leakage" -> (splitLeakage _),
    "dedup_minhash_sig" -> (dedupMinhashSig _),
    "dedup_simhash" -> (dedupSimhash _),
    "dedup_image_phash" -> (dedupImagePhash _),
    "dedup_image_cluster" -> (dedupImageCluster _),
    "dedup_video_phash" -> (dedupVideoPhash _),
    "dedup_video_cluster" -> (dedupVideoCluster _),
    "dedup_audio_phash" -> (dedupAudioPhash _),
    "dedup_audio_cluster" -> (dedupAudioCluster _),
    "dedup_substring" -> (dedupSubstring _),
    "dedup_substring_incremental" -> (dedupSubstringIncremental _),
    "scrub_substring_incremental" -> (scrubSubstringIncremental _),
    "scrub_substring" -> (scrubSubstring _),
    "dedup_embedding_cosine" -> (dedupEmbeddingCosine _),
    "dedup_embedding_lsh" -> (dedupEmbeddingLsh _),
    "dedup_embedding_cluster" -> (dedupEmbeddingCluster _),
    "dedup_embedding_lsh_multi" -> (dedupEmbeddingLshMulti _),
  )

  val oracleSql: Map[String, String] = Map(
    "dedup_semantic_incremental" -> dedupSemanticIncrementalSql,
    "dedup_winnow" -> dedupWinnowSql,
    "dedup_winnow_incremental" -> dedupWinnowIncrementalSql,
    "winnow_stats" -> winnowStatsSql,
    "sample_coreset" -> sampleCoresetSql,
    "coreset_assign" -> coresetAssignSql,
    "diversity_sample" -> diversitySampleSql,
    "dedup_containment" -> dedupContainmentSql,
    "dedup_containment_bottomk" -> dedupContainmentBottomkSql,
    "dedup_graph_rank" -> dedupGraphRankSql,
    "dedup_cluster_best" -> dedupClusterBestSql,
    "dedup_incremental" -> dedupIncrementalSql,
    "dedup_minhash_est" -> dedupMinhashEstSql,
    "dedup_exact" -> dedupExactSql,
    "dedup_ngram_jaccard" -> dedupNgramJaccardSql,
    "dedup_lsh_bands" -> dedupLshBandsSql,
    "dedup_lsh_pairs" -> dedupLshPairsSql,
    "dedup_cross_source" -> dedupCrossSourceSql,
    "decontaminate_fuzzy" -> decontaminateFuzzySql,
    "dedup_graph_degree" -> dedupGraphDegreeSql,
    "dedup_lsh_recall" -> dedupLshRecallSql,
    "dedup_lsh_precision" -> dedupLshPrecisionSql,
    "dedup_lsh_tuning" -> dedupLshTuningSql,
    "dedup_cluster" -> dedupClusterSql,
    "split_leak_safe" -> splitLeakSafeSql,
    "split_leakage" -> splitLeakageSql,
    "dedup_minhash_sig" -> dedupMinhashSigSql,
    "dedup_simhash" -> dedupSimhashSql,
    "dedup_image_phash" -> dedupImagePhashSql,
    "dedup_image_cluster" -> dedupImageClusterSql,
    "dedup_video_phash" -> dedupVideoPhashSql,
    "dedup_video_cluster" -> dedupVideoClusterSql,
    "dedup_audio_phash" -> dedupAudioPhashSql,
    "dedup_audio_cluster" -> dedupAudioClusterSql,
    "dedup_substring" -> dedupSubstringSql,
    "dedup_substring_incremental" -> dedupSubstringIncrementalSql,
    "scrub_substring_incremental" -> scrubSubstringIncrementalSql,
    "scrub_substring" -> scrubSubstringSql,
    "dedup_embedding_cosine" -> dedupEmbeddingCosineSql,
    "dedup_embedding_lsh" -> dedupEmbeddingLshSql,
    "dedup_embedding_cluster" -> dedupEmbeddingClusterSql,
    "dedup_embedding_lsh_multi" -> dedupEmbeddingLshMultiSql,
  )
}
