package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.text.TextOps

/** Deduplication operators for document corpora: exact (fingerprint
  * group-by), MinHash + LSH banding, SimHash, n-gram Jaccard
  * verification, all over the `documents` table shape
  * (`doc_id`, `text`, blocking columns).
  *
  * Scale design (the 100 TB story):
  *  - exact dedup is a single hash aggregation on a 128-bit fingerprint —
  *    one shuffle of (fp, doc_id), no text movement;
  *  - MinHash signatures are per-row expressions (no shuffle); LSH
  *    banding shuffles only (band_id, band_hash) keys, so candidate
  *    generation is linear, never O(n²);
  *  - exact Jaccard verification runs only on LSH candidates (or an
  *    explicit blocking key at oracle time), keeping the quadratic step
  *    bounded per bucket;
  *  - SimHash is per-row integer math; near-dup = same simhash or small
  *    Hamming distance within buckets.
  */
object Dedup {

  /** THE text-LSH parameter set — one definition feeding the batch
    * pipeline, every DuckDB oracle rendering, and the streaming
    * candidate generator's defaults. Round 4 shipped a per-module copy
    * and one call site still passed a literal `2`; a single object makes
    * that divergence impossible.
    */
  object LshParams {
    val K = 8             // MinHash functions per signature
    val RowsPerBand = 2   // signature rows hashed into one band key
    val Threshold = 0.2   // exact-Jaccard verify cutoff
  }

  /** Exact-duplicate groups: canonical fingerprint → (n_docs, keeper id).
    * One map-side-combined aggregation.
    */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(TextOps.fingerprint(col(textCol)).as("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_id"))

  /** Distinct 3-gram shingle set of a text column. The tokenizer is
    * lambda-bound ([[TextOps.bindOnce]]) so it runs once per row no
    * matter how many times [[TextOps.shinglesN]] references the array.
    */
  def shingleSet(text: Column): Column =
    TextOps.bindOnce(TextOps.tokens(text))(t =>
      array_distinct(TextOps.shingles3(t)))

  /** 2^56 − 1: mask keeping Carter-Wegman combinations positive in int64
    * (h1,h2 < 2^56; h1 + i·h2 < 2^60 for i < 16).
    */
  val HashMask: Long = (1L << 56) - 1

  /** Distinct 56-bit hashed shingle set: ONE md5 per shingle, first 14
    * hex digits. 10× cheaper than string-set ops downstream (long
    * equality vs 50-char string hashing), cross-engine reproducible.
    */
  def hashedShingleSet(text: Column): Column =
    TextOps.bindOnce(TextOps.tokens(text))(t =>
      array_distinct(transform(TextOps.shingles3(t),
        s => conv(substring(md5(s), 1, 14), 16, 10).cast("long"))))

  /** Distinct (h1, h2) 56-bit hash pairs per shingle — both halves of one
    * md5 — feeding the Carter-Wegman MinHash family
    * `h_i = (h1 + i·h2) & HashMask` (k families from ONE digest per
    * shingle instead of k).
    */
  def shingleHashPairs(text: Column): Column =
    TextOps.bindOnce(TextOps.tokens(text))(t =>
      array_distinct(transform(TextOps.shingles3(t), { s =>
        val hex = md5(s)
        struct(conv(substring(hex, 1, 14), 16, 10).cast("long").as("h1"),
          conv(substring(hex, 15, 14), 16, 10).cast("long").as("h2"))
      })))

  /** Exploded 3-gram shingle md5s, built RELATIONALLY: posexplode tokens,
    * window `lead` ×2 per doc, concat, md5 — every step codegen'd. The
    * array-lambda formulation (`transform` over `shingles3`) evaluates
    * interpreted per element and measured ~30× slower (≈1.7 ms/doc on the
    * documents table). The per-doc window sort is tiny (≤ a few hundred
    * tokens) and partition-parallel across docs.
    */
  private def shingleHexRows(df: DataFrame, textCol: String, idCol: String,
                             carry: Seq[String]): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    df.select(col(idCol) +: carry.map(col) :+
        posexplode(TextOps.tokens(col(textCol))).as(Seq("pos", "tok")): _*)
      .withColumn("t1", lead(col("tok"), 1).over(w))
      .withColumn("t2", lead(col("tok"), 2).over(w))
      .filter(col("t2").isNotNull)
      .withColumn("hex", md5(concat_ws(" ", col("tok"), col("t1"), col("t2"))))
  }

  /** The distinct (id, h1, h2) 56-bit shingle-hash relation — the shared
    * root of the whole text-LSH family (signatures, band keys, exact
    * Jaccard verify all derive from it). Computing it once per corpus
    * and persisting is the single biggest dedup-pipeline saving; see
    * DedupQueries' memo.
    */
  def shingleHashRelation(df: DataFrame, textCol: String, idCol: String): DataFrame =
    shingleHexRows(df, textCol, idCol, Seq.empty)
      .select(col(idCol),
        conv(substring(col("hex"), 1, 14), 16, 10).cast("long").as("h1"),
        conv(substring(col("hex"), 15, 14), 16, 10).cast("long").as("h2"))
      .distinct()

  /** MinHash signatures from a pre-built [[shingleHashRelation]]. */
  def signaturesFromHashes(ex: DataFrame, idCol: String, k: Int): DataFrame =
    ex.withColumn("i", explode(sequence(lit(0), lit(k - 1))))
      .groupBy(col(idCol), col("i"))
      .agg(min((col("h1") + col("i") * col("h2")).bitwiseAND(HashMask)).as("minh"))
      .select(col(idCol), col("i").cast("long").as("i"), col("minh"))

  /** MinHash signature in long form: one row per (id, i) with
    * `minh` = min over shingles of `(h1 + i·h2) & HashMask`, i ∈ [0, k)
    * — k families from ONE md5 per shingle (Carter-Wegman).
    *
    * Shaped for codegen, not per-row lambdas: explode shingles → scalar
    * md5/conv (WholeStageCodegen) → distinct → explode k → hash-agg min.
    * Map-side partial aggregation collapses to one (id, i) minimum per
    * task before the shuffle, so shuffle volume is O(docs · k), not
    * O(shingles · k).
    */
  def minhashSignatures(df: DataFrame, textCol: String, idCol: String, k: Int): DataFrame =
    signaturesFromHashes(shingleHashRelation(df, textCol, idCol), idCol, k)

  /** LSH band keys over the long-form signatures: one row per (id, band)
    * with `band_key` = 60-bit hash of the i-ORDERED minhash sequence in
    * the band — collect (i, minh) structs and sort by i, so permuted
    * values in different slots do NOT collide (a sorted-multiset key
    * would be permutation-invariant and admit false candidates).
    * Map-side-combined aggregation; shuffles only (id, band) keys.
    */
  def bandKeys(signatures: DataFrame, idCol: String, rowsPerBand: Int): DataFrame =
    signatures
      .withColumn("band", (col("i") / rowsPerBand).cast("long"))
      .groupBy(col(idCol), col("band"))
      .agg(TextOps.hash60(concat_ws(",",
        transform(sort_array(collect_list(struct(col("i"), col("minh")))),
          s => s.getField("minh")))).as("band_key"))

  /** LSH banding over the long-form signatures: returns candidate pairs
    * (a < b) that collide in ≥ 1 band. Shuffles only (band, bandKey) —
    * linear in corpus size; the only quadratic term is within a single
    * colliding band bucket, i.e. bounded by true duplicate-cluster size.
    */
  def lshCandidatePairs(signatures: DataFrame, idCol: String, rowsPerBand: Int): DataFrame = {
    val banded = bandKeys(signatures, idCol, rowsPerBand)
    val a = banded.select(col(idCol).as("id_a"), col("band"), col("band_key"))
    val b = banded.select(col(idCol).as("id_b"), col("band"), col("band_key"))
    a.join(b, Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** End-to-end scale path for n-gram near-dup detection: MinHash
    * signatures → LSH banded candidates → exact Jaccard verify on the
    * candidates ONLY. Every stage is linear in the corpus except the
    * per-bucket candidate enumeration (bounded by true dup-cluster
    * size); there is NO block-size-unbounded join — this replaces the
    * constant-cardinality blocking of [[ngramJaccardPairsPersisted]], whose pair
    * enumeration grows quadratically with the corpus.
    *
    * The verify is relational (codegen hash joins + count, not per-pair
    * interpreted `array_intersect`): candidates ⋈ exploded shingles on
    * id_a, then ⋈ on (id_b, shingle) = |A∩B| per pair; |A∪B| from the
    * per-doc distinct-shingle counts.
    *
    * Caching contract — EAGER, named accordingly: this runs a Spark job
    * now (materializes via the cached index) and RETURNS A PERSISTED
    * frame; the caller owns the `unpersist()`. The index cache itself is
    * released before returning — no block squats in executor memory
    * afterwards. Callers that derive several outputs (pair list,
    * keep-first resolution) share the one computation; callers that
    * want a lazy, persist-free plan compose
    * [[verifiedPairsFromHashes]] instead.
    */
  def lshVerifiedPairsPersisted(df: DataFrame, textCol: String, idCol: String,
                                k: Int, rowsPerBand: Int, threshold: Double): DataFrame = {
    val ex = shingleHashRelation(df, textCol, idCol).cache()
    val pairs = verifiedPairsFromHashes(ex, idCol, k, rowsPerBand, threshold).persist()
    pairs.count() // materialize via the cached index, then drop the index
    ex.unpersist(blocking = false)
    pairs
  }

  /** Candidate generation + exact-Jaccard verify over a pre-built (and
    * ideally persisted) [[shingleHashRelation]] — the composable form of
    * [[lshVerifiedPairsPersisted]] for callers that share the hash
    * relation across several derived outputs (signatures, band keys,
    * pair list, keep-first resolution). Lazy: no persist, no action.
    */
  def verifiedPairsFromHashes(ex: DataFrame, idCol: String,
                              k: Int, rowsPerBand: Int, threshold: Double): DataFrame =
    verifiedPairsFromParts(ex, signaturesFromHashes(ex, idCol, k), idCol, rowsPerBand, threshold)

  /** [[verifiedPairsFromHashes]] with the signature stage supplied by the
    * caller — for pipelines that persist and share the signatures across
    * several derived outputs (see DedupQueries' memo).
    */
  /** Exact Jaccard for every LSH candidate pair, UNthresholded —
    * `(id_a, id_b, jaccard)`. Note the verify join drops
    * zero-intersection candidates (an inner join on shared shingles);
    * a pair of banded-but-disjoint docs never reaches the output, which
    * is correct for any threshold > 0. A consumer that needs those pairs
    * surfaced (the unthresholded estimator lock) must left-join THIS
    * output from its candidate set and coalesce jaccard to 0 — see
    * DedupQueries.dedupMinhashEst.
    */
  def candidateJaccard(ex: DataFrame, sigs: DataFrame, idCol: String,
                       rowsPerBand: Int): DataFrame =
    pairJaccard(lshCandidatePairs(sigs, idCol, rowsPerBand), ex, idCol)

  /** [[candidateJaccard]] with the candidate pair set supplied by the
    * caller — for consumers that pre-filter candidates (the estimator
    * lock's content-addressed sample) before paying the exact-verify
    * join. Same zero-intersection-drop caveat.
    */
  def pairJaccard(cand: DataFrame, ex: DataFrame, idCol: String): DataFrame = {
    val sh = ex.select(col(idCol), col("h1").as("h")).distinct()
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    cand
      .join(sh.select(col(idCol).as("id_a"), col("h")), Seq("id_a"))
      .join(sh.select(col(idCol).as("id_b"), col("h")), Seq("id_b", "h"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).cast("double").as("inter"))
      .join(sizes.select(col(idCol).as("id_a"), col("sz").cast("double").as("la")), Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("sz").cast("double").as("lb")), Seq("id_b"))
      // unrounded quotient: identical double inputs → bit-identical
      // cross-engine; jaccard is a small-denominator rational that can
      // sit exactly on rounding half-boundaries
      .withColumn("jaccard", col("inter") / (col("la") + col("lb") - col("inter")))
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Exact CONTAINMENT on candidate pairs — Broder 1997's asymmetric
    * resemblance |A∩B|/|A|: the signal Jaccard structurally under-ranks
    * when one document is a SUBSET of another (B = A plus 20% extra has
    * jaccard ≈ 0.83 but containment(A→B) = 1.0 — quote-expansion and
    * boilerplate-wrapped dups). Same join shape and unrounded-quotient
    * convention as [[pairJaccard]]; emits both directions.
    */
  def pairContainment(cand: DataFrame, ex: DataFrame, idCol: String): DataFrame = {
    val sh = ex.select(col(idCol), col("h1").as("h")).distinct()
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    cand
      .join(sh.select(col(idCol).as("id_a"), col("h")), Seq("id_a"))
      .join(sh.select(col(idCol).as("id_b"), col("h")), Seq("id_b", "h"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).cast("double").as("inter"))
      .join(sizes.select(col(idCol).as("id_a"), col("sz").cast("double").as("la")), Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("sz").cast("double").as("lb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("inter") / col("la")).as("cont_a"),
        (col("inter") / col("lb")).as("cont_b"))
  }

  def verifiedPairsFromParts(ex: DataFrame, sigs: DataFrame, idCol: String,
                             rowsPerBand: Int, threshold: Double): DataFrame = {
    require(threshold > 0, "zero-intersection candidates are dropped by the verify join")
    candidateJaccard(ex, sigs, idCol, rowsPerBand)
      .filter(col("jaccard") >= threshold)
  }

  /** Keep-first resolution of verified near-dup pairs: each doc that has
    * ANY verified partner with a smaller id maps to its smallest such
    * partner. One hash aggregation over the (small) verified-pair set —
    * the single-pass approximation of connected components (no iterative
    * closure), deterministic.
    */
  def dupOfFirst(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("id_b"))
      .agg(min(col("id_a")).as("dup_of"))
      .withColumnRenamed("id_b", "doc_id")

  /** Transitive near-dup cluster resolution: connected components over
    * the verified pair set, emitting `(doc_id, canonical)` for every doc
    * that appears in at least one pair, where `canonical` is the SMALLEST
    * doc id in the doc's component. Unlike [[dupOfFirst]] (one pass, so
    * on a chain a–b, b–c doc c's recorded partner b is itself a dup),
    * following `canonical` always lands on a kept doc: the keep-set is
    * exactly `{doc_id == canonical}` plus all unpaired docs.
    *
    * Algorithm: min-label propagation with pointer jumping, iterated to a
    * fixpoint. Each round does (1) edge relaxation — every node takes the
    * min of its own label and its neighbors' labels (a join + hash agg on
    * the undirected edge list), then (2) pointer jumping — `l(v) ←
    * l(l(v))` (a self-join on the label table), which halves chain depth,
    * so rounds = O(log componentDiameter) instead of O(diameter).
    *
    * Scale: the input is the post-verify pair set — orders of magnitude
    * smaller than the corpus (only true near-dup pairs survive the
    * jaccard gate). Every round is hash joins + hash aggs over that small
    * relation; `localCheckpoint` cuts lineage per round so the fixpoint
    * loop never builds a deep recursive plan, and convergence is detected
    * by an `observe`d label-sum metric collected inside that same
    * checkpoint job (labels only ever decrease, so the sum strictly
    * decreases until the fixpoint) — one Spark action per round total.
    *
    * SMALL-GRAPH FAST PATH: each fixpoint round costs a fixed scheduler
    * latency (~0.3 s of stage round-trips at local[32]) regardless of
    * data size, so a graph of a few hundred verified pairs pays seconds
    * of pure orchestration for microseconds of work. When the edge list
    * fits a guarded single-pass probe (`limit(max+1).collect()` — the
    * FeatureSpace guarded-collect contract, bounded driver memory by
    * construction), components resolve in-process with union-by-min +
    * path compression and return as a local relation; the probe
    * overflowing falls through to the distributed fixpoint. The output
    * is IDENTICAL either way (canonical = exact min id per component),
    * so callers and oracles cannot tell which path ran — DedupSpec pins
    * the parity on a graph run through both.
    */
  val DriverComponentsMaxEdges: Int = 1 << 20

  def clusterLabels(pairs: DataFrame): DataFrame =
    localClusterLabels(pairs).getOrElse(clusterLabelsWithRounds(pairs)._1)

  /** [[clusterLabels]]' small-graph fast path alone: the labels as a
    * driver-local relation, or None when the edge list overflows the
    * probe and the distributed fixpoint must run. Callers that memoize
    * the small result key on this branch, not on the plan's shape.
    */
  private[graft] def localClusterLabels(pairs: DataFrame): Option[DataFrame] = {
    import org.apache.spark.storage.StorageLevel
    val sel = pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
    val lim = sel.limit(DriverComponentsMaxEdges + 1)
    // cheap size gate BEFORE the row probe: the count of the limited plan
    // ships one long to the driver, so an overflowing graph no longer pays
    // a discarded 2^20-row collect + tens of MB of driver transfer.
    // For an UNPERSISTED input the gate's count and the small-path
    // collect used to re-run the pair subtree twice, and the
    // grow-between-jobs re-check could not catch a shrink-then-grow race
    // (ADVICE r17): pinning the LIMITED probe relation — bounded at
    // ≤ 2^20+1 narrow rows by construction, never the corpus-scale edge
    // list — makes both jobs read the same materialized rows: one
    // subtree execution, race closed. Persisted inputs (the lshShared
    // callers) already serve both jobs from cache; no extra pin.
    val pinned = pairs.storageLevel == StorageLevel.NONE
    if (pinned) lim.persist()
    try {
    val overflow = lim.count() > DriverComponentsMaxEdges
    lazy val probe = lim.collect()
    // the collect re-checks the gate: for a persisted (unpinned) input
    // count and collect are separate jobs, so a row set that grew in
    // between (moving source) must fall through to the distributed
    // fixpoint rather than silently truncate at the limit
    if (overflow || probe.length > DriverComponentsMaxEdges) None
    else {
      val parent = new scala.collection.mutable.LongMap[Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      probe.foreach { row =>
        val a = row.getLong(0)
        val b = row.getLong(1)
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val ra = find(a)
        val rb = find(b)
        // union-by-min: the root is always the component's smallest id,
        // so find() IS the canonical election
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      val spark = pairs.sparkSession
      import spark.implicits._
      Some(parent.keys.toSeq.sorted.map(id => (id, find(id))).toDF("doc_id", "canonical"))
    }
    } finally if (pinned) lim.unpersist(false)
  }

  /** [[clusterLabels]] plus the number of fixpoint rounds executed — the
    * O(log componentDiameter) convergence claim made measurable (DedupSpec
    * stresses a deep path graph and a star and asserts the bound). The
    * count includes the final no-change round that detects the fixpoint.
    */
  def clusterLabelsWithRounds(pairs: DataFrame): (DataFrame, Int) = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
      .persist()
    // Fused convergence probe: the decimal(38,0) label sum (overflow-proof
    // regardless of corpus id magnitude — a silently wrapped long sum could
    // fake a fixpoint) is collected via `observe` DURING the eager
    // localCheckpoint job, so each round is exactly ONE Spark action instead
    // of checkpoint + a separate scalar aggregate. At 100 TB the label table
    // can be large; halving the per-round action count halves scheduler
    // round-trips on the fixpoint's critical path. Null (empty set) reads 0.
    def checkpointWithSum(df: DataFrame): (DataFrame, java.math.BigDecimal) = {
      val obs = Observation()
      val out = df
        .observe(obs, sum(col("lbl").cast("decimal(38,0)")).as("lbl_sum"))
        .localCheckpoint()
      val s = obs.get("lbl_sum") match {
        case null => java.math.BigDecimal.ZERO
        case d: java.math.BigDecimal => d
        case d: scala.math.BigDecimal => d.bigDecimal
      }
      (out, s)
    }
    var (labels, prevSum) = checkpointWithSum(
      edges.select(col("src").as("doc_id"))
        .distinct()
        .withColumn("lbl", col("doc_id")))
    try {
      var converged = false
      var rounds = 0
      while (!converged) {
        rounds += 1
        require(rounds <= 64, s"clusterLabels did not converge in 64 rounds")
        // (1) edge relaxation: min over neighbor labels, folded into own
        val nbrMin = edges
          .join(labels.select(col("doc_id").as("src"), col("lbl").as("nlbl")), Seq("src"))
          .groupBy(col("dst").as("doc_id"))
          .agg(min(col("nlbl")).as("nbr"))
        val relaxed = labels.join(nbrMin, Seq("doc_id"), "left")
          .select(col("doc_id"), least(col("lbl"), coalesce(col("nbr"), col("lbl"))).as("lbl"))
        // (2) pointer jump: adopt the label OF the current label (labels
        // are node ids, so l(l(v)) is defined whenever l(v) is a node)
        val (next, newSum) = checkpointWithSum(relaxed
          .join(relaxed.select(col("doc_id").as("lbl"), col("lbl").as("jmp")), Seq("lbl"), "left")
          .select(col("doc_id"), least(col("lbl"), coalesce(col("jmp"), col("lbl"))).as("lbl")))
        converged = newSum.compareTo(prevSum) == 0
        prevSum = newSum
        labels = next
      }
      (labels.withColumnRenamed("lbl", "canonical"), rounds)
    } finally edges.unpersist(false)
  }

  /** Exact Jaccard similarity of two pre-computed distinct shingle arrays. */
  def jaccard(sa: Column, sb: Column): Column = {
    val inter = size(array_intersect(sa, sb)).cast("double")
    inter / (size(sa) + size(sb) - inter).cast("double")
  }

  /** Near-duplicate pairs within a blocking key, verified by exact
    * n-gram Jaccard ≥ threshold (> 0). The blocking key bounds the
    * quadratic step (at scale, pass LSH candidates instead of a block
    * column). EAGER: runs a job and returns a PERSISTED frame the
    * caller must `unpersist()` (named accordingly).
    *
    * Set-intersection as a relational plan, not per-pair array ops:
    * explode hashed shingles → self-equi-join on (block, shingle) →
    * count matches per pair = |A∩B|; |A∪B| from the per-doc set sizes
    * carried on the exploded rows. Work is Σ_shingle (docs/shingle)² —
    * linear-ish under blocking — and every operator is a codegen'd hash
    * join/agg, vs O(pairs) interpreted array_intersect calls.
    */
  def ngramJaccardPairsPersisted(df: DataFrame, textCol: String, idCol: String,
                                 blockCol: String, threshold: Double): DataFrame = {
    require(threshold > 0, "explode-join intersection cannot emit inter=0 pairs")
    // cached: both sides of the self-join read this index — without the
    // cache Spark recomputes the shingle+md5 pipeline once per branch.
    // Same contract as lshVerifiedPairsPersisted: the (small) pair result
    // is materialized once, the index cache is released before returning,
    // and the caller unpersists the returned frame when done.
    val ex = shingleHexRows(df, textCol, idCol, Seq(blockCol))
      .select(col(idCol), col(blockCol),
        conv(substring(col("hex"), 1, 14), 16, 10).cast("long").as("h"))
      .distinct()
      .withColumn("sz", count(lit(1)).over(Window.partitionBy(col(idCol))))
      .cache()
    val a = ex.select(col(idCol).as("id_a"), col(blockCol), col("sz").as("sz_a"), col("h"))
    val b = ex.select(col(idCol).as("id_b"), col(blockCol), col("sz").as("sz_b"), col("h"))
    val pairs = a.join(b, Seq(blockCol, "h"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).cast("double").as("inter"),
        first(col("sz_a")).cast("double").as("la"), first(col("sz_b")).cast("double").as("lb"))
      // unrounded: the division inputs are identical doubles in any
      // engine, so the quotient is bit-identical — and jaccard is a
      // small-denominator rational that can sit exactly on rounding
      // half-boundaries (1/32 = 0.03125), where engines' round() differ
      .withColumn("jaccard", col("inter") / (col("la") + col("lb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .persist()
    pairs.count()
    ex.unpersist(blocking = false)
    pairs
  }

  /** Embedding near-dup pairs at scale: candidates come from random-
    * hyperplane LSH buckets (`Similarity.hyperplaneBucket` — per-row sign
    * bits, no learned state), then exact cosine verifies each same-bucket
    * pair. The join shuffles both sides on the bucket key; NO build side
    * grows with the corpus (unlike blocking on a constant-cardinality
    * column such as `label`, whose block size — and hence pair count —
    * grows linearly/quadratically with the corpus).
    *
    * `nPlanes` is the recall/cost dial: bucket count is 2^nPlanes, so at
    * N vectors pick nPlanes ≈ log2(N / targetBucketSize) to hold the
    * per-bucket quadratic term at targetBucketSize² — e.g. 100 TB of 1e9
    * vectors at ~1k/bucket → 20 planes. (Production systems add multi-
    * table OR-amplification for recall; one table keeps the oracle
    * reproducible here.)
    */
  def embeddingLshPairs(df: DataFrame, idCol: String, vecCol: String,
                        nPlanes: Int, threshold: Double): DataFrame = {
    import graft.sim.Similarity
    val e = df.select(col(idCol), col(vecCol),
      Similarity.hyperplaneBucket(col(vecCol), nPlanes).as("bucket"),
      Similarity.norm(col(vecCol)).as("nrm"))
    val a = e.select(col(idCol).as("id_a"), col("bucket"),
      col(vecCol).as("va"), col("nrm").as("na"))
    val b = e.select(col(idCol).as("id_b"), col("bucket"),
      col(vecCol).as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** OR-amplified multi-table variant of [[embeddingLshPairs]]: `nTables`
    * independent hyperplane families (disjoint `planeOffset` ranges);
    * a pair is a candidate if it collides in ANY table — the classical
    * recall amplification (miss probability (1−p^…)ᵀ decays
    * exponentially in T), at T× the bucketing cost. Candidates are
    * deduplicated BEFORE the exact-cosine verify so each surviving pair
    * pays one dot product regardless of how many tables it collided in.
    *
    * Multi-table candidates are a superset of table 0's by construction,
    * so recall is monotone in `nTables` (asserted in DedupSpec).
    */
  def embeddingLshPairsMulti(df: DataFrame, idCol: String, vecCol: String,
                             nPlanes: Int, nTables: Int, threshold: Double): DataFrame = {
    import graft.sim.Similarity
    val e = df.select(col(idCol), col(vecCol), Similarity.norm(col(vecCol)).as("nrm"))
    val bucketed = e.select(col(idCol), posexplode(array((0 until nTables).map(t =>
      Similarity.hyperplaneBucket(col(vecCol), nPlanes, t * nPlanes)): _*)).as(Seq("tbl", "bucket")))
    val a = bucketed.select(col(idCol).as("id_a"), col("tbl"), col("bucket"))
    val b = bucketed.select(col(idCol).as("id_b"), col("tbl"), col("bucket"))
    val cand = a.join(b, Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    cand
      .join(e.select(col(idCol).as("id_a"), col(vecCol).as("va"), col("nrm").as("na")), Seq("id_a"))
      .join(e.select(col(idCol).as("id_b"), col(vecCol).as("vb"), col("nrm").as("nb")), Seq("id_b"))
      .withColumn("cos", Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** 48-bit SimHash from whitespace tokens: bit j of the signature is 1
    * iff Σ_tokens (bit j of hash48(token) ? +1 : −1) > 0. Pure integer
    * math, cross-engine exact. Long-form intermediate keeps it set-based
    * (explode tokens × bits, aggregate) rather than a per-row loop.
    */
  def simhash48(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol), TextOps.tokens(col(textCol)).as("toks"))
      .select(col(idCol), explode(col("toks")).as("tok"))
      .select(col(idCol), TextOps.hash48(col("tok")).as("h"))
      .withColumn("j", explode(sequence(lit(0), lit(47))))
      // shiftright/shiftleft by a *column* amount needs the SQL form (the
      // Scala helpers only take Int literals).
      .groupBy(col(idCol), col("j"))
      .agg(sum(when(expr("shiftright(h, CAST(j AS INT)) & 1") === 1, 1)
        .otherwise(-1)).as("vote"))
      .groupBy(col(idCol))
      .agg(sum(when(col("vote") > 0, expr("shiftleft(CAST(1 AS BIGINT), CAST(j AS INT))"))
        .otherwise(0L)).as("simhash"))

  /** Candidate pairs of DISTINCT hash values within small Hamming
    * distance, by band-slicing: the hash's low `nBands · bitsPerBand`
    * bits are cut into `nBands` contiguous slices, each (band, slice)
    * becomes an equi-join key, and two hashes pair iff they collide on at
    * least one band. Pigeonhole guarantee: Hamming distance < nBands
    * leaves some band untouched, so every pair within `nBands − 1` bits
    * IS a candidate — recall 1.0 below that radius by construction, no
    * probabilistic argument needed (contrast MinHash banding's S-curve).
    *
    * Operates on HASH VALUES, not row ids, deliberately: perceptual
    * hashes collapse heavy exact-duplicate clusters (a synthetic or
    * scraped corpus can put thousands of images on one hash), and pairing
    * at the id level would re-expand those clusters quadratically through
    * the join. Collapse to distinct hashes first (with counts /
    * representatives carried separately), pair the hashes, and the join
    * is bounded by distinct-hash cardinality — the same
    * collapse-then-relate shape as [[exactGroups]]. Scale: only
    * (hash, band, slice) rows shuffle; the self-join is an equi-join on
    * (band, slice) — never a cross product.
    */
  def hammingBandPairs(hashes: DataFrame, hashCol: String,
                       nBands: Int, bitsPerBand: Int): DataFrame = {
    require(nBands > 0 && bitsPerBand > 0 && nBands * bitsPerBand <= 63,
      s"band layout must fit a positive BIGINT, got $nBands x $bitsPerBand")
    val mask = (1L << bitsPerBand) - 1
    val banded = hashes.select(col(hashCol)).distinct()
      .withColumn("band", explode(sequence(lit(0), lit(nBands - 1))))
      .withColumn("bkey",
        expr(s"shiftright($hashCol, CAST(band * $bitsPerBand AS INT))")
          .bitwiseAND(mask))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col(s"a.$hashCol") < col(s"b.$hashCol"))
      .select(col(s"a.$hashCol").as(s"${hashCol}_a"),
        col(s"b.$hashCol").as(s"${hashCol}_b"))
      .distinct()
  }
}
