package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, OutputMode}

import graft.text.TextOps

/** Streaming counterparts of the exact-dedup family: a training-data
  * ingest pipeline dedups CONTINUOUSLY, not in one batch pass — each
  * arriving document is admitted iff its canonical fingerprint was never
  * seen (within the retention bound), and duplicates are mapped to their
  * keeper for provenance.
  *
  * Scale design: state is keyed by the 128-bit fingerprint, so it
  * hash-partitions across executors like the batch `exactGroups`
  * aggregation; only (fp → keeper id) longs are stored, never text.
  * `exactDedup` bounds state with the watermark
  * (`dropDuplicatesWithinWatermark` — the built-in evicts fingerprints
  * older than the watermark, the standard retention contract for
  * unbounded corpora); `keepFirst` keeps O(1) state per distinct
  * fingerprint, bounded by an optional idle-TTL (processing-time
  * timeout) for unbounded corpora.
  */
object StreamingDedup {

  /** First-occurrence pass-through: admit a document iff its canonical
    * fingerprint has not been seen within the watermark retention.
    * Appends the `fp` column (callers drop it if unwanted).
    */
  def exactDedup(docs: DataFrame, tsCol: String, textCol: String,
                 watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("fp", TextOps.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fp")

  case class FpDoc(fp: String, docId: Long)

  /** Incremental keep-first resolution (the streaming `dupOfFirst`) over
    * a streaming document frame, keyed by fingerprint
    * ([[KeepFirst.keepFirstFn]]): emits one (doc_id, dup_of) row per
    * detected duplicate. The smallest id of a micro-batch is the keeper,
    * matching the batch `exactGroups`/`dupOfFirst` tie-break; across
    * micro-batches the EARLIER batch's keeper wins — true streaming
    * semantics. Pass `ttl` (e.g. `"1 hour"`) to bound per-fingerprint
    * state on unbounded corpora: an evicted fingerprint's re-arrival is
    * a NEW keeper, the retention trade [[exactDedup]] makes via its
    * watermark.
    */
  def keepFirst(spark: SparkSession, docs: DataFrame,
                textCol: String, idCol: String,
                ttl: Option[String] = None): DataFrame = {
    import spark.implicits._
    docs
      .select(TextOps.fingerprint(col(textCol)).as("fp"), col(idCol).cast("long").as("docId"))
      .as[FpDoc]
      .groupByKey(_.fp)
      .flatMapGroupsWithState(OutputMode.Append, KeepFirst.timeout(ttl))(
        KeepFirst.keepFirstFn(ttl, (_: FpDoc).docId))
      .toDF("doc_id", "dup_of")
  }

  /** EVENT-TIME bounded dedup through the engine's native
    * `dropDuplicatesWithinWatermark` — the production complement of
    * [[keepFirst]]'s processing-time TTL: state is keyed rows inside the
    * watermark horizon and the ENGINE evicts them (no custom state
    * function), so an infinite stream holds O(keys-per-horizon) state
    * however long it runs. Semantics (the engine's one-sided guarantee,
    * asserted in StreamingSpec): a key's first event always emits;
    * a duplicate arriving within `delay` of the kept event never emits;
    * two emitted events of one key are ≥ `delay` apart in event time.
    * The shape a crawl-recency dedup wants — re-admit a fingerprint
    * after the horizon (content may have changed), dedup inside it.
    */
  def keepFirstWithinWatermark(events: DataFrame, keyCols: Seq[String],
                               tsCol: String, delay: String): DataFrame =
    events.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)

  case class BandedDoc(band: Long, bandKey: Long, docId: Long)

  /** Streaming MinHash-LSH near-dup candidate generation — the
    * incremental counterpart of the batch
    * signatures → band keys → colliding pairs pipeline
    * ([[graft.dedup.Dedup.lshCandidatePairs]]): each arriving document's
    * k-row MinHash signature and band keys are computed PER ROW (array
    * expressions over the document's own shingle set — no corpus-wide
    * aggregation), and per (band, band_key) bucket the member-id state
    * emits one candidate pair (a < b) for every existing member when a
    * new document lands in the bucket.
    *
    * Exactly the batch hashing: distinct (h1, h2) md5 halves per
    * shingle, Carter-Wegman `min((h1 + i·h2) & mask)` per signature row,
    * band key = hash60 of the comma-joined i-ordered minhash values —
    * so the streamed candidate set equals the batch one on the same
    * corpus (StreamingSpec asserts set equality). Documents with < 3
    * tokens have no shingles and are dropped, as in batch.
    *
    * Scale/state: state per bucket is its member-id list — the same
    * "quadratic only within a colliding bucket" bound as the batch join;
    * a pair colliding in several bands is emitted once per band
    * (deduplicate downstream, exactly like the batch form's
    * `.distinct()`). `ttl` evicts buckets idle longer than the given
    * duration (processing-time timeout) for unbounded corpora. Exact-
    * Jaccard verification stays downstream: it needs both documents'
    * shingle sets, which per-bucket state should not hold.
    */
  /** The per-row signature → exploded band-key relation shared by
    * [[lshCandidates]] and [[lshVerified]]: one row per (band, bandKey,
    * docId), plus the doc's distinct sorted h1 shingle set when
    * `carrySet` (the verify stage needs it; the candidate stage must NOT
    * pay to shuffle it).
    */
  private def bandedRows(docs: DataFrame, textCol: String, idCol: String,
                         k: Int, rowsPerBand: Int, carrySet: Boolean): DataFrame = {
    require(k % rowsPerBand == 0, s"k ($k) must be a multiple of rowsPerBand ($rowsPerBand)")
    import graft.dedup.Dedup

    val pairs = Dedup.shingleHashPairs(col(textCol))
    // per-row signature: min over the doc's shingle pairs, i ∈ [0, k)
    val sigs: Seq[org.apache.spark.sql.Column] = (0 until k).map { i =>
      array_min(transform(col("shp"),
        p => (p.getField("h1") + lit(i.toLong) * p.getField("h2")).bitwiseAND(Dedup.HashMask)))
    }
    // band b hashes the i-ordered minhash values of its rows — the same
    // rendering as Dedup.bandKeys (longs comma-joined, hash60)
    val bands = array((0 until k / rowsPerBand).map { b =>
      struct(lit(b.toLong).as("band"),
        TextOps.hash60(concat_ws(",",
          (0 until rowsPerBand).map(r => sigs(b * rowsPerBand + r).cast("string")): _*)).as("bandKey"))
    }: _*)
    val carry = if (carrySet)
      Seq(array_sort(array_distinct(transform(col("shp"), _.getField("h1")))).as("sh"))
    else Seq.empty

    docs
      .select(col(idCol).cast("long").as("docId"), pairs.as("shp"))
      .filter(size(col("shp")) >= 1) // < 3 tokens → no shingles, as in batch
      .select(col("docId") +: explode(bands).as("bk") +: carry: _*)
      .select(Seq(col("bk.band").as("band"), col("bk.bandKey").as("bandKey"),
        col("docId")) ++ carry.map(_ => col("sh")): _*)
  }

  def lshCandidates(spark: SparkSession, docs: DataFrame,
                    textCol: String, idCol: String,
                    k: Int = graft.dedup.Dedup.LshParams.K,
                    rowsPerBand: Int = graft.dedup.Dedup.LshParams.RowsPerBand,
                    ttl: Option[String] = None): DataFrame = {
    import spark.implicits._
    bandedRows(docs, textCol, idCol, k, rowsPerBand, carrySet = false)
      .as[BandedDoc]
      .groupByKey(d => (d.band, d.bandKey))
      .flatMapGroupsWithState(OutputMode.Append,
        KeepFirst.timeout(ttl))(lshCandidatesFn(ttl))
      .toDF("id_a", "id_b")
  }

  /** Per-bucket member state: new members pair with every existing one.
    * In-batch arrival order is nondeterministic, so the batch's members
    * are admitted in sorted id order (output pairs are (min, max) and
    * therefore order-insensitive; sorting just makes admission
    * deterministic). Redeliveries (already-member ids) emit nothing.
    *
    * State is a SORTED id array: membership is a binary search and the
    * batch's fresh ids merge in with one O(m + b) pass — a hot bucket (a
    * skewed near-dup cluster) previously paid an O(m) `Seq.contains`
    * scan per arrival, O(m²) per micro-batch.
    */
  def lshCandidatesFn(ttl: Option[String])(bucket: (Long, Long), rows: Iterator[BandedDoc],
                      state: GroupState[Seq[Long]]): Iterator[(Long, Long)] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    val members: Array[Long] = state.getOption.map(_.toArray).getOrElse(Array.empty)
    val fresh = rows.map(_.docId).toSeq.distinct.sorted
      .filter(id => java.util.Arrays.binarySearch(members, id) < 0)
    val out = for {
      (id, idx) <- fresh.iterator.zipWithIndex
      m <- members.iterator ++ fresh.iterator.take(idx)
    } yield (math.min(m, id), math.max(m, id))
    if (fresh.nonEmpty || members.nonEmpty) {
      state.update(mergeSorted(members, fresh))
      ttl.foreach(state.setTimeoutDuration)
    }
    // out is lazy over `members`/`fresh` vals — safe to return unforced
    out
  }

  /** Merge two sorted, disjoint sequences in one pass. */
  private def mergeSorted(a: Array[Long], b: Seq[Long]): Seq[Long] = {
    if (b.isEmpty) return a.toSeq
    if (a.isEmpty) return b
    val out = new Array[Long](a.length + b.size)
    var i = 0; var j = 0; var o = 0
    val bArr = b.toArray
    while (i < a.length && j < bArr.length) {
      if (a(i) < bArr(j)) { out(o) = a(i); i += 1 } else { out(o) = bArr(j); j += 1 }
      o += 1
    }
    while (i < a.length) { out(o) = a(i); i += 1; o += 1 }
    while (j < bArr.length) { out(o) = bArr(j); j += 1; o += 1 }
    out.toSeq
  }

  case class BandedDocSet(band: Long, bandKey: Long, docId: Long, sh: Seq[Long])
  case class VerifiedPair(id_a: Long, id_b: Long, jaccard: Double)

  /** Streaming near-dup VERIFY — the complete streaming counterpart of
    * the batch signatures → bands → candidates → exact-Jaccard pipeline
    * ([[graft.dedup.Dedup.verifiedPairsFromHashes]]): each arriving
    * document carries its distinct sorted 56-bit shingle-hash set into
    * its band buckets, and a new bucket member is verified IN-OPERATOR
    * against every existing member — emitting (id_a, id_b, jaccard) for
    * pairs at or above `threshold`, with the identical jaccard double
    * the batch path computes (same h1 sets, same
    * inter / (|a| + |b| − inter) formula ⇒ bit-identical).
    *
    * A pair colliding in several bands is emitted once per band with
    * identical values (deduplicate downstream, exactly like the batch
    * form's `.distinct()` — the verdict is deterministic so duplicates
    * are harmless repeats, never conflicts).
    *
    * Scale/state trade, explicitly: per-bucket state holds each member's
    * shingle set, i.e. each document's set is stored once per band
    * (k/rowsPerBand ×). That buys single-operator verified output with
    * no second join; intersection of two sorted arrays is O(|a| + |b|).
    * For corpora where that state is too heavy, use
    * [[lshVerifiedAgainst]] — the runnable state-light alternative:
    * [[lshCandidates]] (ids-only state) + a per-micro-batch join against
    * a persisted batch shingle-hash relation. `ttl` evicts idle buckets
    * exactly as in [[lshCandidates]].
    */
  def lshVerified(spark: SparkSession, docs: DataFrame,
                  textCol: String, idCol: String,
                  k: Int = graft.dedup.Dedup.LshParams.K,
                  rowsPerBand: Int = graft.dedup.Dedup.LshParams.RowsPerBand,
                  threshold: Double = graft.dedup.Dedup.LshParams.Threshold,
                  ttl: Option[String] = None): DataFrame = {
    import spark.implicits._
    bandedRows(docs, textCol, idCol, k, rowsPerBand, carrySet = true)
      .as[BandedDocSet]
      .groupByKey(d => (d.band, d.bandKey))
      .flatMapGroupsWithState(OutputMode.Append,
        KeepFirst.timeout(ttl))(lshVerifiedFn(threshold, ttl))
      .toDF("id_a", "id_b", "jaccard")
  }

  /** Bucket state for [[lshVerified]]: members sorted by id, each with
    * its sorted shingle-hash set. Admission mirrors [[lshCandidatesFn]];
    * each fresh member is Jaccard-verified against all current members.
    */
  def lshVerifiedFn(threshold: Double, ttl: Option[String])(
      bucket: (Long, Long), rows: Iterator[BandedDocSet],
      state: GroupState[Seq[(Long, Seq[Long])]]): Iterator[VerifiedPair] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    var members: Vector[(Long, Array[Long])] =
      state.getOption.map(_.iterator.map { case (id, sh) => (id, sh.toArray) }.toVector)
        .getOrElse(Vector.empty)
    val seen = scala.collection.mutable.Set(members.map(_._1): _*)
    val fresh = rows.toSeq.sortBy(_.docId).iterator
      .filter(d => seen.add(d.docId)).toVector // drops in-batch redeliveries too
    val out = scala.collection.mutable.ArrayBuffer.empty[VerifiedPair]
    fresh.foreach { d =>
      val sh = d.sh.toArray
      members.foreach { case (mid, msh) =>
        val inter = sortedIntersectionSize(sh, msh).toDouble
        val j = inter / (sh.length + msh.length - inter)
        if (j >= threshold)
          out += VerifiedPair(math.min(mid, d.docId), math.max(mid, d.docId), j)
      }
      members = members :+ ((d.docId, sh))
    }
    if (members.nonEmpty) {
      state.update(members.map { case (id, sh) => (id, sh.toSeq) })
      ttl.foreach(state.setTimeoutDuration)
    }
    out.iterator
  }

  /** State-LIGHT streaming near-dup verify: [[lshCandidates]] generates
    * candidate pairs with ids-only bucket state, and each micro-batch's
    * pairs are verified by a stream-static join against `shingleHashes` —
    * a PERSISTED batch shingle-hash relation in the
    * [[graft.dedup.Dedup.shingleHashRelation]] shape (`idCol`, `h1`, …) —
    * emitting the identical (id_a, id_b, jaccard) rows as [[lshVerified]]
    * (same h1 sets, same inter / (|a| + |b| − inter) double formula ⇒
    * bit-identical; same once-per-colliding-band duplicate contract).
    *
    * Choosing between the two:
    *  - [[lshVerified]] stores every member's shingle set once per band
    *    (k/rowsPerBand ×) but verifies in-operator — one stateful stage,
    *    no external relation, lowest latency. Right when documents are
    *    short or buckets small.
    *  - this form keeps streaming state at ids only (O(1) longs per
    *    member per band) and pays one static-side aggregation + two
    *    joins per micro-batch instead. Right when shingle sets are large
    *    or buckets hot — state size no longer grows with document
    *    length — at the cost of maintaining the batch-side relation
    *    (persist it; refresh on corpus growth).
    *
    * The exact-Jaccard step is per CANDIDATE pair (LSH-bounded, tiny per
    * micro-batch), so the interpreted `array_intersect` here is bounded
    * work — unlike the corpus-wide batch verify, which uses the
    * relational explode-join form for exactly that reason.
    */
  def lshVerifiedAgainst(spark: SparkSession, docs: DataFrame,
                         shingleHashes: DataFrame,
                         textCol: String, idCol: String,
                         k: Int = graft.dedup.Dedup.LshParams.K,
                         rowsPerBand: Int = graft.dedup.Dedup.LshParams.RowsPerBand,
                         threshold: Double = graft.dedup.Dedup.LshParams.Threshold,
                         ttl: Option[String] = None): DataFrame = {
    val cand = lshCandidates(spark, docs, textCol, idCol, k, rowsPerBand, ttl)
    // the distinct h1 set per doc, pre-aggregated in ONE map-side-combined
    // pass over the persisted relation per micro-batch (collect_set
    // already deduplicates — no separate distinct shuffle)
    val sets = shingleHashes
      .select(col(idCol).cast("long").as("sid"), col("h1").as("h"))
      .groupBy(col("sid"))
      .agg(array_sort(collect_set(col("h"))).as("sh"))
    cand
      .join(sets.select(col("sid").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("sid").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", graft.dedup.Dedup.jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  case class BucketVec(bucket: Long, docId: Long, vec: Seq[Float], nrm: Double)
  case class CosPair(id_a: Long, id_b: Long, cos: Double)

  /** Streaming EMBEDDING near-dup pairs — the incremental counterpart of
    * [[graft.dedup.Dedup.embeddingLshPairs]], closing the last
    * streaming/batch asymmetry: each arriving vector lands in its
    * random-hyperplane sign bucket ([[graft.sim.Similarity.hyperplaneBucket]]
    * — per-row integer-coefficient dots, no learned state, so the
    * bucketing needs no corpus pass), and per bucket the member state
    * verifies the newcomer against every existing member by EXACT
    * cosine, emitting (id_a, id_b, cos) for pairs at or above
    * `threshold` with `id_a < id_b`.
    *
    * Bit-parity with batch: the bucket id and the norm are computed by
    * the same codegen column expressions the batch path uses, and the
    * in-operator dot multiplies float-promoted-to-double elementwise,
    * summed left-to-right — identical IEEE order to
    * [[graft.plans.ArrayDotProduct]], and multiplication commutes, so
    * which member arrived first cannot change the double. StreamingSpec
    * asserts pair-set equality with batch, cosines un-rounded.
    *
    * Scale/state: per-bucket state holds (id, vec, norm) per member —
    * one vector copy total (single bucket per vector; contrast the
    * band-table text pipeline which stores per-band copies). The
    * quadratic term is bounded per bucket exactly as in batch: pick
    * nPlanes ≈ log2(N / targetBucketSize). `ttl` evicts idle buckets
    * under the same contract as [[lshCandidates]], and admission is
    * sorted/deduplicated per micro-batch like every other stateful
    * operator in this file (redeliveries emit nothing).
    */
  def embeddingLshPairs(spark: SparkSession, vecs: DataFrame,
                        idCol: String, vecCol: String,
                        nPlanes: Int, threshold: Double,
                        ttl: Option[String] = None): DataFrame = {
    import spark.implicits._
    import graft.sim.Similarity
    vecs.select(
        Similarity.hyperplaneBucket(col(vecCol), nPlanes).as("bucket"),
        col(idCol).cast("long").as("docId"),
        col(vecCol).as("vec"),
        Similarity.norm(col(vecCol)).as("nrm"))
      .as[BucketVec]
      .groupByKey(_.bucket)
      .flatMapGroupsWithState(OutputMode.Append,
        KeepFirst.timeout(ttl))(embeddingLshFn(threshold, ttl))
      .toDF("id_a", "id_b", "cos")
  }

  /** Bucket state for [[embeddingLshPairs]]: members with their vectors
    * and precomputed norms. Each fresh member is cosine-verified against
    * all current members; O(dims) per pair, pairs bounded by bucket size.
    */
  def embeddingLshFn(threshold: Double, ttl: Option[String])(
      bucket: Long, rows: Iterator[BucketVec],
      state: GroupState[Seq[(Long, Seq[Float], Double)]]): Iterator[CosPair] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    var members: Vector[(Long, Array[Float], Double)] =
      state.getOption.map(_.iterator.map { case (id, v, n) => (id, v.toArray, n) }.toVector)
        .getOrElse(Vector.empty)
    val seen = scala.collection.mutable.Set(members.map(_._1): _*)
    val fresh = rows.toSeq.sortBy(_.docId).iterator
      .filter(d => seen.add(d.docId)).toVector // drops in-batch redeliveries too
    val out = scala.collection.mutable.ArrayBuffer.empty[CosPair]
    fresh.foreach { d =>
      val dv = d.vec.toArray
      members.foreach { case (mid, mv, mn) =>
        var s = 0.0
        var i = 0
        while (i < dv.length) { s += dv(i).toDouble * mv(i).toDouble; i += 1 }
        val c = s / (mn * d.nrm)
        if (c >= threshold)
          out += CosPair(math.min(mid, d.docId), math.max(mid, d.docId), c)
      }
      members = members :+ ((d.docId, dv, d.nrm))
    }
    if (members.nonEmpty) {
      state.update(members.map { case (id, v, n) => (id, v.toSeq, n) })
      ttl.foreach(state.setTimeoutDuration)
    }
    out.iterator
  }

  case class ClusterUpdate(doc_id: Long, canonical: Long)

  /** Incremental TRANSITIVE cluster resolution over a verified-pair
    * stream — the streaming counterpart of
    * [[graft.dedup.Dedup.clusterLabels]] (and the cluster-level sibling
    * of [[keepFirst]]): the keeper of a near-dup cluster is the minimum
    * id seen so far in its connected component, and merges REVISE it.
    *
    * Emission contract (update semantics over an append stream): each
    * micro-batch emits (doc_id, canonical) for every doc whose canonical
    * CHANGED — new docs, and all members of a cluster absorbed into one
    * with a smaller keeper. Downstream keeps the latest row per doc;
    * folding the emissions in order reproduces the batch clusterLabels
    * mapping exactly (the parity StreamingSpec asserts this).
    *
    * State/scale: pairs are grouped to a SINGLE key holding a flat
    * doc → cluster-min map plus the per-cluster member lists — a
    * deliberate trade, stated plainly: the verified-pair stream is
    * orders of magnitude smaller than the document stream (only true
    * near-dups survive the jaccard gate), and transitive merges are
    * inherently cross-bucket, so no per-bucket keying can express them
    * in one stateful operator. Relabeling on merge costs
    * O(|absorbed cluster|) — exactly the rows that must be emitted
    * anyway, so the operator is emission-bound, not bookkeeping-bound.
    * `ttl` bounds state under the same idle-eviction contract as
    * [[keepFirst]]: a quiet corpus's cluster map expires as one unit and
    * later pairs restart clustering fresh.
    */
  def clusterKeepFirstFn(ttl: Option[String])(key: Int, rows: Iterator[(Long, Long)],
      state: GroupState[Seq[(Long, Long)]]): Iterator[ClusterUpdate] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    val canon = scala.collection.mutable.Map.empty[Long, Long] ++
      state.getOption.getOrElse(Seq.empty)
    val before = canon.toMap
    val members = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
    canon.foreach { case (doc, c) =>
      members.getOrElseUpdate(c, scala.collection.mutable.ArrayBuffer.empty) += doc
    }
    def ensure(id: Long): Long = canon.getOrElseUpdate(id, {
      members.getOrElseUpdate(id, scala.collection.mutable.ArrayBuffer.empty) += id
      id
    })
    // in-batch arrival order is nondeterministic → process pairs sorted,
    // like every other admission in this file
    rows.toSeq.sorted.foreach { case (a, b) =>
      val ca = ensure(a); val cb = ensure(b)
      if (ca != cb) {
        val keep = math.min(ca, cb); val drop = math.max(ca, cb)
        val moved = members.remove(drop).get
        moved.foreach(m => canon(m) = keep)
        members(keep) ++= moved
      }
    }
    val changed = canon.iterator
      .filter { case (doc, c) => !before.get(doc).contains(c) }
      .map { case (doc, c) => ClusterUpdate(doc, c) }
      .toArray.sortBy(_.doc_id)
    if (canon.nonEmpty) {
      state.update(canon.toSeq.sorted)
      ttl.foreach(state.setTimeoutDuration)
    }
    changed.iterator
  }

  /** Wire [[clusterKeepFirstFn]] over a streaming verified-pair frame
    * (`id_a`, `id_b` — e.g. the output of [[lshVerified]] /
    * [[lshVerifiedAgainst]]): emits one (doc_id, canonical) revision per
    * changed doc per micro-batch.
    */
  def clusterKeepFirst(spark: SparkSession, pairs: DataFrame,
                       ttl: Option[String] = None): DataFrame = {
    import spark.implicits._
    pairs
      .select(col("id_a").cast("long"), col("id_b").cast("long"))
      .as[(Long, Long)]
      .groupByKey(_ => 0)
      .flatMapGroupsWithState(OutputMode.Append, KeepFirst.timeout(ttl))(clusterKeepFirstFn(ttl))
      .toDF("doc_id", "canonical")
  }

  /** |a ∩ b| for two sorted long arrays — one linear merge pass. */
  private def sortedIntersectionSize(a: Array[Long], b: Array[Long]): Int = {
    var i = 0; var j = 0; var n = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { n += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    n
  }
}
