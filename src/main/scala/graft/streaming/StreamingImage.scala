package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, OutputMode}

/** Streaming counterpart of the IMAGE near-dup family
  * ([[graft.queries.DedupQueries]] `dedup_image_phash` /
  * `dedup_image_cluster`): a multimodal ingest pipeline dedups images
  * CONTINUOUSLY — each arriving image is decoded and perceptually
  * hashed in-stream, exact perceptual duplicates (identical 56-bit
  * dHash: BMP vs PNG re-encodes of the same raster) are resolved by
  * keyed keep-first admission, and near-duplicates (Hamming ≤ 6) are
  * found by the same 8-band × 7-bit pigeonhole banding the batch
  * pipeline uses, verified in-operator by `Long.bitCount`.
  *
  * Stage layout mirrors the batch `imageShared` relation exactly:
  *
  *   decode→dHash (STATELESS — [[graft.multimodal.Multimodal.dhash56]]'s
  *   mapPartitions runs unchanged on a streaming frame; payload bytes
  *   never shuffle) → [[phashKeepFirst]] (exact groups, state keyed by
  *   hash) → [[phashBandPairs]] (near-dup hash pairs, state keyed by
  *   (band, bkey)) → [[StreamingDedup.clusterKeepFirst]] (transitive
  *   canonical revision).
  *
  * Spark disallows chaining two flatMapGroupsWithState operators inside
  * one streaming query, so the stages are separate queries wired through
  * a durable intermediate (Kafka / Delta / files) in production — the
  * same decomposition the batch pipeline's persisted `hashes`/`grp`/
  * `pairs` frames make explicit. StreamingSpec drives each stage over
  * micro-batch boundaries and asserts membership parity with the batch
  * `dedup_image_cluster` resolution on the same corpus.
  *
  * Scale/state: [[phashKeepFirst]] stores ONE long per distinct
  * perceptual hash (not per image — a heavy exact-dup group costs one
  * entry); [[phashBandPairs]] stores each DISTINCT hash once per band
  * (8 longs), the same "band quadratic only within a colliding bucket"
  * bound as the batch join, and hashes only enter it on first admission
  * so exact-dup groups never re-expand. Both evict idle state via the
  * processing-time `ttl` under the retention contract every stateful
  * operator in [[StreamingDedup]] uses.
  */
object StreamingImage {

  /** Decode→dHash a streaming asset frame (`asset_id`, `payload`):
    * stateless, partition-local, emits (asset_id, phash). Undecodable
    * payloads quarantine (dropped) exactly as in batch.
    */
  def phashes(spark: SparkSession, assets: DataFrame): DataFrame =
    graft.multimodal.Multimodal.dhash56(spark, assets).toDF()

  case class PhAsset(phash: Long, assetId: Long)

  /** Keyed keep-first ([[KeepFirst.keepFirstFn]]) over ANY streaming
    * (id, 64-bit-hash) relation — the admission stage shared by every
    * perceptual-hash modality (image dHash, audio amplitude dHash; the
    * video clip signature is a string — [[StreamingVideo.sigKeepFirst]]
    * is its string-keyed twin). Per hash the smallest id is the keeper
    * (the batch `min(asset_id)` keeper election in `imageShared.grp`);
    * emits (asset_id, dup_of, hash) per exact duplicate. `ttl` bounds
    * state per the idle-eviction contract.
    */
  def hashKeepFirst(spark: SparkSession, hashed: DataFrame,
                    hashCol: String, idCol: String,
                    ttl: Option[String] = None): DataFrame = {
    import spark.implicits._
    hashed
      .select(col(hashCol).cast("long").as("phash"), col(idCol).cast("long").as("assetId"))
      .as[PhAsset]
      .groupByKey(_.phash)
      .flatMapGroupsWithState(OutputMode.Append, KeepFirst.timeout(ttl)) {
        (h: Long, rows: Iterator[PhAsset], s: GroupState[Long]) =>
          KeepFirst.keepFirstFn(ttl, (_: PhAsset).assetId)(h, rows, s).map { case (i, k) => (i, k, h) }
      }
      .toDF("asset_id", "dup_of", "phash")
  }

  /** Wire decode→hash→[[hashKeepFirst]] over a streaming asset frame:
    * emits one (asset_id, dup_of, phash) row per exact perceptual
    * duplicate detected.
    */
  def phashKeepFirst(spark: SparkSession, assets: DataFrame,
                     ttl: Option[String] = None): DataFrame =
    hashKeepFirst(spark, phashes(spark, assets), "phash", "asset_id", ttl)

  /** The AUDIO modality through the same stages: in-stream RIFF walk →
    * 56-bit amplitude dHash ([[graft.multimodal.Multimodal.audioDhashes]],
    * stateless mapPartitions — runs unchanged on a stream) → keyed
    * keep-first admission. Near-dup pairs compose downstream via
    * [[phashBandPairs]] with the audio band layout (4 × 14-bit,
    * maxHamming 3 — the batch `dedup_audio_phash` parameters).
    */
  def ahashKeepFirst(spark: SparkSession, assets: DataFrame,
                     ttl: Option[String] = None): DataFrame =
    hashKeepFirst(spark,
      graft.multimodal.Multimodal.audioDhashes(spark, assets).toDF(),
      "ahash", "asset_id", ttl)

  case class BandedHash(band: Long, bkey: Long, phash: Long)
  case class HashPair(phash_a: Long, phash_b: Long, hamming: Long)

  /** Streaming Hamming-banded near-dup pairs over a DISTINCT-hash stream
    * (feed it [[phashKeepFirst]]'s admitted first occurrences, or any
    * deduplicated hash relation): each arriving hash lands in its
    * `nBands` (band, 7-bit slice) buckets — the identical band layout to
    * the batch [[graft.dedup.Dedup.hammingBandPairs]], so by pigeonhole
    * every pair within total distance < nBands shares a bucket — and the
    * per-bucket member state verifies the newcomer against every
    * existing member by exact `Long.bitCount`, emitting
    * (phash_a, phash_b, hamming) with `phash_a < phash_b` for pairs at
    * or below `maxHamming`.
    *
    * A pair colliding in several bands is emitted once per band with
    * identical values (deduplicate downstream, like the batch form's
    * `.distinct()`). Admission per micro-batch is sorted/deduplicated
    * like every stateful operator in this family; `ttl` evicts idle
    * buckets.
    */
  def phashBandPairs(spark: SparkSession, hashes: DataFrame,
                     nBands: Int = 8, bitsPerBand: Int = 7,
                     maxHamming: Int = 6,
                     ttl: Option[String] = None,
                     hashCol: String = "phash"): DataFrame = {
    require(nBands > 0 && bitsPerBand > 0 && nBands * bitsPerBand <= 63,
      s"band layout must fit a positive BIGINT, got $nBands x $bitsPerBand")
    import spark.implicits._
    val mask = (1L << bitsPerBand) - 1
    hashes
      .select(col(hashCol).cast("long").as("phash"))
      .withColumn("band", explode(sequence(lit(0L), lit(nBands - 1L))))
      .select(col("band"),
        expr(s"shiftright(phash, CAST(band * $bitsPerBand AS INT))")
          .bitwiseAND(mask).as("bkey"),
        col("phash"))
      .as[BandedHash]
      .groupByKey(h => (h.band, h.bkey))
      .flatMapGroupsWithState(OutputMode.Append,
        KeepFirst.timeout(ttl))(bandPairsFn(maxHamming, ttl))
      .toDF("phash_a", "phash_b", "hamming")
  }

  /** Bucket state for [[phashBandPairs]]: the sorted member-hash array
    * (binary-search membership, one-pass merge — the
    * [[StreamingDedup.lshCandidatesFn]] treatment). Each fresh hash is
    * Hamming-verified against all current members in-operator — the
    * verify is a single xor+bitCount, so unlike the text pipeline there
    * is no reason to defer it past the bucket.
    */
  def bandPairsFn(maxHamming: Int, ttl: Option[String])(
      bucket: (Long, Long), rows: Iterator[BandedHash],
      state: GroupState[Seq[Long]]): Iterator[HashPair] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    val members: Array[Long] = state.getOption.map(_.toArray).getOrElse(Array.empty)
    val fresh = rows.map(_.phash).toSeq.distinct.sorted
      .filter(h => java.util.Arrays.binarySearch(members, h) < 0)
    val out = scala.collection.mutable.ArrayBuffer.empty[HashPair]
    for {
      (h, idx) <- fresh.iterator.zipWithIndex
      m <- members.iterator ++ fresh.iterator.take(idx)
    } {
      val d = java.lang.Long.bitCount(m ^ h)
      if (d <= maxHamming)
        out += HashPair(math.min(m, h), math.max(m, h), d.toLong)
    }
    if (fresh.nonEmpty || members.nonEmpty) {
      state.update((members ++ fresh).sorted.toSeq)
      ttl.foreach(state.setTimeoutDuration)
    }
    out.iterator
  }
}
