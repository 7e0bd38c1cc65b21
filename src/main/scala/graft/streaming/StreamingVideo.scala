package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, OutputMode}

/** Streaming counterpart of the VIDEO near-dup family
  * ([[graft.queries.DedupQueries]] `dedup_video_phash` /
  * `dedup_video_cluster`) — the fourth modality of the streaming
  * admission funnel (text, image, audio, video), completing the
  * [[StreamingImage]] stage layout for clip streams:
  *
  *   walk→signature ([[graft.multimodal.Multimodal.clipSignatures]],
  *   STATELESS — the whole y4m walk, per-frame dHash, and the clip md5
  *   happen inside one mapPartitions; payload bytes never shuffle) →
  *   [[sigKeepFirst]] (exact perceptual clip dups, state keyed by the
  *   STRING signature — one keeper long per distinct signature) →
  *   [[clipBandPairs]] (near-dup signature pairs by WHOLE-CLIP Hamming
  *   bands, state keyed by (band, whole-clip key)) →
  *   [[StreamingDedup.clusterKeepFirst]] (transitive canonical
  *   revision over numeric rep ids).
  *
  * The whole-clip band key is the batch construction exactly: for each
  * of 4 bands, the clip's sampled `frame_idx:14-bit-slice` pairs
  * concatenated in frame order — two clips collide only when the band
  * agrees across EVERY sampled frame, so by pigeonhole any pair with
  * identical frame sets and TOTAL Hamming ≤ 3 shares a bucket (≤ 3
  * differing bits cannot touch all 4 bands). Equal keys force equal
  * frame-index lists, so the in-bucket verify is a position-aligned
  * xor+bitCount sum — no join, no realignment.
  *
  * Scale/state: [[sigKeepFirst]] stores one long per DISTINCT clip
  * signature (exact-dup groups cost one entry however heavy); a
  * signature enters [[clipBandPairs]] state once per band (4 entries,
  * each the frame-hash list — O(frames) longs, not pixels). Both evict
  * idle state via the processing-time `ttl` contract shared with every
  * stateful operator in this family. StreamingVideoSpec drives the
  * stages across micro-batch boundaries and asserts membership parity
  * with the batch `dedup_video_cluster` resolution on the same corpus.
  */
object StreamingVideo {

  /** In-stream decode→signature: stateless, partition-local, emits
    * (asset_id, csig, frame_idxs, fhashes). Malformed payloads
    * quarantine (dropped) exactly as in batch.
    */
  def clipSignatures(spark: SparkSession, assets: DataFrame): DataFrame =
    graft.multimodal.Multimodal.clipSignatures(spark, assets).toDF()

  case class SigAsset(csig: String, assetId: Long)

  /** Exact perceptual keep-first keyed by the clip-signature string
    * ([[KeepFirst.keepFirstFn]]) over a streaming clip frame
    * (`asset_id`, `payload`): per signature the smallest id is the
    * keeper (the batch `min(asset_id)` rep election in the video
    * signature groups); emits one (asset_id, dup_of, csig) row per exact
    * perceptual duplicate clip.
    */
  def sigKeepFirst(spark: SparkSession, assets: DataFrame,
                   ttl: Option[String] = None): DataFrame = {
    import spark.implicits._
    clipSignatures(spark, assets)
      .select(col("csig"), col("asset_id").as("assetId"))
      .as[SigAsset]
      .groupByKey(_.csig)
      .flatMapGroupsWithState(OutputMode.Append, KeepFirst.timeout(ttl)) {
        (sig: String, rows: Iterator[SigAsset], s: GroupState[Long]) =>
          KeepFirst.keepFirstFn(ttl, (_: SigAsset).assetId)(sig, rows, s).map { case (i, k) => (i, k, sig) }
      }
      .toDF("asset_id", "dup_of", "csig")
  }

  case class BandedClip(band: Long, bkey: String, csig: String, fhashes: Seq[Long])
  case class ClipPair(sig_a: String, sig_b: String, n_aligned: Long,
                      total_hamming: Long)

  /** Streaming whole-clip Hamming-banded near-dup pairs over a
    * DISTINCT-signature stream (feed it [[sigKeepFirst]]-admitted first
    * occurrences with their frame data): each arriving clip lands in
    * its 4 (band, whole-clip-key) buckets and is verified
    * position-aligned against every bucket member, emitting
    * (sig_a, sig_b, n_aligned, total_hamming) with `sig_a < sig_b` for
    * pairs with total Hamming ≤ `maxTotalHamming` over ≥ `minAligned`
    * aligned frames — the batch `dedup_video_phash` verify criterion.
    * A pair colliding in several bands emits once per band with
    * identical values (deduplicate downstream, like the batch
    * `.distinct()`).
    */
  def clipBandPairs(spark: SparkSession, sigs: DataFrame,
                    nBands: Int = 4, bitsPerBand: Int = 14,
                    maxTotalHamming: Long = 3L, minAligned: Long = 2L,
                    ttl: Option[String] = None): DataFrame = {
    require(nBands > 0 && bitsPerBand > 0 && nBands * bitsPerBand <= 63,
      s"band layout must fit a positive BIGINT, got $nBands x $bitsPerBand")
    import spark.implicits._
    val mask = (1L << bitsPerBand) - 1
    sigs
      .select(col("csig"), col("frame_idxs"), col("fhashes"))
      .as[(String, Seq[Long], Seq[Long])]
      .flatMap { case (csig, idxs, hashes) =>
        (0 until nBands).map { b =>
          val bkey = idxs.zip(hashes)
            .map { case (i, h) => s"$i:${(h >> (b * bitsPerBand)) & mask}" }
            .mkString(",")
          BandedClip(b.toLong, bkey, csig, hashes)
        }
      }
      .groupByKey(c => (c.band, c.bkey))
      .flatMapGroupsWithState(OutputMode.Append,
        KeepFirst.timeout(ttl))(
        clipBandPairsFn(maxTotalHamming, minAligned, ttl))
      .toDF("sig_a", "sig_b", "n_aligned", "total_hamming")
  }

  /** Bucket state for [[clipBandPairs]]: members as (csig, frame-hash
    * list). Equal bucket keys guarantee equal frame-index lists, so the
    * verify is one xor+bitCount pass over aligned positions.
    */
  def clipBandPairsFn(maxTotalHamming: Long, minAligned: Long, ttl: Option[String])(
      bucket: (Long, String), rows: Iterator[BandedClip],
      state: GroupState[Seq[(String, Seq[Long])]]): Iterator[ClipPair] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    val members = state.getOption.getOrElse(Seq.empty)
    val known = members.map(_._1).toSet
    val fresh = rows.map(c => c.csig -> c.fhashes).toSeq
      .distinctBy(_._1).sortBy(_._1)
      .filterNot { case (sig, _) => known.contains(sig) }
    val out = scala.collection.mutable.ArrayBuffer.empty[ClipPair]
    for {
      ((sig, hs), idx) <- fresh.iterator.zipWithIndex
      (msig, mhs) <- members.iterator ++ fresh.iterator.take(idx)
    } {
      val n = math.min(hs.size, mhs.size)
      var total = 0L
      var i = 0
      while (i < n) {
        total += java.lang.Long.bitCount(hs(i) ^ mhs(i))
        i += 1
      }
      if (total <= maxTotalHamming && n >= minAligned) {
        val (a, b) = if (sig < msig) (sig, msig) else (msig, sig)
        out += ClipPair(a, b, n.toLong, total)
      }
    }
    if (fresh.nonEmpty || members.nonEmpty) {
      state.update((members ++ fresh).sortBy(_._1))
      ttl.foreach(state.setTimeoutDuration)
    }
    out.iterator
  }
}
