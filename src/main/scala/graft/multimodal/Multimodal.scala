package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.reflect.runtime.universe.TypeTag

/** Multimodal-column plumbing: opaque `binary` payloads with typed
  * metadata, processed in partition-local batches.
  *
  * Header decode is REAL: [[parseImageHeader]] reads PNG IHDR
  * (width/height/bit-depth/color-type) and JPEG SOFn (precision/
  * dimensions/components) from the payload bytes in pure Scala — byte
  * arithmetic only, no codec library — including a proper JPEG marker
  * scan (fill bytes, standalone markers, variable-length APPn/COM
  * segments before the SOF). Pixel decode is ALSO real:
  * [[decodePixels]] runs `javax.imageio.ImageIO` (ships in the JDK —
  * BMP/PNG/JPEG/GIF readers, no external codec needed) inside the same
  * `mapPartitions`-batched execution shape (the Scala analog of
  * `mapInPandas`: one iterator per partition, batch-amortized setup, no
  * per-row codec init). Payload bytes stay partition-local; features
  * detach from payloads before any wide operation.
  *
  * One walk per container owns its quarantine contract (which payloads
  * are admitted, which are dropped), and every consumer is a body passed
  * to it:
  *  - [[walkWav]]: the RIFF/WAVE chunk walk, up to the PCM-16 `data`
  *    chunk ([[decodeWav]], [[audioDhashes]], [[audioEntropy]]);
  *  - [[decodeImages]]: the per-partition ImageIO decode
  *    ([[decodePixels]], [[resizePixels]], [[dhash56]], [[imageEntropy]]);
  *  - [[walkY4mMono]]: the mono YUV4MPEG2 frame walk ([[sampleFrames]],
  *    [[frameDhashes]], [[clipSignatures]], [[videoEntropy]]).
  * Every decoder enters through [[perPartition]] and every synthetic corpus
  * through [[generated]].
  */
object Multimodal {

  /** Schema contract for a multimodal asset table. */
  val assetSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("media_type", StringType, nullable = false),
    StructField("meta", StructType(Seq(
      StructField("n_bytes", LongType, nullable = false),
      StructField("source", StringType, nullable = true),
    )), nullable = false),
  ))

  /** Wrap a text table as a binary asset table (the test stand-in for
    * real media bytes): payload = UTF-8 bytes of `text`.
    */
  def assetsFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("asset_id"),
      col("text").cast("binary").as("payload"),
      lit("text/plain").as("media_type"),
      struct(length(col("text").cast("binary")).cast("long").as("n_bytes"),
        col("source").as("source")).as("meta"))

  /** The decoder entry: `(asset_id, payload)` rows, one iterator per
    * partition (`batch` may set up per-partition state before it maps).
    */
  private def perPartition[T <: Product : TypeTag](spark: SparkSession, assets: DataFrame)(
      batch: Iterator[(Long, Array[Byte])] => Iterator[T]): Dataset[T] = {
    import spark.implicits._
    assets.select(col("asset_id"), col("payload")).as[(Long, Array[Byte])].mapPartitions(batch)
  }

  /** [[perPartition]] with a per-asset body: each payload yields zero
    * (quarantined) or more rows.
    */
  private def perAsset[T <: Product : TypeTag](spark: SparkSession, assets: DataFrame)(
      body: (Long, Array[Byte]) => IterableOnce[T]): Dataset[T] =
    perPartition(spark, assets)(_.flatMap { case (id, bytes) => body(id, bytes) })

  /** A synthetic `(asset_id, payload)` corpus from `docs.doc_id`; `batch`
    * maps one partition's ids to payload rows.
    */
  private def generated(spark: SparkSession, docs: DataFrame)(
      batch: Iterator[Long] => Iterator[(Long, Array[Byte])]): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions(batch).toDF("asset_id", "payload")
  }

  /** The quantized entropy core Σ round(k·ln k·10⁴) over a histogram's
    * counts (bins holding 0 or 1 add nothing), summed in bin order.
    */
  private def entropySumE4(hist: Array[Int]): Long = {
    var acc = 0L
    var c = 0
    while (c < hist.length) {
      val k = hist(c)
      if (k > 1) acc += Math.round(k * Math.log(k) * 10000.0)
      c += 1
    }
    acc
  }

  // ------------------------------------------------------------------
  // Real header decode: PNG IHDR + JPEG SOFn, pure byte arithmetic
  // ------------------------------------------------------------------

  private val PngSig: Array[Int] = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)

  /** SOFn marker codes carrying frame dimensions: C0–CF minus DHT (C4),
    * JPG-extension (C8) and DAC (CC).
    */
  private def isSof(m: Int): Boolean =
    m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc

  /** Parse an image header from raw payload bytes. Returns
    * `(format, width, height, bitDepth, color)` where for PNG `bitDepth`
    * is the IHDR bit-depth byte and `color` the color-type byte, and for
    * JPEG `bitDepth` is the SOF sample precision and `color` the
    * component count. `None` for anything that isn't a well-formed
    * PNG/JPEG prefix (truncated, corrupt, or other media).
    *
    * PNG: 8-byte signature, then the IHDR chunk is REQUIRED first
    * (www.w3.org/TR/png-3 §5.6) — width/height as big-endian u32 at
    * offsets 16/20, bit-depth/color-type bytes at 24/25.
    *
    * JPEG: SOI (FFD8), then a marker scan — any number of fill bytes
    * (FF) before a marker code, standalone markers (TEM, RSTn, SOI)
    * skipped, EOI/SOS terminate, every other segment skipped via its
    * big-endian u16 length (which counts itself), until an SOFn frame
    * header: precision byte, height u16, width u16, component count.
    */
  def parseImageHeader(bytes: Array[Byte]): Option[(String, Int, Int, Int, Int)] = {
    if (bytes == null) return None
    def u8(i: Int): Int = bytes(i) & 0xff
    def be16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    def be32(i: Int): Int = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    val n = bytes.length
    if (n >= 26 && (0 until 8).forall(i => u8(i) == PngSig(i)) &&
        u8(12) == 'I' && u8(13) == 'H' && u8(14) == 'D' && u8(15) == 'R') {
      Some(("png", be32(16), be32(20), u8(24), u8(25)))
    } else if (n >= 4 && u8(0) == 0xff && u8(1) == 0xd8) {
      var pos = 2
      while (pos + 1 < n) {
        if (u8(pos) != 0xff) return None // lost marker sync: corrupt stream
        var p = pos
        while (p < n && u8(p) == 0xff) p += 1 // skip fill bytes
        if (p >= n) return None
        val m = u8(p)
        if (isSof(m)) {
          // segment: len u16 at p+1, precision p+3, height p+4, width p+6, ncomp p+8
          if (p + 8 >= n || be16(p + 1) < 8) return None
          return Some(("jpeg", be16(p + 6), be16(p + 4), u8(p + 3), u8(p + 8)))
        } else if (m == 0x01 || (m >= 0xd0 && m <= 0xd8)) {
          pos = p + 1 // standalone marker, no length field
        } else if (m == 0xd9 || m == 0xda) {
          return None // EOI / entropy-coded data before any SOF
        } else {
          if (p + 2 >= n) return None
          val segLen = be16(p + 1)
          if (segLen < 2) return None
          pos = p + 1 + segLen
        }
      }
      None
    } else None
  }

  case class ImageHeader(asset_id: Long, format: String, width: Long, height: Long,
                         bit_depth: Long, color: Long)

  /** Batched header decode over an asset table: the real (non-stub) part
    * of the decode stage. Same execution shape as a full decoder —
    * payload bytes stay partition-local, one iterator per partition —
    * but needs only byte arithmetic. Rows whose payload is not a
    * well-formed PNG/JPEG are dropped (a production run would route them
    * to a quarantine sink instead).
    */
  def decodeHeaders(spark: SparkSession, assets: DataFrame): Dataset[ImageHeader] =
    perAsset(spark, assets) { (id, bytes) =>
      parseImageHeader(bytes).map { case (f, w, h, d, c) =>
        ImageHeader(id, f, w.toLong, h.toLong, d.toLong, c.toLong)
      }
    }

  /** Deterministic synthetic image payloads derived from `doc_id` — the
    * test stand-in for real media bytes (this container ships no image
    * corpus): even ids become a PNG (signature + IHDR + fake CRC), odd
    * ids a JPEG (SOI, an APP0 whose length VARIES with the id so the
    * marker scan is genuinely exercised at shifting offsets, SOF0, EOI).
    * Built entirely from hex-string expressions + `unhex` so a SQL
    * oracle can construct the identical bytes and extract the same
    * fields by the same byte arithmetic.
    */
  def syntheticImagePayloads(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val w = (id % 997 + 1).cast("long")
    val h = (id % 499 + 1).cast("long")
    val pngHex = concat(
      lit("89504E470D0A1A0A"), // signature
      lit("0000000D"), lit("49484452"), // IHDR length + type
      lpad(hex(w), 8, "0"), lpad(hex(h), 8, "0"),
      lit("0806000000"), // bit-depth 8, color-type 6, comp/filter/interlace
      lit("00000000")) // fake CRC
    // APP0 payload length varies 6..14 bytes with the id
    val app0Pay = (id % 5) * 2 + 6
    val jpegHex = concat(
      lit("FFD8"), lit("FFE0"), lpad(hex(app0Pay + 2), 4, "0"),
      expr("repeat('00', cast(doc_id % 5 as int) * 2 + 6)"),
      lit("FFC0"), lit("0011"), lit("08"),
      lpad(hex(h), 4, "0"), lpad(hex(w), 4, "0"),
      lit("03"), lit("012200"), lit("021101"), lit("031101"),
      lit("FFD9"))
    docs.select(id.as("asset_id"),
      unhex(when(id % 2 === 0, pngHex).otherwise(jpegHex)).as("payload"))
  }

  // ------------------------------------------------------------------
  // Real pixel decode: javax.imageio over uncompressed BMP / PNG / JPEG
  // ------------------------------------------------------------------

  /** Encode a 24-bit uncompressed BMP (BITMAPINFOHEADER, bottom-up rows,
    * BGR byte order, rows zero-padded to 4-byte boundaries). `px(x, y)`
    * returns (r, g, b) for the pixel at column x, row y with y = 0 the
    * TOP row — the same orientation `BufferedImage.getRGB` reads back,
    * so generator formula and decoded stats line up coordinate-for-
    * coordinate. Pure offset arithmetic: a SQL oracle can recompute any
    * per-pixel statistic from the same (x, y) formula without parsing
    * bytes at all.
    */
  def bmp24(w: Int, h: Int, px: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    require(w > 0 && h > 0, s"bmp24 needs positive dims, got ${w}x$h")
    val rowSize = (w * 3 + 3) / 4 * 4
    val dataSize = rowSize * h
    val out = new Array[Byte](54 + dataSize)
    def le16(o: Int, v: Int): Unit = {
      out(o) = (v & 0xff).toByte; out(o + 1) = ((v >> 8) & 0xff).toByte
    }
    def le32(o: Int, v: Int): Unit = { le16(o, v & 0xffff); le16(o + 2, v >>> 16) }
    out(0) = 'B'; out(1) = 'M'
    le32(2, 54 + dataSize) // file size
    le32(10, 54)           // pixel-data offset
    le32(14, 40)           // BITMAPINFOHEADER size
    le32(18, w); le32(22, h) // positive height = bottom-up row order
    le16(26, 1); le16(28, 24) // planes, bits per pixel
    le32(30, 0)            // BI_RGB: uncompressed
    le32(34, dataSize)
    le32(38, 2835); le32(42, 2835) // 72 dpi in px/metre
    var row = 0
    while (row < h) {
      val y = h - 1 - row // stored bottom-up
      val off = 54 + row * rowSize
      var x = 0
      while (x < w) {
        val (r, g, b) = px(x, y)
        out(off + x * 3) = b.toByte
        out(off + x * 3 + 1) = g.toByte
        out(off + x * 3 + 2) = r.toByte
        x += 1
      }
      row += 1
    }
    out
  }

  /** Encode a truecolor (8-bit RGB) PNG with STORED deflate blocks: PNG
    * signature, IHDR, one IDAT whose zlib stream uses uncompressed
    * (BTYPE=00) deflate blocks, IEND. Every byte is closed-form — the
    * scanlines (filter byte 0 + RGB triples) pass through the "deflate"
    * verbatim, and the only non-trivial fields (CRC-32 per chunk,
    * Adler-32 in the zlib trailer) are fully-determined checksums — so
    * the payload is as oracle-friendly as [[bmp24]] while exercising the
    * container format real corpora actually use. Same orientation
    * contract as bmp24: `px(x, y)` with y = 0 the top row (PNG stores
    * top-down natively). Lossless by construction; JPEG is deliberately
    * NOT generated here — its decode is implementation-defined lossy,
    * which cannot be locked to an exact-integer oracle.
    */
  def pngRgb24(w: Int, h: Int, px: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    require(w > 0 && h > 0, s"pngRgb24 needs positive dims, got ${w}x$h")
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    def be32(v: Long): Array[Byte] =
      Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def chunk(tag: String, data: Array[Byte]): Unit = {
      bos.write(be32(data.length.toLong))
      val tagged = tag.getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++ data
      bos.write(tagged)
      val crc = new java.util.zip.CRC32()
      crc.update(tagged)
      bos.write(be32(crc.getValue))
    }
    chunk("IHDR", be32(w.toLong) ++ be32(h.toLong) ++
      Array[Byte](8 /*bit depth*/, 2 /*truecolor*/, 0, 0, 0))
    // raw scanlines: per row one filter byte (0 = None) + w RGB triples
    val raw = new Array[Byte](h * (1 + w * 3))
    var y = 0
    while (y < h) {
      val off = y * (1 + w * 3)
      raw(off) = 0
      var x = 0
      while (x < w) {
        val (r, g, b) = px(x, y)
        raw(off + 1 + x * 3) = r.toByte
        raw(off + 2 + x * 3) = g.toByte
        raw(off + 3 + x * 3) = b.toByte
        x += 1
      }
      y += 1
    }
    // zlib: CMF/FLG 0x78 0x01, stored deflate blocks (≤ 65535 bytes
    // each; tiny test rasters fit in one), Adler-32 trailer
    val z = new java.io.ByteArrayOutputStream()
    z.write(0x78); z.write(0x01)
    var p = 0
    while (p < raw.length) {
      val len = math.min(65535, raw.length - p)
      z.write(if (p + len >= raw.length) 1 else 0) // BFINAL + BTYPE=00
      z.write(len & 0xff); z.write((len >> 8) & 0xff)
      z.write(~len & 0xff); z.write((~len >> 8) & 0xff)
      z.write(raw, p, len)
      p += len
    }
    val adler = new java.util.zip.Adler32()
    adler.update(raw)
    z.write(be32(adler.getValue))
    chunk("IDAT", z.toByteArray)
    chunk("IEND", Array.emptyByteArray)
    bos.toByteArray
  }

  /** The shared closed-form pixel formula for synthetic image payloads —
    * ONE definition consumed by both container encoders and mirrored in
    * the multimodal_pixels / multimodal_resize oracles.
    */
  @inline private def imgPx(id: Long)(x: Int, y: Int): (Int, Int, Int) = (
    ((id + 13L * x + 31L * y) % 256).toInt,
    ((2L * id + 7L * x + 3L * y) % 256).toInt,
    ((5L * id + 11L * x + 17L * y) % 256).toInt)

  /** Deterministic synthetic BMP payloads from `doc_id`: small 24-bit
    * images (2..8 × 2..6) whose pixel channels are closed-form functions
    * of (id, x, y) — so a SQL oracle computes the exact per-image pixel
    * statistics from `generate_series` without touching bytes, while the
    * Spark side decodes the REAL bytes through ImageIO.
    */
  def syntheticBmpPayloads(spark: SparkSession, docs: DataFrame): DataFrame =
    generated(spark, docs)(_.map { id =>
      val w = (id % 7 + 2).toInt
      val h = (id % 5 + 2).toInt
      (id, bmp24(w, h, imgPx(id)))
    })

  /** [[syntheticBmpPayloads]] widened to the format mix a real corpus
    * has: even ids stay 24-bit BMP, odd ids become truecolor PNG
    * ([[pngRgb24]]) — same dims, same closed-form channels, so every
    * oracle over the pixel formula holds UNCHANGED while the decode path
    * exercises both containers (PNG being what image corpora
    * overwhelmingly ship).
    */
  def syntheticPixelPayloads(spark: SparkSession, docs: DataFrame): DataFrame =
    generated(spark, docs)(_.map { id =>
      val w = (id % 7 + 2).toInt
      val h = (id % 5 + 2).toInt
      (id, if (id % 2 == 0) bmp24(w, h, imgPx(id)) else pngRgb24(w, h, imgPx(id)))
    })

  // ------------------------------------------------------------------
  // Real audio decode: RIFF/WAV PCM-16 chunk walk, pure byte arithmetic
  // (PCM "decode" IS byte arithmetic — no codec library exists to need)
  // ------------------------------------------------------------------

  /** Encode a mono 16-bit PCM WAV: RIFF header, `fmt ` chunk, a LIST/INFO
    * chunk of `infoBytes` junk payload placed BEFORE `data` (odd sizes
    * exercise the RIFF pad rule and shift the data offset, so the decoder
    * must genuinely walk chunks), then the samples as little-endian s16.
    */
  def wavPcm16Mono(sampleRate: Int, samples: Array[Short], infoBytes: Int = 0): Array[Byte] = {
    val listPayload = 4 + infoBytes // "INFO" + junk
    val listTotal = 8 + listPayload + (listPayload & 1) // header + payload + pad
    val dataSize = samples.length * 2
    val riffSize = 4 + (8 + 16) + listTotal + 8 + dataSize
    val out = new Array[Byte](8 + riffSize)
    var o = 0
    def tag(s: String): Unit = { s.foreach { ch => out(o) = ch.toByte; o += 1 } }
    def le16(v: Int): Unit = { out(o) = (v & 0xff).toByte; out(o + 1) = ((v >> 8) & 0xff).toByte; o += 2 }
    def le32(v: Int): Unit = { le16(v & 0xffff); le16(v >>> 16) }
    tag("RIFF"); le32(riffSize); tag("WAVE")
    tag("fmt "); le32(16)
    le16(1) // PCM
    le16(1) // mono
    le32(sampleRate)
    le32(sampleRate * 2) // byte rate
    le16(2) // block align
    le16(16) // bits per sample
    tag("LIST"); le32(listPayload); tag("INFO")
    o += infoBytes + (listPayload & 1) // junk + pad stay zero
    tag("data"); le32(dataSize)
    samples.foreach(s => le16(s & 0xffff))
    out
  }

  /** Deterministic synthetic WAV payloads from `doc_id`: 10..59 mono
    * PCM-16 samples whose values are a closed-form function of (id, i),
    * at one of three sample rates, with an id-varying LIST chunk length
    * so the data chunk lands at shifting (sometimes odd-padded) offsets.
    * A SQL oracle recomputes every sample statistic from the formula; the
    * Spark side walks the REAL bytes.
    */
  def syntheticWavPayloads(spark: SparkSession, docs: DataFrame): DataFrame =
    generated(spark, docs)(_.map { id =>
      val n = (id % 50 + 10).toInt
      val rate = (8000 + (id % 3) * 4000).toInt
      val samples = Array.tabulate(n)(i =>
        ((id * 31 + i.toLong * 17) % 65536 - 32768).toShort)
      (id, wavPcm16Mono(rate, samples, infoBytes = (id % 7).toInt))
    })

  case class AudioStats(asset_id: Long, sample_rate: Long, n_channels: Long,
                        n_samples: Long, sum_s: Long, sum_abs: Long,
                        min_s: Long, max_s: Long, mean_s: Double)

  /** REAL WAV decode: walk the RIFF chunk list (arbitrary chunks before
    * `data`, sizes padded to even per the RIFF spec), read the PCM format
    * from `fmt `, and reduce the interleaved s16 samples to exact integer
    * stats (sum, sum of |s|, min, max) plus the derived mean — one IEEE
    * division on exact integers, bit-equal cross-engine. Only
    * uncompressed PCM-16 is admitted; anything else (float WAV, ADPCM,
    * truncated/corrupt chunks) is dropped under [[walkWav]]'s
    * quarantine contract. Batched per partition like every decode here.
    */
  def decodeWav(spark: SparkSession, assets: DataFrame): Dataset[AudioStats] =
    perAsset(spark, assets)(parseWav)

  /** The RIFF/WAVE chunk walk, and the one definition of the WAV
    * quarantine contract: a payload of at least 44 bytes tagged
    * `RIFF`…`WAVE`, chunks walked in order (sizes padded to even, per the
    * RIFF spec), no chunk running past the payload, a `fmt ` chunk of at
    * least 16 bytes before the first `data` chunk, and uncompressed PCM-16
    * with at least one channel. `data` gets
    * `(sampleRate, channels, dataOffset, dataSize)` and applies its own
    * channel and sample-count rule; anything else is None.
    */
  private def walkWav[T](b: Array[Byte])(data: (Long, Int, Int, Long) => Option[T]): Option[T] = {
    if (b == null || b.length < 44) return None
    def tag(i: Int) = new String(b, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
    def le32(i: Int) = (le16(b, i) | (le16(b, i + 2) << 16)).toLong & 0xffffffffL
    if (tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var pos = 12
    var fmt: Option[(Int, Int, Long, Int)] = None // (audioFormat, channels, rate, bits)
    while (pos + 8 <= b.length) {
      val id4 = tag(pos)
      val size = le32(pos + 4)
      val body = pos + 8
      if (body + size > b.length) return None // truncated chunk
      id4 match {
        case "fmt " =>
          if (size < 16) return None
          fmt = Some((le16(b, body), le16(b, body + 2), le32(body + 4), le16(b, body + 14)))
        case "data" =>
          val (audioFmt, ch, rate, bits) = fmt.getOrElse(return None)
          if (audioFmt != 1 || bits != 16 || ch < 1) return None // PCM-16 only
          return data(rate, ch, body, size)
        case _ => () // LIST/INFO/fact/...: skip
      }
      pos = body + size.toInt + (size & 1).toInt // chunks pad to even
    }
    None
  }

  /** Unsigned little-endian 16-bit field at `i`. */
  private def le16(b: Array[Byte], i: Int): Int = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)

  /** Signed 16-bit PCM sample at byte offset `i`. */
  private def s16(b: Array[Byte], i: Int): Int = le16(b, i).toShort.toInt

  /** Multi-channel audio is admitted; the data must hold at least one
    * sample and whole frames.
    */
  private[multimodal] def parseWav(id: Long, b: Array[Byte]): Option[AudioStats] =
    walkWav(b) { (rate, ch, body, size) =>
      val n = (size / 2).toInt
      if (n == 0 || size % (2L * ch) != 0) None
      else {
        var sum = 0L; var sabs = 0L
        var mn = Long.MaxValue; var mx = Long.MinValue
        var i = 0
        while (i < n) {
          val s = s16(b, body + 2 * i).toLong
          sum += s; sabs += math.abs(s)
          if (s < mn) mn = s
          if (s > mx) mx = s
          i += 1
        }
        Some(AudioStats(id, rate, ch.toLong, n.toLong / ch, sum, sabs, mn, mx, sum.toDouble / n))
      }
    }

  /** [[syntheticWavPayloads]]' shape WITH PLANTED NEAR-DUP CLIPS for
    * the audio dedup path: assets whose `doc_id % 10 == 3` are
    * PERTURBED REPLICAS of `doc_id - 1`'s clip — same sample count,
    * rate and sample formula, plus +7000 folded into the FIRST
    * sample's closed form (a re-encode/level-shift stand-in). The bump
    * rides INSIDE the `% 65536` reduction so JVM arithmetic and the
    * oracle's integer arithmetic wrap identically (the
    * dedup_video_phash byte lesson applied to s16). Two deliberate
    * departures from the stats corpus, both the video generator's
    * entropy lesson:
    *
    *  - samples are a MIDDLE-SQUARE mix of the linear phase
    *    (`v = (rep·31 + i·17) % 2¹⁶`, `s = (v²/7 + v·13) % 2¹⁶ −
    *    2¹⁵`) — the linear form steps 17/65536 per sample, whose
    *    near-monotone |envelope| collapsed 500 clips to FOUR distinct
    *    fingerprints (measured);
    *  - clips are 57..106 samples so every one of the fingerprint's 57
    *    grid points maps to a DISTINCT sample: clips shorter than the
    *    grid share length-determined forced-zero bits, and the n=10
    *    cohort (9 free bits) alone produced ~1000 false candidate
    *    pairs at 5000 clips (measured).
    *
    * Perturbing sample 0 moves only the first grid point, so at most
    * its one boundary delta bit flips — replica Hamming ≤ 1, inside
    * the ≤ 3 verify criterion (replicas where the comparison doesn't
    * flip collapse to exact perceptual dups, also a valid outcome).
    * Everything is a closed form of (rep id, i), so a SQL oracle
    * reproduces every hash bit of originals and replicas.
    */
  def syntheticWavReplicaPayloads(spark: SparkSession, docs: DataFrame): DataFrame =
    generated(spark, docs)(_.map { id =>
      val rep = if (id % 10 == 3) id - 1 else id
      val n = (rep % 50 + 57).toInt
      val rate = (8000 + (rep % 3) * 4000).toInt
      val samples = Array.tabulate(n) { i =>
        val bump = if (id % 10 == 3 && i == 0) 7000L else 0L
        val v = (rep * 31 + i.toLong * 17 + bump) % 65536
        ((v * v / 7 + v * 13) % 65536 - 32768).toShort
      }
      (id, wavPcm16Mono(rate, samples, infoBytes = (rep % 7).toInt))
    })

  case class AudioHash(asset_id: Long, n_samples: Long, ahash: Long)

  /** 56-bit amplitude dHash of a mono PCM-16 WAV — [[frameDhashes]]'
    * delta scheme applied to the waveform: the |sample| envelope is
    * floor-resampled onto a 57-point grid (`src = j · n / 57`, the
    * [[resizePixels]] mapping, so clips of any length hash to the same
    * width), and bit `j` is set iff `|grid(j+1)| > |grid(j)|`. Pure
    * integer arithmetic end to end — grid indices are floor divisions
    * and comparisons are on exact |s16| values — so a SQL oracle
    * reproduces every bit. A one-sample perturbation moves only the
    * grid points that floor-map to it; those are CONSECUTIVE, equal-
    * valued grid points, so only the two delta bits at their boundary
    * can flip — the property that makes near-dup Hamming distance
    * track edit size. Samples are read in place from the data chunk
    * (no sample array materializes); only (id, n, hash) rows shuffle.
    * Mono only — the multi-channel interleave has no single envelope —
    * and anything non-PCM-16 or malformed quarantines via
    * [[walkWav]].
    */
  def audioDhashes(spark: SparkSession, assets: DataFrame): Dataset[AudioHash] =
    perAsset(spark, assets)(audioDhash56)

  /** Mono only, at least two samples. */
  private[multimodal] def audioDhash56(id: Long, b: Array[Byte]): Option[AudioHash] =
    walkWav(b) { (_, ch, body, size) =>
      val n = (size / 2).toInt
      if (ch != 1 || n < 2 || size % 2 != 0) None
      else {
        def gridAbs(j: Int): Long = math.abs(s16(b, body + 2 * ((j.toLong * n / 57).toInt)).toLong)
        var hash = 0L
        var last = gridAbs(0)
        var j = 0
        while (j < 56) {
          val cur = gridAbs(j + 1)
          if (cur > last) hash |= 1L << j
          last = cur
          j += 1
        }
        Some(AudioHash(id, n.toLong, hash))
      }
    }

  case class ResizeStats(asset_id: Long, src_w: Long, src_h: Long,
                         dst_w: Long, dst_h: Long,
                         sum_r: Long, sum_g: Long, sum_b: Long,
                         mean_r: Double, mean_g: Double, mean_b: Double)

  /** REAL decode + deterministic nearest-neighbor resize: each payload is
    * decoded through `javax.imageio.ImageIO` like [[decodePixels]], then
    * resampled to `dstW × dstH` with the standard floor mapping
    * `src = dst · srcDim / dstDim` (integer arithmetic — no filtering, no
    * rounding-mode ambiguity, so the resample is bit-reproducible in any
    * engine), and reduced to exact per-channel integer sums over the
    * RESIZED raster plus the derived means. AWT's own scalers
    * (`getScaledInstance`, `AffineTransformOp`) are deliberately NOT used:
    * their kernels are implementation-defined, which would make the result
    * unverifiable cross-engine. Payload bytes stay partition-local; only
    * the O(1) stats rows shuffle. Undecodable rows are dropped by
    * [[decodeImages]].
    */
  def resizePixels(spark: SparkSession, assets: DataFrame,
                   dstW: Int, dstH: Int): Dataset[ResizeStats] = {
    require(dstW > 0 && dstH > 0, s"resize needs positive dims, got ${dstW}x$dstH")
    decodeImages(spark, assets) { (id, im) =>
      val (sr, sg, sb) = channelSums(im, dstW, dstH)
      val n = dstW.toLong * dstH
      ResizeStats(id, im.getWidth.toLong, im.getHeight.toLong, dstW.toLong, dstH.toLong,
        sr, sg, sb, sr.toDouble / n, sg.toDouble / n, sb.toDouble / n)
    }
  }

  /** The per-partition ImageIO decode, and the one definition of the
    * image quarantine contract: a null payload, one no reader recognizes
    * (the read returns null) and one a reader throws on are all
    * dropped; `body` sees every decoded image.
    */
  private def decodeImages[T <: Product : TypeTag](spark: SparkSession, assets: DataFrame)(
      body: (Long, java.awt.image.BufferedImage) => T): Dataset[T] =
    perPartition(spark, assets) { it =>
      // ImageIO scans its reader registry per MIME sniff; disabling the
      // on-disk cache keeps the decode entirely in-memory per batch
      javax.imageio.ImageIO.setUseCache(false)
      it.flatMap { case (id, bytes) =>
        val img =
          if (bytes == null) None
          // NonFatal, not just IOException: several ImageIO plugins throw
          // RuntimeExceptions (IllegalArgument, IndexOutOfBounds) on
          // corrupt payloads — those must quarantine, not kill the job
          else try {
            Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
          } catch { case scala.util.control.NonFatal(_) => None }
        img.map(body(id, _))
      }
    }

  /** Exact per-channel (r, g, b) sums over the `dstW × dstH` floor-mapped
    * grid `src = dst · srcDim / dstDim`; at the image's own dims that is
    * every pixel once.
    */
  private def channelSums(im: java.awt.image.BufferedImage, dstW: Int, dstH: Int): (Long, Long, Long) = {
    val w = im.getWidth
    val h = im.getHeight
    var sr = 0L; var sg = 0L; var sb = 0L
    var y = 0
    while (y < dstH) {
      val sy = y * h / dstH
      var x = 0
      while (x < dstW) {
        val rgb = im.getRGB(x * w / dstW, sy)
        sr += (rgb >> 16) & 0xff
        sg += (rgb >> 8) & 0xff
        sb += rgb & 0xff
        x += 1
      }
      y += 1
    }
    (sr, sg, sb)
  }

  /** Encode a true JPEG via the JDK's ImageIO writer at an explicit
    * quality. Unlike [[bmp24]]/[[pngRgb24]] (hand-rolled, byte-exact by
    * construction) the emitted BYTES are implementation-defined — JPEG is
    * lossy and encoders differ — which is exactly why the JPEG
    * verification path uses tolerance flags, not hashes: decode stats are
    * compared to the source raster within a bound, never byte-for-byte.
    */
  def jpegRgb24(w: Int, h: Int, px: (Int, Int) => (Int, Int, Int),
                quality: Float = 0.9f): Array[Byte] = {
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    try jpegRgb24With(writer, w, h, px, quality)
    finally writer.dispose()
  }

  /** [[jpegRgb24]] with a caller-owned writer — the §4.5 iterator-form
    * shape (r22): `ImageIO.getImageWritersByFormatName` walks the
    * plugin registry per call, so batch encoders
    * ([[syntheticJpegPayloads]]) construct ONE writer per partition and
    * reuse it across the batch. `writer.reset()` before each image
    * restores the fresh-writer state, so the emitted bytes are the ones
    * a per-image writer would produce.
    */
  def jpegRgb24With(writer: javax.imageio.ImageWriter, w: Int, h: Int,
                    px: (Int, Int) => (Int, Int, Int),
                    quality: Float = 0.9f): Array[Byte] = {
    require(w > 0 && h > 0, s"jpegRgb24 needs positive dims, got ${w}x$h")
    val im = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val (r, g, b) = px(x, y)
        im.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.reset()
      writer.setOutput(ios)
      val p = writer.getDefaultWriteParam
      p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(quality)
      writer.write(null, new javax.imageio.IIOImage(im, null, null), p)
    } finally ios.close()
    bos.toByteArray
  }

  /** [[syntheticPixelPayloads]]' lossy sibling: the same closed-form
    * pixel channels encoded as REAL JPEGs ([[jpegRgb24]]) — the majority
    * format of real image corpora, exercised end-to-end (encoder →
    * container → ImageIO decode) instead of header-only. Dims are
    * 10..16 × 10..14 rather than the BMP/PNG corpus's 2..8 × 2..6: every
    * image then spans multiple 8×8 MCU blocks (the representative JPEG
    * shape — a 2×3 JPEG is a degenerate single-MCU corner case whose
    * chroma-subsampled means drift ~16 gray levels, measured, vs ~2.0
    * here at q=0.9), which is what makes a tight bound-flag tolerance
    * possible downstream.
    */
  def syntheticJpegPayloads(spark: SparkSession, docs: DataFrame): DataFrame =
    generated(spark, docs) { it =>
      // one writer per task, reused across the batch (§4.5) — the
      // registry walk + writer construction is per-partition, not
      // per-image; bytes identical (jpegRgb24With resets per image)
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
      val images = it.map { id =>
        val w = (id % 7 + 10).toInt
        val h = (id % 5 + 10).toInt
        (id, jpegRgb24With(writer, w, h, imgPx(id)))
      }
      // `++` evaluates its argument only once `images` is exhausted:
      // the writer's native encoder is released when the batch is done
      images ++ { writer.dispose(); Iterator.empty }
    }

  case class PHash(asset_id: Long, phash: Long)

  /** 56-bit difference hash (dHash) — the standard perceptual image
    * fingerprint: decode (REAL bytes through ImageIO, like
    * [[decodePixels]]), resample to a fixed 8×8 grid with the SAME
    * deterministic floor mapping [[resizePixels]] uses
    * (`src = dst · srcDim / 8`, integer arithmetic — bit-reproducible in
    * any engine, unlike AWT's implementation-defined scalers), take the
    * integer luminance `299·R + 587·G + 114·B` (the ITU-R 601 weights
    * ×1000, kept integral so a SQL oracle reproduces every bit), and set
    * bit `j·7 + i` iff `lum(i+1, j) > lum(i, j)` — 7 horizontal
    * comparisons × 8 rows = 56 bits, deliberately matching the repo's
    * 56-bit hash convention ([[graft.dedup.Dedup.HashMask]]) and staying
    * clear of the BIGINT sign bit on both engines. Near-duplicate images
    * (crops, small edits, re-encodes of the same picture) land within a
    * small Hamming distance; exact re-encodes (BMP vs PNG of the same
    * raster) hash identically. Payload bytes stay partition-local; only
    * (id, hash) rows shuffle. Undecodable rows quarantine as in
    * [[decodePixels]].
    */
  def dhash56(spark: SparkSession, assets: DataFrame): Dataset[PHash] =
    decodeImages(spark, assets) { (id, im) =>
      val w = im.getWidth
      val h = im.getHeight
      var hash = 0L
      var j = 0
      while (j < 8) {
        val sy = j * h / 8
        var last = 0L
        var i = 0
        while (i < 8) {
          val rgb = im.getRGB(i * w / 8, sy)
          val lum = 299L * ((rgb >> 16) & 0xff) +
            587L * ((rgb >> 8) & 0xff) + 114L * (rgb & 0xff)
          if (i > 0 && lum > last) hash |= 1L << (j * 7 + (i - 1))
          last = lum
          i += 1
        }
        j += 1
      }
      PHash(id, hash)
    }

  // ------------------------------------------------------------------
  // Real video frame-sampling: YUV4MPEG2 (y4m) stream walk, pure byte
  // arithmetic (y4m frames are uncompressed — the container IS the codec)
  // ------------------------------------------------------------------

  /** Encode a YUV4MPEG2 monochrome stream (the mjpegtools/ffmpeg `y4m`
    * interchange format): the `YUV4MPEG2` parameter line, then per frame
    * a `FRAME` line followed by the raw `w·h` luma plane. `extraParams`
    * appends X-extension tokens to the stream header, and odd frame
    * indices carry an `Xi<n>` frame parameter — both force a decoder to
    * genuinely tokenize lines rather than assume fixed offsets.
    */
  def y4mMono(w: Int, h: Int, frames: Seq[Array[Byte]], extraParams: String = ""): Array[Byte] = {
    require(w > 0 && h > 0, s"y4mMono needs positive dims, got ${w}x$h")
    val bos = new java.io.ByteArrayOutputStream()
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    bos.write(s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 Cmono$extraParams\n".getBytes(ascii))
    frames.zipWithIndex.foreach { case (f, i) =>
      require(f.length == w * h, s"frame $i: ${f.length} bytes, expected ${w * h}")
      bos.write((if (i % 2 == 1) s"FRAME Xi$i\n" else "FRAME\n").getBytes(ascii))
      bos.write(f)
    }
    bos.toByteArray
  }

  /** Deterministic synthetic y4m payloads from `doc_id`: 3..9 mono frames
    * of 2..6 × 2..4 whose luma is a closed-form function of
    * (id, frame, x, y), with an id-varying header extension token so the
    * parameter line length shifts per asset. A SQL oracle recomputes every
    * frame statistic from the formula; the Spark side walks REAL bytes.
    */
  def syntheticY4mPayloads(spark: SparkSession, docs: DataFrame): DataFrame =
    generated(spark, docs)(_.map { id =>
      val w = (id % 5 + 2).toInt
      val h = (id % 3 + 2).toInt
      val nf = (id % 7 + 3).toInt
      val frames = (0 until nf).map { f =>
        Array.tabulate(w * h) { i =>
          ((id * 7 + f * 19L + (i % w) * 13L + (i / w) * 31L) % 256).toByte
        }
      }
      (id, y4mMono(w, h, frames, extraParams = " Xz" + ("q" * (id % 3).toInt)))
    })

  case class FrameStats(asset_id: Long, frame_idx: Long, width: Long, height: Long,
                        n_frames: Long, sum_y: Long, mean_y: Double)

  /** REAL video frame-sampling: walk a y4m stream's FRAME list and keep
    * every `step`-th frame, reducing each kept luma plane to its exact
    * integer sum plus the derived mean. This is the training-pipeline
    * frame-sample stage: the full stream's bytes stay partition-local and
    * only the O(frames/step) stat rows ever shuffle — at 100 TB of video
    * nothing but sampled-frame summaries crosses the wire. Streams that
    * are not well-formed mono y4m (truncated frame, bad FRAME line,
    * chroma-subsampled) are dropped under the decode quarantine contract.
    */
  def sampleFrames(spark: SparkSession, assets: DataFrame, step: Int): Dataset[FrameStats] = {
    require(step > 0, s"frame-sample step must be positive, got $step")
    perAsset(spark, assets)(parseY4m(_, _, step))
  }

  /** The shared mono-y4m stream walk: validate the header, step through
    * FRAME records, and reduce every `step`-th luma plane with `reduce
    * (w, h, bodyOffset)` reading the plane in place (no copy). Returns
    * `(w, h, totalFrames, sampled (idx, value))`, or None for anything
    * malformed: missing magic, non-mono chroma, a frame line not starting
    * `FRAME`, or a truncated luma plane — the single definition of the
    * y4m quarantine contract for every video consumer.
    */
  private def walkY4mMono[T](b: Array[Byte], step: Int)(
      reduce: (Int, Int, Int) => T): Option[(Int, Int, Long, Seq[(Int, T)])] = {
    if (b == null) return None
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    def lineEnd(from: Int): Int = {
      var i = from
      while (i < b.length && b(i) != '\n') i += 1
      i
    }
    val he = lineEnd(0)
    if (he >= b.length) return None // no newline: not a y4m stream
    val toks = new String(b, 0, he, ascii).split(' ')
    if (toks.isEmpty || toks(0) != "YUV4MPEG2") return None
    var w = -1; var h = -1
    var chroma = "420jpeg" // the spec default when no C token is present
    toks.iterator.drop(1).filter(_.nonEmpty).foreach { t =>
      t.charAt(0) match {
        case 'W' => w = t.drop(1).toIntOption.getOrElse(-1)
        case 'H' => h = t.drop(1).toIntOption.getOrElse(-1)
        case 'C' => chroma = t.drop(1)
        case _   => () // F/I/A/X…: irrelevant to plane layout
      }
    }
    if (w <= 0 || h <= 0 || chroma != "mono") return None // mono planes only
    // long arithmetic: header dims like W429496729 H10 overflow an Int
    // multiply to a NEGATIVE frameSize, which would pass the truncation
    // check below and step `pos` BACKWARDS — an infinite loop appending
    // to `sampled` (executor hang/OOM) instead of a quarantined reject.
    // Any frame larger than the whole payload is malformed by definition.
    val frameSizeL = w.toLong * h
    if (frameSizeL <= 0 || frameSizeL > b.length) return None
    val frameSize = frameSizeL.toInt // ≤ b.length, so the cast is exact
    val sampled = scala.collection.mutable.ArrayBuffer.empty[(Int, T)]
    var pos = he + 1
    var idx = 0
    while (pos < b.length) {
      val le = lineEnd(pos)
      if (le >= b.length) return None // frame header never terminated
      val line = new String(b, pos, le - pos, ascii)
      if (line != "FRAME" && !line.startsWith("FRAME ")) return None
      val body = le + 1
      // long add: body + frameSize can exceed Int.MaxValue on ~2 GB payloads
      if (body.toLong + frameSize > b.length) return None // truncated luma plane
      if (idx % step == 0) sampled += ((idx, reduce(w, h, body)))
      idx += 1
      pos = body + frameSize
    }
    Some((w, h, idx.toLong, sampled.toSeq))
  }

  /** Synthetic y4m corpus WITH PLANTED NEAR-DUP CLIPS for the video
    * dedup path: assets whose `doc_id % 10 == 3` are PERTURBED REPLICAS
    * of `doc_id - 1`'s clip — same dimensions and frames, luma from the
    * same closed-form formula, plus +60 on the single (0,0) pixel of
    * frame 0 (a re-encode/watermark stand-in) — large enough to flip a
    * dHash comparison for most clips (the rest collapse to exact
    * perceptual dups, also a valid outcome), small in area so per-frame
    * Hamming stays ≤ 1 (the bump is re-reduced mod 250 so the byte
    * never wraps differently from the oracle's arithmetic). Frames are
    * at least 8×8 so the hash grid
    * samples 64 DISTINCT pixels, and the luma formula carries a
    * rep-dependent nonlinear term (`(x·y+3)·(rep % 23)`) so different
    * clips hash near-randomly — without it the affine formula made
    * dHash shift-invariant across clips and everything matched
    * everything (measured: 137k pairs at sf0.1 vs 3.2k with the term).
    * Luma stays in 0..249 so the perturbation never wraps the byte.
    * Everything is a closed form of (rep id, frame, x, y), so a SQL
    * oracle reproduces every hash bit of originals and replicas.
    */
  def syntheticY4mReplicaPayloads(spark: SparkSession, docs: DataFrame): DataFrame =
    generated(spark, docs)(_.map { id =>
      val rep = if (id % 10 == 3) id - 1 else id
      val w = (rep % 9 + 8).toInt
      val h = (rep % 5 + 8).toInt
      val nf = (rep % 7 + 3).toInt
      val frames = (0 until nf).map { f =>
        Array.tabulate(w * h) { i =>
          val x = (i % w).toLong
          val y = (i / w).toLong
          val base = (rep * 7 + f * 19L + x * 13L + y * 31L +
            (x * y + 3L) * (rep % 23)) % 250
          val bump = if (id % 10 == 3 && f == 0 && i == 0) 60L else 0L
          ((base + bump) % 250).toByte
        }
      }
      (id, y4mMono(w, h, frames))
    })

  case class FrameHash(asset_id: Long, frame_idx: Long, n_frames: Long, fhash: Long)

  /** The per-frame 56-bit dHash core shared by [[frameDhashes]] and
    * [[clipSignatures]] — one definition or the streaming signature and
    * the batch hash silently diverge.
    */
  private def frameDhash(bytes: Array[Byte], w: Int, h: Int, body: Int): Long = {
    var hash = 0L
    var j = 0
    while (j < 8) {
      val sy = j * h / 8
      var last = 0L
      var i = 0
      while (i < 8) {
        val lum = (bytes(body + sy * w + i * w / 8) & 0xff).toLong
        if (i > 0 && lum > last) hash |= 1L << (j * 7 + (i - 1))
        last = lum
        i += 1
      }
      j += 1
    }
    hash
  }

  /** Per-frame 56-bit dHash of a mono y4m stream at sampling `step` —
    * [[dhash56]]'s grid/compare scheme applied to each sampled luma
    * plane: 8×8 floor-mapped samples (`src = dst · dim / 8`), lum = the
    * raw luma byte (the plane IS luminance — no RGB weights), bit
    * `j·7 + (i−1)` set iff `lum(i,j) > lum(i−1,j)`. Planes are read in
    * place inside the walk — payload bytes never copy, and only
    * (id, frame, hash) rows shuffle. Malformed streams quarantine via
    * the shared walker.
    */
  def frameDhashes(spark: SparkSession, assets: DataFrame, step: Int): Dataset[FrameHash] = {
    require(step > 0, s"frame-sample step must be positive, got $step")
    perAsset(spark, assets) { (id, bytes) =>
      walkY4mMono(bytes, step)(frameDhash(bytes, _, _, _)).toSeq.flatMap { case (_, _, nf, sampled) =>
        sampled.map { case (f, hsh) => FrameHash(id, f.toLong, nf, hsh) }
      }
    }
  }

  case class ClipSig(asset_id: Long, csig: String, frame_idxs: Seq[Long],
                     fhashes: Seq[Long])

  /** Whole-clip perceptual signature in ONE stateless pass: the y4m walk
    * hashes each step-sampled frame ([[frameDhash]]) and the clip
    * signature is the md5 hex of the comma-joined decimal hash list in
    * frame order — BYTE-IDENTICAL to the batch
    * `md5(concat_ws(",", transform(fs, x -> CAST(x.fhash AS STRING))))`
    * over the sort_array'd frame structs, so a streaming admission stage
    * keyed on `csig` agrees with the batch `dedup_video_phash` signature
    * groups without any per-clip shuffle (the payload never leaves its
    * partition; only the signature row moves). Malformed streams
    * quarantine via the shared walker. The sampled frame indices and
    * hashes ride along for the banded near-dup stage.
    */
  def clipSignatures(spark: SparkSession, assets: DataFrame,
                     step: Int = 2): Dataset[ClipSig] = {
    require(step > 0, s"frame-sample step must be positive, got $step")
    perAsset(spark, assets) { (id, bytes) =>
      walkY4mMono(bytes, step)(frameDhash(bytes, _, _, _)) match {
        // a valid zero-frame stream emits NOTHING — frameDhashes (and
        // therefore the batch signature groupBy it feeds) has no rows
        // for such an asset, and an md5-of-empty signature here would
        // make every frameless clip an "exact dup" of every other,
        // breaking streaming/batch membership parity
        case Some((_, _, _, sampled)) if sampled.nonEmpty =>
          val md = java.security.MessageDigest.getInstance("MD5")
          val joined = sampled.map(_._2).mkString(",")
          val sig = md.digest(joined.getBytes("UTF-8"))
            .map(b => f"${b & 0xff}%02x").mkString
          Some(ClipSig(id, sig, sampled.map(_._1.toLong), sampled.map(_._2)))
        case _ => None
      }
    }
  }

  /** Stats for the frames of a mono y4m stream at indices
    * `0, step, 2·step, …`, each row carrying the TOTAL frame count (so a
    * consumer can tell sampling density without a second pass); `Nil`
    * for a stream [[walkY4mMono]] quarantines.
    */
  private[multimodal] def parseY4m(id: Long, b: Array[Byte], step: Int): Seq[FrameStats] =
    walkY4mMono(b, step) { (w, h, body) =>
      val frameSize = w * h
      var s = 0L
      var i = 0
      while (i < frameSize) { s += b(body + i) & 0xff; i += 1 }
      s
    } match {
      case None => Nil
      case Some((w, h, nf, sampled)) =>
        sampled.map { case (f, s) =>
          FrameStats(id, f.toLong, w.toLong, h.toLong, nf, s, s.toDouble / (w * h))
        }
    }

  case class PixelStats(asset_id: Long, width: Long, height: Long, n_px: Long,
                        sum_r: Long, sum_g: Long, sum_b: Long,
                        mean_r: Double, mean_g: Double, mean_b: Double)

  /** REAL pixel decode via `javax.imageio.ImageIO` (JDK built-in — BMP,
    * PNG, JPEG, GIF readers; no external codec): decodes each payload to
    * a `BufferedImage` and reduces it to exact integer per-channel sums
    * plus the derived means (one IEEE division on exact integers — bit-
    * equal cross-engine, per the repo's rounding conventions). Runs per
    * partition: codec lookup is amortized across the batch and payload
    * bytes never leave the partition — only the O(1) stats rows shuffle.
    * Rows ImageIO cannot decode are dropped (a production run would
    * route them to a quarantine sink instead).
    */
  def decodePixels(spark: SparkSession, assets: DataFrame): Dataset[PixelStats] =
    decodeImages(spark, assets) { (id, im) =>
      val w = im.getWidth
      val h = im.getHeight
      val (sr, sg, sb) = channelSums(im, w, h)
      val n = w.toLong * h
      PixelStats(id, w.toLong, h.toLong, n, sr, sg, sb,
        sr.toDouble / n, sg.toDouble / n, sb.toDouble / n)
    }

  case class AudioEntropy(asset_id: Long, n_samples: Long, ent_sum_e4: Long)

  /** Amplitude-histogram entropy per clip — the audio modality's
    * flat-or-noise quality gate ([[imageEntropy]]'s treatment over the
    * PCM waveform): |s16| envelopes bin to 129 coarse levels
    * (|s| >> 8), and the order-free quantized core
    * Σ round(cnt·ln(cnt)·10⁴) is exact-integer reproducible from the
    * synthetic sample generator by a SQL oracle. Silence/DC clips
    * score 0; dithered noise saturates toward ln(min(n, 129)).
    * [[walkWav]]'s quarantine contract, mono only; samples are read in
    * place.
    */
  def audioEntropy(spark: SparkSession, assets: DataFrame): Dataset[AudioEntropy] =
    perAsset(spark, assets)(audioAmpEntropy)

  /** Mono only, at least one sample. */
  private[multimodal] def audioAmpEntropy(id: Long, b: Array[Byte]): Option[AudioEntropy] =
    walkWav(b) { (_, ch, body, size) =>
      val n = (size / 2).toInt
      if (ch != 1 || n < 1 || size % 2 != 0) None
      else {
        val hist = new Array[Int](129)
        var i = 0
        while (i < n) {
          hist(math.abs(s16(b, body + 2 * i)) >> 8) += 1
          i += 1
        }
        Some(AudioEntropy(id, n.toLong, entropySumE4(hist)))
      }
    }

  case class VideoEntropy(asset_id: Long, n_samples: Long, ent_sum_e4: Long)

  /** Per-clip luminance-sample entropy — the video modality's
    * flat-or-noise quality gate: the [[imageEntropy]] histogram over
    * the SAME 8×8 luma grid samples the perceptual hash reads
    * ([[frameDhashes]]'s sample points), accumulated across the
    * step-sampled frames of a clip. A static test card scores near 0
    * across every frame; normal footage spreads. Shares
    * [[walkY4mMono]]'s quarantine contract; planes are read in place.
    */
  def videoEntropy(spark: SparkSession, assets: DataFrame, step: Int): Dataset[VideoEntropy] =
    perAsset(spark, assets) { (id, bytes) =>
      val hist = new Array[Int](256)
      walkY4mMono(bytes, step) { (w, h, body) =>
        var j = 0
        while (j < 8) {
          val sy = j * h / 8
          var i = 0
          while (i < 8) {
            hist(bytes(body + sy * w + i * w / 8) & 0xff) += 1
            i += 1
          }
          j += 1
        }
        0
      }.map { case (_, _, _, sampled) => VideoEntropy(id, 64L * sampled.size, entropySumE4(hist)) }
    }

  case class ImageEntropy(asset_id: Long, n_px: Long, ent_sum_e4: Long)

  /** Luminance-histogram entropy per image — the flat-or-noise quality
    * detector for the image modality (a solid color scores 0; synthetic
    * noise saturates toward ln(n); real photographs sit between), the
    * [[graft.plans.CharEntropySum]] treatment applied to pixels. Decode
    * is the same real ImageIO path as [[decodePixels]]; luminance is
    * the integer ITU-R 601 approximation (299r + 587g + 114b) div 1000,
    * so the histogram — and the order-free quantized entropy core
    * Σ round(cnt·ln(cnt)·10⁴) — is exact-integer reproducible from the
    * closed-form pixel generator by a SQL oracle. Per-partition work;
    * only (id, n, sum) rows shuffle.
    */
  def imageEntropy(spark: SparkSession, assets: DataFrame): Dataset[ImageEntropy] =
    decodeImages(spark, assets) { (id, im) =>
      val w = im.getWidth
      val h = im.getHeight
      val hist = new Array[Int](256)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = im.getRGB(x, y)
          val lum = (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff)
            + 114 * (rgb & 0xff)) / 1000
          hist(lum) += 1
          x += 1
        }
        y += 1
      }
      ImageEntropy(id, w.toLong * h, entropySumE4(hist))
    }
}
