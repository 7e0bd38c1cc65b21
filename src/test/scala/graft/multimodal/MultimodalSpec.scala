package graft.multimodal

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.Tables

class MultimodalSpec extends SparkSpec {

  lazy val assets = Multimodal.assetsFromDocuments(Tables.documents(spark, sf)).cache()

  test("asset table matches the schema contract") {
    assert(assets.schema("payload").dataType.typeName == "binary")
    assert(assets.schema("meta").dataType.typeName == "struct")
    assert(assets.count() == Tables.documents(spark, sf).count())
  }

  test("metadata n_bytes equals payload length") {
    val bad = assets.filter(length(col("payload")).cast("long") =!= col("meta.n_bytes")).count()
    assert(bad == 0)
  }

  test("decodePixels matches the closed-form generator and is partition-invariant") {
    val docs = Tables.documents(spark, sf)
    val bmps = Multimodal.syntheticBmpPayloads(spark, docs)
    val d1 = Multimodal.decodePixels(spark, bmps).collect()
    assert(d1.length == docs.count()) // every BMP decodes
    d1.foreach { p =>
      val id = p.asset_id
      val w = (id % 7 + 2).toInt; val h = (id % 5 + 2).toInt
      assert(p.width == w && p.height == h && p.n_px == w.toLong * h)
      val px = for (y <- 0 until h; x <- 0 until w) yield (x, y)
      assert(p.sum_r == px.map { case (x, y) => (id + 13L * x + 31L * y) % 256 }.sum)
      assert(p.sum_g == px.map { case (x, y) => (2L * id + 7L * x + 3L * y) % 256 }.sum)
      assert(p.sum_b == px.map { case (x, y) => (5L * id + 11L * x + 17L * y) % 256 }.sum)
      assert(p.mean_r == p.sum_r.toDouble / p.n_px)
    }
    val d2 = Multimodal.decodePixels(spark, bmps.repartition(7)).collect()
    assert(d1.map(p => p.asset_id -> p.sum_r).toMap ==
      d2.map(p => p.asset_id -> p.sum_r).toMap) // partitioning must not change results
  }

  test("decodePixels decodes a real ImageIO-written PNG (format-independent path)") {
    // round-trip: build a BufferedImage, encode it as a REAL PNG via
    // ImageIO.write, decode through the same production path as BMP
    val w = 5; val h = 3
    val im = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      im.setRGB(x, y, ((10 * x + y) << 16) | ((20 * x) << 8) | (30 * y))
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(im, "png", baos))
    import spark.implicits._
    val one = Seq((1L, baos.toByteArray)).toDF("asset_id", "payload")
    val p = Multimodal.decodePixels(spark, one).head()
    assert(p.width == w && p.height == h && p.n_px == w * h)
    val px = for (y <- 0 until h; x <- 0 until w) yield (x, y)
    assert(p.sum_r == px.map { case (x, y) => 10L * x + y }.sum)
    assert(p.sum_g == px.map { case (x, _) => 20L * x }.sum)
    assert(p.sum_b == px.map { case (_, y) => 30L * y }.sum)
  }

  test("pngRgb24 stored-deflate bytes decode through ImageIO to the exact formula") {
    // the hand-rolled PNG (stored zlib blocks, computed CRC/Adler) must
    // be a REAL PNG: ImageIO's decoder is the referee. Dims straddle
    // unusual shapes incl. 1-px rows/cols.
    import spark.implicits._
    for ((w, h) <- Seq((1, 1), (5, 3), (8, 6), (1, 4), (7, 1))) {
      val bytes = Multimodal.pngRgb24(w, h,
        (x, y) => ((10 * x + y) % 256, (20 * x + 7 * y) % 256, (3 * x + 30 * y) % 256))
      val im = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(im != null, s"ImageIO rejected the ${w}x$h PNG")
      assert(im.getWidth == w && im.getHeight == h)
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = im.getRGB(x, y)
        assert(((rgb >> 16) & 0xff) == (10 * x + y) % 256, s"r at ($x,$y) ${w}x$h")
        assert(((rgb >> 8) & 0xff) == (20 * x + 7 * y) % 256, s"g at ($x,$y) ${w}x$h")
        assert((rgb & 0xff) == (3 * x + 30 * y) % 256, s"b at ($x,$y) ${w}x$h")
      }
    }
    // a corrupted IDAT (flipped bit in the stored block) must quarantine,
    // not throw, under the decodePixels contract
    val good = Multimodal.pngRgb24(4, 4, (x, y) => (x, y, x + y))
    val bad = good.clone(); bad(bad.length - 20) = (bad(bad.length - 20) ^ 0xff).toByte
    val df = Seq((1L, bad)).toDF("asset_id", "payload")
    assert(Multimodal.decodePixels(spark, df).count() <= 1) // drop or decode-garbage, never throw
  }

  test("decodePixels drops undecodable payloads instead of failing") {
    import spark.implicits._
    val junk = Seq((1L, "not an image".getBytes), (2L, null.asInstanceOf[Array[Byte]]))
      .toDF("asset_id", "payload")
    assert(Multimodal.decodePixels(spark, junk).count() == 0)
  }

  test("resizePixels matches the floor-mapped generator; identity resize equals decodePixels") {
    val docs = Tables.documents(spark, sf)
    val bmps = Multimodal.syntheticBmpPayloads(spark, docs).cache()
    try {
      val dstW = 4; val dstH = 3
      val rs = Multimodal.resizePixels(spark, bmps, dstW, dstH).collect()
      assert(rs.length == docs.count())
      rs.foreach { r =>
        val id = r.asset_id
        val w = (id % 7 + 2).toInt; val h = (id % 5 + 2).toInt
        assert(r.src_w == w && r.src_h == h && r.dst_w == dstW && r.dst_h == dstH)
        val px = for (y <- 0 until dstH; x <- 0 until dstW)
          yield (x * w / dstW, y * h / dstH)
        assert(r.sum_r == px.map { case (sx, sy) => (id + 13L * sx + 31L * sy) % 256 }.sum)
        assert(r.sum_g == px.map { case (sx, sy) => (2L * id + 7L * sx + 3L * sy) % 256 }.sum)
        assert(r.sum_b == px.map { case (sx, sy) => (5L * id + 11L * sx + 17L * sy) % 256 }.sum)
        assert(r.mean_r == r.sum_r.toDouble / (dstW * dstH))
      }
      // resizing to the source dims is the identity: sums must equal decodePixels'
      val one = bmps.filter(col("asset_id") === 5L) // 5 % 7 + 2 = 7, 5 % 5 + 2 = 2
      val ident = Multimodal.resizePixels(spark, one, 7, 2).head()
      val plain = Multimodal.decodePixels(spark, one).head()
      assert((ident.sum_r, ident.sum_g, ident.sum_b) ==
        (plain.sum_r, plain.sum_g, plain.sum_b))
    } finally { bmps.unpersist(false); () }
  }

  test("parseY4m walks frames, samples by step, and rejects malformed streams") {
    val w = 3; val h = 2
    val frames = (0 until 5).map(f => Array.tabulate(w * h)(i => (10 * f + i).toByte))
    val ok = Multimodal.y4mMono(w, h, frames, extraParams = " Xzqq")
    val got = Multimodal.parseY4m(9L, ok, step = 2)
    assert(got.map(_.frame_idx) == Seq(0L, 2L, 4L)) // every 2nd of 5
    got.foreach { fs =>
      assert(fs.width == w && fs.height == h && fs.n_frames == 5)
      val expect = (0 until w * h).map(i => 10L * fs.frame_idx + i).sum
      assert(fs.sum_y == expect && fs.mean_y == expect.toDouble / (w * h))
    }
    assert(Multimodal.parseY4m(1, ok, 1).size == 5) // step 1 keeps all
    assert(Multimodal.parseY4m(1, null, 2).isEmpty)
    assert(Multimodal.parseY4m(1, "not a video".getBytes, 2).isEmpty)
    // chroma-subsampled streams are rejected (mono planes only)
    val c420 = new String(ok.takeWhile(_ != '\n'), "US-ASCII").replace("Cmono", "C420jpeg")
    assert(Multimodal.parseY4m(1, (c420 + "\n").getBytes ++ ok.dropWhile(_ != '\n').drop(1), 2).isEmpty)
    // truncated mid-plane and corrupted FRAME line are rejected, not mis-summed
    assert(Multimodal.parseY4m(1, ok.dropRight(2), 2).isEmpty)
    val bad = ok.clone()
    val frameOff = ok.indexOfSlice("FRAME".getBytes)
    bad(frameOff) = 'G'
    assert(Multimodal.parseY4m(1, bad, 2).isEmpty)
  }

  test("parseY4m rejects overflowing header dims instead of looping forever") {
    // W429496729 * H10 wraps an Int multiply to -6: the old truncation
    // check passed and `pos` stepped BACKWARDS — an executor hang. The
    // stream must be quarantined (Nil), and promptly.
    val evil = ("YUV4MPEG2 W429496729 H10 F25:1 Ip A1:1 Cmono\nFRAME\n" + "x" * 64)
      .getBytes("US-ASCII")
    assert(Multimodal.parseY4m(1, evil, 1).isEmpty)
    // zero-area dims are equally malformed, not zero-size frames
    val zero = ("YUV4MPEG2 W3 H0 F25:1 Ip A1:1 Cmono\nFRAME\nFRAME\n").getBytes("US-ASCII")
    assert(Multimodal.parseY4m(1, zero, 1).isEmpty)
    // and a single frame claiming more bytes than the whole payload
    val huge = ("YUV4MPEG2 W100000 H100000 F25:1 Ip A1:1 Cmono\nFRAME\nxx").getBytes("US-ASCII")
    assert(Multimodal.parseY4m(1, huge, 1).isEmpty)
  }

  test("sampleFrames over synthetic y4m matches the generator and is partition-invariant") {
    val docs = Tables.documents(spark, sf)
    val vids = Multimodal.syntheticY4mPayloads(spark, docs)
    val d1 = Multimodal.sampleFrames(spark, vids, 2).collect()
    val nDocs = docs.count()
    assert(d1.map(_.asset_id).distinct.length == nDocs) // every stream parses
    d1.foreach { fs =>
      val id = fs.asset_id
      val w = (id % 5 + 2).toInt; val h = (id % 3 + 2).toInt
      assert(fs.width == w && fs.height == h && fs.n_frames == id % 7 + 3)
      assert(fs.frame_idx % 2 == 0)
      val expect = (0 until w * h)
        .map(i => (id * 7 + fs.frame_idx * 19 + (i % w) * 13L + (i / w) * 31L) % 256).sum
      assert(fs.sum_y == expect)
    }
    val d2 = Multimodal.sampleFrames(spark, vids.repartition(7), 2).collect()
    assert(d1.map(f => (f.asset_id, f.frame_idx) -> f.sum_y).toMap ==
      d2.map(f => (f.asset_id, f.frame_idx) -> f.sum_y).toMap)
  }

  test("decodeWav matches the closed-form generator and is partition-invariant") {
    val docs = Tables.documents(spark, sf)
    val wavs = Multimodal.syntheticWavPayloads(spark, docs)
    val d1 = Multimodal.decodeWav(spark, wavs).collect()
    assert(d1.length == docs.count()) // every WAV decodes
    d1.foreach { a =>
      val id = a.asset_id
      val n = (id % 50 + 10).toInt
      val vals = (0 until n).map(i => (id * 31 + i.toLong * 17) % 65536 - 32768)
      assert(a.sample_rate == 8000 + (id % 3) * 4000 && a.n_channels == 1)
      assert(a.n_samples == n)
      assert(a.sum_s == vals.sum && a.sum_abs == vals.map(math.abs).sum)
      assert(a.min_s == vals.min && a.max_s == vals.max)
      assert(a.mean_s == vals.sum.toDouble / n)
    }
    val d2 = Multimodal.decodeWav(spark, wavs.repartition(7)).collect()
    assert(d1.map(a => a.asset_id -> a.sum_s).toMap ==
      d2.map(a => a.asset_id -> a.sum_s).toMap)
  }

  test("decodeWav decodes a real AudioSystem-written WAV (format interop)") {
    // round-trip: encode samples with javax.sound.sampled (JDK built-in)
    // and decode through the production chunk-walking parser
    import javax.sound.sampled._
    val samples = Array[Short](100, -200, 32767, -32768, 0, 5)
    val bytes = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      bytes(2 * i) = (s & 0xff).toByte; bytes(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val fmt = new AudioFormat(16000f, 16, 1, true, false) // s16 LE mono
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(bytes), fmt, samples.length.toLong)
    val baos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, baos)
    val got = Multimodal.parseWav(7L, baos.toByteArray)
    assert(got.isDefined, "AudioSystem WAV must parse")
    val a = got.get
    assert(a.sample_rate == 16000 && a.n_channels == 1 && a.n_samples == samples.length)
    assert(a.sum_s == samples.map(_.toLong).sum)
    assert(a.min_s == -32768 && a.max_s == 32767)
  }

  test("parseWav rejects non-WAV, truncated, and non-PCM-16 payloads") {
    assert(Multimodal.parseWav(1, null).isEmpty)
    assert(Multimodal.parseWav(1, "RIFFxxxxWAVE".getBytes).isEmpty) // no chunks
    assert(Multimodal.parseWav(1, "not audio at all, just text bytes here".getBytes).isEmpty)
    // a valid WAV truncated mid-data must be dropped, not mis-summed
    val ok = Multimodal.wavPcm16Mono(8000, Array[Short](1, 2, 3, 4), infoBytes = 3)
    assert(Multimodal.parseWav(1, ok).isDefined)
    assert(Multimodal.parseWav(1, ok.dropRight(3)).isEmpty)
    // 8-bit PCM (bits=16 flipped to 8) must be rejected: patch the fmt chunk
    val eight = ok.clone()
    eight(12 + 8 + 14) = 8 // bitsPerSample LSB inside "fmt " body
    assert(Multimodal.parseWav(1, eight).isEmpty)
  }

  // ------------------------------------------------------------------
  // parseImageHeader: pure-Scala PNG IHDR / JPEG SOFn byte parsing
  // ------------------------------------------------------------------

  private def hexBytes(hx: String): Array[Byte] =
    hx.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private def be16(v: Int) = f"$v%04X"
  private def be32(v: Int) = f"$v%08X"

  private def png(w: Int, h: Int, depth: Int = 8, color: Int = 6): Array[Byte] =
    hexBytes("89504E470D0A1A0A 0000000D 49484452 " +
      be32(w) + be32(h) + f"$depth%02X$color%02X" + "000000 00000000")

  test("parseImageHeader reads PNG IHDR fields") {
    assert(Multimodal.parseImageHeader(png(640, 480)) == Some(("png", 640, 480, 8, 6)))
    assert(Multimodal.parseImageHeader(png(70000, 3, depth = 16, color = 2))
      == Some(("png", 70000, 3, 16, 2))) // >u16 width exercises the u32 read
  }

  test("parseImageHeader scans JPEG markers to SOFn past multiple variable segments") {
    // SOI, APP0 (JFIF, 16 bytes), APP1 (odd 5-byte length), COM, fill
    // bytes before the SOF marker, then SOF2 (progressive, still a frame
    // header), then EOI
    val jpeg = hexBytes(
      "FFD8" +
      "FFE0 0010 4A46494600 0101 00 0048 0048 00 00" +
      "FFE1 0005 616263" +
      "FFFE 0004 5858" +
      "FFFF" + // fill byte before marker
      "FFC2 0011 10 " + be16(1080) + be16(1920) + " 03 012200 021101 031101" +
      "FFD9")
    assert(Multimodal.parseImageHeader(jpeg) == Some(("jpeg", 1920, 1080, 16, 3)))
  }

  test("parseImageHeader skips standalone markers and rejects non-images") {
    // RST0 + TEM standalone markers between SOI and SOF0
    val weird = hexBytes("FFD8 FFD0 FF01 FFC0 0011 08 " + be16(2) + be16(3) +
      " 03 012200 021101 031101 FFD9")
    assert(Multimodal.parseImageHeader(weird) == Some(("jpeg", 3, 2, 8, 3)))
    assert(Multimodal.parseImageHeader(null).isEmpty)
    assert(Multimodal.parseImageHeader(Array.empty[Byte]).isEmpty)
    assert(Multimodal.parseImageHeader("plain text bytes, not an image".getBytes).isEmpty)
    // EOI before any SOF → no dimensions
    assert(Multimodal.parseImageHeader(hexBytes("FFD8FFD9")).isEmpty)
    // truncated mid-segment
    assert(Multimodal.parseImageHeader(hexBytes("FFD8FFE000")).isEmpty)
    // DHT (C4) must NOT be mistaken for a SOF
    assert(Multimodal.parseImageHeader(hexBytes("FFD8 FFC4 0004 0000 FFD9")).isEmpty)
    // marker desync (non-FF where a marker must start)
    assert(Multimodal.parseImageHeader(hexBytes("FFD8 00FF")).isEmpty)
  }

  test("JPEG round-trip: geometry exact, channel means inside the bound-flag tolerance") {
    val docs = Tables.documents(spark, sf)
    val dec = Multimodal.decodePixels(spark,
      Multimodal.syntheticJpegPayloads(spark, docs)).collect()
    assert(dec.length == docs.count()) // every JPEG decodes
    var maxErr = 0.0
    dec.foreach { p =>
      val id = p.asset_id
      val w = (id % 7 + 10).toInt; val h = (id % 5 + 10).toInt
      // JPEG is lossy in VALUES, never in geometry
      assert(p.width == w && p.height == h && p.n_px == w.toLong * h)
      val px = for (y <- 0 until h; x <- 0 until w) yield (x, y)
      def mean(f: (Int, Int) => Long) = px.map(f.tupled).sum.toDouble / (w * h)
      val errs = Seq(
        math.abs(p.mean_r - mean((x, y) => (id + 13L * x + 31L * y) % 256)),
        math.abs(p.mean_g - mean((x, y) => (2L * id + 7L * x + 3L * y) % 256)),
        math.abs(p.mean_b - mean((x, y) => (5L * id + 11L * x + 17L * y) % 256)))
      maxErr = math.max(maxErr, errs.max)
    }
    info(f"max per-channel mean drift over ${dec.length} JPEGs: $maxErr%.3f")
    // the query's flags use 8.0; requiring half that here means the
    // shipped tolerance carries >= 2x headroom over observed reality
    assert(maxErr <= 4.0, f"JPEG mean drift $maxErr%.3f exceeds half the shipped tolerance")
  }

  test("decodeHeaders over synthetic payloads matches the id-derived dimensions") {
    val docs = Tables.documents(spark, sf)
    val decoded = Multimodal.decodeHeaders(spark,
      Multimodal.syntheticImagePayloads(docs)).collect()
    assert(decoded.length == docs.count()) // every payload parses
    decoded.foreach { hdr =>
      val id = hdr.asset_id
      assert(hdr.width == id % 997 + 1 && hdr.height == id % 499 + 1)
      if (id % 2 == 0) assert(hdr.format == "png" && hdr.bit_depth == 8 && hdr.color == 6)
      else assert(hdr.format == "jpeg" && hdr.bit_depth == 8 && hdr.color == 3)
    }
  }

  test("video replica corpus: planted clips stay within per-frame Hamming 3 of their originals") {
    import org.apache.spark.sql.functions.{col, max => smax}
    val docs = Tables.documents(spark, sf)
    val fh = Multimodal.frameDhashes(spark,
      Multimodal.syntheticY4mReplicaPayloads(spark, docs), step = 2).toDF()
    // replica (id % 10 == 3) vs original (id - 1), frame-aligned
    val rep = fh.filter(col("asset_id") % 10 === 3)
      .select(col("asset_id"), col("frame_idx"), col("fhash").as("hr"))
    val orig = fh.select((col("asset_id") + 1).as("asset_id"),
      col("frame_idx"), col("fhash").as("ho"))
    val joined = rep.join(orig, Seq("asset_id", "frame_idx"))
      .selectExpr("asset_id", "CAST(bit_count(hr ^ ho) AS BIGINT) AS hamming")
    val n = joined.count()
    assert(n > 0, "no replica/original frame alignments — fixture broken")
    val worst = joined.agg(smax(col("hamming"))).head().getLong(0)
    // the +60 single-pixel bump flips at most the one (0,0)->(1,0)
    // comparison on frame 0; every other frame is byte-identical
    assert(worst <= 3, s"replica drifted beyond the verify threshold: $worst")
    // and the query actually surfaces near-dup pairs on this corpus
    val pairs = graft.SparkEntry.queries("dedup_video_phash")(spark, sf)
    assert(pairs.count() > 0)
  }

  test("audio replica corpus: planted clips stay within fingerprint Hamming 1 of their originals") {
    import org.apache.spark.sql.functions.{col, max => smax}
    val docs = Tables.documents(spark, sf)
    val ah = Multimodal.audioDhashes(spark,
      Multimodal.syntheticWavReplicaPayloads(spark, docs)).toDF()
    // every clip decodes: the generator emits valid mono PCM-16 only
    assert(ah.count() == docs.count())
    val rep = ah.filter(col("asset_id") % 10 === 3)
      .select(col("asset_id"), col("ahash").as("hr"))
    val orig = ah.select((col("asset_id") + 1).as("asset_id"), col("ahash").as("ho"))
    val joined = rep.join(orig, Seq("asset_id"))
      .selectExpr("asset_id", "CAST(bit_count(hr ^ ho) AS BIGINT) AS hamming")
    val n = joined.count()
    assert(n > 0, "no replica/original alignments — fixture broken")
    // the +7000 single-sample bump moves only the first grid point, so
    // at most its one boundary delta bit flips
    val worst = joined.agg(smax(col("hamming"))).head().getLong(0)
    assert(worst <= 1, s"replica drifted beyond the single-boundary bound: $worst")
    // and the query actually surfaces near-dup pairs on this corpus
    val pairs = graft.SparkEntry.queries("dedup_audio_phash")(spark, sf)
    assert(pairs.count() > 0)
  }

  test("audioDhash56 quarantines non-mono, non-PCM-16, and malformed payloads") {
    assert(Multimodal.audioDhash56(1, null).isEmpty)
    assert(Multimodal.audioDhash56(1, "not audio at all, just text bytes".getBytes).isEmpty)
    val ok = Multimodal.wavPcm16Mono(8000, Array.tabulate(60)(i => (i * 321).toShort), infoBytes = 3)
    assert(Multimodal.audioDhash56(1, ok).isDefined)
    assert(Multimodal.audioDhash56(1, ok.dropRight(3)).isEmpty) // truncated data chunk
    // a stereo header must quarantine: flip the channel count in `fmt `
    val stereo = ok.clone()
    // fmt chunk body starts at 20 (RIFF 12 + "fmt " tag 4 + size 4); channels at +2
    stereo(22) = 2
    assert(Multimodal.audioDhash56(1, stereo).isEmpty)
    // mono is a hash-path restriction, not a decode restriction:
    // decodeWav's stats contract still admits the stereo payload
    assert(Multimodal.parseWav(1, stereo).isDefined)
  }

  test("imageEntropy: a flat fill scores 0, a gradient scores higher; real decode matches closed form") {
    import spark.implicits._
    // flat 4x4 (one luminance bin) vs a 4x4 with 16 distinct luminances
    val flat = Multimodal.bmp24(4, 4, (_, _) => (100, 100, 100))
    val grad = Multimodal.bmp24(4, 4, (x, y) => (16 * (4 * y + x), 0, 0))
    val assets = Seq((1L, flat), (2L, grad)).toDF("asset_id", "payload")
    val got = Multimodal.imageEntropy(spark, assets).collect()
      .map(e => e.asset_id -> e).toMap
    assert(got(1L).ent_sum_e4 == Math.round(16 * math.log(16) * 10000.0)) // one bin of 16
    assert(got(2L).ent_sum_e4 < got(1L).ent_sum_e4) // more bins => smaller core => higher H
    val h1 = math.log(16) - got(1L).ent_sum_e4 / (16 * 10000.0)
    val h2 = math.log(16) - got(2L).ent_sum_e4 / (16 * 10000.0)
    assert(math.abs(h1) < 1e-4)      // flat: zero entropy
    assert(h2 > 2.0)                 // 16 near-distinct bins: ~ln(16)=2.77
  }

  test("audioAmpEntropy: silence scores 0; a full-range sweep scores higher") {
    val silent = Multimodal.wavPcm16Mono(8000, Array.fill(64)(0.toShort))
    val sweep = Multimodal.wavPcm16Mono(8000,
      Array.tabulate(64)(i => (i * 1024 - 32768).toShort))
    val s0 = Multimodal.audioAmpEntropy(1L, silent).get
    val s1 = Multimodal.audioAmpEntropy(2L, sweep).get
    assert(s0.ent_sum_e4 == Math.round(64 * math.log(64) * 10000.0)) // one bin
    assert(s1.ent_sum_e4 < s0.ent_sum_e4)                            // spread bins
    assert(math.abs(math.log(64) - s0.ent_sum_e4 / (64 * 10000.0)) < 1e-4)
  }

  // ------------------------------------------------------------------
  // The quarantine contracts, one table per container, run through
  // every consumer of that container's walk
  // ------------------------------------------------------------------

  /** A RIFF/WAVE payload built chunk by chunk: a `fmt ` chunk of
    * `fmtSize` bytes (the first 16 hold format, channels, rate, byte
    * rate, block align and bits), then a `data` chunk of `data` bytes,
    * or the two in the other order.
    */
  private def wav(data: Array[Byte], format: Int = 1, channels: Int = 1, bits: Int = 16,
                  fmtSize: Int = 16, dataFirst: Boolean = false): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4096).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag(t: String): Unit = bb.put(t.getBytes("US-ASCII"))
    def fmt(): Unit = {
      tag("fmt "); bb.putInt(fmtSize)
      val body = java.nio.ByteBuffer.allocate(16).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      body.putShort(format.toShort).putShort(channels.toShort).putInt(8000)
        .putInt(8000 * channels * bits / 8).putShort((channels * bits / 8).toShort)
        .putShort(bits.toShort)
      bb.put(body.array(), 0, fmtSize)
    }
    def dat(): Unit = { tag("data"); bb.putInt(data.length); bb.put(data) }
    tag("RIFF"); bb.putInt(0); tag("WAVE")
    if (dataFirst) { dat(); fmt() } else { fmt(); dat() }
    val out = java.util.Arrays.copyOf(bb.array(), bb.position())
    java.nio.ByteBuffer.wrap(out).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(4, out.length - 8)
    out
  }

  private def s16le(samples: Int*): Array[Byte] =
    samples.flatMap(s => Seq((s & 0xff).toByte, ((s >> 8) & 0xff).toByte)).toArray

  test("the WAV quarantine table: each of the three WAV consumers admits or drops each payload") {
    val four = s16le(100, -200, 3000, -4000)
    val valid = Multimodal.wavPcm16Mono(8000, Array[Short](100, -200, 3000, -4000), infoBytes = 3)
    // payload -> (parseWav, audioDhash56, audioAmpEntropy) admits
    val table = Seq[(String, Array[Byte], (Boolean, Boolean, Boolean))](
      ("valid mono", valid, (true, true, true)),
      ("hand-built mono", wav(four), (true, true, true)),
      ("null", null, (false, false, false)),
      ("non-RIFF", "RIFX".getBytes("US-ASCII") ++ wav(four).drop(4), (false, false, false)),
      ("non-WAVE", wav(four).updated(8, 'A'.toByte), (false, false, false)),
      ("text", "not audio at all, just text bytes here".getBytes, (false, false, false)),
      ("truncated chunk", valid.dropRight(3), (false, false, false)),
      ("data before fmt", wav(four, dataFirst = true), (false, false, false)),
      ("fmt under 16 bytes", wav(four, fmtSize = 14), (false, false, false)),
      ("float", wav(s16le(0, 0, 0, 0), format = 3, bits = 32), (false, false, false)),
      ("8-bit PCM", wav(four, bits = 8), (false, false, false)),
      ("stereo", wav(four, channels = 2), (true, false, false)),
      ("odd data size", wav(four.dropRight(1)), (false, false, false)),
      ("0 samples", wav(Array.emptyByteArray), (false, false, false)),
      ("1 sample", wav(s16le(1234)), (true, false, true)))
    table.foreach { case (name, b, want) =>
      val got = (Multimodal.parseWav(7L, b).isDefined,
        Multimodal.audioDhash56(7L, b).isDefined,
        Multimodal.audioAmpEntropy(7L, b).isDefined)
      assert(got == want, name)
    }
  }

  test("the image quarantine table: each of the four ImageIO consumers admits or drops each payload") {
    import spark.implicits._
    val png = Multimodal.pngRgb24(6, 4, (x, y) => (10 * x, 20 * y, x + y))
    val rnd = new scala.util.Random(11)
    val payloads = Seq[(Long, Array[Byte])](
      1L -> png,
      2L -> Multimodal.bmp24(3, 2, (x, y) => (x, y, 7)),
      3L -> null,
      4L -> Array.fill(64)(rnd.nextInt(256).toByte),
      5L -> png.take(png.length / 2))
    val assets = payloads.toDF("asset_id", "payload")
    def admitted(ds: org.apache.spark.sql.Dataset[_]): Set[Long] =
      ds.toDF().select("asset_id").as[Long].collect().toSet
    val want = Set(1L, 2L)
    assert(admitted(Multimodal.decodePixels(spark, assets)) == want)
    assert(admitted(Multimodal.resizePixels(spark, assets, 2, 2)) == want)
    assert(admitted(Multimodal.dhash56(spark, assets)) == want)
    assert(admitted(Multimodal.imageEntropy(spark, assets)) == want)
  }
}
