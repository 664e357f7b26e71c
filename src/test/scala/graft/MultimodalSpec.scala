package graft

import org.apache.spark.sql.functions._
import graft.ext.MultimodalOps

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "tiny image payload"),
    (1L, "an audio asset with more bytes in it"),
    (2L, "video content bytes")
  ).toDF("doc_id", "text")

  test("assetsFromText produces binary payloads with typed metadata") {
    val assets = MultimodalOps.assetsFromText(docs, "doc_id", "text")
    assert(assets.schema("payload").dataType ==
      org.apache.spark.sql.types.BinaryType)
    val row = assets.filter($"asset_id" === 0).head()
    val meta = row.getStruct(row.fieldIndex("meta"))
    assert(meta.getAs[String]("media_type") == "image")
    assert(meta.getAs[Int]("width") >= 1 && meta.getAs[Int]("width") <= 1920)
    // payload round-trips to the original text
    assert(new String(row.getAs[Array[Byte]]("payload"), "UTF-8")
      == "tiny image payload")
  }

  test("extractFeatures: digest matches payload bytes, features bounded") {
    val feats = MultimodalOps.extractFeatures(
      MultimodalOps.assetsFromText(docs, "doc_id", "text"))
    val r = feats.filter($"asset_id" === 0).head()
    assert(r.getAs[Int]("n_bytes") == "tiny image payload".length)
    val expected = java.security.MessageDigest.getInstance("SHA-256")
      .digest("tiny image payload".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(r.getAs[String]("content_digest") == expected)
    val fs = r.getSeq[Double](r.fieldIndex("features"))
    assert(fs.size == 8 && fs.forall(f => f >= 0.0 && f < 1.0))
  }

  test("BMP encode→decode round-trips dimensions and exact pixel means") {
    import graft.ext.MediaCodecs
    val d = MediaCodecs.decodeBmp(MediaCodecs.encodeBmp24(5, 3, 10, 20, 30))
    assert(d.format == "bmp" && d.width.contains(5) && d.height.contains(3))
    assert(d.mean_r.contains(10.0) && d.mean_g.contains(20.0) &&
      d.mean_b.contains(30.0))
    // width 5 forces row padding (15 bytes → 16-byte stride); a decode
    // that misread the stride would smear padding into the means
  }

  test("WAV encode→decode round-trips rate, count, duration, mean") {
    import graft.ext.MediaCodecs
    val samples = Array[Short](100, 200, 300, 400)
    val d = MediaCodecs.decodeWav(MediaCodecs.encodeWavPcm16(8000, samples))
    assert(d.format == "wav" && d.sample_rate.contains(8000))
    assert(d.n_samples.contains(4L) && d.duration_ms.contains(0L))
    assert(d.mean_sample.contains(250.0))
    val long = MediaCodecs.decodeWav(
      MediaCodecs.encodeWavPcm16(8000, Array.fill(16000)(5: Short)))
    assert(long.duration_ms.contains(2000L) && long.mean_sample.contains(5.0))
  }

  test("PNG encode→decode round-trips real pixel values via ImageIO") {
    import graft.ext.MediaCodecs
    val d = MediaCodecs.decode(MediaCodecs.encodePng(7, 4, 10, 20, 30))
    assert(d.format == "png" && d.width.contains(7) && d.height.contains(4))
    // lossless: constant color survives deflate exactly
    assert(d.mean_r.contains(10.0) && d.mean_g.contains(20.0) &&
      d.mean_b.contains(30.0))
    // non-constant image: means are the true pixel averages
    val img = new java.awt.image.BufferedImage(2, 1,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xff0000) // red
    img.setRGB(1, 0, 0x0000ff) // blue
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val d2 = MediaCodecs.decode(bos.toByteArray)
    assert(d2.format == "png")
    assert(d2.mean_r.contains(127.5) && d2.mean_g.contains(0.0) &&
      d2.mean_b.contains(127.5))
  }

  test("JPEG decode via ImageIO: sniffed, dimensions exact, means near") {
    import graft.ext.MediaCodecs
    val img = new java.awt.image.BufferedImage(16, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    g.setColor(new java.awt.Color(100, 150, 200))
    g.fillRect(0, 0, 16, 8)
    g.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpeg", bos)
    val d = MediaCodecs.decode(bos.toByteArray)
    assert(d.format == "jpeg" && d.width.contains(16) && d.height.contains(8))
    // lossy codec: means approximate the source color
    assert(math.abs(d.mean_r.get - 100) < 8 &&
      math.abs(d.mean_g.get - 150) < 8 && math.abs(d.mean_b.get - 200) < 8)
    // truncated JPEG stays total
    assert(MediaCodecs.decode(bos.toByteArray.take(8)).format == "unknown")
  }

  test("decompression-bomb PNG header decodes to 'unknown' without " +
    "allocating the raster") {
    import graft.ext.MediaCodecs
    // take a valid 1x1 PNG and rewrite its IHDR to claim 60000x60000
    // (~14 GB INT_RGB raster), fixing the chunk CRC so the reader
    // accepts the header and reaches the dimension check
    val png = MediaCodecs.encodePng(1, 1, 5, 5, 5)
    val huge = png.clone()
    def putInt(off: Int, v: Int): Unit = {
      huge(off) = (v >>> 24).toByte; huge(off + 1) = (v >>> 16).toByte
      huge(off + 2) = (v >>> 8).toByte; huge(off + 3) = v.toByte
    }
    putInt(16, 60000) // IHDR width  (8 sig + 4 len + 4 type)
    putInt(20, 60000) // IHDR height
    val crc = new java.util.zip.CRC32
    crc.update(huge, 12, 4 + 13) // chunk type + IHDR payload
    putInt(29, crc.getValue.toInt)
    val d = MediaCodecs.decode(huge)
    assert(d.format == "unknown") // capped by MaxImagePixels, no OOM
    // the cap leaves normal-size images untouched
    assert(MediaCodecs.decode(png).format == "png")
  }

  test("malformed payloads decode to 'unknown', never throw") {
    import graft.ext.MediaCodecs
    assert(MediaCodecs.decode(null).format == "unknown")
    assert(MediaCodecs.decode(Array[Byte](1, 2, 3)).format == "unknown")
    assert(MediaCodecs.decode("BMxx".getBytes).format == "unknown")
    assert(MediaCodecs.decode(
      "RIFFxxxxWAVEgarbage".getBytes).format == "unknown")
    // truncated real BMP: header claims more pixels than present
    val bmp = MediaCodecs.encodeBmp24(4, 4, 1, 2, 3)
    assert(MediaCodecs.decode(bmp.take(40)).format == "unknown")
  }

  test("crafted malicious headers decode to 'unknown', never throw") {
    import graft.ext.MediaCodecs
    import java.nio.{ByteBuffer, ByteOrder}
    // BMP with a negative pixel-data offset: passes a naive end-bound
    // check, then would index bytes(-1000)
    val bmp1 = MediaCodecs.encodeBmp24(1, 1, 0, 0, 0)
    ByteBuffer.wrap(bmp1).order(ByteOrder.LITTLE_ENDIAN).putInt(10, -1000)
    assert(MediaCodecs.decode(bmp1).format == "unknown")
    // BMP whose width*3 overflows Int (negative stride in Int math)
    val bmp2 = MediaCodecs.encodeBmp24(1, 1, 0, 0, 0)
    ByteBuffer.wrap(bmp2).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(18, Int.MaxValue / 2)
    assert(MediaCodecs.decode(bmp2).format == "unknown")
    // BMP whose stride*height overflows LONG (a product-form bound
    // check would wrap negative and pass)
    val bmp3 = MediaCodecs.encodeBmp24(1, 1, 0, 0, 0)
    val b3 = ByteBuffer.wrap(bmp3).order(ByteOrder.LITTLE_ENDIAN)
    b3.putInt(18, Int.MaxValue)
    b3.putInt(22, Int.MaxValue)
    assert(MediaCodecs.decode(bmp3).format == "unknown")
    // WAV with a chunk length near Int.MaxValue (off + 8 + len wraps
    // negative in Int arithmetic)
    val wav = MediaCodecs.encodeWavPcm16(8000, Array[Short](1, 2))
    ByteBuffer.wrap(wav).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(16, Int.MaxValue)
    assert(MediaCodecs.decode(wav).format == "unknown")
  }

  test("decodeMedia decodes a mixed binary corpus distributed") {
    val assets = MultimodalOps.synthesizeMedia(
      spark.range(0, 10).toDF("doc_id"), "doc_id")
    val out = MultimodalOps.decodeMedia(assets).collect()
      .map(r => r.getAs[Long]("asset_id") -> r.getAs[String]("format"))
      .toMap
    assert(out == (0L to 9L).map(i =>
      i -> (if (i % 2 == 1) "wav"
            else if (i % 4 == 0) "png" else "bmp")).toMap)
    val r4 = MultimodalOps.decodeMedia(assets)
      .filter($"asset_id" === 4).head()
    assert(r4.getAs[Int]("width") == 5 && r4.getAs[Int]("height") == 5)
    assert(r4.getAs[Double]("mean_r") == 4.0)
  }

  test("sampleFrames emits ceil(duration/step) frames for av assets") {
    val assets = MultimodalOps.assetsFromText(docs, "doc_id", "text")
    val frames = MultimodalOps.sampleFrames(assets, fps = 1.0)
    val counts = frames.groupBy("asset_id").count()
      .as[(Long, Long)].collect().toMap
    val durations = assets
      .filter($"meta.media_type".isin("audio", "video"))
      .select($"asset_id", $"meta.duration_ms").as[(Long, Long)]
      .collect().toMap
    assert(counts.keySet == durations.keySet) // image assets excluded
    durations.foreach { case (id, dur) =>
      assert(counts(id) == (dur + 999) / 1000)
    }
  }

  test("decodeWavPcm round-trips exact samples; audioSegmentFeatures " +
    "windows them with hand-computed RMS") {
    import graft.ext.{MediaCodecs, MultimodalOps}
    val samples = Array[Short](3, -4, 0, 12, 5)
    val bytes = MediaCodecs.encodeWavPcm16(8000, samples)
    val Some((rate, decoded)) = MediaCodecs.decodeWavPcm(bytes)
    assert(rate == 8000 && decoded.toSeq == samples.toSeq)
    assert(MediaCodecs.decodeWavPcm(Array[Byte](1, 2, 3)).isEmpty)

    import spark.implicits._
    val assets = Seq((7L, bytes)).toDF("asset_id", "payload")
    val out = MultimodalOps.audioSegmentFeatures(assets,
        windowSamples = 4)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._2).toList
    // windows: [3,-4,0,12] → sqrt(169/4) = 6.5; [5] → 5.0
    assert(out == List((7L, 0L, 4L, 6.5), (7L, 1L, 1L, 5.0)))
  }

  test("encodeBmp24Gray/decodeBmpLuma round-trips the EXACT pixel " +
    "grid, orientation included (dHash bit addresses are positional)") {
    import graft.ext.MediaCodecs
    // asymmetric grid: top-left bright, bottom-right dark — a flipped
    // decode would swap them
    val w = 5; val h = 3
    val gray = Array.tabulate(w * h)(i => (i * 17) % 256)
    val bytes = MediaCodecs.encodeBmp24Gray(w, h, gray)
    val Some((dw, dh, luma)) = MediaCodecs.decodeBmpLuma(bytes)
    assert(dw == w && dh == h)
    assert(luma.toSeq == gray.toSeq)
    // malformed payloads decode to None, never throw
    assert(MediaCodecs.decodeBmpLuma(Array[Byte](1, 2, 3)).isEmpty)
    assert(MediaCodecs.decodeBmpLuma("RIFFxxxx".getBytes).isEmpty)
  }

  test("dHash: near-identical images land within a small Hamming " +
    "ball, unrelated images far; brightness shift moves nothing") {
    import graft.ext.{MediaCodecs, MultimodalOps}
    def sig(gray: Array[Int]): Long = {
      val bytes = MediaCodecs.encodeBmp24Gray(8, 8, gray)
      val Some((w, h, luma)) = MediaCodecs.decodeBmpLuma(bytes)
      MultimodalOps.dHash(w, h, luma)
    }
    val base = Array.tabulate(64)(i => ((i * 37 + 11) * (i * 37 + 11) / 8) % 256)
    val onePixel = base.clone(); onePixel(27) = (base(27) + 128) % 256
    val brighter = base.map(v => math.min(255, v + 30))
    val unrelated = Array.tabulate(64)(i => ((i * 53 + 7) * (i * 91 + 3) / 4) % 256)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sig(base), sig(onePixel)) <= 2,
      "one changed pixel flips at most its two adjacent comparisons")
    assert(ham(sig(base), sig(onePixel)) >= 1,
      "a +128 bump at a mid-row pixel must flip at least one bit")
    // uniform brightness shift preserves every gradient direction
    // except where the +30 clamp at 255 flattens a comparison
    assert(ham(sig(base), sig(brighter)) <= 4)
    assert(ham(sig(base), sig(unrelated)) > 10,
      s"unrelated images too close: ${ham(sig(base), sig(unrelated))}")
    // downsampling path: a 16x16 upscale of base (2x2 blocks) has the
    // identical dHash — block averaging of constant blocks is exact
    val up = Array.tabulate(256) { i =>
      val x = i % 16; val y = i / 16
      base((y / 2) * 8 + (x / 2))
    }
    val bytesUp = MediaCodecs.encodeBmp24Gray(16, 16, up)
    val Some((w16, h16, luma16)) = MediaCodecs.decodeBmpLuma(bytesUp)
    assert(MultimodalOps.dHash(w16, h16, luma16) == sig(base))
  }

  test("imageDHash + pigeonhole pairs find the planted near-copies " +
    "of synthesizePatternBmp (the dedup_image_phash data path)") {
    val ids = spark.range(0, 160).toDF("doc_id")
    val assets = MultimodalOps.synthesizePatternBmp(ids, "doc_id")
    val sigs = MultimodalOps.imageDHash(assets)
    assert(sigs.count() == 160, "every BMP must decode")
    val pairs = graft.ext.DedupOps.simhashPairsFromSigs(
        sigs.select(col("asset_id").as("doc_id"),
          col("phash").as("__sig")),
        maxDistance = 4, maxBucketSize = Int.MaxValue)
      .as[(Long, Long, Int)].collect()
    // ground truth by brute force over the signatures
    val sigMap = sigs.as[(Long, Long)].collect().toMap
    val brute = for {
      a <- sigMap.keys.toSeq; b <- sigMap.keys.toSeq
      if a < b
      hd = java.lang.Long.bitCount(sigMap(a) ^ sigMap(b))
      if hd <= 4
    } yield (a, b, hd)
    assert(pairs.toSet == brute.toSet,
      s"pigeonhole != brute: missing=${(brute.toSet -- pairs.toSet).take(5)}")
    // the signature-width-aware split (sigBits = 56, the registry
    // query's form) is exact too — any valid split only shifts cost
    val pairs56 = graft.ext.DedupOps.simhashPairsFromSigs(
        sigs.select(col("asset_id").as("doc_id"),
          col("phash").as("__sig")),
        maxDistance = 4, maxBucketSize = Int.MaxValue,
        sigBits = MultimodalOps.DHashBits)
      .as[(Long, Long, Int)].collect()
    assert(pairs56.toSet == brute.toSet, "sigBits=56 split diverged")
    // the planted structure genuinely exists: copies within a 16-id
    // window pair up (ids 7,8,9 mod 10 in the same window)
    assert(pairs.exists { case (a, b, _) => a / 16 == b / 16 &&
      a % 10 >= 7 && b % 10 >= 7 },
      "no planted window near-copy pair found")
    assert(brute.nonEmpty)
  }

  test("pattern pixel law is overflow-free at huge ids: JVM long " +
    "arithmetic == exact BigInt arithmetic past the old 1.1e8 knee " +
    "(ADVICE r13)") {
    // ids chosen around and far past the unmasked law's overflow
    // point (hh·2654435761 > 2⁶³ at seed ≈ 1.1e8): if any product
    // wrapped, the decoded luma would diverge from the BigInt-exact
    // law and so would the dHash the oracle recomputes.
    val bigIds = Seq(100000000L, 110000000L, 300000000L, 7000000007L)
    val assets = MultimodalOps.synthesizePatternBmp(
      bigIds.toDF("doc_id"), "doc_id")
    val decoded = assets.as[(Long, Array[Byte])].collect().toMap
    def exactLuma(id: Long): Seq[Int] = {
      val isCopy = id % 10 >= 7
      val seed = BigInt(if (isCopy) id - (id % 16) else id)
      val px = (id % 8).toInt; val py = ((id / 8) % 8).toInt
      (0 until 64).map { i =>
        val x = i % 8; val y = i / 8
        val hh = (seed * 31 + x * 13 + y * 7 + 1) mod BigInt(2147483648L)
        // every product in exact integers — no wrap possible
        var z = (hh * BigInt(2654435761L)) mod BigInt(4294967296L)
        z = z ^ (z >> 16)
        z = (z * BigInt(60493L)) mod BigInt(4294967296L)
        z = z ^ (z >> 16)
        val g0 = (z mod BigInt(256)).toInt
        if (isCopy && x == px && y == py) (g0 + 128) % 256 else g0
      }
    }
    for (id <- bigIds) {
      val Some((w, h, luma)) =
        graft.ext.MediaCodecs.decodeBmpLuma(decoded(id))
      assert(w == 8 && h == 8)
      assert(luma.toSeq == exactLuma(id),
        s"pixel law diverged from exact arithmetic at id=$id")
    }
  }
}
