package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns for training-data pipelines: media as opaque
  * `BinaryType` payloads with a typed metadata struct, plus the
  * decode / feature-extract / resize / frame-sample plumbing.
  *
  * The decode path is REAL for BMP, WAV, PNG, and JPEG
  * ([[MediaCodecs]]: hand-rolled parsers + the JDK's `javax.imageio`
  * — no external libraries). [[decodeStub]] remains only as the
  * documented seam for formats beyond those (video containers etc.,
  * whose codecs this sandbox doesn't ship): it derives deterministic
  * pseudo-features from payload bytes with the same row shape, so a
  * production deployment swaps in its codec without touching the
  * plumbing — schema, batch shape, partition-parallel execution, and
  * column pruning of large binaries are identical either way.
  *
  * Scale notes: payloads only flow through narrow maps — every
  * wide op (grouping, joins) runs on `asset_id`/metadata only, never
  * shuffling bytes. Parquet column pruning keeps `payload` unread for
  * metadata-only queries.
  */
object MultimodalOps {

  /** Typed metadata carried alongside every media payload. */
  val metaSchema: StructType = StructType(Seq(
    StructField("media_type", StringType),   // image | audio | video
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType),
    StructField("sample_rate", IntegerType)))

  val assetSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("payload", BinaryType),
    StructField("meta", metaSchema)))

  /** Build an asset frame from any (id, string) source — the test/
    * demo path that turns documents into binary payloads with
    * synthesized metadata. */
  def assetsFromText(df: DataFrame, idCol: String,
                     textCol: String): DataFrame =
    df.select(
      col(idCol).cast(LongType).as("asset_id"),
      col(textCol).cast(BinaryType).as("payload"),
      struct(
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col(idCol).cast(LongType), lit(3)) + 1).cast("int"))
          .as("media_type"),
        (pmod(xxhash64(col(textCol)), lit(1920L)) + 1).cast("int").as("width"),
        (pmod(xxhash64(col(textCol), lit(1)), lit(1080L)) + 1).cast("int")
          .as("height"),
        (pmod(xxhash64(col(textCol), lit(2)), lit(600000L)) + 1000)
          .as("duration_ms"),
        lit(16000).as("sample_rate")).as("meta"))

  /** STUB decode: deterministic pseudo-features from payload bytes —
    * stands in for a real codec (not available in this container).
    * Emits the decoded-frame shape a real decoder would: dimensions,
    * byte size, a content digest, and a small feature vector derived
    * from payload chunks. */
  def decodeStub(payload: Column, meta: Column): Column =
    struct(
      meta.getField("width").as("width"),
      meta.getField("height").as("height"),
      length(payload).as("n_bytes"),
      sha2(payload, 256).as("content_digest"),
      transform(sequence(lit(0), lit(7)),
        i => pmod(xxhash64(payload, i), lit(1000)).cast("double") / 1000.0)
        .as("features"))

  /** Real byte-level decode over (asset_id, payload) via
    * `mapPartitions` — per-partition imperative parsing of the binary
    * column, the one place the imperative escape hatch is the right
    * tool (a codec is not expressible as Catalyst expressions).
    * Narrow map: payload bytes never shuffle; the output rows carry
    * only scalars. Malformed payloads yield `format = "unknown"`
    * instead of failing the stage ([[MediaCodecs]] scaladoc). Reads
    * the `asset_id` and `payload` columns every asset frame here
    * carries. */
  def decodeMedia(assets: DataFrame): DataFrame = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets.select(col("asset_id").cast(LongType), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        (id, MediaCodecs.decode(bytes))
      })
      .select(col("_1").as("asset_id"), col("_2.*"))
  }

  /** Deterministic mixed-media corpus keyed by id — even ids become
    * solid-color images (id % 4 == 0 → compressed PNG through
    * `javax.imageio`, else uncompressed BMP — both lossless, so
    * constant color round-trips exactly), odd ids constant-amplitude
    * WAVs, with every decoded property a pure arithmetic function of
    * the id. This is what makes the decode round-trip
    * *oracle-checkable*: DuckDB can compute the expected
    * width/mean/duration from the id alone while Spark actually
    * encodes and decodes the bytes. */
  def synthesizeMedia(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast(LongType)).as[Long]
      .mapPartitions(_.map { id =>
        val payload =
          if (id % 2 == 0) {
            val v = (id % 256).toInt
            if (id % 4 == 0)
              MediaCodecs.encodePng((id % 16).toInt + 1,
                (id % 8).toInt + 1, v, v, v)
            else
              MediaCodecs.encodeBmp24((id % 16).toInt + 1,
                (id % 8).toInt + 1, v, v, v)
          } else {
            val n = (id % 100).toInt + 1
            val amp = (id % 1000).toShort
            MediaCodecs.encodeWavPcm16(8000, Array.fill(n)(amp))
          }
        (id, payload)
      })
      .select(col("_1").as("asset_id"), col("_2").as("payload"))
  }

  /** Ramp-signal WAV synthesis (every id): n = id%100+1 mono PCM-16
    * samples at 8 kHz with s_i = (id + i) % 2000 - 1000 — a varying
    * signal, so windowed energy features are non-trivial, while every
    * sample stays a pure arithmetic function of (id, i) and the
    * oracle can recompute the expected per-window RMS without
    * touching bytes (same contract as [[synthesizeMedia]]). */
  def synthesizeRampWav(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast(LongType)).as[Long]
      .mapPartitions(_.map { id =>
        val n = (id % 100).toInt + 1
        val samples = Array.tabulate(n)(i =>
          ((id + i) % 2000 - 1000).toShort)
        (id, MediaCodecs.encodeWavPcm16(8000, samples))
      })
      .select(col("_1").as("asset_id"), col("_2").as("payload"))
  }

  /** Windowed audio energy features: decode each asset's PCM
    * (REAL byte parse via [[MediaCodecs.decodeWavPcm]]), split into
    * fixed `windowSamples`-sample segments, emit per-segment count
    * and RMS — the segment-level representation an audio curation
    * pipeline filters on (silence/clipping gates). A pure narrow
    * flatMap: each asset's segments derive from its own payload, no
    * shuffle, payload never leaves the partition; undecodable
    * payloads yield zero rows rather than failing the job. RMS is
    * exact-integer arithmetic under sqrt (PCM values; sum of squares
    * < 2^53) so the value is engine-portable at 6 dp. Reads the
    * `asset_id` and `payload` columns, like [[decodeMedia]]. */
  def audioSegmentFeatures(assets: DataFrame,
                           windowSamples: Int): DataFrame = {
    // fail at plan time, not as a cryptic per-task grouped() error
    require(windowSamples > 0,
      s"windowSamples must be positive, got $windowSamples")
    val spark = assets.sparkSession
    import spark.implicits._
    assets.select(col("asset_id").cast(LongType), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        MediaCodecs.decodeWavPcm(bytes).toSeq.flatMap {
          case (_, samples) =>
            samples.grouped(windowSamples).zipWithIndex.map {
              case (win, wi) =>
                var sumSq = 0.0
                var i = 0
                while (i < win.length) {
                  val v = win(i).toDouble; sumSq += v * v; i += 1
                }
                val rms = BigDecimal(math.sqrt(sumSq / win.length))
                  .setScale(6, BigDecimal.RoundingMode.HALF_UP)
                  .toDouble
                (id, wi.toLong, win.length.toLong, rms)
            }
        }
      })
      .select(col("_1").as("asset_id"), col("_2").as("win_id"),
        col("_3").as("n"), col("_4").as("rms"))
  }

  /** Feature extraction over assets: narrow map, payload never
    * shuffled. */
  def extractFeatures(assets: DataFrame): DataFrame =
    assets.withColumn("decoded",
        decodeStub(col("payload"), col("meta")))
      .select(col("asset_id"), col("meta.media_type").as("media_type"),
        col("decoded.n_bytes").as("n_bytes"),
        col("decoded.content_digest").as("content_digest"),
        col("decoded.features").as("features"))

  /** Resize stub: recomputes metadata the way a resampling kernel
    * would, payload untouched (a real kernel maps payload too). */
  def resize(assets: DataFrame, maxWidth: Int, maxHeight: Int): DataFrame = {
    val w = col("meta.width")
    val h = col("meta.height")
    val scale = least(lit(maxWidth) / w.cast("double"),
      lit(maxHeight) / h.cast("double"), lit(1.0))
    assets.withColumn("meta", struct(
      col("meta.media_type").as("media_type"),
      floor(w * scale).cast("int").as("width"),
      floor(h * scale).cast("int").as("height"),
      col("meta.duration_ms").as("duration_ms"),
      col("meta.sample_rate").as("sample_rate")))
  }

  /** Frame sampling for video/audio assets: emits one row per sampled
    * frame timestamp at `fps` — pure plan-side row generation
    * (explode of a sequence), no payload movement. */
  def sampleFrames(assets: DataFrame, fps: Double): DataFrame = {
    val stepMs = lit((1000.0 / fps).toLong)
    assets
      .filter(col("meta.media_type").isin("video", "audio"))
      .select(col("asset_id"),
        explode(sequence(lit(0L), col("meta.duration_ms") - 1, stepMs))
          .as("frame_ts_ms"))
      .withColumn("frame_index",
        (col("frame_ts_ms") / stepMs).cast("long"))
  }

  // ------------------------------------------------------------------
  // Image perceptual hashing (dHash) — image-grain near-dup dedup
  // ------------------------------------------------------------------

  /** The dHash grid: luma is block-averaged to GridW × GridH cells
    * and each cell compares against its right neighbor — 56 bits
    * ((GridW-1) × GridH). 56, not the classic 64 from a 9×8 grid, so
    * the signature (and every XOR/shift over it) stays strictly
    * inside a SIGNED 63-bit long in BOTH engines — `1 << 63` is
    * engine-dependent territory the oracle must never enter. */
  val DHashGridW = 8
  val DHashGridH = 8
  val DHashBits: Int = (DHashGridW - 1) * DHashGridH

  /** dHash over a top-down row-major luma grid: block-average
    * downsample to [[DHashGridW]]×[[DHashGridH]] (integer mean —
    * exact identity when the image IS grid-sized), then bit
    * (y·(GridW-1) + x) = 1 iff cell(x+1, y) > cell(x, y). Gradient
    * direction is what survives brightness/contrast shifts — the
    * standard dHash robustness argument. Pure JVM arithmetic; used
    * inside the decode `mapPartitions`, never as a UDF on the plan. */
  def dHash(width: Int, height: Int, luma: Array[Int]): Long = {
    val gw = DHashGridW; val gh = DHashGridH
    val cells = new Array[Long](gw * gh)
    var cy = 0
    while (cy < gh) {
      val y0 = (cy.toLong * height / gh).toInt
      val y1 = math.max(y0 + 1, ((cy + 1).toLong * height / gh).toInt)
      var cx = 0
      while (cx < gw) {
        val x0 = (cx.toLong * width / gw).toInt
        val x1 = math.max(x0 + 1, ((cx + 1).toLong * width / gw).toInt)
        var s = 0L; var n = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { s += luma(y * width + x); n += 1; x += 1 }
          y += 1
        }
        cells(cy * gw + cx) = s / n
        cx += 1
      }
      cy += 1
    }
    var sig = 0L
    var y = 0
    while (y < gh) {
      var x = 0
      while (x < gw - 1) {
        if (cells(y * gw + x + 1) > cells(y * gw + x))
          sig |= 1L << (y * (gw - 1) + x)
        x += 1
      }
      y += 1
    }
    sig
  }

  /** Deterministic PATTERNED image corpus with planted near-copies —
    * the [[synthesizeMedia]] contract (every pixel a pure arithmetic
    * function of the id, so DuckDB recomputes the expected dHash from
    * the id alone while Spark genuinely encodes, decodes, and hashes
    * bytes) extended to per-pixel content:
    *
    *  - ids with `id % 10 >= 7` are NEAR-COPIES: they share their
    *    16-id window's pattern seed (`id - id % 16`), so copies land
    *    in corpus-LINEAR clusters (~constant per window — the answer
    *    never goes quadratic at scale legs), and each copy perturbs
    *    ONE pixel (position a function of the id), moving its dHash
    *    ≤ 2 bits from the shared pattern;
    *  - all other ids are originals with seed = id (an original whose
    *    id is its own window base shares the copies' pattern — the
    *    original-plus-its-copies case).
    *
    * Pixel law (8×8, grid-sized so downsampling is exact identity):
    * `h = (seed·31 + x·13 + y·7 + 1) mod 2³¹` finalized through a
    * two-round multiply–xorshift avalanche (`z = h·2654435761 mod
    * 2³²; z ^= z≫16; z = z·60493 mod 2³²; z ^= z≫16; g₀ = z mod
    * 256`). Both engines do exact 64-bit integer arithmetic, so the
    * law is engine-portable; the 31-bit pre-mask keeps every product
    * under 2⁶³ for ANY id (MultimodalSpec pins this against exact
    * BigInt arithmetic at seed 3×10⁸, past the old overflow knee).
    * A POLYNOMIAL law is not good enough here — the first two r13
    * attempts each failed at a scale leg, instructively: bits 8–15
    * of h² factor through `h mod 2^16` (the 2^17·h·k cross term
    * vanishes), so every 65536th seed produced an IDENTICAL grid and
    * the 200k-doc zipf4 answer collapsed into 61 M quadratic pairs;
    * bits 16–23 fixed the aliasing but made adjacent cells
    * CORRELATED (the window step 26h/2^16 rarely wraps mod 256, so
    * most gradient bits agree and cross-seed hammings concentrate
    * near 0 — 59 % of all pairs "near-dup" at the gate SF). The
    * xorshift rounds give both properties at once (validated at 200k
    * ids: 180k distinct signatures, 0 hamming ≤ 4 cross-pairs in
    * 200k random samples, planted copies at hamming 1). Copies bump
    * their one pixel by +128 mod 256. */
  def synthesizePatternBmp(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val w = DHashGridW; val h = DHashGridH
    df.select(col(idCol).cast(LongType)).as[Long]
      .mapPartitions(_.map { id =>
        val isCopy = id % 10 >= 7
        val seed = if (isCopy) id - (id % 16) else id
        val px = (id % 8).toInt
        val py = ((id / 8) % 8).toInt
        val gray = Array.tabulate(w * h) { i =>
          val x = i % w; val y = i / w
          // 31-bit mask BEFORE the avalanche multiply (ADVICE r13):
          // unmasked, hh·2654435761 exceeds 2⁶³ once hh ≳ 3.47e9
          // (seed ≈ 1.1e8) — the JVM wraps silently where DuckDB
          // BIGINT errors, so the law stopped being engine-portable
          // exactly at the ids only a very large leg reaches. Masked
          // to 31 bits the product is ≤ (2³¹−1)·2654435761 < 2⁶³ on
          // both engines for ANY id; signatures change only for
          // seeds ≥ 2³¹/31 ≈ 6.9e7 (below that hh < 2³¹ and the mask
          // is the identity), and the law's alias period becomes
          // ~6.9e7 seeds — far past any leg, and 1000× the 65k
          // period that bit the r13 polynomial law.
          val hh = (seed * 31 + x * 13 + y * 7 + 1) & 0x7FFFFFFFL
          var z = (hh * 2654435761L) & 0xFFFFFFFFL
          z ^= z >>> 16
          z = (z * 60493L) & 0xFFFFFFFFL
          z ^= z >>> 16
          val g0 = (z % 256).toInt
          if (isCopy && x == px && y == py) ((g0 + 128) % 256) else g0
        }
        (id, MediaCodecs.encodeBmp24Gray(w, h, gray))
      })
      .select(col("_1").as("asset_id"), col("_2").as("payload"))
  }

  /** Per-image dHash signatures from the PAYLOAD BYTES: decode the
    * full luma grid ([[MediaCodecs.decodeBmpLuma]] — a real byte
    * parse) and hash it, in one narrow `mapPartitions` (the decode
    * escape hatch — payloads never shuffle; the output is 16 bytes a
    * row). Undecodable payloads yield no row rather than a fake
    * signature. Pair generation belongs to the simhash pigeonhole
    * machinery over the returned `(asset_id, phash)` frame
    * ([[graft.ext.DedupOps.simhashPairsFromSigs]]) — Hamming-ball
    * probing is signature-agnostic. Reads the `asset_id` and
    * `payload` columns, like [[decodeMedia]]. */
  def imageDHash(assets: DataFrame): DataFrame = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets.select(col("asset_id").cast(LongType), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        MediaCodecs.decodeBmpLuma(bytes).map { case (w, h, luma) =>
          (id, dHash(w, h, luma))
        }
      })
      .select(col("_1").as("asset_id"), col("_2").as("phash"))
  }
}
