package graft.ops

import graft.{Hash, OracleSql, Q, Tables}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multimodal column handling (builder-brief extension): image/audio/
  * video as opaque binary columns with typed metadata, decode/feature-
  * extraction behind a pluggable stub.
  *
  * The container has no media libraries, so the generic triad's
  * decode step is a deterministic fake ([[StubMediaDecoder]]) — but
  * the Spark-side plumbing is real: a binary payload column, a typed
  * metadata struct, batch-shaped `mapPartitions` feature extraction
  * over a case-class Dataset, and partition-friendly schemas. For the
  * formats simple enough to parse honestly in pure JVM code, the
  * decode IS real: [[qMediaWavRoundtrip]] and [[qMediaBmpRoundtrip]]
  * encode genuine WAV/BMP files and re-derive every output field by
  * parsing the bytes back ([[MediaCodec]]). Swap the decoder trait
  * for a JNI/FFmpeg/PIL-backed implementation for the rest at
  * deployment.
  *
  * Oracle strategy: DuckDB's md5 only accepts VARCHAR, so every value
  * the oracle compares is derived from the text payload; Spark routes
  * the same bytes through the BinaryType column to prove the plumbing.
  *
  * Scale notes: feature extraction is map-only (no shuffle); payload
  * bytes stay columnar in parquet and are pruned unless projected;
  * `mapPartitions` amortizes decoder initialization per task exactly
  * like a Pandas-UDF batch would.
  */
object Multimodal {

  /** One media asset: payload + typed metadata. */
  final case class MediaAsset(
      doc_id: Long,
      media_type: String,
      payload: Array[Byte],
      width: Int,
      height: Int,
      n_bytes: Long)

  final case class MediaFeatures(
      doc_id: Long,
      media_type: String,
      n_bytes: Long,
      checksum: String,
      feature: Double)

  /** Pluggable decode/feature step — the production impl would wrap a
    * real codec; tests and queries use the deterministic stub.
    */
  trait MediaDecoder extends Serializable {
    def features(asset: MediaAsset): MediaFeatures
  }

  /** Deterministic fake decoder: checksum = md5 of the payload text,
    * feature = byte-sum scaled. Everything derivable by the oracle.
    */
  object StubMediaDecoder extends MediaDecoder {
    override def features(a: MediaAsset): MediaFeatures = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val checksum = md.digest(a.payload)
        .map(b => f"${b & 0xff}%02x").mkString
      var s = 0L
      a.payload.foreach(b => s += (b & 0xff))
      MediaFeatures(a.doc_id, a.media_type, a.n_bytes, checksum,
        s.toDouble / math.max(a.n_bytes, 1L))
    }
  }

  /** documents → media assets: the text payload as opaque bytes plus
    * deterministic typed metadata (the "ingest" step of a media table).
    */
  def assets(s: SparkSession, d: String): Dataset[MediaAsset] = {
    import s.implicits._
    Tables
      .documents(s, d)
      .select(
        col("doc_id"),
        element_at(
          array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")
        ).as("media_type"),
        encode(col("text"), "UTF-8").as("payload"),
        (lit(64) + pmod(col("n_chars"), lit(1024))).cast("int").as("width"),
        (lit(64) + pmod(col("n_chars") * 7, lit(768))).cast("int").as("height"),
        octet_length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes")
      )
      .as[MediaAsset]
  }

  /** q_media_metadata — ingest + metadata projection (no decode):
    * payload stays opaque; metadata and checksum are scan-side columns.
    */
  val qMediaMetadata = Q(
    "q_media_metadata",
    (s, d) =>
      assets(s, d).toDF()
        .select(
          col("doc_id"),
          col("media_type"),
          col("width"),
          col("height"),
          col("n_bytes"),
          md5(col("payload")).as("checksum")
        )
        .orderBy("doc_id"),
    Some(
      """SELECT doc_id,
        |  ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
        |  CAST(64 + n_chars % 1024 AS INT) AS width,
        |  CAST(64 + (n_chars * 7) % 768 AS INT) AS height,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS checksum
        |FROM documents ORDER BY doc_id""".stripMargin
    )
  )

  /** q_media_features — the decode/feature-extract step: typed Dataset
    * `mapPartitions` through the pluggable decoder (stubbed), batch per
    * partition.
    */
  val qMediaFeatures = Q(
    "q_media_features",
    (s, d) => {
      import s.implicits._
      assets(s, d)
        .mapPartitions { it =>
          val dec = StubMediaDecoder // per-task decoder init
          it.map(dec.features)
        }
        .toDF()
        .orderBy("doc_id")
    },
    Some(
      """WITH b AS (
        |  SELECT doc_id,
        |    ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |    md5(text) AS checksum,
        |    list_sum(list_transform(range(1, length(text) + 1),
        |      i -> unicode(substr(text, i, 1)))) AS bytesum
        |  FROM documents)
        |SELECT doc_id, media_type, n_bytes, checksum,
        |  CAST(bytesum AS DOUBLE) / greatest(n_bytes, 1) AS feature
        |FROM b ORDER BY doc_id""".stripMargin
    )
  )

  /** q_media_frames — frame sampling of a "video" payload: fixed-stride
    * 64-byte frames, each fingerprinted; the shuffle-free map shape of
    * video preprocessing at scale.
    */
  val qMediaFrames = Q(
    "q_media_frames",
    (s, d) => {
      // ceil(len/64) frames at stride 64, mirroring the oracle exactly
      val nFrames = greatest(ceil(length(col("text")) / lit(64.0)), lit(1L))
      val frames = transform(
        sequence(lit(1L), nFrames),
        i => md5(col("text").substr(((i - 1) * 64 + 1).cast("int"), lit(64)))
      )
      Tables
        .documents(s, d)
        .filter(pmod(col("doc_id"), lit(3)) === 2) // the "video" assets
        .select(col("doc_id"), posexplode(frames).as(Seq("frame_no", "frame_sig")))
        .orderBy("doc_id", "frame_no")
    },
    Some(
      """SELECT doc_id, CAST(i - 1 AS INT) AS frame_no,
        |  md5(substr(text, CAST((i - 1) * 64 + 1 AS INT), 64)) AS frame_sig
        |FROM documents,
        |  LATERAL (SELECT unnest(range(1,
        |    greatest((length(text) + 63) // 64, 1) + 1)) AS i) r
        |WHERE doc_id % 3 = 2
        |ORDER BY doc_id, frame_no""".stripMargin
    )
  )

  /** q_media_frame_dedup — cross-asset frame-level dedup: frames whose
    * content signature appears anywhere else in the corpus survive only
    * at the lexicographically first (doc_id, frame_no) occurrence —
    * the video-dedup pass that strips shared intros / stock footage /
    * test cards before frames reach a vision encoder. Emits per asset
    * its frame count and how many frames were non-canonical
    * duplicates.
    *
    * 100 TB shape: the C4-span pattern on frames — one shuffle keyed
    * by signature ranks each signature's occurrences by the true
    * composite order (doc_id, frame_no) (no packed integer key, so no
    * frame-count or doc-id bound to overflow), and the per-asset
    * rollup groups on the key the frames were generated from.
    */
  val qMediaFrameDedup = Q(
    "q_media_frame_dedup",
    (s, d) => {
      val frames = qMediaFrames.fn(s, d)
      val rn = row_number().over(
        Window.partitionBy("frame_sig").orderBy("doc_id", "frame_no"))
      frames.withColumn("rn", rn)
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("int").as("n_frames"),
          sum(when(col("rn") > 1, 1L).otherwise(0L)).cast("int")
            .as("n_dup_frames"))
        .orderBy("doc_id")
    },
    Some(
      """WITH frames AS (
        |  SELECT doc_id, CAST(i - 1 AS INT) AS frame_no,
        |    md5(substr(text, CAST((i - 1) * 64 AS INT) + 1, 64)) AS frame_sig
        |  FROM documents,
        |    LATERAL (SELECT unnest(range(1,
        |      greatest((length(text) + 63) // 64, 1) + 1)) AS i) r
        |  WHERE doc_id % 3 = 2),
        |ranked AS (
        |  SELECT doc_id, row_number() OVER (
        |    PARTITION BY frame_sig ORDER BY doc_id, frame_no) AS rn
        |  FROM frames)
        |SELECT doc_id, CAST(count(*) AS INT) AS n_frames,
        |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS INT)
        |    AS n_dup_frames
        |FROM ranked GROUP BY doc_id ORDER BY doc_id""".stripMargin
    )
  )

  /** q_media_audio_windows — the audio half of media preprocessing:
    * overlapping analysis windows (400-byte window, 160-byte hop — the
    * 25 ms / 10 ms framing ASR front-ends use, in byte units) over the
    * "audio" assets, a VAD-style activity gate per window (≥ 30%
    * non-space payload, the engine-exact stand-in for an energy
    * threshold), and the per-asset rollup a segmenter emits: window
    * count, voiced count, voiced fraction in exact ppm.
    *
    * 100 TB shape: windowing + gating are per-row generated columns
    * inside whole-stage codegen (no shuffle, payload never leaves the
    * scan task); the only shuffle carries one 4-column row per asset.
    * A real deployment swaps the gate for a decoder UDF batch — the
    * window/hop bookkeeping, which is what this query pins, is
    * unchanged.
    */
  val qMediaAudioWindows = Q(
    "q_media_audio_windows",
    (s, d) => {
      val len = length(col("text"))
      // 1 + floor((len-400)/160) windows once len ≥ 400; else 1 short one
      val nWin = when(len >= 400, lit(1L) + floor((len - 400) / lit(160.0))
        .cast("long")).otherwise(lit(1L))
      val voiced = transform(
        sequence(lit(1L), nWin),
        i => {
          val w = col("text").substr(((i - 1) * 160 + 1).cast("int"), lit(400))
          (length(regexp_replace(w, " ", "")) * 100 >= length(w) * 30)
            .cast("long")
        })
      Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(3)) === 1) // the "audio" assets
        .select(col("doc_id"), nWin.as("n_windows"),
          aggregate(voiced, lit(0L), (acc, x) => acc + x).as("n_voiced"))
        .select(col("doc_id"), col("n_windows"), col("n_voiced"),
          expr("n_voiced * 1000000 div n_windows").as("voiced_ppm"))
        .orderBy("doc_id")
    },
    Some(
      """WITH win AS (
        |  SELECT doc_id,
        |    CASE WHEN length(text) >= 400
        |      THEN 1 + (length(text) - 400) // 160 ELSE 1 END AS n_windows,
        |    text
        |  FROM documents WHERE doc_id % 3 = 1),
        |gated AS (
        |  SELECT doc_id, n_windows,
        |    CAST(sum(CASE WHEN
        |        length(replace(substr(text, CAST((i - 1) * 160 + 1 AS INT),
        |          400), ' ', '')) * 100
        |        >= length(substr(text, CAST((i - 1) * 160 + 1 AS INT),
        |          400)) * 30
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_voiced
        |  FROM win, LATERAL (SELECT unnest(range(1, n_windows + 1)) AS i) r
        |  GROUP BY doc_id, n_windows)
        |SELECT doc_id, n_windows, n_voiced,
        |  (n_voiced * 1000000) // n_windows AS voiced_ppm
        |FROM gated ORDER BY doc_id""".stripMargin
    )
  )

  /** q_media_wav_roundtrip — REAL decoder over real bytes: each
    * "audio" asset is rendered as a genuine PCM16 WAV file (RIFF +
    * fmt + data, [[MediaCodec.encodeWavPcm16Mono]]) whose samples
    * and rate derive from closed-form integer arithmetic, and the
    * decoded facts come ONLY from parsing those bytes back
    * ([[MediaCodec.decodeWav]]: magic check, chunk walk, fmt field
    * extraction, little-endian int16 frame decode). The oracle
    * recomputes every field from the generating parameters — a
    * header-layout or endianness bug in either codec breaks the
    * hash. Sample rate alternates 8/16 kHz so the rate field is
    * PARSED, not assumed.
    *
    * 100 TB shape: encode+decode run inside one `mapPartitions` over
    * the pruned (doc_id) column — map-only, no shuffle before the
    * output sort, payload bytes never leave the task (the justified
    * opaque-codec boundary, same as q_media_features).
    */
  val qMediaWavRoundtrip = Q(
    "q_media_wav_roundtrip",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(3)) === 1) // the "audio" assets
        .select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val n    = (160 + id % 320).toInt
            val rate = if (id % 2 == 0) 8000 else 16000
            val samples = Array.tabulate(n)(i =>
              (((id * 31 + i.toLong * 17) % 65536) - 32768).toShort)
            val wav  = MediaCodec.encodeWavPcm16Mono(samples, rate)
            val info = MediaCodec.decodeWav(wav)
            (id, wav.length.toLong, info.sample_rate, info.n_channels,
              info.bits_per_sample, info.n_samples, info.duration_us,
              info.peak, info.energy)
          }
        }
        .toDF("doc_id", "file_bytes", "sample_rate", "n_channels",
          "bits_per_sample", "n_samples", "duration_us", "peak", "energy")
        .orderBy("doc_id")
    },
    Some(
      """WITH a AS (
        |  SELECT doc_id, 160 + doc_id % 320 AS n,
        |    CASE WHEN doc_id % 2 = 0 THEN 8000 ELSE 16000 END AS rate
        |  FROM documents WHERE doc_id % 3 = 1),
        |s AS (
        |  SELECT doc_id, n, rate,
        |    list_transform(range(0, n),
        |      i -> ((doc_id * 31 + i * 17) % 65536) - 32768) AS smp
        |  FROM a)
        |SELECT doc_id,
        |  CAST(44 + 2 * n AS BIGINT) AS file_bytes,
        |  CAST(rate AS INT) AS sample_rate,
        |  CAST(1 AS INT) AS n_channels,
        |  CAST(16 AS INT) AS bits_per_sample,
        |  CAST(n AS BIGINT) AS n_samples,
        |  CAST(n * 1000000 // rate AS BIGINT) AS duration_us,
        |  CAST(list_max(list_transform(smp, x -> abs(x))) AS INT) AS peak,
        |  CAST(list_sum(list_transform(smp, x -> x * x)) AS BIGINT)
        |    AS energy
        |FROM s ORDER BY doc_id""".stripMargin
    )
  )

  /** q_media_bmp_roundtrip — the image sibling: each "image" asset is
    * rendered as a genuine 24-bit bottom-up BMP
    * ([[MediaCodec.encodeBmp24]]: BITMAPINFOHEADER, 4-byte row-stride
    * padding) and decoded back by [[MediaCodec.decodeBmp]]. The two
    * sums pin the structure a naive parser gets wrong: `pix_sum`
    * breaks iff stride padding leaks into the pixels, and
    * `first_row_sum` (the logical TOP row) breaks iff bottom-up row
    * storage is mishandled.
    *
    * 100 TB shape: identical to the WAV round-trip — one map-only
    * `mapPartitions` over (doc_id, n_chars), no shuffle before the
    * output sort.
    */
  val qMediaBmpRoundtrip = Q(
    "q_media_bmp_roundtrip",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(3)) === 0) // the "image" assets
        .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
        .mapPartitions { it =>
          it.map { case (id, nc) =>
            val w = (1 + nc % 16).toInt
            val h = (1 + (nc * 7) % 16).toInt
            val bmp = MediaCodec.encodeBmp24(w, h,
              k => ((k.toLong * 37 + id) % 256).toInt)
            val info = MediaCodec.decodeBmp(bmp)
            (id, info.width, info.height, info.bpp, info.file_size,
              info.pix_sum, info.first_row_sum)
          }
        }
        .toDF("doc_id", "width", "height", "bpp", "file_size",
          "pix_sum", "first_row_sum")
        .orderBy("doc_id")
    },
    Some(
      """WITH a AS (
        |  SELECT doc_id, 1 + n_chars % 16 AS w,
        |    1 + (n_chars * 7) % 16 AS h
        |  FROM documents WHERE doc_id % 3 = 0)
        |SELECT doc_id,
        |  CAST(w AS INT) AS width,
        |  CAST(h AS INT) AS height,
        |  CAST(24 AS INT) AS bpp,
        |  CAST(54 + ((3 * w + 3) // 4) * 4 * h AS BIGINT) AS file_size,
        |  CAST(list_sum(list_transform(range(0, w * h * 3),
        |    k -> (k * 37 + doc_id) % 256)) AS BIGINT) AS pix_sum,
        |  CAST(list_sum(list_transform(range(0, w * 3),
        |    k -> (k * 37 + doc_id) % 256)) AS BIGINT) AS first_row_sum
        |FROM a ORDER BY doc_id""".stripMargin
    )
  )

  /** q_media_channel_stats — per-channel feature extraction over REAL
    * decoded pixels: each "image" asset's BMP (same closed-form
    * generation as [[qMediaBmpRoundtrip]]) is decoded back to its
    * logical pixel stream ([[MediaCodec.decodeBmpPixels]] — padding
    * stripped, bottom-up unwound) and reduced to per-channel (B, G, R)
    * byte sums and a ppm-quantized channel mean — the
    * channel-imbalance statistic an image-curation pass uses to drop
    * monochrome/degenerate assets before a vision encoder sees them.
    * Any pixel-order or padding bug shifts bytes between channels and
    * breaks the hash.
    *
    * 100 TB shape: map-only mapPartitions (encode+decode inside the
    * task), 4 small columns out, one output-sort exchange.
    */
  val qMediaChannelStats = Q(
    "q_media_channel_stats",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(3)) === 0) // the "image" assets
        .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
        .mapPartitions { it =>
          it.map { case (id, nc) =>
            val w = (1 + nc % 16).toInt
            val h = (1 + (nc * 7) % 16).toInt
            val bmp = MediaCodec.encodeBmp24(w, h,
              k => ((k.toLong * 37 + id) % 256).toInt)
            val pix = MediaCodec.decodeBmpPixels(bmp)
            val sums = Array.fill(3)(0L)
            var k = 0
            while (k < pix.length) { sums(k % 3) += pix(k) & 0xff; k += 1 }
            val n = (pix.length / 3).toLong
            (id, sums(0), sums(1), sums(2),
              sums(0) * 1000000L / (255L * n),
              sums(1) * 1000000L / (255L * n),
              sums(2) * 1000000L / (255L * n))
          }
        }
        .toDF("doc_id", "b_sum", "g_sum", "r_sum",
          "b_mean_ppm", "g_mean_ppm", "r_mean_ppm")
        .orderBy("doc_id")
    },
    Some(
      """WITH a AS (
        |  SELECT doc_id, 1 + n_chars % 16 AS w,
        |    1 + (n_chars * 7) % 16 AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |ch AS (
        |  SELECT doc_id, w * h AS n,
        |    list_sum(list_transform(range(0, w * h), p ->
        |      (p * 3 * 37 + doc_id) % 256)) AS b_sum,
        |    list_sum(list_transform(range(0, w * h), p ->
        |      ((p * 3 + 1) * 37 + doc_id) % 256)) AS g_sum,
        |    list_sum(list_transform(range(0, w * h), p ->
        |      ((p * 3 + 2) * 37 + doc_id) % 256)) AS r_sum
        |  FROM a)
        |SELECT doc_id,
        |  CAST(b_sum AS BIGINT) AS b_sum,
        |  CAST(g_sum AS BIGINT) AS g_sum,
        |  CAST(r_sum AS BIGINT) AS r_sum,
        |  CAST(b_sum * 1000000 // (255 * n) AS BIGINT) AS b_mean_ppm,
        |  CAST(g_sum * 1000000 // (255 * n) AS BIGINT) AS g_mean_ppm,
        |  CAST(r_sum * 1000000 // (255 * n) AS BIGINT) AS r_mean_ppm
        |FROM ch ORDER BY doc_id""".stripMargin
    )
  )

  /** q_media_zero_crossings — signal-level feature extraction over
    * REAL decoded PCM frames: each "audio" asset's WAV (same
    * closed-form samples as [[qMediaWavRoundtrip]]) is decoded back
    * to its int16 frames ([[MediaCodec.decodeWavSamples]]) and
    * reduced to the zero-crossing count (s_i·s_{i+1} < 0 — the
    * classic cheap voicing/noisiness discriminator ASR curation uses)
    * and the longest sub-threshold "silence" run (|s| < 8192), the
    * trim-detection statistic. Pure integer decisions on decoded
    * values — an endianness or frame-alignment bug flips them.
    *
    * 100 TB shape: map-only mapPartitions, 3 small columns out, one
    * output-sort exchange.
    */
  val qMediaZeroCrossings = Q(
    "q_media_zero_crossings",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(3)) === 1) // the "audio" assets
        .select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val n    = (160 + id % 320).toInt
            val rate = if (id % 2 == 0) 8000 else 16000
            val samples = Array.tabulate(n)(i =>
              (((id * 31 + i.toLong * 17) % 65536) - 32768).toShort)
            val smp = MediaCodec.decodeWavSamples(
              MediaCodec.encodeWavPcm16Mono(samples, rate))
            var zc = 0L; var run = 0L; var maxRun = 0L
            var i = 0
            while (i < smp.length) {
              if (i > 0 && smp(i - 1).toLong * smp(i).toLong < 0) zc += 1
              if (math.abs(smp(i).toInt) < 8192) {
                run += 1; if (run > maxRun) maxRun = run
              } else run = 0
              i += 1
            }
            (id, smp.length.toLong, zc, maxRun)
          }
        }
        .toDF("doc_id", "n_samples", "zero_crossings", "max_quiet_run")
        .orderBy("doc_id")
    },
    Some(
      """WITH a AS (
        |  SELECT doc_id, 160 + doc_id % 320 AS n
        |  FROM documents WHERE doc_id % 3 = 1),
        |s AS (
        |  SELECT doc_id, n,
        |    list_transform(range(0, n),
        |      i -> ((doc_id * 31 + i * 17) % 65536) - 32768) AS smp
        |  FROM a),
        |zc AS (
        |  SELECT doc_id, n,
        |    list_sum(list_transform(range(1, n),
        |      i -> CASE WHEN smp[i] * smp[i + 1] < 0
        |        THEN 1 ELSE 0 END)) AS zero_crossings,
        |    smp
        |  FROM s),
        |runs AS (
        |  -- longest sub-threshold run: for each start i, the run is
        |  -- maximal when position i starts a quiet stretch; bounded
        |  -- n² list arithmetic is fine at n ≤ 480
        |  SELECT doc_id, n, zero_crossings,
        |    coalesce(list_max(list_transform(range(1, n + 1), i ->
        |      CASE WHEN abs(smp[i]) < 8192
        |        AND (i = 1 OR abs(smp[i - 1]) >= 8192)
        |      THEN coalesce(list_min(list_filter(range(i, n + 1),
        |          j -> abs(smp[j]) >= 8192)), n + 1) - i
        |      ELSE 0 END)), 0) AS max_quiet_run
        |  FROM zc)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
        |  CAST(zero_crossings AS BIGINT) AS zero_crossings,
        |  CAST(max_quiet_run AS BIGINT) AS max_quiet_run
        |FROM runs ORDER BY doc_id""".stripMargin
    )
  )

  /** q_media_resize — nearest-neighbor downsample over REAL decoded
    * pixels: each "image" asset's BMP (same closed-form generation as
    * [[qMediaBmpRoundtrip]]) is decoded to its logical pixel stream
    * and resampled to a fixed 4×4 thumbnail — out(x,y) ← src(⌊x·w/4⌋,
    * ⌊y·h/4⌋) — the resize-to-encoder-resolution step every vision
    * preprocessing pipeline runs. The emitted thumbnail byte sum and
    * the top-left output pixel's three channels pin the sampling
    * GEOMETRY: an off-by-one in the coordinate map, a stride/padding
    * leak, or a bottom-up mix-up all shift which source pixels are
    * sampled and break the values. The oracle recomputes the sampled
    * source indices in closed form from the generating parameters —
    * the Spark side goes through genuine encode → parse → resample.
    *
    * 100 TB shape: map-only mapPartitions (the justified opaque-codec
    * shape — decode + resample inside the task), 5 small columns out,
    * one output-sort exchange. Thumbnails of a 100 TB image corpus
    * shuffle 48 B each, never the originals.
    */
  val qMediaResize = Q(
    "q_media_resize",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(3)) === 0) // the "image" assets
        .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
        .mapPartitions { it =>
          it.map { case (id, nc) =>
            val w = (1 + nc % 16).toInt
            val h = (1 + (nc * 7) % 16).toInt
            val bmp = MediaCodec.encodeBmp24(w, h,
              k => ((k.toLong * 37 + id) % 256).toInt)
            val pix = MediaCodec.decodeBmpPixels(bmp)
            var sum = 0L
            var tlB = 0; var tlG = 0; var tlR = 0
            var y = 0
            while (y < 4) {
              var x = 0
              while (x < 4) {
                val sx = x * w / 4
                val sy = y * h / 4
                val p = (sy * w + sx) * 3
                val b = pix(p) & 0xff
                val g = pix(p + 1) & 0xff
                val r = pix(p + 2) & 0xff
                sum += b + g + r
                if (x == 0 && y == 0) { tlB = b; tlG = g; tlR = r }
                x += 1
              }
              y += 1
            }
            (id, sum, tlB, tlG, tlR)
          }
        }
        .toDF("doc_id", "thumb_sum", "tl_b", "tl_g", "tl_r")
        .orderBy("doc_id")
    },
    Some(
      """WITH a AS (
        |  SELECT doc_id, 1 + n_chars % 16 AS w,
        |    1 + (n_chars * 7) % 16 AS h
        |  FROM documents WHERE doc_id % 3 = 0)
        |SELECT doc_id,
        |  CAST(list_sum(list_transform(range(0, 48), j ->
        |    ((((((j // 3) // 4) * h // 4) * w + (((j // 3) % 4) * w // 4))
        |      * 3 + (j % 3)) * 37 + doc_id) % 256)) AS BIGINT) AS thumb_sum,
        |  CAST(doc_id % 256 AS INT) AS tl_b,
        |  CAST((37 + doc_id) % 256 AS INT) AS tl_g,
        |  CAST((74 + doc_id) % 256 AS INT) AS tl_r
        |FROM a ORDER BY doc_id""".stripMargin
    )
  )

  /** q_media_histeq — histogram equalization over REAL decoded BMP
    * bytes (the contrast-normalization pass an image-training
    * pipeline applies before feature extraction): each "image" asset
    * is encoded ([[MediaCodec.encodeBmp24]]), decoded back, and its
    * 256-bin byte histogram remapped by the classic integer CDF rule
    * `nv(v) = (cdf(v) − cdf_min) · 255 / (n − cdf_min)` (floor on
    * non-negatives — identical `div`/`//`). Reported per asset:
    * distinct byte values before/after (equalization can only merge
    * bins, never split — the spec pins distinct_after ≤
    * distinct_before) and the full remapped checksum, which any
    * stride-padding or row-order decode bug flips. The DuckDB oracle
    * recomputes from the generating closed form (pixel byte k ≡
    * (k·37 + doc_id) mod 256 — the [[qMediaChannelStats]] asset).
    *
    * 100 TB shape: map-only mapPartitions over opaque bytes (the
    * justified decoder shape), 5 small columns out, one output sort;
    * the oracle's per-asset window is ≤ 256 rows by construction.
    */
  val qMediaHisteq = Q(
    "q_media_histeq",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(3)) === 0) // the "image" assets
        .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
        .mapPartitions { it =>
          it.map { case (id, nc) =>
            val w = (1 + nc % 16).toInt
            val h = (1 + (nc * 7) % 16).toInt
            val bmp = MediaCodec.encodeBmp24(w, h,
              k => ((k.toLong * 37 + id) % 256).toInt)
            val pix = MediaCodec.decodeBmpPixels(bmp)
            val n = pix.length.toLong
            val hist = new Array[Long](256)
            pix.foreach(b => hist(b & 0xff) += 1)
            val cdf = hist.scanLeft(0L)(_ + _).tail
            val cdfMin = cdf(hist.indexWhere(_ > 0))
            val nv = (0 until 256).map(v =>
              if (hist(v) == 0) -1L
              else (cdf(v) - cdfMin) * 255L / (n - cdfMin))
            val distinctBefore = hist.count(_ > 0).toLong
            val distinctAfter = nv.filter(_ >= 0).distinct.length.toLong
            val checksum = (0 until 256).map(v => hist(v) * math.max(nv(v), 0L)).sum
            (id, n, distinctBefore, distinctAfter, checksum)
          }
        }
        .toDF("doc_id", "n_bytes", "distinct_before", "distinct_after",
          "checksum_after")
        .orderBy("doc_id")
    },
    Some(
      """WITH a AS (
        |  SELECT doc_id, 1 + n_chars % 16 AS w, 1 + (n_chars * 7) % 16 AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |b AS (
        |  SELECT doc_id, u.v
        |  FROM (SELECT doc_id, list_transform(range(0, 3 * w * h),
        |          p -> (p * 37 + doc_id) % 256) AS l FROM a),
        |    UNNEST(l) AS u(v)),
        |hist AS (
        |  SELECT doc_id, v, count(*) AS c FROM b GROUP BY doc_id, v),
        |cdf AS (
        |  SELECT doc_id, v, c,
        |    sum(c) OVER (PARTITION BY doc_id ORDER BY v) AS cum,
        |    sum(c) OVER (PARTITION BY doc_id) AS n
        |  FROM hist),
        |eq AS (
        |  SELECT doc_id, v, c, n,
        |    (cum - cmin) * 255 // (n - cmin) AS nv
        |  FROM (SELECT *, min(cum) OVER (PARTITION BY doc_id) AS cmin
        |        FROM cdf))
        |SELECT doc_id, CAST(max(n) AS BIGINT) AS n_bytes,
        |  count(*) AS distinct_before,
        |  count(DISTINCT nv) AS distinct_after,
        |  CAST(sum(c * nv) AS BIGINT) AS checksum_after
        |FROM eq GROUP BY doc_id ORDER BY doc_id""".stripMargin
    )
  )

  /** q_media_y4m — the video leg of the triad over a REAL container
    * format: each "video" asset is encoded as an uncompressed
    * YUV4MPEG2 stream ([[MediaCodec.encodeY4m]], C444, rational NTSC
    * frame rate 30000:1001 — the fps parse a naive integer reader
    * gets wrong), decoded back by walking the stream header and
    * per-frame FRAME markers, and reduced to exact per-frame luma
    * statistics from the decoded Y planes. Every output value derives
    * from re-parsed bytes; the DuckDB oracle recomputes from the
    * generating closed form (luma(p) ≡ (p·31 + frame·7 + doc_id)
    * mod 256), so a header-walk, plane-offset, or frame-boundary bug
    * flips the sums. Upgrades [[qMediaFrames]]'s synthetic
    * text-window "frames" to genuine container parsing, completing
    * the WAV/BMP/Y4M real-codec triad.
    *
    * 100 TB shape: map-only mapPartitions over opaque bytes (the
    * justified decoder shape), bounded small rows out, one output
    * sort.
    */
  val qMediaY4m = Q(
    "q_media_y4m",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(3)) === 2) // the "video" assets
        .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
        .flatMap { case (id, nc) =>
          val w = (2 + nc % 8).toInt
          val h = (2 + (nc * 3) % 8).toInt
          val nf = (2 + id % 4).toInt
          val y4m = MediaCodec.encodeY4m(w, h, 30000, 1001, nf,
            (f, pl, p) => ((p.toLong * 31 + f * 7 + pl * 101 + id) % 256).toInt)
          val info = MediaCodec.decodeY4m(y4m)
          val stats = MediaCodec.decodeY4mLumaStats(y4m)
          stats.zipWithIndex.map { case ((sum, mn, mx), f) =>
            (id, f, info.width.toLong, info.height.toLong, sum, mn, mx)
          }
        }
        .toDF("doc_id", "frame_no", "width", "height",
          "y_sum", "y_min", "y_max")
        .orderBy("doc_id", "frame_no")
    },
    Some(
      """WITH a AS (
        |  SELECT doc_id, 2 + n_chars % 8 AS w, 2 + (n_chars * 3) % 8 AS h,
        |    2 + doc_id % 4 AS nf
        |  FROM documents WHERE doc_id % 3 = 2),
        |fr AS (
        |  SELECT doc_id, w, h, CAST(u.f AS INT) AS frame_no
        |  FROM a, UNNEST(range(0, nf)) AS u(f)),
        |pl AS (
        |  SELECT doc_id, frame_no, w, h,
        |    list_transform(range(0, w * h),
        |      p -> (p * 31 + frame_no * 7 + doc_id) % 256) AS l
        |  FROM fr)
        |SELECT doc_id, frame_no, CAST(w AS BIGINT) AS width,
        |  CAST(h AS BIGINT) AS height,
        |  CAST(list_sum(l) AS BIGINT) AS y_sum,
        |  CAST(list_min(l) AS INT) AS y_min,
        |  CAST(list_max(l) AS INT) AS y_max
        |FROM pl ORDER BY doc_id, frame_no""".stripMargin
    )
  )

  /** Banded near-duplicate pair generation over per-asset bit-string
    * signatures — the LSH discipline shared by the perceptual dedup
    * queries ([[qMediaDhashDedup]], [[qMediaAudioFingerprint]]):
    * split each signature into `nBands` bands of `bandLen` chars,
    * bucket by (band, key), DROP buckets over `maxBucket` members
    * (the giant-bucket guard — a saturated bucket is a degenerate
    * signature, and its quadratic pair blow-up would dominate a
    * 100 TB run for zero precision), self-join survivors within
    * buckets, dedup pairs that collide in several bands, and verify
    * each candidate with the codegen'd
    * [[graft.functions.HammingDistance]] at `maxHam`.
    *
    * Input columns: (doc_id, v, sig, dig) — variant id, bit-string
    * signature, exact content digest. Output: (id_a, v_a, id_b, v_b,
    * ham, exact_dup) — exact_dup marks pairs the byte-exact digest
    * would ALSO have caught; perceptual pairs with exact_dup = false
    * are the recall the banded signature adds.
    *
    * 100 TB shape: every join shuffles on (band, key), so the guard,
    * the self-join, and the bucket rollup co-partition; candidates
    * are bucket-bounded (never all pairs); the verify is
    * per-candidate codegen.
    */
  private[graft] def bandedNearDupPairs(sigs: org.apache.spark.sql.DataFrame,
      nBands: Int, bandLen: Int, maxBucket: Int, maxHam: Int)
      : org.apache.spark.sql.DataFrame = {
    val bands = sigs.select(col("doc_id"), col("v"), col("sig"),
        col("dig"), explode(array((0 until nBands).map(lit): _*)).as("b"))
      .withColumn("bkey", expr(s"substring(sig, b * $bandLen + 1, $bandLen)"))
    val ok = bands.groupBy("b", "bkey").count()
      .filter(col("count") <= maxBucket).drop("count")
    val guarded = bands.join(ok, Seq("b", "bkey"))
    val left = guarded.select(col("b"), col("bkey"),
      col("doc_id").as("id_a"), col("v").as("v_a"),
      col("sig").as("sig_a"), col("dig").as("dig_a"))
    val right = guarded.select(col("b"), col("bkey"),
      col("doc_id").as("id_b"), col("v").as("v_b"),
      col("sig").as("sig_b"), col("dig").as("dig_b"))
    left.join(right, Seq("b", "bkey"))
      .filter(col("id_a") < col("id_b") ||
        (col("id_a") === col("id_b") && col("v_a") < col("v_b")))
      .select("id_a", "v_a", "id_b", "v_b", "sig_a", "sig_b",
        "dig_a", "dig_b")
      .distinct() // a pair can collide in several bands
      .select(col("id_a"), col("v_a"), col("id_b"), col("v_b"),
        graft.functions.GraftFunctions
          .hamming_distance(col("sig_a"), col("sig_b")).as("ham"),
        (col("dig_a") === col("dig_b")).as("exact_dup"))
      .filter(col("ham") <= maxHam)
      .orderBy("id_a", "v_a", "id_b", "v_b")
  }

  /** The dHash signature frame — (doc_id, v, sig, dig) per image
    * asset — shared by [[qMediaDhashDedup]] (Hamming near-dup pairs)
    * and [[qMediaDhashSurvivors]] (exact-signature canonicalization).
    *
    * q_media_dhash_dedup is PERCEPTUAL image near-dup over genuinely
    * decoded pixels (the LAION-style dedup pass an image-training
    * pipeline runs: a re-encoded or resized copy has different bytes
    * but the same picture, so [[qMediaFrameDedup]]'s exact digest
    * misses it). Each "image" asset's BMP is encoded
    * ([[MediaCodec.encodeBmp24]]) and decoded back; every 1-in-5
    * image doc ALSO ships a planted near-duplicate — its decoded
    * pixels nearest-neighbor-upscaled 2× and RE-ENCODED as a new,
    * byte-distinct BMP. Both variants get a 64-bit dHash (sample a
    * 9×8 luma grid — luma(x,y) from src(⌊x·W/9⌋, ⌊y·H/8⌋) — then one
    * gradient-sign bit per horizontal neighbor pair); NN-upscaling by
    * an integer factor preserves the sample grid exactly
    * (⌊⌊2a⌋/2⌋ = ⌊a⌋), so the planted copies land at Hamming 0 while
    * their pixel digests differ — the spec-pinned "dHash catches what
    * the exact digest misses" property. Candidates come from 4×16-bit
    * signature bands (the LSH discipline — NEVER all pairs), buckets
    * over 64 members are dropped (the giant-bucket guard), and
    * survivors are verified with the native codegen'd
    * [[graft.functions.HammingDistance]] at threshold ≤ 4.
    *
    * 100 TB shape: the decode/hash pass is map-only mapPartitions
    * (the justified opaque-codec shape) emitting one 100-byte row per
    * asset — pixels never shuffle; banding explodes 4 rows per asset
    * and every join (guard + self-join) shuffles on (band, key), so
    * the three stages co-partition; the verify is per-candidate
    * codegen'd. The oracle recomputes pixels from the generating
    * closed form; Spark routes real encode → parse → resample →
    * re-encode → parse bytes.
    *
    * COMPUTED ONCE per (session, dataset): the frame is memoized
    * through [[Similarity.memo]] and eagerly localCheckpoint'ed, so
    * the three consumers ([[qMediaDhashDedup]],
    * [[qMediaDhashSurvivors]], [[qClusterSafeSplit]]) — and repeated
    * bench passes — share ONE codec pass and read pinned ~100-byte
    * signature rows afterwards. At 100 TB the decode/hash pass is the
    * dominant cost of the perceptual stack; production computes the
    * signature table once and serves every downstream query from it,
    * and this memo is that table. [[dhashSigBuilds]] counts builds so
    * the one-pass claim is spec-pinned, not asserted.
    */
  private def dhashSigs(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    Similarity.memo(s, d, "dhash-sigs") {
      dhashSigBuilds.incrementAndGet()
      dhashSigsBuild(s, d).localCheckpoint()
    }

  /** Driver-side build counter for [[dhashSigs]] — incremented once
    * per memoized build (not per task), so a spec can pin "N
    * signature-consuming queries in one session run the codec pass
    * exactly once".
    */
  private[graft] val dhashSigBuilds =
    new java.util.concurrent.atomic.AtomicLong(0)

  private def dhashSigsBuild(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
      import s.implicits._
      Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(3)) === 0) // the "image" assets
        .select(col("doc_id"), col("n_chars").cast("long")).as[(Long, Long)]
        .mapPartitions { it =>
          val mdd = java.security.MessageDigest.getInstance("MD5")
          // digest of the DECODED pixel stream (dims excluded: the
          // exact-dup notion is "same logical bytes", and the planted
          // upscale changes those too — its digest differs regardless)
          def digest(pix: Array[Byte]): String = {
            val str = pix.map(b => (b & 0xff).toString).mkString(",")
            mdd.reset()
            mdd.digest(str.getBytes("UTF-8"))
              .map(b => f"${b & 0xff}%02x").mkString
          }
          def dhash(pix: Array[Byte], wd: Int, ht: Int): String = {
            val lum = Array.ofDim[Int](8, 9)
            var y = 0
            while (y < 8) {
              var x = 0
              while (x < 9) {
                val p = ((y * ht / 8) * wd + (x * wd / 9)) * 3
                lum(y)(x) = (pix(p) & 0xff) + (pix(p + 1) & 0xff) +
                  (pix(p + 2) & 0xff)
                x += 1
              }
              y += 1
            }
            val sb = new java.lang.StringBuilder(64)
            var yy = 0
            while (yy < 8) {
              var xx = 0
              while (xx < 8) {
                sb.append(if (lum(yy)(xx + 1) > lum(yy)(xx)) '1' else '0')
                xx += 1
              }
              yy += 1
            }
            sb.toString
          }
          it.flatMap { case (id, nc) =>
            val w = (9 + nc % 8).toInt
            val h = (8 + (nc * 7) % 9).toInt
            val bmp = MediaCodec.encodeBmp24(w, h,
              k => ((k.toLong * 37 + id) % 256).toInt)
            val base = MediaCodec.decodeBmpPixels(bmp)
            val orig = (id, 0, dhash(base, w, h), digest(base))
            if (id % 5 == 0) {
              // the planted near-dup: NN-upscale the DECODED pixels
              // 2×, re-encode as a genuinely different BMP, re-decode
              val wu = 2 * w
              val hu = 2 * h
              val up = MediaCodec.encodeBmp24(wu, hu, k => {
                val px = (k / 3) % wu
                val py = (k / 3) / wu
                base(((py / 2) * w + px / 2) * 3 + k % 3) & 0xff
              })
              val pix2 = MediaCodec.decodeBmpPixels(up)
              Iterator(orig, (id, 1, dhash(pix2, wu, hu), digest(pix2)))
            } else Iterator(orig)
          }
        }
        .toDF("doc_id", "v", "sig", "dig")
  }

  /** The shared oracle CTE chain producing `sigs(doc_id, v, sig,
    * pix_md5)` — the closed-form mirror of [[dhashSigs]].
    */
  private def dhashSigsSql: String = {
      def lum(c: Int) =
        s"""((((((g // 9) * (s*h) // 8) // s) * w
           |         + (((g % 9) * (s*w) // 9) // s)) * 3 + $c) * 37
           |         + doc_id) % 256""".stripMargin
      s"""imgs AS (
         |  SELECT doc_id, 9 + n_chars % 8 AS w, 8 + (n_chars * 7) % 9 AS h
         |  FROM documents WHERE doc_id % 3 = 0),
         |assets AS (
         |  SELECT doc_id, v, w, h, 1 + v AS s
         |  FROM imgs, (SELECT unnest([0, 1]) AS v) vv
         |  WHERE v = 0 OR doc_id % 5 = 0),
         |lum AS (
         |  SELECT doc_id, v,
         |    list_transform(range(0, 72), g ->
         |      (${lum(0)}) + (${lum(1)}) + (${lum(2)})) AS lumas,
         |    md5(array_to_string(list_transform(range(0, (s*w)*(s*h)*3),
         |      k -> (((((((k // 3) // (s*w)) // s) * w
         |        + (((k // 3) % (s*w)) // s)) * 3
         |        + (k % 3)) * 37 + doc_id) % 256)), ',')) AS pix_md5
         |  FROM assets),
         |sigs AS (
         |  SELECT doc_id, v,
         |    array_to_string(list_transform(range(0, 64), i ->
         |      CASE WHEN lumas[CAST((i // 8) * 9 + (i % 8) + 2 AS INT)]
         |             > lumas[CAST((i // 8) * 9 + (i % 8) + 1 AS INT)]
         |           THEN '1' ELSE '0' END), '') AS sig, pix_md5
         |  FROM lum)""".stripMargin
  }

  val qMediaDhashDedup = Q(
    "q_media_dhash_dedup",
    (s, d) => bandedNearDupPairs(dhashSigs(s, d), nBands = 4,
      bandLen = 16, maxBucket = 64, maxHam = 4),
    Some(
      s"""WITH $dhashSigsSql,
         |bands AS (
         |  SELECT doc_id, v, b, substr(sig, CAST(b*16 + 1 AS INT), 16) AS bkey
         |  FROM sigs, (SELECT unnest(range(0,4)) AS b) bb),
         |ok AS (SELECT b, bkey FROM bands GROUP BY b, bkey
         |  HAVING count(*) <= 64),
         |cand AS (
         |  SELECT DISTINCT l.doc_id AS id_a, l.v AS v_a,
         |    r.doc_id AS id_b, r.v AS v_b
         |  FROM bands l
         |  JOIN ok g ON g.b = l.b AND g.bkey = l.bkey
         |  JOIN bands r ON l.b = r.b AND l.bkey = r.bkey
         |    AND (l.doc_id < r.doc_id
         |      OR (l.doc_id = r.doc_id AND l.v < r.v))),
         |ver AS (
         |  SELECT c.id_a, CAST(c.v_a AS INT) AS v_a, c.id_b,
         |    CAST(c.v_b AS INT) AS v_b,
         |    CAST(len(list_filter(range(1, 65), i ->
         |      substr(sa.sig, CAST(i AS INT), 1)
         |        <> substr(sb.sig, CAST(i AS INT), 1))) AS INT) AS ham,
         |    (sa.pix_md5 = sb.pix_md5) AS exact_dup
         |  FROM cand c
         |  JOIN sigs sa ON sa.doc_id = c.id_a AND sa.v = c.v_a
         |  JOIN sigs sb ON sb.doc_id = c.id_b AND sb.v = c.v_b)
         |SELECT * FROM ver WHERE ham <= 4
         |ORDER BY id_a, v_a, id_b, v_b""".stripMargin
    )
  )

  /** q_media_dhash_survivors — the APPLY half of [[qMediaDhashDedup]]:
    * exact-perceptual dedup by dHash signature EQUALITY. Signature
    * equality is transitive (unlike Hamming ≤ t), so grouping by sig
    * and keeping the lexicographically first (doc_id, v) per group is
    * a sound canonicalization — and it is the arm that handles the
    * massively-duplicated asset (10⁶ copies of one meme) which the
    * pair path's giant-bucket guard deliberately refuses to
    * quadratically enumerate: a saturated bucket here is just one
    * big GROUP, linear in its size. Emits per asset its keep decision
    * and perceptual-cluster size; the planted 2× upscales land in
    * their source's cluster and are dropped.
    *
    * 100 TB shape: NO window over the raw signature — the advertised
    * input here is exactly the massively-duplicated asset (10⁸ copies
    * of one meme), and a sig-partitioned window puts that entire
    * whale cluster on ONE reducer (windows cannot partial-aggregate).
    * The semantics need only min-per-sig and count-per-sig, so the
    * rollup is `groupBy(sig).agg(min(struct(doc_id, v)), count)` —
    * partial-aggregated map-side, a 10⁹-copy signature costs one
    * combiner entry per task — joined back on sig with
    * keep = (doc_id, v) == min. The join-back shuffles 8-byte keys
    * (never pixels) and the whale key is probe-side-only skew, which
    * AQE's skew-join split handles (one build row per key) — the
    * failure mode a window structurally cannot escape. The adjacent
    * [[qClusterSafeSplit]] already rolls up its sig domain the
    * aggregate way; this matches it.
    */
  /** The whale-immune survivors rollup (see [[qMediaDhashSurvivors]]'s
    * 100 TB note): min/count per sig via partial-aggregated groupBy,
    * joined back — NEVER a sig-partitioned window. Factored out so the
    * skew property (one signature holding most of the corpus) is
    * testable on a synthetic frame.
    */
  private[graft] def sigSurvivors(sigs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val rollup = sigs.groupBy("sig")
      .agg(min(struct(col("doc_id"), col("v"))).as("mn"),
        count(lit(1)).as("n_same_sig"))
    sigs.join(rollup, "sig")
      .select(col("doc_id"), col("v"),
        (struct(col("doc_id"), col("v")) === col("mn")).as("keep"),
        col("n_same_sig"))
  }

  val qMediaDhashSurvivors = Q(
    "q_media_dhash_survivors",
    (s, d) => sigSurvivors(dhashSigs(s, d)).orderBy("doc_id", "v"),
    Some(
      s"""WITH $dhashSigsSql
         |SELECT doc_id, CAST(v AS INT) AS v,
         |  (row_number() OVER (PARTITION BY sig ORDER BY doc_id, v) = 1)
         |    AS keep,
         |  CAST(count(*) OVER (PARTITION BY sig) AS BIGINT) AS n_same_sig
         |FROM sigs ORDER BY doc_id, v""".stripMargin
    )
  )

  /** q_media_audio_fingerprint — PERCEPTUAL audio near-dup over
    * genuinely decoded PCM frames (the audio sibling of
    * [[qMediaDhashDedup]]): each "audio" asset's WAV is encoded and
    * decoded back ([[MediaCodec]]); its 64-bit fingerprint is the
    * gradient sign of a 65-window |amplitude|-energy envelope — the
    * shape a loudness-invariant audio fingerprint (Shazam-family)
    * reduces to once the spectral transform is stripped to something
    * both engines can compute exactly. Every 1-in-5 audio doc ALSO
    * ships a planted near-duplicate: the SAME decoded samples at 2×
    * volume, re-encoded as a byte-distinct WAV. |2s| = 2|s| scales
    * every window energy by exactly 2, so strict energy comparisons —
    * and hence the fingerprint — are invariant, while every content
    * byte differs: the volume-normalized re-encode the exact digest
    * misses. Samples are generated in [−8192, 8191] so the 2× variant
    * stays inside int16 (no clipping, which WOULD perceptually alter
    * the signal). Candidate generation and verify are the shared
    * [[bandedNearDupPairs]] machinery (4×16-bit bands, 64-member
    * bucket guard, Hamming ≤ 4).
    *
    * 100 TB shape: encode/decode/fingerprint is map-only
    * mapPartitions (the justified opaque-codec shape) emitting one
    * ~100-byte row per asset — PCM frames never shuffle; the pair
    * stage is the shared banded frame (co-partitioned on (band,
    * key), bucket-bounded, per-candidate codegen verify).
    */
  val qMediaAudioFingerprint = Q(
    "q_media_audio_fingerprint",
    (s, d) => {
      import s.implicits._
      val sigs = Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(3)) === 1) // the "audio" assets
        .select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          val mdd = java.security.MessageDigest.getInstance("MD5")
          def digest(smp: Array[Short]): String = {
            val str = smp.map(_.toInt.toString).mkString(",")
            mdd.reset()
            mdd.digest(str.getBytes("UTF-8"))
              .map(b => f"${b & 0xff}%02x").mkString
          }
          def fingerprint(smp: Array[Short]): String = {
            val n = smp.length
            val env = Array.tabulate(65) { w =>
              var e = 0L
              var i = w * n / 65
              val end = (w + 1) * n / 65
              while (i < end) { e += math.abs(smp(i).toInt); i += 1 }
              e
            }
            val sb = new java.lang.StringBuilder(64)
            var w = 0
            while (w < 64) {
              sb.append(if (env(w + 1) > env(w)) '1' else '0')
              w += 1
            }
            sb.toString
          }
          def roundtrip(samples: Array[Short]): Array[Short] =
            MediaCodec.decodeWavSamples(
              MediaCodec.encodeWavPcm16Mono(samples,
                sampleRate = 16000))
          it.flatMap { id =>
            val n = (160 + id % 320).toInt
            val base = roundtrip(Array.tabulate(n)(i =>
              (((id * 31 + i.toLong * 17) % 16384) - 8192).toShort))
            val orig = (id, 0, fingerprint(base), digest(base))
            if (id % 5 == 0) {
              // the planted near-dup: decoded samples at 2x volume,
              // re-encoded as a genuinely different WAV, re-decoded
              val loud = roundtrip(base.map(v => (v * 2).toShort))
              Iterator(orig, (id, 1, fingerprint(loud), digest(loud)))
            } else Iterator(orig)
          }
        }
        .toDF("doc_id", "v", "sig", "dig")
      bandedNearDupPairs(sigs, nBands = 4, bandLen = 16,
        maxBucket = 64, maxHam = 4)
    },
    Some {
      val base = "(((doc_id * 31 + i * 17) % 16384) - 8192)"
      s"""WITH a AS (
         |  SELECT doc_id, 160 + doc_id % 320 AS n
         |  FROM documents WHERE doc_id % 3 = 1),
         |assets AS (
         |  SELECT doc_id, v, n, 1 + v AS amp
         |  FROM a, (SELECT unnest([0, 1]) AS v) vv
         |  WHERE v = 0 OR doc_id % 5 = 0),
         |env AS (
         |  SELECT doc_id, v,
         |    list_transform(range(0, 65), w ->
         |      list_sum(list_transform(range(w * n // 65, (w+1) * n // 65),
         |        i -> amp * abs($base)))) AS env,
         |    md5(array_to_string(list_transform(range(0, n),
         |      i -> amp * $base), ',')) AS dig
         |  FROM assets),
         |sigs AS (
         |  SELECT doc_id, v,
         |    array_to_string(list_transform(range(0, 64), w ->
         |      CASE WHEN env[CAST(w + 2 AS INT)] > env[CAST(w + 1 AS INT)]
         |           THEN '1' ELSE '0' END), '') AS sig, dig
         |  FROM env),
         |bands AS (
         |  SELECT doc_id, v, b, substr(sig, CAST(b*16 + 1 AS INT), 16) AS bkey
         |  FROM sigs, (SELECT unnest(range(0,4)) AS b) bb),
         |ok AS (SELECT b, bkey FROM bands GROUP BY b, bkey
         |  HAVING count(*) <= 64),
         |cand AS (
         |  SELECT DISTINCT l.doc_id AS id_a, l.v AS v_a,
         |    r.doc_id AS id_b, r.v AS v_b
         |  FROM bands l
         |  JOIN ok g ON g.b = l.b AND g.bkey = l.bkey
         |  JOIN bands r ON l.b = r.b AND l.bkey = r.bkey
         |    AND (l.doc_id < r.doc_id
         |      OR (l.doc_id = r.doc_id AND l.v < r.v))),
         |ver AS (
         |  SELECT c.id_a, CAST(c.v_a AS INT) AS v_a, c.id_b,
         |    CAST(c.v_b AS INT) AS v_b,
         |    CAST(len(list_filter(range(1, 65), i ->
         |      substr(sa.sig, CAST(i AS INT), 1)
         |        <> substr(sb.sig, CAST(i AS INT), 1))) AS INT) AS ham,
         |    (sa.dig = sb.dig) AS exact_dup
         |  FROM cand c
         |  JOIN sigs sa ON sa.doc_id = c.id_a AND sa.v = c.v_a
         |  JOIN sigs sb ON sb.doc_id = c.id_b AND sb.v = c.v_b)
         |SELECT * FROM ver WHERE ham <= 4
         |ORDER BY id_a, v_a, id_b, v_b""".stripMargin
    }
  )

  /** q_media_audio_spectral — SPECTRAL audio near-dup: a 64-bit
    * fingerprint from the signs of the high-band integer
    * WALSH-HADAMARD coefficients of the 128-window |amplitude|-energy
    * vector. The WHT is the spectral transform both engines can run
    * EXACTLY (pure adds/subtracts over BIGINT energies — no FFT
    * floating point), and sign-of-coefficient fingerprints are the
    * integer skeleton of spectral audio hashes (Haitsma-Kalker-style
    * band-energy signs). This is the robustness rung above
    * [[qMediaAudioFingerprint]]'s envelope gradient: every 1-in-5
    * audio doc plants a NOISE-PERTURBED duplicate the envelope
    * signature provably misses and this one provably catches —
    *  - the noise is a sign-aligned per-window amplitude ramp
    *    (d_i = ±300·(63 − (i/8 mod 64)), aligned with sign(s_i)), so
    *    each window energy shifts by exactly 8·δ_w with the ramp
    *    REPEATED IDENTICALLY in both 64-window halves. A perturbation
    *    that is symmetric across halves lives entirely in the LOW 64
    *    Walsh functions (walsh_k(w) = walsh_k(w xor 64) for k < 64),
    *    so the fingerprint's high-band coefficients H[64..127] are
    *    EXACTLY unchanged — spectral Hamming 0 by algebra, not by
    *    margin;
    *  - within each half the ramp's slope (−2400/window) exceeds the
    *    largest possible adjacent-energy difference of the base
    *    signal (samples in [−256, 255] ⇒ |ΔE| ≤ 2048), so the
    *    perturbed envelope is forcibly descending and the envelope
    *    gradient bits scramble (≈ half of 127 bits flip) — the miss.
    * Samples stay far inside int16 (max |s| = 256 + 18900), so the
    * WAV roundtrip is lossless and the oracle's closed form mirrors
    * the decoded bytes exactly. Candidates and verify are the shared
    * [[bandedNearDupPairs]] frame.
    *
    * 100 TB shape: encode/decode/WHT is map-only mapPartitions (the
    * justified opaque-codec shape; the 128-point WHT is O(n log n)
    * integer butterflies per asset) emitting one ~100-byte signature
    * row — PCM never shuffles; the pair stage is the shared banded
    * frame (co-partitioned (band, key) joins, bucket-bounded,
    * codegen'd Hamming verify).
    */
  val qMediaAudioSpectral = Q(
    "q_media_audio_spectral",
    (s, d) => {
      import s.implicits._
      val sigs = Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(3)) === 1) // the "audio" assets
        .select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          val mdd = java.security.MessageDigest.getInstance("MD5")
          def digest(smp: Array[Short]): String = {
            val str = smp.map(_.toInt.toString).mkString(",")
            mdd.reset()
            mdd.digest(str.getBytes("UTF-8"))
              .map(b => f"${b & 0xff}%02x").mkString
          }
          def roundtrip(samples: Array[Short]): Array[Short] =
            MediaCodec.decodeWavSamples(
              MediaCodec.encodeWavPcm16Mono(samples, sampleRate = 16000))
          it.flatMap { id =>
            val base = roundtrip(Array.tabulate(1024)(i =>
              (((id * 31 + i.toLong * 17 + (i.toLong * (i + id)) % 1021)
                % 512) - 256).toShort))
            val orig = (id, 0, Multimodal.spectralSig(base), digest(base))
            if (id % 5 == 0) {
              // the planted near-dup: the sign-aligned half-symmetric
              // amplitude ramp, re-encoded as a byte-distinct WAV
              val noisy = roundtrip(Array.tabulate(1024) { i =>
                val b = base(i).toInt
                val delta = 300 * (63 - ((i / 8) % 64))
                (b + (if (b >= 0) delta else -delta)).toShort
              })
              Iterator(orig,
                (id, 1, Multimodal.spectralSig(noisy), digest(noisy)))
            } else Iterator(orig)
          }
        }
        .toDF("doc_id", "v", "sig", "dig")
      bandedNearDupPairs(sigs, nBands = 4, bandLen = 16,
        maxBucket = 64, maxHam = 4)
    },
    Some {
      val baseExpr =
        "((doc_id*31 + i*17 + (i*(i + doc_id)) % 1021) % 512) - 256"
      s"""WITH a AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 1),
         |assets AS (
         |  SELECT doc_id, v FROM a, (SELECT unnest([0, 1]) AS v) vv
         |  WHERE v = 0 OR doc_id % 5 = 0),
         |smp AS (
         |  SELECT doc_id, v,
         |    list_transform(range(0, 1024), i -> $baseExpr
         |      + v * (CASE WHEN $baseExpr >= 0 THEN 1 ELSE -1 END)
         |        * (300 * (63 - ((i // 8) % 64)))) AS s
         |  FROM assets),
         |env AS (
         |  SELECT doc_id, v,
         |    list_transform(range(0, 128), w ->
         |      list_sum(list_transform(range(w*8, w*8 + 8),
         |        i -> abs(s[CAST(i + 1 AS INT)])))) AS e,
         |    md5(array_to_string(s, ',')) AS dig
         |  FROM smp),
         |wht AS (
         |  SELECT doc_id, v, dig,
         |    list_transform(range(64, 128), k ->
         |      list_sum(list_transform(range(0, 128), w ->
         |        CASE WHEN bit_count(k & w) % 2 = 0
         |             THEN e[CAST(w + 1 AS INT)]
         |             ELSE -e[CAST(w + 1 AS INT)] END))) AS h
         |  FROM env),
         |sigs AS (
         |  SELECT doc_id, v,
         |    array_to_string(list_transform(range(0, 64), j ->
         |      CASE WHEN h[CAST(j + 1 AS INT)] > 0 THEN '1' ELSE '0' END),
         |      '') AS sig, dig
         |  FROM wht),
         |bands AS (
         |  SELECT doc_id, v, b, substr(sig, CAST(b*16 + 1 AS INT), 16) AS bkey
         |  FROM sigs, (SELECT unnest(range(0,4)) AS b) bb),
         |ok AS (SELECT b, bkey FROM bands GROUP BY b, bkey
         |  HAVING count(*) <= 64),
         |cand AS (
         |  SELECT DISTINCT l.doc_id AS id_a, l.v AS v_a,
         |    r.doc_id AS id_b, r.v AS v_b
         |  FROM bands l
         |  JOIN ok g ON g.b = l.b AND g.bkey = l.bkey
         |  JOIN bands r ON l.b = r.b AND l.bkey = r.bkey
         |    AND (l.doc_id < r.doc_id
         |      OR (l.doc_id = r.doc_id AND l.v < r.v))),
         |ver AS (
         |  SELECT c.id_a, CAST(c.v_a AS INT) AS v_a, c.id_b,
         |    CAST(c.v_b AS INT) AS v_b,
         |    CAST(len(list_filter(range(1, 65), i ->
         |      substr(sa.sig, CAST(i AS INT), 1)
         |        <> substr(sb.sig, CAST(i AS INT), 1))) AS INT) AS ham,
         |    (sa.dig = sb.dig) AS exact_dup
         |  FROM cand c
         |  JOIN sigs sa ON sa.doc_id = c.id_a AND sa.v = c.v_a
         |  JOIN sigs sb ON sb.doc_id = c.id_b AND sb.v = c.v_b)
         |SELECT * FROM ver WHERE ham <= 4
         |ORDER BY id_a, v_a, id_b, v_b""".stripMargin
    }
  )

  /** The 64-bit high-band Walsh-Hadamard sign fingerprint of one
    * decoded PCM buffer: 128 window |amplitude| energies, in-place
    * integer WHT butterflies (natural/Hadamard order: H[k] =
    * Σ_w (−1)^popcount(k AND w)·E[w]), one sign bit per coefficient
    * k ∈ [64, 128). Exposed for the spec's brute-force parity check.
    */
  private[graft] def spectralSig(smp: Array[Short]): String = {
    val h = new Array[Long](128)
    var w = 0
    while (w < 128) {
      var e = 0L
      var i = w * 8
      while (i < w * 8 + 8) { e += math.abs(smp(i).toInt); i += 1 }
      h(w) = e
      w += 1
    }
    var len = 1
    while (len < 128) {
      var i = 0
      while (i < 128) {
        var j = i
        while (j < i + len) {
          val a = h(j)
          val b = h(j + len)
          h(j) = a + b
          h(j + len) = a - b
          j += 1
        }
        i += 2 * len
      }
      len *= 2
    }
    val sb = new java.lang.StringBuilder(64)
    var k = 64
    while (k < 128) { sb.append(if (h(k) > 0) '1' else '0'); k += 1 }
    sb.toString
  }

  /** q_cluster_safe_split — leakage-safe train/val/test assignment:
    * the split key is the PERCEPTUAL cluster (the dHash signature),
    * not the individual asset, so a resized/re-encoded duplicate can
    * never land in train while its twin sits in test — the
    * split-leakage rule every eval pipeline needs once dedup is
    * approximate (a random per-asset split leaks near-dups across the
    * boundary and inflates eval scores). Buckets are md5(sig) % 10 →
    * 8/1/1 train/val/test; the output reports per-split asset and
    * cluster counts plus `n_leaky_clusters` — clusters observed in
    * more than one split — which is 0 BY CONSTRUCTION here and exists
    * as the measured audit column a production pipeline alarms on
    * (it goes nonzero the moment someone splits on a key finer than
    * the cluster).
    *
    * 100 TB shape: splitting is a map-only projection off the
    * signature frame (deterministic hash, no shuffle); the rollup
    * shuffles (split, sig) pairs — cluster-domain-sized; the leak
    * audit reuses the same pairs grouped by sig. Assets never move.
    */
  val qClusterSafeSplit = Q(
    "q_cluster_safe_split",
    (s, d) => {
      val assigned = dhashSigs(s, d)
        .withColumn("bucket",
          (Hash.hexToBigint(md5(col("sig")))
            .cast("long") % 10).cast("int"))
        .withColumn("split",
          when(col("bucket") < 8, "train")
            .when(col("bucket") === 8, "val").otherwise("test"))
      val leaky = assigned.groupBy("sig")
        .agg(countDistinct(col("split")).as("ns"))
        .agg(sum(when(col("ns") > 1, 1L).otherwise(0L))
          .as("n_leaky_clusters"))
      assigned.groupBy("split")
        .agg(count(lit(1)).as("n_assets"),
          countDistinct(col("sig")).as("n_clusters"))
        .crossJoin(broadcast(leaky))
        .orderBy("split")
    },
    Some {
      s"""WITH $dhashSigsSql,
         |assigned AS (
         |  SELECT doc_id, v, sig,
         |    CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val'
         |      ELSE 'test' END AS split
         |  FROM (SELECT doc_id, v, sig,
         |    ${OracleSql.hexToBigint("substr(md5(sig), 1, 8)")} % 10 AS b
         |    FROM sigs)),
         |leaky AS (
         |  SELECT CAST(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_leaky_clusters
         |  FROM (SELECT sig, count(DISTINCT split) AS ns
         |        FROM assigned GROUP BY sig))
         |SELECT split, count(*) AS n_assets,
         |  CAST(count(DISTINCT sig) AS BIGINT) AS n_clusters,
         |  (SELECT n_leaky_clusters FROM leaky) AS n_leaky_clusters
         |FROM assigned GROUP BY split ORDER BY split""".stripMargin
    }
  )

  val all: Seq[Q] =
    Seq(qMediaMetadata, qMediaFeatures, qMediaFrames, qMediaFrameDedup,
      qMediaAudioWindows, qMediaWavRoundtrip, qMediaBmpRoundtrip,
      qMediaChannelStats, qMediaZeroCrossings, qMediaResize, qMediaHisteq,
      qMediaY4m, qMediaDhashDedup, qMediaAudioFingerprint,
      qMediaDhashSurvivors, qClusterSafeSplit, qMediaAudioSpectral)
}
