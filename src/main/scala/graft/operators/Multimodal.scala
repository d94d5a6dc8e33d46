package graft.operators

import graft.Tables
import graft.functions.VectorOps.{foldRound => fr}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Multimodal column plumbing (north star): image/audio/video as opaque
 * `binary` columns with typed metadata, flowing through decode /
 * feature-extract / sample stages.
 *
 * The image kind decodes through a REAL codec (`javax.imageio`, in the
 * JDK): [[syntheticImages]] encodes genuine PNGs and [[decodeHeader]]
 * parses them back, oracle-gated end-to-end (q_image_decode predicts
 * the encoded dimensions in SQL). The audio kind likewise runs a REAL
 * codec (`javax.sound.sampled`, also in the JDK): [[syntheticAudio]]
 * encodes genuine RIFF/WAVE files and [[decodeAudioHeader]] /
 * [[decodeAudioSamples]] parse them back — the energy gate
 * (q_audio_energy) proves bit-exact PCM recovery, because its oracle
 * replays the sample-generation math and any decode divergence breaks
 * the hash. The video kind is a REAL container path too: no video
 * codec ships in the container, but AVI is RIFF-based like WAVE, so
 * [[encodeAvi]] muxes genuine AVI files (RIFF `AVI ` + `hdrl` with
 * `avih`/`strh`/`strf` headers + a `movi` list of per-frame chunks)
 * and [[decodeVideoHeader]] / [[demuxFrames]] parse them back with a
 * real RIFF chunk walk — header-only metadata the way `avih` is meant
 * to be read, and frame extraction as genuine `movi` demux. Pixel
 * DECODING of frame payloads (the part that truly needs an external
 * codec) is out of scope; the container layer — mux, header parse,
 * demux — is real and oracle-gated like the other two kinds.
 *
 * Scale: rows carry payload bytes; all stages are narrow (no shuffle),
 * so 100 TB of media flows one partition at a time. Byte-level ops
 * (length/slice/hash) are codegen'd column expressions; only the
 * decode kernel drops to mapPartitions (preference (d) of the build
 * rules, justified: a codec is genuinely imperative per-record work).
 */
object Multimodal {

  // ImageIO's default ImageInputStream cache is a TEMP FILE per decode
  // (FileCacheImageInputStream): with 32 concurrent decoders that is a
  // disk-file create+delete per image, serialized on the tmp filesystem
  // and hostage to co-tenant disk pressure — for in-memory byte arrays
  // it buys nothing. Disable once per JVM; the object initializes in
  // whichever JVM first touches a codec kernel (executors included).
  javax.imageio.ImageIO.setUseCache(false)

  /** Typed media record: payload + metadata, the schema a 100 TB media
    * lake would store (payload possibly externalized to object-store
    * keys at the extreme — same schema shape). */
  case class MediaRecord(media_id: Long, kind: String, payload: Array[Byte])

  case class DecodedMeta(media_id: Long, kind: String, byte_len: Int,
      width: Int, height: Int, n_frames: Int)

  private val PngMagic =
    Array(0x89, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n').map(_.toByte)

  // every complete PNG ends with the constant IEND chunk (zero length,
  // type, fixed CRC) — an O(1) truncation witness
  private val PngIend = Array(0x00, 0x00, 0x00, 0x00, 'I', 'E', 'N', 'D',
    0xAE, 0x42, 0x60, 0x82).map(_.toByte)

  def isPng(payload: Array[Byte]): Boolean =
    payload.length > PngMagic.length &&
      PngMagic.indices.forall(i => payload(i) == PngMagic(i))

  /**
   * Decode kernel: every supported container routes through a REAL
   * parser — PNG via `javax.imageio`, RIFF/AVI via the [[decodeVideoHeader]]
   * chunk walk, RIFF/WAVE via `javax.sound.sampled` (reported as
   * (0, 0, frameCount): audio has no raster dims). Unknown containers
   * are rejected loudly — there is no fake fallback. Returns
   * (width, height, frameCount).
   *
   * Header-only parse: `ImageReader.getWidth/getHeight` read the
   * IHDR chunk without rasterizing pixels — the metadata pass a 100 TB
   * media sweep runs (full rasterization stays where pixels are
   * needed, [[resizeImages]]).
   */
  def decodeHeader(payload: Array[Byte]): (Int, Int, Int) =
    if (isPng(payload)) {
      // a header parse alone would accept a truncated body (the full
      // rasterize this replaced rejected it); the constant IEND
      // trailer restores the completeness check at O(1)
      require(payload.length >= PngIend.length &&
        PngIend.indices.forall(i =>
          payload(payload.length - PngIend.length + i) == PngIend(i)),
        "truncated PNG payload (missing IEND)")
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        require(readers.hasNext, "no PNG reader")
        val reader = readers.next()
        try {
          reader.setInput(iis)
          (reader.getWidth(0), reader.getHeight(0), 1)
        } finally reader.dispose()
      } finally iis.close()
    } else if (isAvi(payload)) decodeVideoHeader(payload)
    else if (isWav(payload)) {
      val (_, _, frames) = decodeAudioHeader(payload)
      (0, 0, frames.toInt)
    } else throw new IllegalArgumentException(
      "unsupported media container (expected PNG, RIFF/WAVE, or RIFF/AVI)")

  /** See [[Scale.stageForSort]] — the decode gates' sort inputs are the
    * small decode OUTPUTS (meta/fingerprints/segments), never payloads,
    * so the staging exchange is narrow. */
  private def stageForSort(df: DataFrame, key: String): DataFrame =
    Scale.stageForSort(df, key)

  /** Decode stage: batched per-partition iteration (the Scala analogue
    * of a vectorized decode UDF — one partition in, one partition out,
    * no shuffle). */
  def decode(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("media_id"), col("kind"), col("payload"))
      .as[MediaRecord]
      .mapPartitions { it =>
        it.map { r =>
          val (w, h, f) = decodeHeader(r.payload)
          DecodedMeta(r.media_id, r.kind, r.payload.length, w, h, f)
        }
      }.toDF()
  }

  /**
   * Ingest a directory tree of media files through Spark's
   * `binaryFile` source — how a production pipeline actually acquires
   * images (object-store prefixes of image files → binary column +
   * file metadata). `media_id` is the 64-bit hash of the file path:
   * stable across re-ingests, shardable, no driver-side numbering.
   * Scale: binaryFile splits by file across the cluster;
   * `pathGlobFilter` prunes at listing time, before any byte is read.
   */
  def readMediaDir(spark: SparkSession, dir: String, kind: String,
      glob: String = "*"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)
      .select(
        xxhash64(col("path")).as("media_id"),
        lit(kind).as("kind"),
        col("content").as("payload"),
        col("path"), col("length"))

  /** Synthesize a deterministic binary corpus from documents (UTF-8
    * payloads): the test stand-in for real media files. */
  def syntheticMedia(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "documents")
      .select(
        col("doc_id").as("media_id"),
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video").as("kind"),
        col("text").cast("binary").as("payload"))

  /**
   * Real-codec image corpus: one genuine PNG per document, encoded via
   * `javax.imageio`. Dimensions are a fixed function of `doc_id`
   * (width = 4 + id mod 13, height = 4 + id mod 11) so an SQL oracle
   * can predict what a real decode must recover; pixels are a
   * deterministic hash of (id, x, y) so payload bytes are stable.
   * Narrow per-partition encode, no shuffle — the write-side twin of
   * the decode stage.
   */
  /** Encode one genuine PNG for `id`: width = 4 + id mod 13, height =
    * 4 + id mod 11, pixels a deterministic hash of (id, x, y). */
  def encodePng(id: Long): Array[Byte] = {
    val w = 4 + (id % 13).toInt
    val h = 4 + (id % 11).toInt
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val m = java.lang.Long
          .hashCode(id * 1000003L + y * 1009L + x * 31L)
        img.setRGB(x, y, m & 0xFFFFFF)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  def syntheticImages(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Scale.fanOut(Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"))).as[Long]
      .mapPartitions(_.map(id => MediaRecord(id, "image", encodePng(id))))
      .toDF()
  }

  // ---------------------------------------------------------------- audio

  private val RiffMagic = "RIFF".getBytes("US-ASCII")
  private val WaveMagic = "WAVE".getBytes("US-ASCII")

  /** RIFF/WAVE magic check: `RIFF` at offset 0, `WAVE` at offset 8. */
  def isWav(payload: Array[Byte]): Boolean =
    payload.length >= 12 &&
      RiffMagic.indices.forall(i => payload(i) == RiffMagic(i)) &&
      WaveMagic.indices.forall(i => payload(8 + i) == WaveMagic(i))

  /** The deterministic 16-bit PCM waveform for the synthetic audio
    * corpus: sample i of media `id`. Pure integer math so the SQL
    * oracle replays it exactly — a decoded stream that matches proves
    * the REAL codec recovered every sample bit-for-bit. */
  def pcmSample(id: Long, i: Int): Short =
    ((id * 7919L + i * 104729L) % 65536L - 32768L).toShort

  /** Frame count / sample rate as fixed functions of `media_id`, so the
    * oracle can predict what a real decode must recover (the audio twin
    * of [[syntheticImages]]'s id-derived dimensions). */
  def audioFrames(id: Long): Int = 64 + (id % 192).toInt
  def audioRate(id: Long): Int = 8000 * (1 + (id % 3).toInt)

  /**
   * Real-codec audio corpus: one genuine RIFF/WAVE file per document,
   * encoded via `javax.sound.sampled` (16-bit PCM, mono,
   * little-endian). Narrow per-partition encode, no shuffle — the
   * write-side twin of the audio decode stage.
   */
  /** Encode one genuine RIFF/WAVE file for `id` (16-bit PCM, mono,
    * little-endian, id-derived rate/frame-count). */
  def encodeWav(id: Long): Array[Byte] = {
    val n = audioFrames(id)
    val rate = audioRate(id)
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = pcmSample(id, i)
      pcm(2 * i) = (s & 0xFF).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
      rate.toFloat, 16, 1, 2, rate.toFloat, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    try javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    finally ais.close()
    bos.toByteArray
  }

  /** fanOut disposition — MEASURED (graft.tools.FanOutProbe,
    * sf0.1, local[32], min of 2): encode 0.30 s without the ids-only
    * exchange vs 0.81 s with it, and the downstream energy decode
    * reads the resulting store in 0.24 s (1 scan partition) vs
    * 0.61 s (32) — at GATE scale the synthetic payloads are ~KB and
    * the codec kernels ~µs/record, so 32-way task scheduling costs
    * more than the parallelism buys. The fanOut STAYS anyway: the
    * builders are untimed fixtures, and the exchange exists for the
    * at-scale regime (real audio is MB/record, kernels ms/record)
    * where an unfanned single-partition scan serializes the whole
    * decode — the measured gate-scale penalty is the insurance
    * premium against that cliff, paid outside any timed region. */
  def syntheticAudio(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Scale.fanOut(Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"))).as[Long]
      .mapPartitions(_.map(id => MediaRecord(id, "audio", encodeWav(id))))
      .toDF()
  }

  case class AudioMeta(media_id: Long, sample_rate: Int, channels: Int,
      n_frames: Long, duration_ms: Long)

  /**
   * Header-only audio metadata decode through the REAL codec:
   * `AudioSystem.getAudioFileFormat` parses the WAVE `fmt ` chunk
   * without reading sample data — the metadata pass a 100 TB audio
   * sweep runs (sample decode stays where samples are needed,
   * [[decodeAudioSamples]]).
   */
  def decodeAudioHeader(payload: Array[Byte]): (Int, Int, Long) = {
    require(isWav(payload), "not a RIFF/WAVE payload")
    val aff = javax.sound.sampled.AudioSystem.getAudioFileFormat(
      new java.io.ByteArrayInputStream(payload))
    val fmt = aff.getFormat
    (fmt.getSampleRate.toInt, fmt.getChannels, aff.getFrameLength.toLong)
  }

  /** Full PCM sample decode through the real codec: WAVE bytes →
    * 16-bit signed samples (mono). The returned array is what the
    * encoder was fed — any codec divergence shows up bit-for-bit. */
  def decodeAudioSamples(payload: Array[Byte]): Array[Short] = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(payload))
    try {
      val fmt = ais.getFormat
      require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
        s"expected 16-bit mono PCM, got $fmt")
      val bytes = ais.readAllBytes()
      val n = bytes.length / 2
      val out = new Array[Short](n)
      var i = 0
      if (fmt.isBigEndian)
        while (i < n) {
          out(i) = (((bytes(2 * i) & 0xFF) << 8) |
            (bytes(2 * i + 1) & 0xFF)).toShort
          i += 1
        }
      else
        while (i < n) {
          out(i) = (((bytes(2 * i + 1) & 0xFF) << 8) |
            (bytes(2 * i) & 0xFF)).toShort
          i += 1
        }
      out
    } finally ais.close()
  }

  /** Audio metadata stage: per-partition header decode, no shuffle. */
  def decodeAudio(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("media_id"), col("kind"), col("payload"))
      .as[MediaRecord]
      .mapPartitions { it =>
        it.map { r =>
          val (rate, ch, frames) = decodeAudioHeader(r.payload)
          AudioMeta(r.media_id, rate, ch, frames, frames * 1000L / rate)
        }
      }.toDF()
  }

  /** Materialized WAVE corpus per sf dir (the audio twin of
    * [[buildImageStore]]): encoding is fixture creation, not the
    * measured operator; built once, shared by the decode and energy
    * queries. */
  def buildAudioStore(spark: SparkSession, sfDir: String): String =
    graft.StoreCatalog.pathStore("media_audio@v1", sfDir) { d =>
      syntheticAudio(spark, sfDir)
        .write.mode("overwrite").parquet(s"$d/audio")
    } + "/audio"

  /** Correctness-gate query for the REAL audio header decode: encode
    * WAVE files with id-derived rate/frame-count, decode them back via
    * `javax.sound.sampled`, and let the DuckDB oracle predict the
    * recovered metadata from `doc_id` alone. */
  def audioDecodeQuery(spark: SparkSession, sfDir: String): DataFrame =
    stageForSort(
      decodeAudio(spark, spark.read.parquet(buildAudioStore(spark, sfDir)))
        .select(col("media_id"), col("sample_rate"), col("channels"),
          col("n_frames"), col("duration_ms")), "media_id")
      .orderBy(col("media_id"))

  case class AudioEnergy(media_id: Long, n_frames: Long, peak: Int,
      rms_e4: Long)

  /**
   * Real DSP over really-decoded samples: peak amplitude and RMS
   * energy per file — the loudness screen an audio-curation pipeline
   * runs (silence / clipping gates). Samples come out of the REAL
   * WAVE decode; the oracle replays the generation math, so a hash
   * match proves the codec round-tripped every 16-bit sample exactly.
   * Integer sum-of-squares (exact, order-free) feeds one double sqrt;
   * the RMS is reported floor-scaled to 1e-4 (`rms_e4`) — floor of an
   * IEEE-identical double is engine-independent, where `round` tie
   * semantics (half-even vs half-up) are not.
   */
  def audioEnergy(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("media_id"), col("kind"), col("payload"))
      .as[MediaRecord]
      .mapPartitions { it =>
        it.map { r =>
          val samples = decodeAudioSamples(r.payload)
          var sumSq = 0L
          var peak = 0
          samples.foreach { s =>
            val v = s.toInt
            sumSq += v.toLong * v
            if (math.abs(v) > peak) peak = math.abs(v)
          }
          val n = samples.length
          val rms = if (n == 0) 0.0 else math.sqrt(sumSq.toDouble / n)
          AudioEnergy(r.media_id, n.toLong, peak,
            math.floor(rms * 10000).toLong)
        }
      }.toDF()
  }

  def audioEnergyQuery(spark: SparkSession, sfDir: String): DataFrame =
    stageForSort(
      audioEnergy(spark, spark.read.parquet(buildAudioStore(spark, sfDir))),
      "media_id")
      .orderBy(col("media_id"))

  case class AudioVad(media_id: Long, seg_no: Int, start_win: Long,
      end_win: Long, n_win: Long, energy: Long)

  /**
   * Voice-activity detection over the REAL PCM decode — the
   * energy-gate VAD every speech-data pipeline runs before ASR or
   * speech-LM training (silence stripping; WebRTC-VAD's shape without
   * the model): fixed 16-sample windows, a window is ACTIVE iff its
   * EXACT integer sum-of-squares energy ≥ 16 × 358,000,000 (the
   * uniform-PCM mean-square expectation (2¹⁵)²/3 — the threshold
   * that actually splits this corpus's windows), and consecutive
   * active windows merge into segments (gaps-and-islands, computed
   * per file inside the decode pass — window counts are bounded, so
   * the run-length scan is O(windows) local state, never a shuffle).
   * One row per segment: ordinal, window span, exact energy.
   *
   * The engine computes segments from the `javax.sound` decode; the
   * oracle replays the id-derived waveform, the windowing, the
   * threshold, and the island arithmetic exactly — a hash match
   * proves codec, framing, and segmentation together. Narrow
   * per-partition pass; at 100 TB of audio this runs where the bytes
   * live (the [[audioEnergy]] scale shape) and emits only
   * segment-sized rows.
   */
  def audioVadOf(media_id: Long, samples: Array[Short]): Seq[AudioVad] = {
    val winSize = 16
    val thresh = 358000000L * winSize
    val nWin = (samples.length + winSize - 1) / winSize
    val e = new Array[Long](math.max(nWin, 1))
    var i = 0
    while (i < samples.length) {
      val v = samples(i).toLong
      e(i / winSize) += v * v
      i += 1
    }
    val segs = scala.collection.mutable.ArrayBuffer.empty[AudioVad]
    var w = 0
    var segStart = -1
    var segEnergy = 0L
    while (w <= nWin) {
      val active = w < nWin && e(w) >= thresh
      if (active && segStart < 0) { segStart = w; segEnergy = 0L }
      if (active) segEnergy += e(w)
      if (!active && segStart >= 0) {
        segs += AudioVad(media_id, segs.length + 1, segStart.toLong,
          (w - 1).toLong, (w - segStart).toLong, segEnergy)
        segStart = -1
      }
      w += 1
    }
    segs.toSeq
  }

  /** Correctness-gate query for [[audioVadOf]]: decode every stored
    * WAVE for real, segment its activity, and let the oracle replay
    * segments from doc_id arithmetic alone. */
  def audioVadQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(buildAudioStore(spark, sfDir))
      .select(col("media_id"), col("kind"), col("payload"))
      .as[MediaRecord]
      .mapPartitions { it =>
        it.flatMap { r =>
          audioVadOf(r.media_id, decodeAudioSamples(r.payload))
        }
      }.toDF()
      .transform(stageForSort(_, "media_id"))
      .orderBy(col("media_id"), col("seg_no"))
  }

  case class AudioFprint(media_id: Long, n_frames: Long, fprint: Int,
      fprint_pop: Int)

  /** Energy-contour fingerprint of one decoded PCM stream — the audio
    * twin of [[dhashOf]] (the shape Chromaprint-family fingerprints
    * reduce to without the FFT): split the n samples into 16
    * index-windows (sample i → window i·16÷n, integer floor), take
    * each window's EXACT integer sum-of-squares energy, then one bit
    * per adjacent window pair — energy(w+1) > energy(w) — 15 bits
    * MSB-first. All-integer math end to end, so the SQL oracle
    * replays the fingerprint bit-for-bit from the id-derived waveform
    * while the engine computes it from the REAL `javax.sound` decode. */
  /** The 16 index-window sum-of-squares energies of a PCM stream
    * (sample i → window i·16÷n) — the contour [[audioFprintOf]]
    * bit-reduces, exposed whole as the deterministic audio embedding
    * for [[audioTextAlignQuery]]. */
  def energy16Of(samples: Array[Short]): Array[Long] = {
    val n = samples.length
    val e = new Array[Long](16)
    var i = 0
    while (i < n) {
      val v = samples(i).toLong
      e(i * 16 / n) += v * v
      i += 1
    }
    e
  }

  def audioFprintOf(samples: Array[Short]): Int = {
    val e = energy16Of(samples)
    var fp = 0
    var w = 0
    while (w < 15) {
      if (e(w + 1) > e(w)) fp |= 1 << (14 - w)
      w += 1
    }
    fp
  }

  /** Correctness-gate query for audio fingerprinting: decode every
    * stored WAVE for real, fingerprint its energy contour, and let
    * the oracle recompute the exact 15-bit value from doc_id
    * arithmetic — the [[imagePhashQuery]] pattern on the audio path.
    * Narrow per-partition decode, no shuffle; the fingerprint is the
    * band key an audio near-dup pass would block on. */
  def audioFprintQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(buildAudioStore(spark, sfDir))
      .select(col("media_id"), col("kind"), col("payload"))
      .as[MediaRecord]
      .mapPartitions { it =>
        it.map { r =>
          val samples = decodeAudioSamples(r.payload)
          val fp = audioFprintOf(samples)
          AudioFprint(r.media_id, samples.length.toLong, fp,
            Integer.bitCount(fp))
        }
      }.toDF()
      .transform(stageForSort(_, "media_id"))
      .orderBy(col("media_id"))
  }

  // ---------------------------------------------------------------- video

  private val AviMagic = "AVI ".getBytes("US-ASCII")

  /** RIFF/AVI magic check: `RIFF` at offset 0, `AVI ` at offset 8. */
  def isAvi(payload: Array[Byte]): Boolean =
    payload.length >= 12 &&
      RiffMagic.indices.forall(i => payload(i) == RiffMagic(i)) &&
      AviMagic.indices.forall(i => payload(8 + i) == AviMagic(i))

  /** Video dimensions / frame count / frame pixel bytes as fixed
    * functions of `media_id`, so the SQL oracle can predict what a real
    * container parse must recover (the video twin of the image kind's
    * id-derived dimensions). */
  def videoWidth(id: Long): Int = 8 + (id % 9).toInt
  def videoHeight(id: Long): Int = 6 + (id % 7).toInt
  def videoFrames(id: Long): Int = 4 + (id % 12).toInt
  def videoFrameByte(id: Long, frame: Int, i: Int): Byte =
    ((id * 31L + frame * 7L + i) % 256L).toByte

  private def le32(v: Int): Array[Byte] = Array(
    (v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
    ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
  private def le16(v: Int): Array[Byte] =
    Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
  private def fcc(s: String): Array[Byte] = s.getBytes("US-ASCII")

  /**
   * Mux one genuine AVI container for `id`: RIFF `AVI ` holding a
   * `hdrl` list (56-byte `avih` MainAVIHeader, one `strl` with a
   * `vids` stream header and a 24-bpp BITMAPINFOHEADER) and a `movi`
   * list of one `00db` chunk per frame (raw deterministic pixel
   * bytes). Chunks are even-aligned per the RIFF rules — the padding
   * byte is exactly what a sloppy demuxer trips over, so it is part of
   * the gate.
   */
  def encodeAvi(id: Long): Array[Byte] = {
    val w = videoWidth(id); val h = videoHeight(id); val n = videoFrames(id)
    val frameLen = w * h * 3
    def chunk(cc: String, data: Array[Byte]): Array[Byte] =
      fcc(cc) ++ le32(data.length) ++ data ++
        (if (data.length % 2 == 1) Array(0.toByte) else Array.emptyByteArray)
    def list(listType: String, bodies: Array[Byte]*): Array[Byte] = {
      val body = fcc(listType) ++ bodies.flatten
      fcc("LIST") ++ le32(body.length) ++ body
    }
    // MainAVIHeader: µs/frame, bytes/sec, padding, flags, totalFrames,
    // initialFrames, streams, suggestedBuffer, width, height, reserved×4
    val avih = chunk("avih",
      Array(33333, frameLen * 30, 0, 0, n, 0, 1, frameLen, w, h, 0, 0, 0, 0)
        .flatMap(le32))
    // AVIStreamHeader for the single vids stream
    val strh = chunk("strh",
      fcc("vids") ++ fcc("DIB ") ++ le32(0) ++ le16(0) ++ le16(0) ++
        le32(0) ++ le32(1) ++ le32(30) ++ le32(0) ++ le32(n) ++
        le32(frameLen) ++ le32(-1) ++ le32(0) ++
        le16(0) ++ le16(0) ++ le16(w) ++ le16(h))
    // BITMAPINFOHEADER: 24-bpp uncompressed
    val strf = chunk("strf",
      le32(40) ++ le32(w) ++ le32(h) ++ le16(1) ++ le16(24) ++ le32(0) ++
        le32(frameLen) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0))
    val frames = (0 until n).map { f =>
      val px = new Array[Byte](frameLen)
      var i = 0
      while (i < frameLen) { px(i) = videoFrameByte(id, f, i); i += 1 }
      chunk("00db", px)
    }
    val body = fcc("AVI ") ++ list("hdrl", avih, list("strl", strh, strf)) ++
      list("movi", frames: _*)
    fcc("RIFF") ++ le32(body.length) ++ body
  }

  private def leInt(b: Array[Byte], off: Int): Int =
    (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8) |
      ((b(off + 2) & 0xFF) << 16) | ((b(off + 3) & 0xFF) << 24)
  private def ccAt(b: Array[Byte], off: Int): String =
    new String(b, off, 4, "US-ASCII")

  /** Recursive RIFF chunk walk: data offset of the first `target`
    * chunk in [start, end), descending into LIST chunks; -1 if
    * absent. Chunks advance by even-aligned sizes per the RIFF spec. */
  private def findChunk(b: Array[Byte], start: Int, end: Int,
      target: String): Int = {
    var off = start
    while (off + 8 <= end) {
      val cc = ccAt(b, off)
      val size = leInt(b, off + 4)
      if (cc == target) return off + 8
      if (cc == "LIST") {
        val r = findChunk(b, off + 12, math.min(off + 8 + size, end), target)
        if (r >= 0) return r
      }
      off += 8 + size + (size & 1)
    }
    -1
  }

  /**
   * Header-only video metadata through a REAL container parse: walk
   * the RIFF tree to the `avih` MainAVIHeader and read dwWidth (offset
   * 32), dwHeight (36), dwTotalFrames (16) — no frame bytes touched,
   * the metadata pass a 100 TB video sweep runs. Returns
   * (width, height, totalFrames).
   */
  def decodeVideoHeader(payload: Array[Byte]): (Int, Int, Int) = {
    require(isAvi(payload), "not a RIFF/AVI payload")
    val d = findChunk(payload, 12, payload.length, "avih")
    require(d >= 0 && d + 40 <= payload.length, "AVI missing avih chunk")
    (leInt(payload, d + 32), leInt(payload, d + 36), leInt(payload, d + 16))
  }

  /** Real `movi` demux: locate the movi LIST and emit each video-frame
    * chunk's bytes (`##db`/`##dc`, even-aligned walk). This is genuine
    * frame EXTRACTION — pixel decoding of the frame payloads would
    * need an external codec and is out of scope. */
  def demuxFrames(payload: Array[Byte]): Array[Array[Byte]] = {
    require(isAvi(payload), "not a RIFF/AVI payload")
    var off = 12
    var moviStart = -1
    var moviEnd = -1
    while (off + 8 <= payload.length && moviStart < 0) {
      val cc = ccAt(payload, off)
      val size = leInt(payload, off + 4)
      if (cc == "LIST" && off + 12 <= payload.length &&
          ccAt(payload, off + 8) == "movi") {
        moviStart = off + 12
        moviEnd = math.min(off + 8 + size, payload.length)
      }
      off += 8 + size + (size & 1)
    }
    require(moviStart >= 0, "AVI missing movi list")
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var p = moviStart
    while (p + 8 <= moviEnd) {
      val cc = ccAt(payload, p)
      val size = leInt(payload, p + 4)
      if (cc.endsWith("db") || cc.endsWith("dc"))
        out += java.util.Arrays.copyOfRange(payload, p + 8, p + 8 + size)
      p += 8 + size + (size & 1)
    }
    out.toArray
  }

  /** Materialized AVI corpus per sf dir (the video twin of
    * [[buildImageStore]] / [[buildAudioStore]]). */
  def buildVideoStore(spark: SparkSession, sfDir: String): String =
    graft.StoreCatalog.pathStore("media_video@v1", sfDir) { d =>
      import spark.implicits._
      Scale.fanOut(Tables.load(spark, sfDir, "documents")
          .select(col("doc_id"))).as[Long]
        .mapPartitions(_.map(id => MediaRecord(id, "video", encodeAvi(id))))
        .toDF()
        .write.mode("overwrite").parquet(s"$d/video")
    } + "/video"

  /** Correctness-gate query for the REAL video container parse: mux
    * AVIs with id-derived dims/frame-count, walk the RIFF tree back to
    * the `avih`, and let the DuckDB oracle predict the recovered
    * metadata from `doc_id` alone. */
  def videoDecodeQuery(spark: SparkSession, sfDir: String): DataFrame =
    stageForSort(
      decode(spark, spark.read.parquet(buildVideoStore(spark, sfDir)))
        .select(col("media_id"), col("width"), col("height"),
          col("n_frames")), "media_id")
      .orderBy(col("media_id"))

  /** Correctness-gate query for the REAL `movi` demux: every frame
    * chunk's index, byte length, and first pixel byte — all id-derived,
    * so the oracle replays the mux math and a hash match proves the
    * chunk walk recovered every frame boundary exactly. */
  def videoFramesQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(buildVideoStore(spark, sfDir))
      .select(col("media_id"), col("kind"), col("payload"))
      .as[MediaRecord]
      .flatMap { r =>
        demuxFrames(r.payload).zipWithIndex.map { case (b, f) =>
          (r.media_id, f, b.length, b(0) & 0xFF)
        }
      }
      .toDF("media_id", "frame_no", "frame_len", "first_byte")
      .transform(stageForSort(_, "media_id"))
      .orderBy(col("media_id"), col("frame_no"))
  }

  /** Temporal brightness-contour fingerprint of one demuxed frame
    * sequence — the video member of the [[dhashOf]]/[[audioFprintOf]]
    * triad: each frame reduces to its exact unsigned-byte sum
    * ("brightness"), then one bit per adjacent frame pair —
    * sum(f+1) > sum(f) — packed MSB-first into n−1 bits. Scene-cut
    * hashing reduced to its arithmetic core: all-integer, so the SQL
    * oracle replays it in closed form from the id-derived pixel
    * stream while the engine walks the REAL RIFF container. */
  def videoFprintOf(frames: Array[Array[Byte]]): Int = {
    val sums = frames.map { fb =>
      var s = 0L; var i = 0
      while (i < fb.length) { s += (fb(i) & 0xFF).toLong; i += 1 }
      s
    }
    var fp = 0
    var f = 0
    while (f < sums.length - 1) {
      if (sums(f + 1) > sums(f)) fp |= 1 << (sums.length - 2 - f)
      f += 1
    }
    fp
  }

  /** Correctness-gate query for video fingerprinting: demux every
    * stored AVI for real and fingerprint its brightness contour; the
    * oracle recomputes the exact value with a closed-form sum over
    * the (id·31 + f·7 + i) mod 256 pixel bytes. Narrow per-partition
    * demux, no shuffle. */
  def videoFprintQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(buildVideoStore(spark, sfDir))
      .select(col("media_id"), col("kind"), col("payload"))
      .as[MediaRecord]
      .mapPartitions { it =>
        it.map { r =>
          val frames = demuxFrames(r.payload)
          val fp = videoFprintOf(frames)
          (r.media_id, frames.length, fp, Integer.bitCount(fp))
        }
      }
      .toDF("media_id", "n_frames", "fprint", "fprint_pop")
      .transform(stageForSort(_, "media_id"))
      .orderBy(col("media_id"))
  }

  // ---------------------------------------------------------------- images

  case class ResizedImage(media_id: Long, payload: Array[Byte])

  /**
   * Resize stage: decode PNG → scale to fit `maxDim` on the longest
   * side (aspect preserved, integer math: `out = dim × maxDim ÷
   * longest`, floor, min 1; no-op when it already fits) → re-encode
   * PNG. Real codec + real raster op (`java.awt.Graphics2D`), narrow
   * per-partition work, no shuffle — the standard pre-training image
   * normalization pass. Non-PNG payloads pass through untouched.
   */
  def resizeImages(spark: SparkSession, media: DataFrame, maxDim: Int)
      : DataFrame = {
    import spark.implicits._
    media.select(col("media_id"), col("kind"), col("payload"))
      .as[MediaRecord]
      .mapPartitions { it =>
        it.map { r =>
          if (!isPng(r.payload)) ResizedImage(r.media_id, r.payload)
          else {
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(r.payload))
            require(img != null, s"corrupt PNG payload (media ${r.media_id})")
            val (w, h) = (img.getWidth, img.getHeight)
            val longest = math.max(w, h)
            if (longest <= maxDim) ResizedImage(r.media_id, r.payload)
            else {
              val ow = math.max(1, w * maxDim / longest)
              val oh = math.max(1, h * maxDim / longest)
              val out = new java.awt.image.BufferedImage(ow, oh,
                java.awt.image.BufferedImage.TYPE_INT_RGB)
              val g = out.createGraphics()
              try g.drawImage(img, 0, 0, ow, oh, null) finally g.dispose()
              val bos = new java.io.ByteArrayOutputStream()
              javax.imageio.ImageIO.write(out, "png", bos)
              ResizedImage(r.media_id, bos.toByteArray)
            }
          }
        }
      }.toDF()
  }

  /** Materialized PNG corpus per sf dir — the synthetic stand-in for
    * the image lake a real pipeline READS (encoding it is fixture
    * creation, not the measured operator); built once, shared by the
    * decode and resize queries, same pattern as [[buildFeatureStore]]. */
  def buildImageStore(spark: SparkSession, sfDir: String): String =
    graft.StoreCatalog.pathStore("media_images@v1", sfDir) { d =>
      syntheticImages(spark, sfDir)
        .write.mode("overwrite").parquet(s"$d/images")
    } + "/images"

  /** Correctness-gate query for the full raster chain: encode PNGs
    * (id-derived dims) → resize to fit 8 px → re-encode → DECODE THE
    * RESIZED BYTES BACK — the reported dimensions come out of the
    * second real decode, and the oracle predicts them from `doc_id`
    * with the same integer math. */
  def imageResizeQuery(spark: SparkSession, sfDir: String): DataFrame =
    stageForSort(
      decode(spark,
        resizeImages(spark,
          spark.read.parquet(buildImageStore(spark, sfDir)), maxDim = 8)
          .withColumn("kind", lit("image")))
        .select(col("media_id"), col("width"), col("height")), "media_id")
      .orderBy(col("media_id"))

  /**
   * Difference-hash (dHash) perceptual fingerprint of one decoded
   * image: sample a 9×8 grid nearest-neighbor (sx = x·w÷9,
   * sy = y·h÷8 — integer floor, no interpolation, so the arithmetic
   * is exactly replayable), integer-luminance each sample
   * (gray = (299r + 587g + 114b) ÷ 1000), then one bit per adjacent
   * horizontal pair: gray(x+1,y) > gray(x,y), row-major MSB-first.
   * The 64 bits are returned as two 32-bit halves (rows 0–3 / 4–7) so
   * both engines stay inside non-overflowing BIGINT arithmetic.
   */
  def dhashOf(img: java.awt.image.BufferedImage): (Long, Long) = {
    val w = img.getWidth; val h = img.getHeight
    val gray = Array.ofDim[Int](8, 9)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 9) {
        val rgb = img.getRGB(x * w / 9, y * h / 8)
        val r = (rgb >> 16) & 0xFF
        val g = (rgb >> 8) & 0xFF
        val b = rgb & 0xFF
        gray(y)(x) = (299 * r + 587 * g + 114 * b) / 1000
        x += 1
      }
      y += 1
    }
    var hi = 0L; var lo = 0L
    y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        val bit = if (gray(y)(x + 1) > gray(y)(x)) 1L else 0L
        val idx = (y % 4) * 8 + x
        if (y < 4) hi |= bit << (31 - idx) else lo |= bit << (31 - idx)
        x += 1
      }
      y += 1
    }
    (hi, lo)
  }

  /**
   * Correctness-gate query for perceptual image hashing: decode every
   * stored PNG for real (`javax.imageio`) and emit its [[dhashOf]]
   * fingerprint plus popcount. Because the fixture pixels are
   * id-derived arithmetic and the sampling is nearest-neighbor
   * integer math, the DuckDB oracle recomputes the EXACT 64-bit hash
   * from `doc_id` alone — the full decode chain (PNG round-trip,
   * channel order, luminance, grid, bit packing) sits behind an
   * exact-hash gate, not an invariant one. Shape: narrow
   * per-partition decode, no shuffle; the hash is the 8-byte object
   * a 100 TB image-dedup pass would band and join on
   * ([[mediaNearDupQuery]] is the embedding-space twin).
   */
  def imagePhashQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(buildImageStore(spark, sfDir))
      .select(col("media_id"), col("kind"), col("payload"))
      .as[MediaRecord]
      .mapPartitions { it =>
        it.map { r =>
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(r.payload))
          require(img != null, s"corrupt PNG payload (media ${r.media_id})")
          val (hi, lo) = dhashOf(img)
          (r.media_id, hi, lo,
            java.lang.Long.bitCount(hi) + java.lang.Long.bitCount(lo))
        }
      }
      .toDF("media_id", "dhash_hi", "dhash_lo", "dhash_pop")
      .transform(stageForSort(_, "media_id"))
      .orderBy(col("media_id"))
  }

  /** Correctness-gate query for the REAL image decode: encode PNGs with
    * id-derived dimensions, decode them back with `javax.imageio`, and
    * let the DuckDB oracle predict the recovered dimensions from
    * `doc_id` alone — a full codec round-trip behind a hash gate. */
  def imageDecodeQuery(spark: SparkSession, sfDir: String): DataFrame =
    stageForSort(
      decode(spark, spark.read.parquet(buildImageStore(spark, sfDir)))
        .select(col("media_id"), col("kind"), col("width"), col("height"),
          col("n_frames")), "media_id")
      .orderBy(col("media_id"))

  /**
   * Correctness-gate query (SQL-expressible subset): byte length,
   * 4-byte header hex, payload md5, and an 8-byte "frame sample" slice
   * — the column-expression stages of the pipeline, verified against
   * DuckDB BLOB functions.
   */
  def mediaMetaQuery(spark: SparkSession, sfDir: String): DataFrame =
    syntheticMedia(spark, sfDir)
      .select(
        col("media_id"), col("kind"),
        length(col("payload")).as("byte_len"),
        lower(hex(expr("substring(payload, 1, 4)"))).as("header_hex"),
        md5(col("payload")).as("payload_md5"),
        lower(hex(expr("substring(payload, 9, 8)"))).as("frame_sample"))
      .orderBy(col("media_id"))

  case class Frame(media_id: Long, frame_no: Int, frame_bytes: Array[Byte])

  /**
   * Frame sampling: REAL `movi` demux ([[demuxFrames]]), emitting
   * every `everyN`-th frame chunk as its own row. The explode is
   * narrow Spark plumbing (one media row → k frame rows, no shuffle);
   * the frame bytes are the actual chunk payloads the muxer wrote.
   */
  def frameSample(spark: SparkSession, media: DataFrame, everyN: Int = 4)
      : DataFrame = {
    import spark.implicits._
    media.select(col("media_id"), col("kind"), col("payload"))
      .as[MediaRecord]
      .flatMap { r =>
        val frames = demuxFrames(r.payload)
        (0 until frames.length by everyN).map { f =>
          Frame(r.media_id, f, frames(f))
        }
      }.toDF()
  }

  /**
   * Feature extraction: a deterministic 64-dim float "embedding" from
   * payload bytes (byte histogram over 64 buckets, L2-normalized) —
   * the stub stand-in for a real vision/audio encoder. Output plugs
   * straight into [[Similarity]] / [[Dedup.embeddingNearDupQuery]]
   * (same `array<float>` column shape as the embeddings table).
   */
  def extractFeatures(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("media_id"), col("kind"), col("payload"))
      .as[MediaRecord]
      .map { r =>
        val hist = new Array[Float](64)
        r.payload.foreach(b => hist((b & 0xFF) % 64) += 1f)
        val n = math.sqrt(hist.map(v => v.toDouble * v).sum)
        val emb = if (n == 0) hist else hist.map(v => (v / n).toFloat)
        (r.media_id, r.kind, emb)
      }.toDF("media_id", "kind", "embedding")
  }

  /** Media near-dup candidate blocking: IVF cells (k-means coarse
    * quantizer, [[Similarity.fitCentroidMatrix]]), each vector keyed by
    * its `ivfProbe` nearest cells; candidate iff any cell is shared.
    * Histogram embeddings cluster so tightly that data-INDEPENDENT
    * blocking fails both ways (measured at sf0.1, 5000 docs, 71 true
    * pairs: 12 raw hyperplanes → 79 buckets → 1.8M candidate pairs;
    * 4×15-plane banding → perfect recall but 3.2M pairs) — k-means
    * splits the dense regions by construction, and 2-cell probing
    * covers boundary pairs. */
  // SCALE RULE (r17, the q_dedup_semantic k = n/1024 law applied
  // here): a FIXED cell count makes in-cell pair work grow n²/k —
  // invisible at sf10 (500k media) but the dominant cost at sf100
  // (5M media: ~100x the sf10 pair count). Above the 256·1024-media
  // line, cells scale with the corpus so expected in-cell pair work
  // stays ~n·1024·probes at any scale; below it the historical 256
  // keeps every gate-scale candidate set (and hash) unchanged.
  private val ivfKBase = 256
  private def ivfKFor(nMedia: Long): Int =
    math.max(ivfKBase.toLong, nMedia / 1024L).toInt
  // probe is the recall knob: 2-probe blocking measured lossless to
  // sf0.1 but missed 1 true pair at sf1 (near-tied centroid rankings
  // can disagree on both probes for a boundary pair); 3-probe restores
  // measured completeness at sf1 for ~2.25x the candidate pairs —
  // still a vanishing fraction of the exhaustive quadratic.
  private val ivfProbe = 3

  /** Build (or reuse) the materialized feature store for a corpus;
    * returns the path of its per-media `feats` dataset (the join-key
    * dataset lands as a `keys` sibling — [[writeBlockKeys]]).
    * Decode+embed is the offline half of the pipeline (like the IVF
    * fit): built once per corpus, reused by every serving query. */
  def buildFeatureStore(spark: SparkSession, sfDir: String): String =
    graft.StoreCatalog.pathStore("media_feats@v2", sfDir) { dir =>
      // materialize the decode+embed pass ONCE before the k-means fit —
      // each fit iteration runs several jobs, and without this the
      // typed decode map re-executes in every one of them
      val feats = extractFeatures(spark, syntheticMedia(spark, sfDir))
        .localCheckpoint()
      val nMedia = feats.count()
      val k = ivfKFor(nMedia)
      val cents = Similarity.fitCentroidMatrix(
        feats.select(col("media_id").as("vec_id"), col("embedding")),
        k = k)
      feats
        .withColumn("cells",
          Similarity.nearestCellsCol(cents, col("embedding"), ivfProbe))
        .write.mode("overwrite").parquet(s"$dir/feats")
      writeBlockKeys(spark, s"$dir/feats", s"$dir/keys", nMedia, k)
    } + "/feats"

  /** Refined key for a re-blocked (cell, sub) pair: disjoint from the
    * plain [0, k) key space for any k < 2²⁴ (k = n/1024 crosses that
    * only past ~17e9 media — document, don't branch). */
  private def refinedKey(cell: org.apache.spark.sql.Column,
      sub: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (cell.cast("long") + lit(1L)) * lit(1L << 24) + sub.cast("long")

  /**
   * Join-key dataset for the near-dup self-join, with SECOND-LEVEL
   * RE-BLOCKING of oversized level-1 cells (r18, VERDICT r17 #2):
   * the dynamic-k law bounds EXPECTED cell size, but one hot k-means
   * cell still made the sf100 pair tail a single straggler (measured
   * exponent 1.18). Any cell holding > 2× the expected exploded
   * membership gets a LOCAL sub-quantizer — deterministic stride
   * seeds over the cell's members, one Lloyd refinement round, both
   * fit and assignment through the grouped kernel — and its rows
   * re-key to (cell, sub) with 2-probe sub-assignment (near-identical
   * vectors have near-identical distance profiles, so a cos ≥ 0.999
   * pair's top-2 sub sets intersect — the same boundary argument as
   * level-1 probing, re-checked by the completeness gate at every
   * scale). Below the dynamic-k line (k = ivfKBase) keys are the
   * plain cells — gate-scale candidate sets and hashes unchanged.
   */
  private[graft] def writeBlockKeys(spark: SparkSession, featsPath: String,
      keysPath: String, nMedia: Long, k: Int): Unit = {
    val exploded = spark.read.parquet(featsPath)
      .select(col("media_id"), col("kind"), col("embedding"),
        explode(col("cells")).as("cell"))
    val plain = exploded
      .withColumn("ckey", col("cell").cast("long")).drop("cell")
    val out =
      if (k <= ivfKBase) plain
      else {
        val target = nMedia.toDouble * ivfProbe / k
        val overs = exploded.groupBy(col("cell"))
          .agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") > lit(2.0 * target))
          .collect().map(r => (r.getInt(0), r.getLong(1)))
        if (overs.isEmpty) plain
        else {
          val overIds = overs.map(_._1).toSeq
          // per-cell sub-quantizer size: one sub-cell per expected
          // membership unit, so sub-cells land back at ~target size
          val subK = overs.map { case (c, cnt) =>
            c -> math.max(2, math.min(64,
              math.ceil(cnt / math.max(target, 1.0)).toInt))
          }.toMap
          val strideOf: Map[Int, Long] = overs.map { case (c, cnt) =>
            c -> math.max(1L, cnt / subK(c))
          }.toMap
          val ov = exploded.filter(col("cell").isin(overIds: _*))
            .localCheckpoint() // feeds seeds, refinement and final keys
          val wr = org.apache.spark.sql.expressions.Window
            .partitionBy(col("cell")).orderBy(col("media_id"))
          val strideCol = element_at(typedLit(strideOf), col("cell"))
          val subKCol = element_at(typedLit(subK), col("cell"))
          val seeds = ov
            .withColumn("rn", (row_number().over(wr) - 1).cast("long"))
            .filter(col("rn") % strideCol === 0 &&
              col("rn") / strideCol < subKCol)
            .select(col("cell"),
              (col("rn") / strideCol).cast("int").as("sub"),
              col("embedding"))
            .collect()
          val seedMap: Map[Long, Array[Array[Float]]] = seeds
            .groupBy(_.getInt(0)).map { case (c, rows) =>
              c.toLong -> rows.sortBy(_.getInt(1))
                .map(_.getSeq[Float](2).toArray)
            }
          def grp(mats: Map[Long, Array[Array[Float]]], n: Int)
              : org.apache.spark.sql.Column = {
            val gs = mats.keys.toSeq.sorted
            call_function("graft_nearest_cells_grp",
              col("cell").cast("long"), col("embedding"),
              typedLit(gs),
              typedLit(gs.map(g => mats(g).map(_.toSeq).toSeq)),
              lit(n))
          }
          // one Lloyd refinement round per oversized cell (stride
          // seeds split by id order; the refinement re-centers them
          // on the cell's actual geometry)
          val means = ov
            .withColumn("sub", element_at(grp(seedMap, 1), 1))
            .select(col("cell"), col("sub"),
              posexplode(col("embedding")).as(Seq("dim", "v")))
            .groupBy(col("cell"), col("sub"), col("dim"))
            .agg(avg(col("v")).as("m"))
            .collect()
          val refined: Map[Long, Array[Array[Float]]] = seedMap.map {
            case (c, mat) =>
              val next = mat.map(_.clone)
              means.foreach { r =>
                if (r.getInt(0).toLong == c)
                  next(r.getInt(1))(r.getInt(2)) = r.getDouble(3).toFloat
              }
              c -> next
          }
          val ovKeys = ov
            .select(col("media_id"), col("kind"), col("embedding"),
              col("cell"), explode(grp(refined, 2)).as("sub"))
            .withColumn("ckey", refinedKey(col("cell"), col("sub")))
            .select(col("media_id"), col("kind"), col("embedding"),
              col("ckey"))
          exploded.filter(!col("cell").isin(overIds: _*))
            .withColumn("ckey", col("cell").cast("long")).drop("cell")
            .unionByName(ovKeys)
        }
      }
    out.write.mode("overwrite").parquet(keysPath)
  }

  def mediaNearDupQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{round => rnd}
    // both sides of the self-join read the materialized KEY dataset —
    // the decode+embed pass never runs twice, and oversized cells are
    // already re-blocked into (cell, sub) keys
    val store = buildFeatureStore(spark, sfDir)
    val celled = spark.read
      .parquet(store.stripSuffix("/feats") + "/keys")
      .select(col("media_id"), col("kind"), col("embedding"),
        col("ckey").as("cell"))
    val a = celled.select(col("media_id").as("media_a"), col("kind"),
      col("cell"), col("embedding").as("emb_a"))
    val b = celled.select(col("media_id").as("media_b"), col("kind"),
      col("cell"), col("embedding").as("emb_b"))
    a.join(b, Seq("kind", "cell"))
      .filter(col("media_a") < col("media_b"))
      .select(col("media_a"), col("media_b"), col("emb_a"), col("emb_b"))
      .distinct()
      .withColumn("cos_sim", rnd(
        graft.functions.VectorOps.cosine(col("emb_a"), col("emb_b")), 4))
      .filter(col("cos_sim") >= 0.999)
      .select(col("media_a"), col("media_b"), col("cos_sim"))
      .orderBy(col("media_a"), col("media_b"))
  }

  /**
   * Oracle-predictable gate over [[mediaNearDupQuery]] (the
   * q_approx_distinct bound-check pattern): the pair list depends on
   * the engine-internal feature store and IVF cells, but cell
   * blocking must be LOSSLESS at this threshold — every exhaustive
   * within-kind pair at cos ≥ 0.999 found (completeness) and nothing
   * else (precision). Both sides computed in-engine on the same
   * rounded cosine; the oracle emits the expected TRUEs.
   *
   * SCALE-TIERED verification (r16): the completeness reference is
   * the full exhaustive within-kind pair scan at gate scales
   * (n ≤ 60k media — sf0.001/0.01/0.1 and sf1, hashes unchanged);
   * beyond that the exhaustive twin is ~4e10 cosines at sf10 (the one
   * r15 full-sweep non-completion), so the reference switches to a
   * deterministic PROBE set checked exhaustively against the ENTIRE
   * corpus. The probe stride scales with the corpus —
   * max(701, n/701) — so the probe COUNT caps at ~701 and verifier
   * work is ≤ 701·n cosines at ANY scale (a fixed % 701 fraction
   * was the r17 sf100 cliff: n/701 probes × n = n²/701, quadratic
   * again — caught at 5M media where the verifier alone outweighed
   * the operator 100×). A blocking defect class that loses pairs
   * loses probe-incident pairs at the same rate, and the probe set
   * is id-derived, so the gate stays deterministic and
   * oracle-replayable. Precision re-checks EVERY blocked pair at
   * every scale: membership in the exhaustive set ≡ the pair
   * property (same kind, a < b, rounded cos ≥ 0.999), so the
   * property re-check on |blocked| pairs is the exact test without
   * the quadratic.
   */
  def mediaNearDupGateQuery(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import org.apache.spark.sql.functions.{round => rnd}
    val blocked = mediaNearDupQuery(spark, sfDir)
      .select(col("media_a"), col("media_b"))
    val feats = spark.read.parquet(buildFeatureStore(spark, sfDir))
    val nMedia = feats.count()
    val exhaustive = nMedia <= 60000L
    val a0 = feats.select(col("media_id").as("media_a"), col("kind"),
      col("embedding").as("emb_a"))
    val probeStride = math.max(701L, nMedia / 701L)
    val a = if (exhaustive) a0
            else a0.filter(pmod(col("media_a"), lit(probeStride)) === 0)
    val b = feats.select(col("media_id").as("media_b"), col("kind"),
      col("embedding").as("emb_b"))
    // completeness reference. Exhaustive tier: the one-orientation
    // a < b scan (each unordered pair scored once). Probe tier: the
    // probe side is RESTRICTED, so both orientations are needed (a
    // probe can be either endpoint) and least/greatest + distinct
    // normalizes — that extra pass is paid only on the ~n/701-probe
    // frame, never on the full gate-scale quadratic.
    val scored = a.join(b, Seq("kind"))
      .filter(if (exhaustive) col("media_a") < col("media_b")
              else col("media_a") =!= col("media_b"))
      .withColumn("cos_sim", rnd(
        graft.functions.VectorOps.cosine(col("emb_a"), col("emb_b")), 4))
      .filter(col("cos_sim") >= 0.999)
    val exact =
      if (exhaustive) scored.select(col("media_a"), col("media_b"))
      else scored.select(
          least(col("media_a"), col("media_b")).as("media_a"),
          greatest(col("media_a"), col("media_b")).as("media_b"))
        .distinct()
    val missed = exact.join(blocked, Seq("media_a", "media_b"),
      "left_anti").agg(count(lit(1)).as("n_missed"))
    // precision: every blocked pair must satisfy the exhaustive-set
    // membership property on a fresh recompute — linear in |blocked|
    val fa = feats.select(col("media_id").as("media_a"),
      col("kind").as("kind_a"), col("embedding").as("emb_a"))
    val fb = feats.select(col("media_id").as("media_b"),
      col("kind").as("kind_b"), col("embedding").as("emb_b"))
    // LEFT joins, not inner: a blocked pair referencing a media_id
    // absent from the feature store must count SPURIOUS (null kind on
    // either side), not silently vanish from the precision check.
    val spurious = blocked
      .join(fa, Seq("media_a"), "left").join(fb, Seq("media_b"), "left")
      .withColumn("cos_sim", rnd(
        graft.functions.VectorOps.cosine(col("emb_a"), col("emb_b")), 4))
      .filter(col("kind_a").isNull || col("kind_b").isNull ||
        col("kind_a") =!= col("kind_b") ||
        col("media_a") >= col("media_b") || col("cos_sim") < 0.999)
      .agg(count(lit(1)).as("n_spurious"))
    missed.crossJoin(broadcast(spurious))
      .select((col("n_missed") === 0).as("complete_ok"),
        (col("n_spurious") === 0).as("precision_ok"))
  }

  /**
   * Image–text ALIGNMENT admission filter (the CLIP-score shape a
   * caption-corpus build runs): pair every stored image with the
   * candidate captions in its shard, score cross-modal alignment,
   * and admit the best-aligned caption per image above a threshold —
   * per-pair evidence included, the admission record a training-data
   * audit wants.
   *
   * Deterministic stand-ins for the learned encoders (the
   * [[dhashOf]] doctrine — REAL decode, replayable arithmetic):
   * the image side rasterizes each stored PNG through `javax.imageio`
   * and takes a 4×4 nearest-neighbor grid of integer luminances
   * ([[gridGray16]] — the dHash sampling rule at 4×4); the text side
   * hashes caption char-trigrams into 16 md5 buckets (the
   * [[TextAnalysis.langId2Over]] kernel at dims=16). Both embed into
   * the SAME 16-dim space, are mean-centered in INTEGER arithmetic
   * (×16 scaling keeps centering exact; the factor cancels in the
   * cosine), and score by cosine on exact BIGINT dots with IEEE
   * sqrt — bit-replayable in SQL, so the full chain (real PNG decode
   * → features → blocked pairing → ranking → admission) sits behind
   * a hash gate.
   *
   * Shape at 100 TB: candidates are SHARD-LOCAL (`id div 64` — crawl
   * pairs ship co-sharded with their pages), so pair work is ≤ 64
   * candidates per image — linear in the corpus, never the n²
   * cross-join; payloads decode once into 16 longs and only those
   * 16-long features shuffle (by shard); ranking windows are
   * image-partitioned, never global.
   */
  def mediaTextAlignQuery(spark: SparkSession, sfDir: String,
      admitBar: Double = 0.55): DataFrame = {
    import spark.implicits._
    // image embeddings: real decode -> 4x4 grid luminances
    val mfeatRaw = spark.read.parquet(buildImageStore(spark, sfDir))
      .select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(payload))
        require(img != null, s"corrupt PNG payload (media $id)")
        (id, gridGray16(img))
      }).toDF("media_id", "mf")
    alignAgainstCaptions(spark, sfDir, mfeatRaw, admitBar)
  }

  /**
   * Audio–transcript ALIGNMENT admission filter — the
   * [[mediaTextAlignQuery]] pattern on the speech path, VAD-GATED:
   * only audio with at least one active [[audioVadOf]] segment
   * (speech present) enters pairing — silence never wastes pair
   * work, the admission rule every ASR-corpus build applies before
   * transcript matching.
   *
   * Deterministic encoder stand-ins (the [[dhashOf]] doctrine — REAL
   * decode, replayable arithmetic): the audio side decodes genuine
   * WAVE payloads through `javax.sound` and embeds as the 16
   * index-window sum-of-squares energies ([[energy16Of]] — the
   * fingerprint contour before bit-reduction), integer-downscaled by
   * 2^20 so the ×16 mean-centering squares stay inside long range;
   * the transcript side is the same 16-bucket trigram embedding as
   * the image gate. Scoring, sharding (`id div 64` — pair work ≤ 64
   * candidates per clip), ranking, and admission are shared code.
   */
  def audioTextAlignQuery(spark: SparkSession, sfDir: String,
      admitBar: Double = 0.55): DataFrame = {
    import spark.implicits._
    // minimum-speech-duration rule: ≥ 3 ACTIVE VAD windows (48
    // samples of voice) — a single hot window is a click, not speech;
    // the corpus splits ~15% unvoiced under this bar, so the gate
    // exercises real admission, not a vacuous filter
    val afeatRaw = spark.read.parquet(buildAudioStore(spark, sfDir))
      .select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        val samples = decodeAudioSamples(payload)
        val voiced = audioVadOf(id, samples).map(_.n_win).sum >= 3L
        (id, energy16Of(samples).map(_ / 1048576L), voiced)
      }).toDF("media_id", "mf", "voiced")
      .filter(col("voiced")).drop("voiced")
    alignAgainstCaptions(spark, sfDir, afeatRaw, admitBar)
  }

  /** Shared media→caption alignment: candidate captions are
    * SHARD-LOCAL (`id div 64`), both sides mean-center in exact
    * integer arithmetic (×16), and scores are cosines on exact BIGINT
    * dots — see [[mediaTextAlignQuery]] for the full contract.
    * `mfeatRaw` must carry (media_id, mf: array of 16 longs). */
  private def alignAgainstCaptions(spark: SparkSession, sfDir: String,
      mfeatRaw: DataFrame, admitBar: Double): DataFrame = {
    // caption embeddings: 16-bucket hashed char-trigram counts over a
    // 96-char prefix (langId2 kernel at dims=16); docs too short for
    // any trigram keep the zero vector (score 0 by the norm guard)
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    // one codegen'd graft_tri_buckets pass per caption (same buckets
    // as the md5/conv SQL the oracle replays); short docs keep the
    // zero vector — no explode, no per-bucket groupBy, no re-join
    val tfeatRaw = docs
      .select(col("doc_id"), substring(col("text"), 1, 96).as("pref"))
      .select(col("doc_id"),
        when(length(col("pref")) >= 3,
          org.apache.spark.sql.functions.call_function(
            "graft_tri_buckets", col("pref"), lit(16)))
          .otherwise(typedLit(Seq.fill(16)(0L))).as("tf"))
    // integer mean-centering (x16) + exact squared norms, per side
    def centered(f: String, out: String)(df: DataFrame): DataFrame = df
      .withColumn("_s", aggregate(col(f), lit(0L), (a, x) => a + x))
      .withColumn(out, transform(col(f), x => x * 16L - col("_s")))
      .withColumn(s"${out}_n2", aggregate(col(out), lit(0L),
        (a, x) => a + x * x))
      .drop(f, "_s")
    val m = centered("mf", "fc")(mfeatRaw)
      .withColumn("shard", expr("media_id div 64"))
    val t = centered("tf", "gc")(tfeatRaw)
      .select(col("doc_id").as("cap_id"), col("gc"), col("gc_n2"),
        expr("doc_id div 64").as("shard"))
    val scored = m.join(t, Seq("shard"))
      .withColumn("dot", aggregate(
        zip_with(col("fc"), col("gc"), (a, b) => a * b),
        lit(0L), (a, x) => a + x))
      .withColumn("score",
        when(col("fc_n2") === 0L || col("gc_n2") === 0L, lit(0.0))
          .otherwise(fr(col("dot").cast("double") /
            (sqrt(col("fc_n2").cast("double")) *
              sqrt(col("gc_n2").cast("double"))), 4)))
    val w = Window.partitionBy(col("media_id"))
    val best = scored
      .withColumn("rn", row_number().over(
        w.orderBy(col("score").desc, col("cap_id"))))
      .withColumn("n_cand", count(lit(1)).over(w))
      .filter(col("rn") === 1)
    best.select(col("media_id"), col("cap_id"), col("score"),
        (col("cap_id") === col("media_id")).as("is_self"),
        col("n_cand"), (col("score") >= admitBar).as("admitted"))
      .orderBy(col("media_id"))
  }

  /** 4×4 nearest-neighbor grid of integer luminances of a decoded
    * image — the [[dhashOf]] sampling and gray rules at 4×4, returned
    * row-major as 16 longs (the deterministic image embedding for
    * [[mediaTextAlignQuery]]). */
  def gridGray16(img: java.awt.image.BufferedImage): Array[Long] = {
    val w = img.getWidth; val h = img.getHeight
    val out = new Array[Long](16)
    var gy = 0
    while (gy < 4) {
      var gx = 0
      while (gx < 4) {
        val rgb = img.getRGB(gx * w / 4, gy * h / 4)
        val r = (rgb >> 16) & 0xFF
        val g = (rgb >> 8) & 0xFF
        val b = rgb & 0xFF
        out(gy * 4 + gx) = (299 * r + 587 * g + 114 * b) / 1000
        gx += 1
      }
      gy += 1
    }
    out
  }

  /** Mixed REAL-codec corpus: kind by `doc_id mod 3`, each payload a
    * genuine container — PNG ([[encodePng]]), RIFF/WAVE
    * ([[encodeWav]]), RIFF/AVI ([[encodeAvi]]) — so the decode
    * pipeline dispatches across all three real parsers in one pass.
    * (The UTF-8 [[syntheticMedia]] corpus stays for the
    * SQL-expressible byte-op gate, q_media_meta, where DuckDB must
    * compute md5/hex over the same payload bytes.) */
  def syntheticMediaReal(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Scale.fanOut(Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"))).as[Long]
      .mapPartitions(_.map { id =>
        (id % 3) match {
          case 0 => MediaRecord(id, "image", encodePng(id))
          case 1 => MediaRecord(id, "audio", encodeWav(id))
          case _ => MediaRecord(id, "video", encodeAvi(id))
        }
      }).toDF()
  }

  /** Materialized mixed real-codec corpus per sf dir (fixture
    * creation, outside any measured operator). */
  def buildMediaStore(spark: SparkSession, sfDir: String): String =
    graft.StoreCatalog.pathStore("media_mixed@v1", sfDir) { d =>
      syntheticMediaReal(spark, sfDir)
        .write.mode("overwrite").parquet(s"$d/media")
    } + "/media"

  /** Full pipeline demo over the mixed REAL corpus: every payload
    * decodes through its genuine parser (PNG / WAVE / AVI dispatch in
    * [[decodeHeader]]), then aggregates per kind. All reported
    * quantities are id-derived, so the DuckDB oracle predicts them
    * from `doc_id` alone — three real container parses behind one
    * hash gate. */
  def decodePipelineQuery(spark: SparkSession, sfDir: String): DataFrame =
    decode(spark, spark.read.parquet(buildMediaStore(spark, sfDir)))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_media"),
        avg(col("width")).as("avg_width"),
        avg(col("height")).as("avg_height"),
        avg(col("n_frames")).as("avg_frames"))
      .orderBy(col("kind"))
}
