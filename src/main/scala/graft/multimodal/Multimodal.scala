package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, plus a partition-batched feature
  * extraction pipeline.
  *
  * Both halves are real and oracle-gated. The Spark side — schema,
  * work-based partitioning, batch iteration shape — is tested
  * end-to-end; the codecs are REAL encoders/decoders of the public byte
  * formats: PNG via `javax.imageio` (`JdkImageCodec`, q238/q239), WAV
  * both through `javax.sound.sampled` (`JdkWavCodec`) and a hand-rolled
  * RIFF parser (`RiffWavCodec`, the production default — the JDK's
  * per-call synchronized SPI lookup serializes 32-thread decode;
  * cross-validated byte-exact in AudioCodecSpec; q258/q259/q261), and
  * animated GIF via the hand-rolled `GraftGifCodec` LZW coder
  * (bit-exact against `javax.imageio` both directions, ~100× faster;
  * q264–q266). `StubImageCodec` remains ONLY as the documented seam
  * test-double behind the same trait. Every decode stage is
  * embarrassingly parallel (mapPartitions after a work-spreading
  * round-robin exchange, no shuffle carries pixels), and feature
  * vectors flow into the `similarity.Ann` operators unchanged.
  */
object Multimodal {

  /** Wrap a text frame as media rows: payload = utf-8 bytes (stand-in for
    * image/audio bytes), metadata derived inline (pure expressions). */
  def attachBinary(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).cast(LongType).as("media_id"),
      encode(col(textCol), "UTF-8").as("payload"),
      struct(
        lit("text/plain").as("mime"),
        octet_length(col(textCol)).cast(LongType).as("n_bytes"),
        md5(encode(col(textCol), "UTF-8")).as("digest")).as("meta"))

  val FeatureDim = 8

  /** Partition-batched "decode + feature extraction".
    *
    * STUB CODEC: a real deployment decodes payload bytes with an image/
    * audio library here (batched per partition so codec state is reused).
    * This container has no media codecs, so the decode emits a
    * deterministic fake feature vector derived from the payload bytes —
    * the Spark plumbing (mapPartitions over binary rows, fixed-dim float
    * output schema, no shuffle) is exactly what production would run. */
  def extractFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("features", ArrayType(FloatType), nullable = true),
      StructField("feature_checksum", LongType, nullable = false)))
    val enc = Encoders.row(outSchema)
    media.select("media_id", "payload").mapPartitions { rows =>
      // per-partition setup happens once (codec init in production).
      // null ids (dirty cast upstream) are skipped like null payloads —
      // getLong on a null cell would NPE and kill the whole job
      rows.flatMap { r =>
        if (r.isNullAt(0)) None
        else {
          val bytes = if (r.isNullAt(1)) Array.emptyByteArray else r.getAs[Array[Byte]](1)
          Some(Row(r.getLong(0), fakeDecode(bytes), checksum(bytes)))
        }
      }
    }(enc)
  }

  /** Integer byte-stream checksum emitted alongside the decoded features —
    * the cross-engine integrity probe for the decode stage (exact in Long,
    * so the correctness gate can verify the binary plumbing value-level
    * even while the codec itself is stubbed). */
  private[graft] def checksum(bytes: Array[Byte]): Long = {
    var acc = 0L
    var i = 0
    while (i < bytes.length) {
      acc += ((i % FeatureDim) + 1).toLong * (bytes(i) & 0xFF)
      i += 1
    }
    acc
  }

  /** Deterministic fake decoder: dim-wise byte-histogram projections. */
  private[graft] def fakeDecode(bytes: Array[Byte]): Array[Float] = {
    val acc = new Array[Float](FeatureDim)
    var i = 0
    while (i < bytes.length) {
      acc(i % FeatureDim) += (bytes(i) & 0xFF) / 255.0f
      i += 1
    }
    acc
  }

  // ---- real image codec ------------------------------------------------

  /** A decoded raster: packed 0xRRGGBB pixels, row-major. */
  final case class DecodedImage(width: Int, height: Int, rgb: Array[Int])

  /** Codec seam (the production decode stage): implementations decode
    * payload bytes into a raster, returning None for undecodable input
    * (a corrupt file must skip the row, never kill the partition). */
  trait ImageCodec extends Serializable {
    def decode(bytes: Array[Byte]): Option[DecodedImage]
    /** Re-encode a raster to this codec's byte format. */
    def encode(img: DecodedImage): Array[Byte]
  }

  /** REAL codec on the JDK's built-in readers — `javax.imageio` ships
    * PNG/JPEG/BMP/GIF/WBMP support in every JRE, no external library
    * (the earlier stub rationale only holds for audio/video). PNG is
    * lossless, which is what makes the decode stage oracle-checkable:
    * pixels rendered from an integer formula survive encode→decode
    * bit-exactly, so DuckDB can recompute their statistics from the
    * formula alone (q238/q239). Reference downloads and dedups real
    * images in `EntityImporterBase.cs:301-432`. */
  object JdkImageCodec extends ImageCodec {
    // ImageIO defaults to a DISK-backed stream cache (a temp file per
    // encode/decode call) — on a 32-thread executor that turns a pure
    // CPU codec stage into contended /tmp IO. In-memory cache only.
    javax.imageio.ImageIO.setUseCache(false)

    override def decode(bytes: Array[Byte]): Option[DecodedImage] = {
      if (bytes == null || bytes.isEmpty) None
      else {
        // ImageIO.read returns null (not an exception) for unknown
        // formats, but throws IIOException for a recognized-but-corrupt
        // stream — treat both as "undecodable row"
        val img =
          try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          catch { case _: java.io.IOException => null }
        Option(img).map { i =>
          val w = i.getWidth
          val h = i.getHeight
          val px = i.getRGB(0, 0, w, h, null, 0, w)
          var k = 0
          while (k < px.length) { px(k) = px(k) & 0xFFFFFF; k += 1 }
          DecodedImage(w, h, px)
        }
      }
    }

    override def encode(img: DecodedImage): Array[Byte] = {
      val bi = new java.awt.image.BufferedImage(img.width, img.height,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      bi.setRGB(0, 0, img.width, img.height, img.rgb, 0, img.width)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(bi, "png", bos)
      bos.toByteArray
    }
  }

  /** Deterministic stub kept as the second [[ImageCodec]] impl (the
    * codec-less container path): payload bytes ARE the raster — one
    * grayscale row per payload. Lets every pipeline stage run where no
    * image library exists, with the same skip-on-empty contract. */
  object StubImageCodec extends ImageCodec {
    override def decode(bytes: Array[Byte]): Option[DecodedImage] =
      if (bytes == null || bytes.isEmpty) None
      else Some(DecodedImage(bytes.length, 1,
        bytes.map(b => (b & 0xFF) * 0x010101)))
    override def encode(img: DecodedImage): Array[Byte] =
      img.rgb.map(p => (p & 0xFF).toByte)
  }

  /** Partition count for a CPU-bound codec stage, sized by WORK — row
    * count over `rowsPerTask` — and capped at the cluster parallelism.
    * The original `repartition(defaultParallelism)` fixed the sf1
    * starvation cliff (a KB-sized id scan packs to 1 partition and
    * serializes the chain on one core) but over-corrected at the other
    * end: the d19 driver bench showed every codec query SLOWER at 32
    * cores than 8 (ratios 0.32–0.69), because 32 near-empty tasks per
    * stage cost more in per-task fixed overhead than the ~10 ms of codec
    * work they parallelize (guide §2: partition by data, not cores).
    * The count is one metadata-backed aggregate over the id projection —
    * microseconds next to the codec work it right-sizes — and at real
    * corpus sizes the count exceeds cpus·rowsPerTask, so the cap keeps
    * full parallelism exactly where it matters. Floor 2: a codec stage
    * never plans a SinglePartition exchange (the scale-hostile shape
    * PlanAudit lints), however small the probe corpus.
    *
    * Eager: the `count()` is a Spark job run when the caller BUILDS its
    * frame, so [[renderPng]], [[renderWav]] and [[renderGif]] execute
    * their input subtree once at construction, before the returned
    * frame runs. Every caller passes a base-table id projection, whose
    * count is metadata-cheap; a derived input frame pays one full extra
    * execution per codec call — pin it first. */
  private def workPartitions(ids: DataFrame, rowsPerTask: Int = 512): Int = {
    val par = ids.sparkSession.sparkContext.defaultParallelism.toLong
    val n = ids.count()
    math.max(2L, math.min(par, (n + rowsPerTask - 1) / rowsPerTask)).toInt
  }

  /** Render one REAL PNG per input row — the in-pipeline fixture
    * generator for the codec path. Pixel (x, y) of image `id` is the
    * integer formula
    *   r = (id + 7x + 13y)  mod 256
    *   g = (2id + 5x + 3y)  mod 256
    *   b = (3id + 11x + y)  mod 256
    * — chosen because a SQL engine can recompute any statistic of the
    * decoded raster directly from (id, x, y) without an image library
    * (PNG is lossless, so decode(encode(raster)) == raster). */
  def renderPng(df: DataFrame, idCol: String, w: Int = 16,
      h: Int = 16): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = true)))
    val enc = Encoders.row(outSchema)
    // codec stages are CPU-bound, not byte-bound: spread by WORK (see
    // workPartitions — the shuffle moves 8-byte ids; the codec work it
    // unlocks is ~ms/row). Caught at sf1: 5.5×+ scaling that was pure
    // parallelism starvation.
    val ids = df.select(col(idCol).cast(LongType).as("media_id"))
    ids.repartition(workPartitions(ids))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          if (r.isNullAt(0)) None
          else {
            val id = r.getLong(0)
            val px = new Array[Int](w * h)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val rr = java.lang.Math.floorMod(id + 7L * x + 13L * y, 256L).toInt
                val gg = java.lang.Math.floorMod(2L * id + 5L * x + 3L * y, 256L).toInt
                val bb = java.lang.Math.floorMod(3L * id + 11L * x + y, 256L).toInt
                px(y * w + x) = (rr << 16) | (gg << 8) | bb
                x += 1
              }
              y += 1
            }
            Some(Row(id, JdkImageCodec.encode(DecodedImage(w, h, px))))
          }
        }
      }(enc)
  }

  /** Decode every payload with `codec` and emit exact per-channel pixel
    * sums + dimensions — the oracle-checkable probe of the REAL decode
    * stage (the q44 checksum discipline, on decoded pixels instead of
    * raw bytes). Undecodable rows are skipped, like null payloads. */
  def imagePixelStats(media: DataFrame,
      codec: ImageCodec = JdkImageCodec): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("r_sum", LongType, nullable = false),
      StructField("g_sum", LongType, nullable = false),
      StructField("b_sum", LongType, nullable = false)))
    val enc = Encoders.row(outSchema)
    media.select("media_id", "payload").mapPartitions { rows =>
      rows.flatMap { r =>
        if (r.isNullAt(0)) None
        else codec.decode(
          if (r.isNullAt(1)) Array.emptyByteArray
          else r.getAs[Array[Byte]](1)).map { img =>
          var rs = 0L; var gs = 0L; var bs = 0L
          var k = 0
          while (k < img.rgb.length) {
            val p = img.rgb(k)
            rs += (p >> 16) & 0xFF; gs += (p >> 8) & 0xFF; bs += p & 0xFF
            k += 1
          }
          Row(r.getLong(0), img.width, img.height, rs, gs, bs)
        }
      }
    }(enc)
  }

  /** Exact nearest-neighbor scaling on the decoded raster: target pixel
    * (x, y) copies source pixel (⌊x·w/w2⌋, ⌊y·h/h2⌋) — pure integer
    * arithmetic, so the result is bit-deterministic AND restatable in
    * SQL (unlike Graphics2D filtering, whose kernels are
    * implementation-defined). */
  private[graft] def resizeNearest(img: DecodedImage, w2: Int,
      h2: Int): DecodedImage = {
    val out = new Array[Int](w2 * h2)
    var y = 0
    while (y < h2) {
      val sy = y * img.height / h2
      var x = 0
      while (x < w2) {
        out(y * w2 + x) = img.rgb(sy * img.width + x * img.width / w2)
        x += 1
      }
      y += 1
    }
    DecodedImage(w2, h2, out)
  }

  /** Real resize stage: decode → nearest-neighbor scale → re-encode with
    * the same codec. Replaces [[resizeStub]] when a codec exists; same
    * partition-batched, shuffle-free shape. */
  def resizeImage(media: DataFrame, w2: Int, h2: Int,
      codec: ImageCodec = JdkImageCodec): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    val enc = Encoders.row(outSchema)
    media.select("media_id", "payload").mapPartitions { rows =>
      rows.flatMap { r =>
        if (r.isNullAt(0)) None
        else codec.decode(
          if (r.isNullAt(1)) Array.emptyByteArray
          else r.getAs[Array[Byte]](1)).map { img =>
          Row(r.getLong(0), codec.encode(resizeNearest(img, w2, h2)))
        }
      }
    }(enc)
  }

  // ---- real audio codec ------------------------------------------------

  /** Decoded PCM audio: 16-bit signed samples, frame-interleaved when
    * multi-channel. */
  final case class DecodedAudio(sampleRate: Int, channels: Int,
      samples: Array[Short])

  /** Audio codec seam — same contract as [[ImageCodec]]: None for
    * undecodable bytes (a corrupt file skips its row, never kills the
    * partition). */
  trait AudioCodec extends Serializable {
    def decode(bytes: Array[Byte]): Option[DecodedAudio]
    def encode(audio: DecodedAudio): Array[Byte]
  }

  /** REAL audio codec on the JDK's built-in WAV support —
    * `javax.sound.sampled.AudioSystem` ships WAVE/AIFF/AU readers and a
    * WAVE writer in every JRE, no external library and no audio device
    * (pure stream transcoding, headless-safe). PCM is lossless, which
    * makes the decode chain oracle-checkable exactly like the PNG path:
    * samples rendered from an integer formula survive encode→decode
    * bit-exactly, so DuckDB recomputes their statistics from the formula
    * alone (q258/q259). Closes the last stubbed decode seam (reference
    * media pipeline, `EntityImporterBase.cs:301-432`). */
  object JdkWavCodec extends AudioCodec {
    override def decode(bytes: Array[Byte]): Option[DecodedAudio] = {
      if (bytes == null || bytes.isEmpty) None
      else {
        try {
          val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(bytes))
          try {
            val fmt = in.getFormat
            // normalize any decodable source to 16-bit little-endian
            // signed PCM so downstream sample math has ONE shape
            val target = new javax.sound.sampled.AudioFormat(
              javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
              fmt.getSampleRate, 16, fmt.getChannels,
              2 * fmt.getChannels, fmt.getSampleRate, false)
            val pcm = javax.sound.sampled.AudioSystem
              .getAudioInputStream(target, in)
            val raw = pcm.readAllBytes()
            val n = raw.length / 2
            val samples = new Array[Short](n)
            var i = 0
            while (i < n) {
              samples(i) =
                ((raw(2 * i) & 0xFF) | (raw(2 * i + 1) << 8)).toShort
              i += 1
            }
            Some(DecodedAudio(fmt.getSampleRate.toInt, fmt.getChannels,
              samples))
          } finally in.close()
        } catch {
          // unrecognized container OR recognized-but-corrupt stream —
          // both are "undecodable row", mirroring JdkImageCodec
          case _: javax.sound.sampled.UnsupportedAudioFileException => None
          case _: java.io.IOException => None
          case _: IllegalArgumentException => None // unconvertible format
        }
      }
    }

    override def encode(audio: DecodedAudio): Array[Byte] = {
      val raw = new Array[Byte](audio.samples.length * 2)
      var i = 0
      while (i < audio.samples.length) {
        raw(2 * i) = (audio.samples(i) & 0xFF).toByte
        raw(2 * i + 1) = ((audio.samples(i) >> 8) & 0xFF).toByte
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(
        javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
        audio.sampleRate.toFloat, 16, audio.channels,
        2 * audio.channels, audio.sampleRate.toFloat, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(raw), fmt,
        (audio.samples.length / audio.channels).toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
  }

  /** Hand-rolled RIFF/WAVE codec for 16-bit little-endian PCM — the
    * pipeline's DEFAULT audio codec. The WAV container is a fixed
    * 44-byte RIFF header over raw PCM, so parsing it directly is both
    * legitimate format support and ~100× cheaper than
    * `javax.sound.sampled`, whose per-call SPI provider lookup and
    * stream plumbing serialize a 32-thread codec stage.
    * Cross-validated against [[JdkWavCodec]] in AudioCodecSpec: both
    * codecs must agree byte-for-byte on encode and sample-for-sample
    * on decode — the JDK implementation anchors format correctness,
    * this one carries the throughput. Handles canonical PCM WAV
    * (possibly with extra chunks before `data`); anything else —
    * compressed encodings, truncated chunks, non-RIFF bytes — returns
    * None (skip the row, never kill the partition). */
  object RiffWavCodec extends AudioCodec {
    private def le16(b: Array[Byte], o: Int): Int =
      (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8)
    private def le32(b: Array[Byte], o: Int): Int =
      (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8) |
        ((b(o + 2) & 0xFF) << 16) | ((b(o + 3) & 0xFF) << 24)

    override def decode(bytes: Array[Byte]): Option[DecodedAudio] = {
      if (bytes == null || bytes.length < 44 ||
        bytes(0) != 'R' || bytes(1) != 'I' || bytes(2) != 'F' ||
        bytes(3) != 'F' || bytes(8) != 'W' || bytes(9) != 'A' ||
        bytes(10) != 'V' || bytes(11) != 'E') None
      else {
        // walk the chunk list: fmt must precede data; tolerate extra
        // chunks (LIST/fact) like any compliant reader
        var off = 12
        var rate = 0; var channels = 0; var bits = 0; var fmtSeen = false
        var result: Option[DecodedAudio] = None
        var corrupt = false
        while (result.isEmpty && !corrupt && off + 8 <= bytes.length) {
          val id = new String(bytes, off, 4, "US-ASCII")
          val sz = le32(bytes, off + 4)
          if (sz < 0 || off + 8 + sz > bytes.length) corrupt = true
          else id match {
            case "fmt " if sz >= 16 =>
              val audioFormat = le16(bytes, off + 8)
              channels = le16(bytes, off + 10)
              rate = le32(bytes, off + 12)
              bits = le16(bytes, off + 22)
              // 1 = PCM; anything else (float, ADPCM, extensible) is
              // out of scope for the 16-bit PCM contract
              fmtSeen = audioFormat == 1 && bits == 16 && channels >= 1
              if (!fmtSeen) corrupt = true
              off += 8 + sz + (sz & 1)
            case "data" if fmtSeen =>
              val n = sz / 2
              val samples = new Array[Short](n)
              var i = 0
              while (i < n) {
                samples(i) = le16(bytes, off + 8 + 2 * i).toShort
                i += 1
              }
              result = Some(DecodedAudio(rate, channels, samples))
            case _ =>
              off += 8 + sz + (sz & 1)
          }
        }
        result
      }
    }

    override def encode(audio: DecodedAudio): Array[Byte] = {
      val dataLen = audio.samples.length * 2
      val out = new Array[Byte](44 + dataLen)
      def putAscii(o: Int, s: String): Unit = {
        var i = 0
        while (i < s.length) { out(o + i) = s.charAt(i).toByte; i += 1 }
      }
      def putLe32(o: Int, v: Int): Unit = {
        out(o) = (v & 0xFF).toByte; out(o + 1) = ((v >> 8) & 0xFF).toByte
        out(o + 2) = ((v >> 16) & 0xFF).toByte
        out(o + 3) = ((v >> 24) & 0xFF).toByte
      }
      def putLe16(o: Int, v: Int): Unit = {
        out(o) = (v & 0xFF).toByte; out(o + 1) = ((v >> 8) & 0xFF).toByte
      }
      putAscii(0, "RIFF"); putLe32(4, 36 + dataLen); putAscii(8, "WAVE")
      putAscii(12, "fmt "); putLe32(16, 16); putLe16(20, 1)
      putLe16(22, audio.channels); putLe32(24, audio.sampleRate)
      putLe32(28, audio.sampleRate * audio.channels * 2)
      putLe16(32, audio.channels * 2); putLe16(34, 16)
      putAscii(36, "data"); putLe32(40, dataLen)
      var i = 0
      while (i < audio.samples.length) {
        putLe16(44 + 2 * i, audio.samples(i) & 0xFFFF)
        i += 1
      }
      out
    }
  }

  /** Render one REAL mono 16-bit WAV per input row — the audio twin of
    * [[renderPng]]. Sample i of clip `id` is the integer formula
    *   s_i = ((131·id + 17·i) mod 65536) − 32768
    * over n = 300 + (id mod 100) samples at 8 kHz — restatable in SQL,
    * and PCM losslessness makes decode(encode(samples)) == samples. */
  def renderWav(df: DataFrame, idCol: String,
      sampleRate: Int = 8000): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = true)))
    val enc = Encoders.row(outSchema)
    // same work-sized partitioning rule as renderPng: never let a
    // KB-sized id scan serialize a codec chain on one core, never fan
    // a few thousand rows out to core-count near-empty tasks
    val ids = df.select(col(idCol).cast(LongType).as("media_id"))
    ids.repartition(workPartitions(ids))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          if (r.isNullAt(0)) None
          else {
            val id = r.getLong(0)
            val n = (300L + java.lang.Math.floorMod(id, 100L)).toInt
            val samples = new Array[Short](n)
            var i = 0
            while (i < n) {
              samples(i) = (java.lang.Math.floorMod(
                131L * id + 17L * i, 65536L) - 32768L).toShort
              i += 1
            }
            Some(Row(id,
              RiffWavCodec.encode(DecodedAudio(sampleRate, 1, samples))))
          }
        }
      }(enc)
  }

  /** Decode every payload with `codec` and emit exact sample statistics —
    * the audio twin of [[imagePixelStats]]: count/sum/min/max plus a
    * position-weighted sum (Σ ((i mod 7)+1)·s_i) that catches any
    * reordering or off-by-one the unweighted sum would miss. Undecodable
    * rows are skipped, like null payloads — and so are zero-sample clips
    * (RIFF allows an empty data chunk): min/max of an empty clip has no
    * value, and emitting the fold sentinels (±Long.MaxValue) would leak
    * into any caller aggregating this frame. */
  def audioSampleStats(media: DataFrame,
      codec: AudioCodec = RiffWavCodec): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("sample_rate", IntegerType, nullable = false),
      StructField("channels", IntegerType, nullable = false),
      StructField("n_samples", LongType, nullable = false),
      StructField("s_sum", LongType, nullable = false),
      StructField("s_min", LongType, nullable = false),
      StructField("s_max", LongType, nullable = false),
      StructField("s_wsum", LongType, nullable = false)))
    val enc = Encoders.row(outSchema)
    media.select("media_id", "payload").mapPartitions { rows =>
      rows.flatMap { r =>
        if (r.isNullAt(0)) None
        else codec.decode(
          if (r.isNullAt(1)) Array.emptyByteArray
          else r.getAs[Array[Byte]](1)).filter(_.samples.nonEmpty).map { a =>
          var sum = 0L; var mn = Long.MaxValue; var mx = Long.MinValue
          var wsum = 0L
          var i = 0
          while (i < a.samples.length) {
            val v = a.samples(i).toLong
            sum += v; if (v < mn) mn = v; if (v > mx) mx = v
            wsum += ((i % 7) + 1).toLong * v
            i += 1
          }
          Row(r.getLong(0), a.sampleRate, a.channels,
            a.samples.length.toLong, sum, mn, mx, wsum)
        }
      }
    }(enc)
  }

  /** Per-frame energy + silence profile — the segmentation primitive a
    * speech/data pipeline runs right after decode (VAD-style silence
    * trimming, clip-quality gates): decode → fixed-size sample frames →
    * exact per-clip energy statistics. All integer (energy = Σ s², ≤
    * 2³⁰ per sample, frame-bounded), so the whole decode→frame→score
    * chain is oracle-checkable like q258. Emits per clip: frame count,
    * total energy, max frame energy, and how many frames fall under the
    * silence threshold — one shuffle-free mapPartitions pass, 5 longs
    * per clip into the only exchange. */
  def audioFrameEnergy(media: DataFrame, frameSamples: Int = 64,
      silenceThreshold: Long = 1000000000L,
      codec: AudioCodec = RiffWavCodec): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("n_frames", LongType, nullable = false),
      StructField("energy_sum", LongType, nullable = false),
      StructField("energy_max", LongType, nullable = false),
      StructField("n_silent", LongType, nullable = false)))
    val enc = Encoders.row(outSchema)
    media.select("media_id", "payload").mapPartitions { rows =>
      rows.flatMap { r =>
        if (r.isNullAt(0)) None
        else codec.decode(
          if (r.isNullAt(1)) Array.emptyByteArray
          else r.getAs[Array[Byte]](1)).map { a =>
          val n = a.samples.length
          val nFrames = (n + frameSamples - 1) / frameSamples
          var eSum = 0L; var eMax = 0L; var silent = 0L
          var f = 0
          while (f < nFrames) {
            var e = 0L
            var i = f * frameSamples
            val until = math.min(i + frameSamples, n)
            while (i < until) {
              val v = a.samples(i).toLong
              e += v * v
              i += 1
            }
            eSum += e
            if (e > eMax) eMax = e
            if (e < silenceThreshold) silent += 1
            f += 1
          }
          Row(r.getLong(0), nFrames.toLong, eSum, eMax, silent)
        }
      }
    }(enc)
  }

  /** Real decimation stage: decode → keep every `n`-th sample frame →
    * re-encode at rate/n with the same codec — the audio twin of
    * [[resizeImage]] (pure integer sample selection, so the result is
    * bit-deterministic and restatable in SQL; a production resampler
    * would low-pass first, which is a kernel choice layered on the same
    * partition-batched, shuffle-free shape). Mono-only decimation keeps
    * the index math channel-safe: multi-channel rows pass through. */
  def decimateAudio(media: DataFrame, n: Int,
      codec: AudioCodec = RiffWavCodec): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    val enc = Encoders.row(outSchema)
    media.select("media_id", "payload").mapPartitions { rows =>
      rows.flatMap { r =>
        if (r.isNullAt(0)) None
        else codec.decode(
          if (r.isNullAt(1)) Array.emptyByteArray
          else r.getAs[Array[Byte]](1)).map { a =>
          val out =
            if (a.channels != 1) a
            else {
              val m = (a.samples.length + n - 1) / n
              val kept = new Array[Short](m)
              var j = 0
              while (j < m) { kept(j) = a.samples(j * n); j += 1 }
              DecodedAudio(math.max(1, a.sampleRate / n), 1, kept)
            }
          Row(r.getLong(0), codec.encode(out))
        }
      }
    }(enc)
  }

  /** A decoded video: constant-size grayscale frames (values 0–255, row
    * major, bit-exact) plus the container's per-frame delay in
    * centiseconds — the typed metadata a sampling stage needs to keep
    * the output's effective frame rate honest. */
  final case class DecodedVideo(width: Int, height: Int, delayCs: Int,
      frames: Array[Array[Int]])

  /** Codec seam for the video decode stage — same contract as
    * [[ImageCodec]]/[[AudioCodec]]: None for undecodable input (corrupt
    * containers skip the row, never kill the partition). */
  trait VideoCodec extends Serializable {
    def decode(bytes: Array[Byte]): Option[DecodedVideo]
    def encode(video: DecodedVideo): Array[Byte]
  }

  /** REAL multi-frame container codec on the JDK's built-in GIF
    * reader/writer — `javax.imageio` ships animated-GIF support in
    * every JRE, no external library (the same rationale that made the
    * image codec real in q238 and the audio codec in q258; reference
    * media pipeline: `EntityImporterBase.cs:301-432`). GIF is
    * palette-indexed, so grayscale frames written against an explicit
    * 256-entry gray ramp round-trip BIT-EXACTLY — which is what keeps
    * the decode stage oracle-checkable: DuckDB recomputes any statistic
    * of the decoded frames from the render formula alone. The per-frame
    * GraphicControlExtension carries the delay (centiseconds), read
    * back on decode — container metadata, not a side channel. */
  object GifVideoCodec extends VideoCodec {
    javax.imageio.ImageIO.setUseCache(false) // in-memory streams (q238 lesson)

    private val grayRamp: java.awt.image.IndexColorModel = {
      val ramp = Array.tabulate(256)(i => (0xFF << 24) | (i << 16) | (i << 8) | i)
      new java.awt.image.IndexColorModel(8, 256, ramp, 0, false, -1,
        java.awt.image.DataBuffer.TYPE_BYTE)
    }

    // ImageWriter/ImageReader are stateful and not thread-safe, and the
    // SPI registry lookup is per-call overhead at 50k+ clips per
    // partition batch (the javax.sound SPI lesson from the WAV codec) —
    // one instance per executor thread, reset between uses
    @transient private lazy val writerTl =
      ThreadLocal.withInitial[javax.imageio.ImageWriter](() =>
        javax.imageio.ImageIO.getImageWritersByFormatName("gif").next())
    @transient private lazy val readerTl =
      ThreadLocal.withInitial[javax.imageio.ImageReader](() =>
        javax.imageio.ImageIO.getImageReadersByFormatName("gif").next())
    // the per-frame IIOMetadata (delay + non-interlaced descriptor) is
    // identical for every clip of the same shape, and building it is DOM
    // work that dominated encode cost — cache per (w, h, delay) per
    // thread (the object is read-only during writeToSequence)
    @transient private lazy val metaTl = ThreadLocal.withInitial[
        scala.collection.mutable.HashMap[(Int, Int, Int),
          javax.imageio.metadata.IIOMetadata]](() =>
      scala.collection.mutable.HashMap.empty)

    override def decode(bytes: Array[Byte]): Option[DecodedVideo] = {
      if (bytes == null || bytes.isEmpty) None
      else try {
        val reader = readerTl.get()
        try {
          // direct stream construction: ImageIO.createImageInputStream
          // runs an SPI provider scan per call (per CLIP here)
          reader.setInput(new javax.imageio.stream.MemoryCacheImageInputStream(
            new java.io.ByteArrayInputStream(bytes)))
          val n = reader.getNumImages(true)
          if (n <= 0) None // a frameless container decodes to nothing
          else {
            val frames = new Array[Array[Int]](n)
            var w = 0; var h = 0
            var i = 0
            while (i < n) {
              val img = reader.read(i)
              if (i == 0) { w = img.getWidth; h = img.getHeight }
              val px = img.getRGB(0, 0, img.getWidth, img.getHeight,
                null, 0, img.getWidth)
              val g = new Array[Int](px.length)
              var k = 0
              while (k < px.length) { g(k) = px(k) & 0xFF; k += 1 }
              frames(i) = g
              i += 1
            }
            val delay = {
              val meta = reader.getImageMetadata(0)
              val root = meta.getAsTree(meta.getNativeMetadataFormatName)
              val kids = root.getChildNodes
              var d = 0
              var j = 0
              while (j < kids.getLength) {
                val node = kids.item(j)
                if (node.getNodeName == "GraphicControlExtension")
                  d = node.asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
                    .getAttribute("delayTime").toInt
                j += 1
              }
              d
            }
            Some(DecodedVideo(w, h, delay, frames))
          }
        } finally reader.reset()
      } catch {
        // recognized-but-corrupt streams throw (IIOException or index
        // errors on truncated frame tables) — undecodable row, skip
        case scala.util.control.NonFatal(_) => None
      }
    }

    override def encode(video: DecodedVideo): Array[Byte] = {
      val writer = writerTl.get()
      val bos = new java.io.ByteArrayOutputStream()
      // direct construction — ImageIO.createImageOutputStream SPI-scans
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      try {
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        val params = writer.getDefaultWriteParam
        // every frame of one clip shares dimensions, palette and delay —
        // build the per-frame DOM metadata ONCE per clip (it was ~half
        // the encode cost per frame), and reuse one raster buffer: the
        // writer serializes pixels during writeToSequence
        val bi = new java.awt.image.BufferedImage(video.width, video.height,
          java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, grayRamp)
        val raster = bi.getRaster
        val meta = metaTl.get().getOrElseUpdate(
            (video.width, video.height, video.delayCs), {
          val spec = new javax.imageio.ImageTypeSpecifier(
            bi.getColorModel, bi.getSampleModel)
          val m = writer.getDefaultImageMetadata(spec, params)
          val fmt = m.getNativeMetadataFormatName
          val root = m.getAsTree(fmt)
            .asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
          var gce: javax.imageio.metadata.IIOMetadataNode = null
          val kids = root.getChildNodes
          var j = 0
          while (j < kids.getLength) {
            val node = kids.item(j)
            if (node.getNodeName == "GraphicControlExtension")
              gce = node.asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
            // the default metadata requests INTERLACED encoding, and the
            // JDK writer/reader interlace path corrupts frames whose
            // height is below the pass stride (row 0 lost, rows
            // scrambled) — store scanlines sequentially
            if (node.getNodeName == "ImageDescriptor")
              node.asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
                .setAttribute("interlaceFlag", "FALSE")
            j += 1
          }
          if (gce == null) {
            gce = new javax.imageio.metadata.IIOMetadataNode(
              "GraphicControlExtension")
            root.appendChild(gce)
          }
          gce.setAttribute("disposalMethod", "none")
          gce.setAttribute("userInputFlag", "FALSE")
          gce.setAttribute("transparentColorFlag", "FALSE")
          gce.setAttribute("delayTime", video.delayCs.toString)
          gce.setAttribute("transparentColorIndex", "0")
          m.setFromTree(fmt, root)
          m
        })
        video.frames.foreach { g =>
          var k = 0
          while (k < g.length) {
            raster.setSample(k % video.width, k / video.width, 0, g(k) & 0xFF)
            k += 1
          }
          writer.writeToSequence(
            new javax.imageio.IIOImage(bi, null, meta), params)
        }
        writer.endWriteSequence()
        ios.close()
        bos.toByteArray
      } finally writer.reset()
    }
  }

  /** Render one REAL animated GIF per input row — the in-pipeline video
    * fixture (the renderPng/renderWav discipline on the multi-frame
    * container). Video `id` has `3 + id mod 4` frames of `w`×`h`
    * grayscale at 10 cs/frame; pixel (x, y) of frame `t` is
    *   gray = (id + 7x + 13y + 29t + 97·(t div 3))  mod 256
    * — the `97·(t div 3)` term injects a larger inter-frame jump every
    * third frame (a scene cut for the segmentation query); the gray
    * ramp palette makes the whole chain lossless, so a SQL engine can
    * recompute any decoded-frame statistic from (id, t, x, y) alone. */
  def renderGif(df: DataFrame, idCol: String, w: Int = 16,
      h: Int = 16): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = true)))
    val enc = Encoders.row(outSchema)
    // partition by WORK, not bytes (q238/q258 lesson): the id frame is
    // KBs of parquet and would pack the whole codec chain onto one core;
    // work-sized so a few thousand rows don't fan out to core-count
    // near-empty tasks either (see workPartitions)
    val ids = df.select(col(idCol).cast(LongType).as("media_id"))
    ids.repartition(workPartitions(ids))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          if (r.isNullAt(0)) None
          else {
            val id = r.getLong(0)
            val nf = (3L + java.lang.Math.floorMod(id, 4L)).toInt
            val frames = Array.tabulate(nf) { t =>
              val g = new Array[Int](w * h)
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  g(y * w + x) = java.lang.Math.floorMod(
                    id + 7L * x + 13L * y + 29L * t + 97L * (t / 3), 256L).toInt
                  x += 1
                }
                y += 1
              }
              g
            }
            Some(Row(id, GraftGifCodec.encode(DecodedVideo(w, h, 10, frames))))
          }
        }
      }(enc)
  }

  /** Decode every payload with `codec` and emit exact per-video frame
    * statistics — the video twin of [[imagePixelStats]]: frame count,
    * dimensions, the container's delay metadata, the gray sum over all
    * frames, and a frame-ORDER-weighted sum (Σ (t+1)·graysum_t) that
    * catches any frame reordering or drop the plain sum would miss.
    * Undecodable and frameless rows are skipped, like null payloads. */
  def videoFrameStats(media: DataFrame,
      codec: VideoCodec = GraftGifCodec): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("n_frames", IntegerType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("delay_cs", IntegerType, nullable = false),
      StructField("g_sum", LongType, nullable = false),
      StructField("g_wsum", LongType, nullable = false)))
    val enc = Encoders.row(outSchema)
    media.select("media_id", "payload").mapPartitions { rows =>
      rows.flatMap { r =>
        if (r.isNullAt(0)) None
        else codec.decode(
          if (r.isNullAt(1)) Array.emptyByteArray
          else r.getAs[Array[Byte]](1)).map { v =>
          var gs = 0L; var ws = 0L
          var t = 0
          while (t < v.frames.length) {
            val f = v.frames(t)
            var fs = 0L
            var k = 0
            while (k < f.length) { fs += f(k); k += 1 }
            gs += fs
            ws += (t + 1L) * fs
            t += 1
          }
          Row(r.getLong(0), v.frames.length, v.width, v.height,
            v.delayCs, gs, ws)
        }
      }
    }(enc)
  }

  /** Scene-cut detection on the DECODED frames — the video segmentation
    * primitive (shot boundaries before per-shot sampling): for each
    * consecutive frame pair, the L1 frame difference Σ_px |g_t − g_{t−1}|;
    * a pair with difference ≥ `threshold` is a cut. Exact integer end to
    * end, so the oracle recomputes every pair difference from the render
    * formula. One shuffle-free mapPartitions pass, 4 longs per video
    * into the only exchange. */
  def videoSceneCuts(media: DataFrame, threshold: Long = 20000L,
      codec: VideoCodec = GraftGifCodec): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("n_pairs", LongType, nullable = false),
      StructField("n_cuts", LongType, nullable = false),
      StructField("diff_sum", LongType, nullable = false),
      StructField("diff_max", LongType, nullable = false)))
    val enc = Encoders.row(outSchema)
    media.select("media_id", "payload").mapPartitions { rows =>
      rows.flatMap { r =>
        if (r.isNullAt(0)) None
        else codec.decode(
          if (r.isNullAt(1)) Array.emptyByteArray
          else r.getAs[Array[Byte]](1)).filter(_.frames.length >= 2).map { v =>
          var pairs = 0L; var cuts = 0L; var dSum = 0L; var dMax = 0L
          var t = 1
          while (t < v.frames.length) {
            val a = v.frames(t - 1); val b = v.frames(t)
            var d = 0L
            var k = 0
            while (k < a.length) {
              val x = b(k) - a(k)
              d += (if (x < 0) -x else x)
              k += 1
            }
            pairs += 1
            if (d >= threshold) cuts += 1
            dSum += d
            if (d > dMax) dMax = d
            t += 1
          }
          Row(r.getLong(0), pairs, cuts, dSum, dMax)
        }
      }
    }(enc)
  }

  /** Real keyframe sampling: decode → keep every `n`-th frame →
    * re-encode with the same codec at `n`× the per-frame delay (the
    * effective frame rate stays honest — the metadata contract of the
    * sampling stage). The video twin of [[decimateAudio]]/[[resizeImage]]:
    * pure integer frame selection, bit-deterministic, so the doubled
    * encode→decode round trip stays oracle-checkable. */
  def sampleVideoFrames(media: DataFrame, n: Int,
      codec: VideoCodec = GraftGifCodec): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    val enc = Encoders.row(outSchema)
    media.select("media_id", "payload").mapPartitions { rows =>
      rows.flatMap { r =>
        if (r.isNullAt(0)) None
        else codec.decode(
          if (r.isNullAt(1)) Array.emptyByteArray
          else r.getAs[Array[Byte]](1)).map { v =>
          val m = (v.frames.length + n - 1) / n
          val kept = Array.tabulate(m)(j => v.frames(j * n))
          Row(r.getLong(0), codec.encode(
            DecodedVideo(v.width, v.height, v.delayCs * n, kept)))
        }
      }
    }(enc)
  }

  /** Perceptual average-hash (aHash) of the DECODED raster — the image
    * near-dup fingerprint (the multimodal twin of the text simhash):
    * nearest-downsample to 8×8, integer grayscale (r+g+b)/3, threshold
    * each pixel against the integer mean, pack the 64 bits. Emitted as
    * two 32-bit halves (h0 = bits 0–31, h1 = bits 32–63, bit index
    * y·8+x) so both engines stay in exact non-negative BIGINT range —
    * a single 64-bit pack would set the sign bit. All integer, so the
    * whole decode→hash chain is oracle-checkable from the render
    * formula. One shuffle-free mapPartitions pass. */
  def imageAHash(media: DataFrame,
      codec: ImageCodec = JdkImageCodec): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("h0", LongType, nullable = false),
      StructField("h1", LongType, nullable = false)))
    val enc = Encoders.row(outSchema)
    media.select("media_id", "payload").mapPartitions { rows =>
      rows.flatMap { r =>
        if (r.isNullAt(0)) None
        else codec.decode(
          if (r.isNullAt(1)) Array.emptyByteArray
          else r.getAs[Array[Byte]](1)).map { img =>
          val small = resizeNearest(img, 8, 8)
          val gray = new Array[Int](64)
          var sum = 0L
          var k = 0
          while (k < 64) {
            val p = small.rgb(k)
            gray(k) = (((p >> 16) & 0xFF) + ((p >> 8) & 0xFF) + (p & 0xFF)) / 3
            sum += gray(k)
            k += 1
          }
          val mean = sum / 64
          var h0 = 0L; var h1 = 0L
          k = 0
          while (k < 64) {
            if (gray(k) > mean) {
              if (k < 32) h0 |= 1L << k else h1 |= 1L << (k - 32)
            }
            k += 1
          }
          Row(r.getLong(0), h0, h1)
        }
      }
    }(enc)
  }

  /** Metadata projection (oracle-checkable: byte counts + digests). */
  def mediaMeta(media: DataFrame): DataFrame =
    media.select(col("media_id"), col("meta.n_bytes").as("n_bytes"),
      col("meta.digest").as("digest"))

  /** Video-style frame sampling: payload bytes chunked into fixed-size
    * "frames", every `everyNth` frame emitted as its own row — the
    * row-explosion shape of real frame extraction (one input row → many
    * bounded output rows, no shuffle; a real codec replaces the byte
    * chunking, the partition-batched iteration and output schema stay).
    * Frame payloads are EXACT byte slices, so the gate can verify the
    * plumbing value-level cross-engine (via hex slicing in the oracle). */
  def frameSample(media: DataFrame, frameBytes: Int = 256,
      everyNth: Int = 2): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("frame", BinaryType, nullable = false)))
    val enc = Encoders.row(outSchema)
    media.select("media_id", "payload").mapPartitions { rows =>
      rows.flatMap { r =>
        if (r.isNullAt(0)) Iterator.empty
        else {
        val id = r.getLong(0)
        val bytes = if (r.isNullAt(1)) Array.emptyByteArray else r.getAs[Array[Byte]](1)
        val nFrames = (bytes.length + frameBytes - 1) / frameBytes
        (0 until nFrames by everyNth).iterator.map { i =>
          val from = i * frameBytes
          val until = math.min(from + frameBytes, bytes.length)
          Row(id, i, java.util.Arrays.copyOfRange(bytes, from, until))
        }
        }
      }
    }(enc)
  }

  /** Image-style resize stub: payload truncated to `maxBytes` (the
    * deterministic fake for a decode→scale→re-encode pass — shrinking,
    * size-bounded output; metadata records both sizes). Same
    * partition-batched shape a real codec needs. */
  def resizeStub(media: DataFrame, maxBytes: Int): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false),
      StructField("orig_bytes", LongType, nullable = false),
      StructField("resized_bytes", LongType, nullable = false)))
    val enc = Encoders.row(outSchema)
    media.select("media_id", "payload").mapPartitions { rows =>
      rows.flatMap { r =>
        if (r.isNullAt(0)) None
        else {
          val bytes = if (r.isNullAt(1)) Array.emptyByteArray else r.getAs[Array[Byte]](1)
          val out = if (bytes.length <= maxBytes) bytes
            else java.util.Arrays.copyOfRange(bytes, 0, maxBytes)
          Some(Row(r.getLong(0), out, bytes.length.toLong, out.length.toLong))
        }
      }
    }(enc)
  }
}
