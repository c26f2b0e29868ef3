package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column plumbing.
  *
  * Media payloads are opaque `binary` columns with a typed metadata struct
  * alongside. IMAGE decode is REAL ([[decodeImage]] — header-only
  * `javax.imageio`, pure JDK), AUDIO decode is REAL ([[decodeWav]] —
  * `javax.sound.sampled` RIFF header parse), and VIDEO container metadata
  * is REAL ([[decodeMp4]] — pure-JDK ISO BMFF box walk). Only video FRAME
  * decode remains a stub ([[fakeDecode]] — the JDK ships no video codec).
  * Everything around them — schema, batched per-partition execution,
  * partition sizing — is what matters at 100 TB:
  *
  *  - decode/feature-extract run via `mapPartitions` over a typed Dataset:
  *    one JVM-side batch per partition (the Scala analog of arrow-batched
  *    Python `mapInPandas`), so a real decoder would amortize codec init
  *    per-partition, not per-row.
  *  - media rows are large: repartition by size budget BEFORE decode so a
  *    partition's decoded frames fit in executor memory (see
  *    [[repartitionForMedia]]).
  */
object Multimodal {

  case class MediaRow(media_id: Long, payload: Array[Byte])

  /** Shared batched per-partition media map: normalize to
    * (media_id, payload), run `f` per row inside `mapPartitions` (one
    * JVM-side batch per partition — codec/probe state amortizes there).
    * Every typed decode/transform wrapper below goes through this. */
  private def mapMedia[T: org.apache.spark.sql.Encoder](
      df: DataFrame, idCol: String, payloadCol: String)(f: MediaRow => T)
      (implicit spark: SparkSession): Dataset[T] = {
    import spark.implicits._
    df.select(col(idCol).as("media_id"), col(payloadCol).as("payload"))
      .as[MediaRow]
      .mapPartitions(_.map(f))
  }

  private def payloadLen(r: MediaRow): Long =
    if (r.payload == null) 0L else r.payload.length.toLong
  case class MediaMeta(media_id: Long, byte_len: Long, width: Int, height: Int,
                       n_frames: Int, format: String)
  case class ImageMetaRow(media_id: Long, byte_len: Long, width: Int,
                          height: Int, channels: Int, format: String)

  /** REAL image decode via `javax.imageio` (pure JDK — the PNG/JPEG/GIF/BMP
    * reader plugins ship with every JRE, no native deps). HEADER-ONLY: the
    * reader is probed for dimensions / band count / format without
    * materializing a pixel raster, so the per-row cost is parsing a few
    * hundred header bytes, not decompressing the image — the shape that
    * survives a 100 TB image corpus. Returns None for bytes no installed
    * reader recognizes (callers decide whether unknown payloads error or
    * pass through). */
  def decodeImage(payload: Array[Byte]): Option[(Int, Int, Int, String)] = {
    if (payload == null || payload.isEmpty) return None
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val r = readers.next()
          try {
            r.setInput(iis, true, true)
            val w = r.getWidth(0)
            val h = r.getHeight(0)
            val its = r.getImageTypes(0)
            val channels = if (its.hasNext) its.next().getNumComponents else -1
            // Locale.ROOT: default-locale lowercasing corrupts "GIF" to
            // "gıf" on tr_TR executors
            Some((w, h, channels,
              r.getFormatName.toLowerCase(java.util.Locale.ROOT)))
          } finally r.dispose()
        }
      } finally iis.close()
    } catch { case _: Exception => None }
  }

  /** Deterministic RGB image ENCODER (`ImageIO.write`) — real format bytes
    * for specs and the oracle query without shipping binary fixtures. The
    * pixel pattern is a pure function of (x, y, seed), so the same call
    * reproduces the same image on any executor. */
  def encodeImage(width: Int, height: Int, seed: Long,
                  format: String): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        img.setRGB(x, y, ((x * 31 + y * 17 + seed) & 0xffffffL).toInt)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, format, bos),
      s"no ImageIO writer for format $format")
    bos.toByteArray
  }

  /** REAL pixel-level RESIZE: full `ImageIO` decode → nearest-neighbor
    * scale (deterministic — no interpolation rounding ambiguity across
    * JVMs) → re-encode in `format`. Pure JDK. None for undecodable input
    * or non-positive target dims. This is the transform step of a
    * multimodal preprocessing pipeline (decode → resize → re-encode),
    * batched per partition by [[resizeImages]]. */
  def resizeImage(payload: Array[Byte], width: Int, height: Int,
                  format: String = "png"): Option[Array[Byte]] = {
    if (payload == null || payload.isEmpty || width <= 0 || height <= 0)
      return None
    try {
      val src = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      if (src == null) return None
      val dst = new java.awt.image.BufferedImage(width, height,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = dst.createGraphics()
      try {
        g.setRenderingHint(
          java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_NEAREST_NEIGHBOR)
        g.drawImage(src, 0, 0, width, height, null)
      } finally g.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      if (!javax.imageio.ImageIO.write(dst, format, bos)) None
      else Some(bos.toByteArray)
    } catch { case _: Exception => None }
  }

  /** REAL feature extraction from pixels: full decode → per-channel mean
    * RGB + mean luminance (Rec. 601 weights). The shape of any
    * embed/classify preprocessing stage: bytes in, fixed-width numeric
    * features out. None for undecodable input. */
  def imageFeatures(payload: Array[Byte])
      : Option[(Double, Double, Double, Double)] = {
    if (payload == null || payload.isEmpty) return None
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      if (img == null) return None
      var (r, g, b) = (0.0, 0.0, 0.0)
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          val p = img.getRGB(x, y)
          r += (p >> 16) & 0xff; g += (p >> 8) & 0xff; b += p & 0xff
          x += 1
        }
        y += 1
      }
      val n = img.getWidth.toDouble * img.getHeight
      val (mr, mg, mb) = (r / n, g / n, b / n)
      Some((mr, mg, mb, 0.299 * mr + 0.587 * mg + 0.114 * mb))
    } catch { case _: Exception => None }
  }

  case class ResizedRow(media_id: Long, payload: Array[Byte])

  /** Resize a binary image column per partition (decode → nearest-neighbor
    * scale → re-encode); undecodable rows carry a NULL payload. */
  def resizeImages(df: DataFrame, idCol: String, payloadCol: String,
                   width: Int, height: Int, format: String = "png")
                  (implicit spark: SparkSession): Dataset[ResizedRow] = {
    import spark.implicits._
    mapMedia(df, idCol, payloadCol) { r =>
      ResizedRow(r.media_id, resizeImage(r.payload, width, height, format).orNull)
    }
  }

  /** Decode a binary IMAGE payload column into typed metadata — the real
    * (non-stub) twin of [[decodeMeta]], batched per partition like a
    * production decoder (codec probe state amortizes per partition).
    * Unrecognized payloads map to (-1, -1, -1, "unknown") rather than
    * failing the batch. */
  def decodeImageMeta(df: DataFrame, idCol: String, payloadCol: String)
                     (implicit spark: SparkSession): Dataset[ImageMetaRow] = {
    import spark.implicits._
    mapMedia(df, idCol, payloadCol) { r =>
      decodeImage(r.payload) match {
        case Some((w, h, c, fmt)) =>
          ImageMetaRow(r.media_id, payloadLen(r), w, h, c, fmt)
        case None =>
          ImageMetaRow(r.media_id, payloadLen(r), -1, -1, -1, "unknown")
      }
    }
  }

  // ---------------------------------------------------------------------------
  // audio: REAL WAV header decode (javax.sound.sampled — pure JDK)
  // ---------------------------------------------------------------------------

  case class AudioMetaRow(media_id: Long, byte_len: Long, sample_rate: Int,
                          channels: Int, bits: Int, n_frames: Long)

  /** Deterministic 16-bit PCM WAV ENCODER (`AudioSystem.write`) — real RIFF
    * bytes for specs and the oracle query. Sample values are a pure function
    * of (frame index, seed): reproducible on any executor. */
  def encodeWav(sampleRate: Int, channels: Int, nFrames: Int,
                seed: Long): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(
      sampleRate.toFloat, 16, channels, true, false)
    val samples = nFrames * channels
    val pcm = new Array[Byte](samples * 2)
    var i = 0
    while (i < samples) {
      val v = (((i * 2654435761L + seed) & 0xffffL) - 32768L).toInt
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** REAL WAV decode via `javax.sound.sampled.AudioSystem` (pure JDK).
    * HEADER-ONLY: `getAudioFileFormat` parses the RIFF/fmt chunks without
    * reading sample data — per-row cost is a ~44-byte header, the shape that
    * survives a 100 TB audio corpus. Returns
    * (sampleRateHz, channels, bitsPerSample, frameLength); None for bytes no
    * installed reader recognizes. */
  def decodeWav(payload: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    if (payload == null || payload.isEmpty) return None
    try {
      val aff = javax.sound.sampled.AudioSystem.getAudioFileFormat(
        new java.io.ByteArrayInputStream(payload))
      val f = aff.getFormat
      Some((f.getSampleRate.toInt, f.getChannels, f.getSampleSizeInBits,
        aff.getFrameLength.toLong))
    } catch { case _: Exception => None }
  }

  /** Decode a binary AUDIO payload column into typed metadata — batched per
    * partition like [[decodeImageMeta]]. Unrecognized payloads map to
    * (-1, -1, -1, -1) rather than failing the batch. */
  def decodeAudioMeta(df: DataFrame, idCol: String, payloadCol: String)
                     (implicit spark: SparkSession): Dataset[AudioMetaRow] = {
    import spark.implicits._
    mapMedia(df, idCol, payloadCol) { r =>
      decodeWav(r.payload) match {
        case Some((sr, ch, bits, nf)) =>
          AudioMetaRow(r.media_id, payloadLen(r), sr, ch, bits, nf)
        case None => AudioMetaRow(r.media_id, payloadLen(r), -1, -1, -1, -1L)
      }
    }
  }

  // ---------------------------------------------------------------------------
  // video: REAL MP4 container-metadata decode (pure-JDK box parsing)
  // ---------------------------------------------------------------------------

  case class VideoMetaRow(media_id: Long, byte_len: Long, width: Int,
                          height: Int, duration_ms: Long, brand: String)

  private def putType(b: java.nio.ByteBuffer, t: String): Unit =
    b.put(t.getBytes(java.nio.charset.StandardCharsets.US_ASCII))

  /** Minimal deterministic MP4 ENCODER: `ftyp` + `moov{mvhd, trak{tkhd}}`
    * per ISO/IEC 14496-12 (version-0 boxes, big-endian, 16.16 fixed-point
    * dimensions). No media data — container metadata only, which is exactly
    * what [[decodeMp4]] extracts. */
  def encodeMp4Meta(width: Int, height: Int, durationMs: Long,
                    brand: String = "isom", timescale: Int = 1000)
      : Array[Byte] = {
    require(brand.length == 4, "MP4 major brand must be 4 ASCII chars")
    require(width > 0 && width < 0x10000 && height > 0 && height < 0x10000,
      s"MP4 16.16 fixed-point dims must be in (0, 65536): $width x $height")
    val duration = durationMs * timescale / 1000L
    // version-0 boxes carry u32 durations — reject instead of wrapping
    require(duration >= 0 && duration <= 0xFFFFFFFFL,
      s"duration $durationMs ms overflows the version-0 u32 box field")
    val buf = java.nio.ByteBuffer.allocate(20 + 216)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    // ftyp (20): major brand, minor version, one compatible brand
    buf.putInt(20); putType(buf, "ftyp"); putType(buf, brand)
    buf.putInt(0); putType(buf, brand)
    // moov (216) = header (8) + mvhd (108) + trak (100)
    buf.putInt(216); putType(buf, "moov")
    // mvhd v0 (108): timescale + duration, unity rate/volume/matrix
    buf.putInt(108); putType(buf, "mvhd")
    buf.putInt(0)                       // version + flags
    buf.putInt(0); buf.putInt(0)        // creation, modification
    buf.putInt(timescale); buf.putInt(duration.toInt)
    buf.putInt(0x00010000); buf.putShort(0x0100.toShort)
    buf.putShort(0); buf.putLong(0L)    // reserved
    buf.putInt(0x00010000); buf.putInt(0); buf.putInt(0)   // unity matrix
    buf.putInt(0); buf.putInt(0x00010000); buf.putInt(0)
    buf.putInt(0); buf.putInt(0); buf.putInt(0x40000000)
    (0 until 6).foreach(_ => buf.putInt(0))                // pre_defined
    buf.putInt(2)                       // next_track_id
    // trak (100) = header (8) + tkhd (92)
    buf.putInt(100); putType(buf, "trak")
    // tkhd v0 (92): track 1, 16.16 fixed-point width/height at the tail
    buf.putInt(92); putType(buf, "tkhd")
    buf.putInt(0x000007)                // version + flags (enabled|in movie)
    buf.putInt(0); buf.putInt(0)        // creation, modification
    buf.putInt(1); buf.putInt(0)        // track_id, reserved
    buf.putInt(duration.toInt); buf.putLong(0L)
    buf.putShort(0); buf.putShort(0); buf.putShort(0); buf.putShort(0)
    buf.putInt(0x00010000); buf.putInt(0); buf.putInt(0)   // unity matrix
    buf.putInt(0); buf.putInt(0x00010000); buf.putInt(0)
    buf.putInt(0); buf.putInt(0); buf.putInt(0x40000000)
    buf.putInt(width << 16); buf.putInt(height << 16)
    buf.array()
  }

  private def u32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
      ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)

  private def boxType(b: Array[Byte], off: Int): String =
    new String(b, off + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** Walk sibling boxes in [start, end); yields (type, payloadStart,
    * boxEnd). Malformed sizes (under 8 bytes or past `end`) stop the walk
    * rather than throwing — the decoder degrades to None. */
  private def boxes(b: Array[Byte], start: Int, end: Int)
      : Iterator[(String, Int, Int)] =
    Iterator.unfold(start) { pos =>
      if (pos + 8 > end) None
      else {
        val size = u32(b, pos)
        if (size < 8 || pos + size > end) None
        else Some(((boxType(b, pos), pos + 8, pos + size.toInt),
          pos + size.toInt))
      }
    }

  /** REAL MP4 container-metadata decode: walks the ISO BMFF box tree
    * (`ftyp` → brand; `moov/mvhd` → timescale+duration; `moov/trak/tkhd` →
    * 16.16 fixed-point dimensions). Pure JDK byte parsing — header-only, no
    * frame decode (documented limit: the JDK ships no video codec; PIXEL
    * decode would slot into the same batched path). Returns
    * (width, height, durationMs, majorBrand); None if the box tree is
    * unrecognizable. */
  def decodeMp4(payload: Array[Byte]): Option[(Int, Int, Long, String)] = {
    if (payload == null || payload.length < 8) return None
    try {
      var brand: Option[String] = None
      var durMs: Option[Long] = None
      var dims: Option[(Int, Int)] = None
      boxes(payload, 0, payload.length).foreach {
        case ("ftyp", p, _) if p + 4 <= payload.length =>
          brand = Some(new String(payload, p, 4,
            java.nio.charset.StandardCharsets.US_ASCII))
        case ("moov", mp, mEnd) =>
          boxes(payload, mp, mEnd).foreach {
            case ("mvhd", p, e) if p + 20 <= e =>
              val timescale = u32(payload, p + 12)
              val duration = u32(payload, p + 16)
              if (timescale > 0) durMs = Some(duration * 1000L / timescale)
            case ("trak", tp, tEnd) =>
              boxes(payload, tp, tEnd).foreach {
                case ("tkhd", p, e) if p + 84 <= e && dims.isEmpty =>
                  dims = Some(((u32(payload, p + 76) >> 16).toInt,
                    (u32(payload, p + 80) >> 16).toInt))
                case _ => ()
              }
            case _ => ()
          }
        case _ => ()
      }
      for { b <- brand; d <- durMs; (w, h) <- dims } yield (w, h, d, b)
    } catch { case _: Exception => None }
  }

  /** Decode a binary VIDEO payload column into typed container metadata —
    * batched per partition like [[decodeImageMeta]]. Unrecognized payloads
    * map to (-1, -1, -1, "unknown"). */
  def decodeVideoMeta(df: DataFrame, idCol: String, payloadCol: String)
                     (implicit spark: SparkSession): Dataset[VideoMetaRow] = {
    import spark.implicits._
    mapMedia(df, idCol, payloadCol) { r =>
      decodeMp4(r.payload) match {
        case Some((w, h, d, b)) =>
          VideoMetaRow(r.media_id, payloadLen(r), w, h, d, b)
        case None =>
          VideoMetaRow(r.media_id, payloadLen(r), -1, -1, -1L, "unknown")
      }
    }
  }

  /** STUB decoder for video FRAME content: deterministic pseudo-metadata
    * from payload bytes (the JDK ships no video codec). Container-level
    * metadata has a REAL path ([[decodeMp4]]); the signature here (bytes
    * in, typed metadata out) is the contract a pixel codec would fill. */
  def fakeDecode(payload: Array[Byte]): (Int, Int, Int, String) = {
    val n = payload.length
    val width = 320 + (n % 321)            // 320..640
    val height = 240 + ((n * 7) % 241)     // 240..480
    val frames = 1 + (n % 30)
    val fmt = if (n % 2 == 0) "rgb8" else "yuv420"
    (width, height, frames, fmt)
  }

  /** Decode a binary payload column into a typed metadata Dataset.
    * Batched per partition; codec state would be initialized once per
    * partition in the `mapPartitions` closure. */
  def decodeMeta(df: DataFrame, idCol: String, payloadCol: String)
                (implicit spark: SparkSession): Dataset[MediaMeta] = {
    import spark.implicits._
    mapMedia(df, idCol, payloadCol) { r =>
      val (w, h, f, fmt) = fakeDecode(r.payload)
      MediaMeta(r.media_id, r.payload.length.toLong, w, h, f, fmt)
    }
  }

  /** Frame sampling: keep every `stride`-th frame index, as the plumbing a
    * video pipeline needs (indices only — decode stubbed). Pure Column expr. */
  def sampleFrameIndices(nFrames: org.apache.spark.sql.Column, stride: Int)
      : org.apache.spark.sql.Column =
    filter(sequence(lit(0), nFrames - 1), i => i % stride === 0)

  /** "Resize": metadata-level scale transform (decode stubbed).
    * +1e-9 before round: w·(t/s) can land exactly on .5 for integer dims;
    * the epsilon makes rounding engine-portable (see Queries.roundSafe). */
  def resizeMeta(width: org.apache.spark.sql.Column,
                 height: org.apache.spark.sql.Column,
                 targetShortSide: Int)
      : (org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
    val short = least(width, height)
    val scale = lit(targetShortSide).cast("double") / short
    (round(width * scale + lit(1e-9)).cast("int"),
     round(height * scale + lit(1e-9)).cast("int"))
  }

  /** Media partitions must be sized by BYTES, not rows: repartition so each
    * partition holds ~`targetMB` of payload. At 100 TB this is the difference
    * between a working pipeline and OOM: a 1000-row partition of 4K video is
    * tens of GB.
    *
    * Total bytes are measured FROM THE DATA (one cheap `sum(length)` agg),
    * [[assignMediaBuckets]] packs rows into byte-budgeted buckets, so a run
    * of giant rows spills into more buckets, and the bucket id drives one
    * range repartition. A single row larger than `targetMB` still owns a
    * whole bucket (cannot be subdivided — documented limit). */
  def repartitionForMedia(df: DataFrame, payloadCol: String,
                          targetMB: Int = 128): DataFrame = {
    require(targetMB > 0, s"targetMB must be > 0, got $targetMB")
    val targetBytes = targetMB * 1024L * 1024L
    // coalesce: sum() over zero rows (or all-null payloads) is NULL — an
    // empty frame must degrade to 1 partition, not NPE on getLong.
    val totalBytes = df
      .agg(coalesce(sum(length(col(payloadCol))), lit(0L))).head()
      .getLong(0)
    val parts = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    // RANGE partition on the bucket id, not hash: hash collisions stack
    // several byte-buckets into one partition (the 1M-payload media probe
    // measured a 5× overshoot: max 159 MB against a 32 MB budget), while
    // contiguous bucket ranges give each partition ~⌈buckets/parts⌉
    // buckets — with parts ≈ buckets, one bucket per partition.
    assignMediaBuckets(df, payloadCol, targetMB)
      .repartitionByRange(parts, col("__media_bkt")).drop("__media_bkt")
  }

  /** The greedy byte-packing pass behind [[repartitionForMedia]], exposed so
    * its invariant is testable: each task accumulates payload sizes and
    * advances its `__media_bkt` when the running sum crosses the budget, so
    * every bucket holds ≤ targetBytes + one payload (the deterministic
    * guarantee). Narrow — no shuffle, no driver data: one typed
    * `Dataset.mapPartitions` in the caller's plan. A bucket's id is
    * `taskPartitionId * 100003 + bucket`, unique unless a narrow
    * `coalesce` follows in the same stage. */
  def assignMediaBuckets(df: DataFrame, payloadCol: String,
                         targetMB: Int): DataFrame = {
    require(targetMB > 0, s"targetMB must be > 0, got $targetMB")
    val targetBytes = targetMB * 1024L * 1024L
    // resolved on the driver: the closure must not capture the Dataset
    val sizeIdx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      val pid = org.apache.spark.TaskContext.getPartitionId().toLong
      var acc = 0L
      var bkt = 0L
      rows.map { r =>
        val sz = r.get(sizeIdx) match {
          case b: Array[Byte] => b.length.toLong
          case s: String      => s.length.toLong
          case _              => 0L
        }
        acc += sz
        if (acc > targetBytes) { bkt += 1; acc = sz }
        Row.fromSeq(r.toSeq :+ (pid * 100003L + bkt))
      }
    }(ExpressionEncoder(RowEncoder.encoderFor(
      df.schema.add("__media_bkt", org.apache.spark.sql.types.LongType))))
  }
}
