package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, processed per-partition in
  * batches.
  *
  * Every modality has a REAL decode path: images for PNG/BMP/JPEG/GIF
  * (pure-JDK `javax.imageio`, actual pixel raster — [[decodeMedia]]),
  * audio for RIFF/WAVE PCM (pure-JDK `javax.sound.sampled` —
  * [[decodeAudio]]), video for RIFF/AVI with uncompressed DIB frames
  * (pure-JDK container walk — [[decodeVideo]]). Formats whose codecs
  * this container lacks (mp4/h264, mp3, …) fall back to a
  * deterministic fake (the first two bytes as width/height and the
  * byte mean — [[byteMean]]) behind the same `MediaRow => features`
  * boundary. Everything around the codec — the binary column, the
  * metadata struct, the typed Dataset batch shape, the mapPartitions
  * batching, the partitioning — is the real 100 TB design: payloads
  * never leave executors, the decode processes one partition (= one
  * file split) at a time, and feature extraction is a narrow map.
  *
  * Each codec step is written once: one magic guard ([[sniffed]]), one
  * bounded RIFF/AVI walker ([[aviFrames]]), one bounded PCM reader
  * ([[readPcm16]]), one WAV and one AVI writer for the fixtures, one
  * synthetic-payload attach ([[attachSynthetic]]) and one typed row read
  * ([[mediaRows]]); every public verb is a call into them.
  */
object Multimodal {

  final case class MediaRow(id: Long, payload: Array[Byte], format: String)
  final case class MediaFeatures(id: Long, n_bytes: Long, width: Int, height: Int,
                                 mean_byte: Double)

  /** Attach a binary payload column + metadata struct to a text corpus
    * (stand-in for reading real media files via
    * `spark.read.format("binaryFile")`). A null text yields a null
    * payload, which every verb here reads as an empty one.
    */
  def attachPayload(df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.Partitioning.spread(df).select(
      col(idCol).as("id"),
      encode(col(textCol), "UTF-8").as("payload"),
      struct(
        length(encode(col(textCol), "UTF-8")).cast("long").as("n_bytes"),
        lit("fake/raw").as("format")).as("meta"))

  /** The one typed read every extract verb runs: `(id, payload,
    * meta.format)` as [[MediaRow]].
    */
  private def mediaRows(spark: SparkSession, withPayload: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    withPayload.select(col("id"), col("payload"), col("meta.format").as("format"))
      .as[MediaRow]
  }

  /** The one synthetic-payload attach behind every fixture verb: the
    * encode `gen(id)` runs IN EXECUTORS (a narrow typed map) — payload
    * bytes never exist on the driver, same as a production `binaryFile`
    * read — and the result has the `(id, payload, meta{n_bytes,
    * format})` shape [[mediaRows]] reads.
    */
  private def attachSynthetic(spark: SparkSession, df: DataFrame, idCol: String,
                              mime: String)(gen: Long => Array[Byte]): DataFrame = {
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id")).as[Long]
      .map(id => MediaRow(id, gen(id), mime))
      .toDF()
      .select(col("id"), col("payload"),
        struct(length(col("payload")).cast("long").as("n_bytes"),
          col("format")).as("meta"))
  }

  /** The one codec guard: a payload reaches a codec only when its
    * declared format has the modality `prefix`, it is non-null, AND its
    * magic bytes match — the mime alone is not trusted, so a text
    * payload mislabeled image/png never reaches ImageIO.
    */
  private def sniffed(r: MediaRow, prefix: String, magic: Array[Byte] => Boolean): Boolean =
    r.format != null && r.format.startsWith(prefix) && r.payload != null && magic(r.payload)

  // ------------------------------------------------------ byte fallback

  // The one deterministic fallback every fake decode shares (formats
  // without a codec here, and payloads a codec rejects): width/height
  // from the first two bytes, the size, and the mean over all bytes. A
  // null payload reads as an empty one — one null blob must degrade one
  // row, never kill the task.
  private def byteAt(b: Array[Byte], i: Int): Int =
    if (b != null && b.length > i) b(i) & 0xff else 0

  private def nBytes(b: Array[Byte]): Long = if (b == null) 0L else b.length.toLong

  private def byteMean(b: Array[Byte]): Double =
    if (nBytes(b) == 0L) 0.0
    else {
      var sum = 0L
      var i = 0
      while (i < b.length) { sum += b(i) & 0xff; i += 1 }
      graft.Num.r6(sum.toDouble / b.length)
    }

  // ---------------------------------------------------------------- image

  /** Decode dispatcher at the codec boundary: payloads whose declared
    * format is an image AND whose magic bytes are PNG/BMP/JPEG/GIF get a
    * REAL `javax.imageio` decode (pure JDK — actual pixel raster: width,
    * height, mean channel value); everything else falls through to the
    * deterministic fake. Magic bytes are checked, not just the declared
    * mime ([[sniffed]]), and a null return from ImageIO falls back too.
    */
  def decodeMedia(rows: Iterator[MediaRow]): Iterator[MediaFeatures] =
    rows.map { r =>
      // a corrupt/truncated payload throws inside the codec (EOF etc.)
      // or returns null — either way fall back to the fake features
      // instead of killing the scan task: at corpus scale one bad blob
      // must not fail the job
      val img =
        if (!sniffed(r, "image/", b => isPng(b) || isBmp(b) || isJpeg(b) || isGif(b))) null
        else try readImageBounded(r.payload)
        catch { case scala.util.control.NonFatal(_) => null }
      if (img == null)
        MediaFeatures(r.id, nBytes(r.payload), byteAt(r.payload, 0), byteAt(r.payload, 1),
          byteMean(r.payload))
      else {
        val w = img.getWidth
        val h = img.getHeight
        // mean over ALL of R, G and B — a single-channel mean reads as
        // "brightness" but silently tracks only blue on color images
        var sum = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
            x += 1
          }
          y += 1
        }
        MediaFeatures(r.id, r.payload.length.toLong, w, h,
          graft.Num.r6(sum.toDouble / (3L * w * h).toDouble))
      }
    }

  /** Max decoded raster size (pixels) before a payload is rejected as a
    * decompression bomb: the header of a tiny corrupt/adversarial blob
    * can declare 100000x100000 pixels and make a naive ImageIO.read
    * allocate a 40 GB raster — an Error, not an exception, which would
    * kill the executor JVM past any catch.
    */
  val MaxDecodedPixels: Long = 64L * 1024 * 1024

  /** Header-first bounded decode: read (width, height) from the image
    * HEADER via the reader (no raster allocation), reject oversized
    * declarations, then decode. Memory-backed image input — the default
    * ImageIO path spools every payload through a temp FILE, a
    * create/write/delete per row on the executor hot path.
    */
  private def readImageBounded(bytes: Array[Byte]): java.awt.image.BufferedImage = {
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) return null
      val reader = readers.next()
      try {
        reader.setInput(iis, true, true)
        val w = reader.getWidth(0).toLong
        val h = reader.getHeight(0).toLong
        if (w <= 0 || h <= 0 || w * h > MaxDecodedPixels) null
        else reader.read(0)
      } finally reader.dispose()
    } finally iis.close()
  }

  private def isPng(b: Array[Byte]): Boolean =
    b.length > 8 && (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G'

  private def isBmp(b: Array[Byte]): Boolean =
    b.length > 2 && b(0) == 'B' && b(1) == 'M'

  private def isJpeg(b: Array[Byte]): Boolean =
    b.length > 2 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8

  // "GIF8" covers both GIF87a and GIF89a signatures
  private def isGif(b: Array[Byte]): Boolean =
    b.length > 6 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8'

  // ---------------------------------------------------------------- audio

  final case class AudioFeatures(id: Long, sample_rate: Int, channels: Int,
                                 n_frames: Long, duration_sec: Double,
                                 mean_abs: Double)

  // "RIFF....WAVE" container magic — checked before the payload reaches
  // the codec, same contract as the image magic checks
  private[graft] def isWav(b: Array[Byte]): Boolean =
    b.length > 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E'

  /** Max decoded bytes before a payload is rejected: a corrupt RIFF
    * header can declare a multi-GB data chunk, so the PCM read
    * ([[readPcm16]]) streams under this cap instead of trusting the
    * header's frame count. The AVI walk ([[aviFrames]]) applies the same
    * cap to the pixel bytes of all of a payload's decoded frames.
    */
  val MaxDecodedPcmBytes: Long = 64L * 1024 * 1024

  /** The one bounded PCM reader behind [[decodeAudio]] and
    * [[audioFingerprints]]: a sniffed `audio/` RIFF/WAVE payload is
    * opened through `javax.sound.sampled`; only 16-bit signed
    * little-endian PCM with `channels > 0` is read, in 64 KiB reads (an
    * odd byte carries into the next read), each interleaved sample
    * handed to `sample`. The header's frame count is untrusted input and
    * sizes nothing: the read stops past [[MaxDecodedPcmBytes]].
    *
    * @return the stream's format and its PCM byte count; None when the
    *         guard or the format check fails, the stream is empty or
    *         over the cap, or the codec throws
    */
  private def readPcm16(r: MediaRow)(sample: Long => Unit)
      : Option[(javax.sound.sampled.AudioFormat, Long)] =
    if (!sniffed(r, "audio/", isWav)) None
    else try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(r.payload))
      try {
        val fmt = ais.getFormat
        if (fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
            || fmt.getSampleSizeInBits != 16 || fmt.isBigEndian
            || fmt.getChannels <= 0) None
        else {
          val buf = new Array[Byte](64 * 1024)
          var total = 0L
          var carry = new Array[Byte](0)
          var n = ais.read(buf)
          while (n > 0 && total <= MaxDecodedPcmBytes) {
            total += n
            val chunk = carry ++ buf.take(n)
            val usable = chunk.length - chunk.length % 2
            var i = 0
            while (i < usable) {
              sample(((chunk(i) & 0xff) | (chunk(i + 1) << 8)).toShort.toLong)
              i += 2
            }
            carry = chunk.drop(usable)
            n = ais.read(buf)
          }
          if (total > MaxDecodedPcmBytes || total == 0) None else Some((fmt, total))
        }
      } finally ais.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Audio decode at the codec boundary: RIFF/WAVE payloads get a REAL
    * `javax.sound.sampled` decode ([[readPcm16]] — actual PCM frames:
    * sample rate and channel count from the parsed format, frame count
    * from the bytes actually read, mean |sample| over every frame x
    * channel in raw 16-bit units, a running sum, never a sample array);
    * anything else — and any payload the codec rejects, truncates on,
    * whose sample rate is not positive, whose byte count is not whole
    * frames, or whose stream exceeds [[MaxDecodedPcmBytes]] — falls
    * through to the deterministic fake (`sample_rate = 0`, byte mean),
    * so one bad blob degrades one row, never the scan task.
    */
  def decodeAudio(rows: Iterator[MediaRow]): Iterator[AudioFeatures] =
    rows.map { r =>
      var sumAbs = 0L
      readPcm16(r)(s => sumAbs += math.abs(s)).collect {
        case (fmt, total) if fmt.getSampleRate > 0 && fmt.getFrameSize > 0
            && total % fmt.getFrameSize == 0 =>
          val sr = fmt.getSampleRate
          val frames = total / fmt.getFrameSize
          AudioFeatures(r.id, sr.toInt, fmt.getChannels, frames,
            graft.Num.r6(frames.toDouble / sr.toDouble),
            graft.Num.r6(sumAbs.toDouble / (frames * fmt.getChannels).toDouble))
      }.getOrElse(AudioFeatures(r.id, 0, 0, nBytes(r.payload), 0.0, byteMean(r.payload)))
    }

  /** The one RIFF/WAVE writer behind the PCM fixtures: `nFrames` 16-bit
    * little-endian frames at `sampleRate`, frame f holding `value(f)` on
    * every one of its `channels`.
    */
  private def wavOf(sampleRate: Int, channels: Int, nFrames: Int)
                   (value: Int => Short): Array[Byte] = {
    val pcm = java.nio.ByteBuffer.allocate(nFrames * channels * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var f = 0
    while (f < nFrames) {
      val v = value(f)
      var c = 0
      while (c < channels) { pcm.putShort(v); c += 1 }
      f += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
      sampleRate.toFloat, 16, channels, 2 * channels, sampleRate.toFloat,
      /* bigEndian = */ false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm.array()), fmt, nFrames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    try javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    finally ais.close()
    bos.toByteArray
  }

  /** Deterministic 16-bit PCM fixture for the real-decode gate, the
    * audio analogue of [[syntheticImage]]: sample rate, channel count
    * and frame count derive from the id; frame 0 carries a DIFFERENT
    * sample value than the rest, so a decode that reads only the header
    * (or only the first frame) cannot match. Every channel of a frame
    * holds the same value, which keeps the closed-form mean
    * channel-independent (and the 1-or-2 channel factor cancels exactly
    * in IEEE division): mean_abs = (|b0| + (nFrames-1)*|a|) / nFrames.
    */
  private[graft] def syntheticWav(id: Long): Array[Byte] = {
    val a = ((id * 37) % 101 - 50).toShort
    val b0 = ((id * 53) % 101 - 50).toShort
    wavOf((8000 * (1 + id % 3)).toInt, (1 + id % 2).toInt, (8 + id % 25).toInt)(
      f => if (f == 0) b0 else a)
  }

  // ------------------------------------------------ audio fingerprinting

  final case class AudioFp(id: Long, afp: Long)

  /** 31-bit audio fingerprint — the audio analogue of [[dHash]]: the
    * decoded 16-bit PCM stream (all channels interleaved, |sample|
    * energy) is framed into 32 windows with integer-division bounds
    * (`w·n/32`), each window's energy is the exact integer Σ|s|, and
    * bit w is set when window w+1 is strictly louder than window w —
    * an energy-envelope gradient, invariant to uniform gain the same
    * way dHash is invariant to brightness, and exactly reproducible
    * from the samples (no FFT, no floats). 31 bits keep the value
    * positive in every signed-64 engine. Streams shorter than 32
    * samples have no defined envelope and are dropped.
    */
  private[graft] def energyFingerprint(samples: Array[Long]): Option[Long] = {
    val n = samples.length
    if (n < 32) return None
    val energy = new Array[Long](32)
    var w = 0
    while (w < 32) {
      val t0 = w * n / 32; val t1 = (w + 1) * n / 32
      var s = 0L
      var t = t0
      while (t < t1) { s += math.abs(samples(t)); t += 1 }
      energy(w) = s
      w += 1
    }
    var afp = 0L
    var i = 0
    while (i < 31) {
      if (energy(i + 1) > energy(i)) afp |= 1L << i
      i += 1
    }
    Some(afp)
  }

  /** Partition-batched audio fingerprinting over WAV payloads: real
    * 16-bit PCM decode (the [[decodeAudio]] reader and caps), then
    * [[energyFingerprint]]. Non-WAV, corrupt, or too-short payloads are
    * dropped — fingerprinting garbage would poison the dedup join.
    */
  def audioFingerprints(spark: SparkSession, withPayload: DataFrame): Dataset[AudioFp] = {
    import spark.implicits._
    mediaRows(spark, withPayload).mapPartitions(_.flatMap { r =>
      // primitive collector: an ArrayBuffer[Long] would box every
      // sample (~0.5-1 GB heap at the MaxDecodedPcmBytes cap) on the
      // executor hot path
      val out = new scala.collection.mutable.ArrayBuilder.ofLong
      readPcm16(r) { s => out += s }
        .flatMap(_ => energyFingerprint(out.result()))
        .map(afp => AudioFp(r.id, afp))
    })
  }

  /** Deterministic mono 16-bit "tone": 256 samples at 8 kHz with
    * `s(t) = ((b·(t+7)·(t mod 13 + 1) + t²) mod 2001) − 1000`,
    * `b = id mod 100` — ids 100 apart are exact sample copies, the
    * planted duplicates for the fingerprint gate, and the closed form
    * is what the oracle evaluates. 256 samples divide the 32-window
    * envelope into exact 8-sample windows.
    */
  private[graft] def syntheticTone(id: Long): Array[Byte] = {
    val b = id % 100
    wavOf(8000, 1, 256)(t =>
      (((b * (t + 7) * (t % 13 + 1) + t.toLong * t) % 2001L) - 1000L).toShort)
  }

  /** Attach synthetic-tone WAV payloads for the fingerprint gate. */
  def attachTonePayload(spark: SparkSession, df: DataFrame, idCol: String): DataFrame =
    attachSynthetic(spark, df, idCol, "audio/wav")(syntheticTone)

  /** Attach REAL RIFF/WAVE payloads derived deterministically from the
    * id column; like the image variants, the encode runs in executors.
    */
  def attachWavPayload(spark: SparkSession, df: DataFrame, idCol: String): DataFrame =
    attachSynthetic(spark, df, idCol, "audio/wav")(syntheticWav)

  /** Partition-batched audio feature extraction, same shape as
    * [[extractFeatures]]: typed Dataset in/out, decode per partition,
    * payloads never leave executors.
    */
  def extractAudioFeatures(spark: SparkSession, withPayload: DataFrame): Dataset[AudioFeatures] = {
    import spark.implicits._
    mediaRows(spark, withPayload).mapPartitions(decodeAudio)
  }

  // ---------------------------------------------------------------- video

  final case class VideoFeatures(id: Long, width: Int, height: Int,
                                 n_frames: Long, mean_byte: Double)

  // "RIFF....AVI " container magic
  private[graft] def isAvi(b: Array[Byte]): Boolean =
    b.length > 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'A' && b(9) == 'V' && b(10) == 'I' && b(11) == ' '

  private def le32(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) | ((b(i + 2) & 0xffL) << 16) |
      ((b(i + 3) & 0xffL) << 24)

  private def fourcc(b: Array[Byte], i: Int): String =
    new String(b, i, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** The one bounded RIFF/AVI walker behind [[decodeVideo]] and
    * [[sceneCuts]]: a sniffed `video/` RIFF/AVI payload is walked for
    * `avih` (width/height) inside LIST hdrl and the `00db` DIB chunks
    * (BI_RGB 24-bit) inside LIST movi; each frame's `(w, h, byte sum)`
    * — rows' padding excluded — is handed to `frame`. Every offset/size
    * read is bounds-checked against the actual payload — header fields
    * are untrusted input and never size an allocation. The walk fails
    * on a chunk running past its parent, a frame before any header, a
    * frame whose size is not stride×height, or decoded pixel bytes past
    * [[MaxDecodedPcmBytes]].
    *
    * @return the last header's (width, height) when the walk succeeds
    *         with at least one frame and a positive size; None otherwise
    */
  private def aviFrames(r: MediaRow)(frame: (Long, Long, Long) => Unit): Option[(Long, Long)] = {
    if (!sniffed(r, "video/", isAvi) || r.payload.length < 24) return None
    val b = r.payload
    var w = -1L; var h = -1L
    var frames = 0L; var pixelBytes = 0L
    def walk(start: Int, end: Int): Boolean = {
      var i = start
      while (i + 8 <= end) {
        val cc = fourcc(b, i)
        val sz = le32(b, i + 8 - 4) // chunk size at i+4
        val dataStart = i + 8
        val dataEnd = dataStart + sz
        if (sz < 0 || dataEnd > end || dataEnd < dataStart) return false
        if (cc == "LIST") {
          if (sz < 4) return false
          // list type occupies the first 4 data bytes; recurse past it
          if (!walk(dataStart + 4, dataEnd.toInt)) return false
        } else if (cc == "avih") {
          if (sz < 40) return false
          w = le32(b, dataStart + 32)
          h = le32(b, dataStart + 36)
        } else if (cc == "00db") {
          if (w <= 0 || h <= 0) return false // frames before the header
          val stride = ((w * 3 + 3) / 4) * 4
          if (sz != stride * h) return false
          pixelBytes += 3L * w * h
          if (pixelBytes > MaxDecodedPcmBytes) return false
          var sum = 0L
          var row = 0
          while (row < h) {
            val off = dataStart + row * stride.toInt
            var x = 0
            while (x < w * 3) { sum += b(off + x) & 0xff; x += 1 }
            row += 1
          }
          frame(w, h, sum)
          frames += 1
        }
        // chunks are word-aligned: odd sizes carry one pad byte
        i = dataEnd.toInt + (sz.toInt & 1)
      }
      true
    }
    val riffSz = le32(b, 4)
    val end = math.min(b.length.toLong, 8L + riffSz).toInt
    if (!walk(12, end) || frames == 0 || w <= 0 || h <= 0) None else Some((w, h))
  }

  /** Video decode at the codec boundary: RIFF/AVI payloads carrying
    * UNCOMPRESSED DIB frames (fourcc `00db`, BI_RGB 24-bit — the one
    * video format a pure-JDK container walk can decode losslessly) get
    * a REAL parse ([[aviFrames]]): width/height from the avih header,
    * frame count from the `00db` chunks actually present, mean byte
    * over every frame's pixel bytes (row padding excluded). Compressed
    * formats (mp4 etc., no codec in this container) and any
    * structurally inconsistent AVI fall through to the deterministic
    * fake, one bad blob degrading one row, never the scan task.
    */
  def decodeVideo(rows: Iterator[MediaRow]): Iterator[VideoFeatures] =
    rows.map { r =>
      var frames = 0L; var sum = 0L; var pixelBytes = 0L
      aviFrames(r) { (w, h, s) => frames += 1; sum += s; pixelBytes += 3L * w * h }
        .map { case (w, h) => VideoFeatures(r.id, w.toInt, h.toInt, frames,
          graft.Num.r6(sum.toDouble / pixelBytes.toDouble)) }
        .getOrElse(VideoFeatures(r.id, byteAt(r.payload, 0), byteAt(r.payload, 1),
          nBytes(r.payload), byteMean(r.payload)))
    }

  /** The one RIFF/AVI writer behind the video fixtures: `nf`
    * uncompressed BI_RGB 24-bit w×h DIB frames (`00db`, rows padded to
    * 4 bytes) behind an avih/strh/strf header; pixel (x, y) of frame f
    * is `rgb(f, x, y)` (0xRRGGBB, stored B, G, R).
    */
  private def aviOf(w: Int, h: Int, nf: Int)(rgb: (Int, Int, Int) => Int): Array[Byte] = {
    val stride = ((w * 3 + 3) / 4) * 4
    val frameSz = stride * h
    val bos = new java.io.ByteArrayOutputStream()
    def w32(v: Long): Unit = {
      bos.write((v & 0xff).toInt); bos.write(((v >> 8) & 0xff).toInt)
      bos.write(((v >> 16) & 0xff).toInt); bos.write(((v >> 24) & 0xff).toInt)
    }
    def cc(s: String): Unit = bos.write(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    val strlSz = 4 + 8 + 56 + 8 + 40
    val hdrlSz = 4 + 8 + 56 + 8 + strlSz
    val moviSz = 4 + nf * (8 + frameSz)
    cc("RIFF"); w32(4 + 8 + hdrlSz + 8 + moviSz); cc("AVI ")
    cc("LIST"); w32(hdrlSz); cc("hdrl")
    cc("avih"); w32(56)
    w32(40000); w32(0); w32(0); w32(0)           // usec/frame, maxbps, pad, flags
    w32(nf); w32(0); w32(1); w32(frameSz)        // totalFrames, initial, streams, bufSz
    w32(w); w32(h); w32(0); w32(0); w32(0); w32(0)
    cc("LIST"); w32(strlSz); cc("strl")
    cc("strh"); w32(56)
    cc("vids"); cc("DIB "); w32(0); w32(0); w32(0)  // type, handler, flags, prio, initial
    w32(1); w32(25); w32(0); w32(nf)                // scale, rate, start, length
    w32(frameSz); w32(0); w32(0); w32(0); w32(0)    // bufSz, quality, sampleSz, rcFrame(8)
    cc("strf"); w32(40)
    w32(40); w32(w); w32(h); bos.write(1); bos.write(0) // biSize, biWidth, biHeight, biPlanes
    bos.write(24); bos.write(0)                          // biBitCount
    w32(0); w32(frameSz); w32(0); w32(0); w32(0); w32(0) // BI_RGB, biSizeImage, ...
    cc("LIST"); w32(moviSz); cc("movi")
    val row = new Array[Byte](stride)
    var f = 0
    while (f < nf) {
      cc("00db"); w32(frameSz)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val c = rgb(f, x, y)
          row(3 * x) = c.toByte; row(3 * x + 1) = (c >> 8).toByte; row(3 * x + 2) = (c >> 16).toByte
          x += 1
        }
        bos.write(row)
        y += 1
      }
      f += 1
    }
    bos.toByteArray
  }

  /** The image and video fixtures' shared pixel rule: pixel (0,0)
    * COLORED (r,g,b) = (id, 2id, 3id) mod 251 — unequal channels, so a
    * decode that reads only one channel cannot match — every other
    * pixel the `gray` value on all three channels.
    */
  private def fixtureRgb(id: Long, gray: Int, x: Int, y: Int): Int =
    if (x == 0 && y == 0)
      (((id % 251).toInt) << 16) | (((2 * id % 251).toInt) << 8) | (3 * id % 251).toInt
    else (gray << 16) | (gray << 8) | gray

  /** Deterministic AVI/DIB fixture, the video analogue of
    * [[syntheticImage]]: w×h from the id (same formula as the image
    * fixtures), 1+id%4 frames; frame f is gray g_f = (id+31f)%251
    * except pixel (0,0) colored (id,2id,3id)%251 — every frame differs,
    * so a decode reading only frame 0 cannot match, and BI_RGB frames
    * round-trip losslessly so the gate covers the decoded raster mean
    * exactly. Closed form: mean = (3·Σg_f·(wh−1) + nf·c0) / (3·wh·nf).
    */
  private[graft] def syntheticAvi(id: Long): Array[Byte] =
    aviOf((1 + id % 7).toInt, (1 + id % 5).toInt, (1 + id % 4).toInt)(
      (f, x, y) => fixtureRgb(id, ((id + 31 * f) % 251).toInt, x, y))

  /** Attach REAL RIFF/AVI payloads derived deterministically from the
    * id column; the encode runs in executors like the image variants.
    */
  def attachAviPayload(spark: SparkSession, df: DataFrame, idCol: String): DataFrame =
    attachSynthetic(spark, df, idCol, "video/avi")(syntheticAvi)

  /** Partition-batched video feature extraction, same shape as
    * [[extractFeatures]]/[[extractAudioFeatures]].
    */
  def extractVideoFeatures(spark: SparkSession, withPayload: DataFrame): Dataset[VideoFeatures] = {
    import spark.implicits._
    mediaRows(spark, withPayload).mapPartitions(decodeVideo)
  }

  /** A w×h RGB image whose pixel (x, y) is `rgb(x, y)` (0xRRGGBB). */
  private def rgbImage(w: Int, h: Int)(rgb: (Int, Int) => Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb(x, y)); x += 1 }
      y += 1
    }
    img
  }

  /** Deterministic tiny RGB image for the real-decode gate: w x h from
    * the id, pixel (0,0) COLORED (r,g,b) = (id, 2id, 3id) mod 251 —
    * unequal channels, so a decode that reads only one channel cannot
    * match — every other pixel gray g = id % 251. A correct decode must
    * read the actual raster, not just the header; closed form for the
    * oracle: mean = (3g*(wh-1) + r0+g0+b0) / (3wh).
    */
  private[graft] def syntheticImage(id: Long): java.awt.image.BufferedImage =
    rgbImage((1 + id % 7).toInt, (1 + id % 5).toInt)(
      (x, y) => fixtureRgb(id, (id % 251).toInt, x, y))

  private[graft] def encodeImage(img: java.awt.image.BufferedImage,
                                 format: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    // write returns false when no writer handles the format — an empty
    // payload would then quietly decode via the fake path downstream
    require(javax.imageio.ImageIO.write(img, format, bos),
      s"no ImageIO writer for format '$format'")
    bos.toByteArray
  }

  /** Attach REAL compressed image payloads derived deterministically from
    * the id column, encoded in executors ([[attachSynthetic]]).
    */
  private def attachImagePayload(spark: SparkSession, df: DataFrame, idCol: String,
                                 writerFormat: String, mime: String): DataFrame =
    attachSynthetic(spark, df, idCol, mime)(id => encodeImage(syntheticImage(id), writerFormat))

  def attachPngPayload(spark: SparkSession, df: DataFrame, idCol: String): DataFrame =
    attachImagePayload(spark, df, idCol, "png", "image/png")

  /** JPEG variant — the JDK ships a native JPEG codec, so decode is real
    * here too. JPEG is LOSSY: header dims round-trip exactly (they gate
    * the oracle query) but raster values may shift a little, so the
    * mean-pixel check lives in a tolerance-bounded spec, not the
    * hash-exact gate.
    */
  def attachJpegPayload(spark: SparkSession, df: DataFrame, idCol: String): DataFrame =
    attachImagePayload(spark, df, idCol, "jpg", "image/jpeg")

  /** GIF variant — the JDK ships a native GIF codec. GIF is
    * PALETTE-indexed (<=256 colors): the synthetic fixtures use at most
    * two distinct colors, so the JDK writer's palette holds them
    * exactly and the raster round-trips losslessly, letting the gate
    * cover the decoded mean like PNG/BMP.
    */
  def attachGifPayload(spark: SparkSession, df: DataFrame, idCol: String): DataFrame =
    attachImagePayload(spark, df, idCol, "gif", "image/gif")

  /** Partition-batched feature extraction over the payload column: the
    * Scala analogue of `mapInPandas` — one decode call per partition batch,
    * typed Dataset in/out. Routes through [[decodeMedia]]: real ImageIO
    * decode for image payloads, deterministic fake for the rest (a null
    * payload gives `(id, 0, 0, 0, 0.0)`).
    */
  def extractFeatures(spark: SparkSession, withPayload: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    mediaRows(spark, withPayload).mapPartitions(decodeMedia)
  }

  // ----------------------------------------------------------- scene cuts

  final case class SceneCut(id: Long, frame: Int, diff: Long)

  /** Shot-boundary (scene-cut) detection over AVI/DIB payloads — the
    * video segmentation primitive (frame-sampling for captioning,
    * per-shot dedup): decode each DIB frame's exact pixel-byte sum with
    * the same bounds-checked RIFF walk as [[decodeVideo]] ([[aviFrames]]),
    * take each frame's integer mean brightness (sum / 3wh), and report
    * every frame whose |mean − previous mean| reaches `threshold` — the
    * classic mean-intensity cut detector, integer end-to-end. Payloads
    * that fail the walk contribute nothing (one bad blob degrades one
    * row, never the task).
    *
    * @return (id, frame: int — index of the frame AFTER the cut,
    *         diff: long)
    */
  def sceneCuts(spark: SparkSession, withPayload: DataFrame,
                threshold: Long): Dataset[SceneCut] = {
    import spark.implicits._
    require(threshold >= 1L, "threshold must be at least 1")
    mediaRows(spark, withPayload).mapPartitions(_.flatMap { r =>
      val means = new scala.collection.mutable.ArrayBuilder.ofLong
      if (aviFrames(r) { (w, h, s) => means += s / (3L * w * h) }.isEmpty) Iterator.empty
      else {
        val m = means.result()
        (1 until m.length).iterator.flatMap { f =>
          val d = math.abs(m(f) - m(f - 1))
          if (d >= threshold) Some(SceneCut(r.id, f, d)) else None
        }
      }
    })
  }

  /** Deterministic 24-frame 8×6 AVI "clip": every frame a uniform gray
    * `g(f) = (b mod 40) + (f ÷ 8)·70 + (f mod 8)` with `b = id mod 100`
    * — three 8-frame scenes drifting +1 per frame with +63 jumps at
    * frames 8 and 16, the planted cuts (values stay < 251, so no mod
    * wrap ever fakes a cut). Built by the same RIFF writer as
    * [[syntheticAvi]]; the closed form is what the oracle evaluates.
    */
  private[graft] def syntheticClip(id: Long): Array[Byte] =
    aviOf(8, 6, 24) { (f, _, _) =>
      val g = ((id % 100 % 40) + (f / 8) * 70 + (f % 8)).toInt
      (g << 16) | (g << 8) | g
    }

  /** Attach synthetic-clip AVI payloads for the scene-cut gate. */
  def attachClipPayload(spark: SparkSession, df: DataFrame, idCol: String): DataFrame =
    attachSynthetic(spark, df, idCol, "video/avi")(syntheticClip)

  // ------------------------------------------------------ perceptual hash

  final case class PHash(id: Long, phash_hi: Long, phash_lo: Long)

  /** 64-bit difference hash (dHash) of a decoded image, split into two
    * 32-bit halves so the value survives every signed-64 engine (a full
    * 64-bit hash would need bit 63 — negative in a BIGINT, overflow in
    * an exact-integer oracle sum). The image is area-downsampled to a
    * 9×8 grid with PURE INTEGER arithmetic — block bounds `i·w/9` /
    * `j·h/8` by integer division, block mean = pixel-gray sum over the
    * block divided (integer) by its pixel count, gray = (r+g+b)/3 —
    * so for a losslessly-coded payload the hash is bit-reproducible
    * from the raster alone (no float resampling kernels). Bit (j·8+i)
    * is set when the block right of (i,j) is strictly brighter — the
    * standard horizontal-gradient dHash, invariant to global brightness
    * scaling and tolerant of small local edits.
    *
    * Returns None for images smaller than the 9×8 grid (no defined
    * hash) — callers drop them rather than hashing garbage.
    */
  private[graft] def dHash(img: java.awt.image.BufferedImage): Option[(Long, Long)] = {
    val w = img.getWidth
    val h = img.getHeight
    if (w < 9 || h < 8) return None
    val means = Array.ofDim[Long](9, 8)
    var i = 0
    while (i < 9) {
      var j = 0
      while (j < 8) {
        val x0 = i * w / 9; val x1 = (i + 1) * w / 9
        val y0 = j * h / 8; val y1 = (j + 1) * h / 8
        var sum = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val rgb = img.getRGB(x, y)
            // per-pixel integer gray, as documented — for r=g=b this is
            // exactly the channel value
            sum += (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
            x += 1
          }
          y += 1
        }
        means(i)(j) = sum / ((x1 - x0).toLong * (y1 - y0))
        j += 1
      }
      i += 1
    }
    var hi = 0L
    var lo = 0L
    var jj = 0
    while (jj < 8) {
      var ii = 0
      while (ii < 8) {
        if (means(ii + 1)(jj) > means(ii)(jj)) {
          if (jj >= 4) hi |= 1L << ((jj - 4) * 8 + ii)
          else lo |= 1L << (jj * 8 + ii)
        }
        ii += 1
      }
      jj += 1
    }
    Some((hi, lo))
  }

  /** Partition-batched perceptual hashing over image payloads — the
    * image-dedup front half ([[phashNearDup]] is the pairing back half):
    * decode (codec work, correctly `mapPartitions`, payloads never leave
    * executors) → [[dHash]]. Undecodable or sub-grid images are dropped.
    */
  def perceptualHash(spark: SparkSession, withPayload: DataFrame): Dataset[PHash] = {
    import spark.implicits._
    mediaRows(spark, withPayload).mapPartitions(_.flatMap { r =>
      try {
        val img = readImageBounded(r.payload)
        if (img == null) None
        else dHash(img).map { case (hi, lo) => PHash(r.id, hi, lo) }
      } catch { case scala.util.control.NonFatal(_) => None }
    })
  }

  /** The band count [[phashNearDup]] uses for a radius: pigeonhole
    * guarantees recall 1.0 only with ≥ maxHamming+1 bands (flipping
    * ≤ maxHamming bits cannot touch every band), so pick the SMALLEST
    * of 4 / 8 / 16 equal-width bands that satisfies it — the widest
    * (most selective) keys the guarantee allows: 16-bit keys up to
    * radius 3, 8-bit up to 7, 4-bit up to 15.
    */
  private[graft] def phashBandsFor(maxHamming: Int): Int = {
    require(maxHamming >= 0 && maxHamming <= 15,
      "maxHamming must be in [0, 15] — beyond 15 the guaranteed banding " +
        "degenerates to 2-bit keys; use a different candidate generator")
    Seq(4, 8, 16).find(_ >= maxHamming + 1).get
  }

  /** Near-duplicate image pairs from perceptual hashes: band the 64
    * bits into equal-width keys — the band COUNT is derived from the
    * radius ([[phashBandsFor]]), so the pigeonhole guarantee (any pair
    * within `maxHamming` shares at least one intact band) holds for
    * every accepted radius and recall is exactly 1.0, never a silent
    * trade. Candidates are generated ONLY through shared band buckets —
    * never all pairs — then verified with the exact Hamming distance
    * (`bit_count(xor)`, codegen'd), keeping pairs ≤ `maxHamming`.
    *
    * @return (id1, id2, hamming) with id1 < id2
    */
  def phashNearDup(hashes: DataFrame, maxHamming: Int): DataFrame = {
    val nBands = phashBandsFor(maxHamming)
    val width = 64 / nBands
    val mask = (1L << width) - 1L
    val perHalf = 32 / width // bands per 32-bit half; width ≤ 16 so ≥ 2
    val bandStructs = (0 until nBands).map { k =>
      val src = if (k < perHalf) col("phash_lo") else col("phash_hi")
      val shift = (k % perHalf) * width
      struct(lit(k).as("band"),
        shiftright(src, shift).bitwiseAND(lit(mask)).as("key"))
    }
    val banded = hashes.select(col("id"), col("phash_hi"), col("phash_lo"),
      explode(array(bandStructs: _*)).as("b"))
      .select(col("id"), col("phash_hi"), col("phash_lo"),
        col("b.band").as("band"), col("b.key").as("key"))
    val l = banded.select(col("id").as("id1"), col("phash_hi").as("h1"),
      col("phash_lo").as("l1"), col("band"), col("key"))
    val r = banded.select(col("id").as("id2"), col("phash_hi").as("h2"),
      col("phash_lo").as("l2"), col("band"), col("key"))
    l.join(r, Seq("band", "key"))
      .where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        (bit_count(col("h1").bitwiseXOR(col("h2"))) +
          bit_count(col("l1").bitwiseXOR(col("l2")))).cast("int").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** 36×32 synthetic "photo": gray gradient pattern
    * `p(x,y) = (b·(x+1)·(y+3) + x² + b) mod 251` with `b = id mod 100`,
    * so ids 100 apart are EXACT pixel copies — the planted duplicates
    * the pHash gates must find. The closed form is what the DuckDB
    * oracle evaluates; 36×32 divides the 9×8 dHash grid into exact 4×4
    * blocks, keeping the downsample integer-exact end to end.
    */
  private[graft] def syntheticPhoto(id: Long): java.awt.image.BufferedImage = {
    val b = id % 100
    rgbImage(36, 32) { (x, y) =>
      val p = ((b * (x + 1) * (y + 3) + x.toLong * x + b) % 251L).toInt
      (p << 16) | (p << 8) | p
    }
  }

  /** Attach losslessly-coded (PNG) synthetic photos for the pHash gates
    * — encode in executors like every payload attach here.
    */
  def attachPhotoPayload(spark: SparkSession, df: DataFrame, idCol: String): DataFrame =
    attachSynthetic(spark, df, idCol, "image/png")(id => encodeImage(syntheticPhoto(id), "png"))

  /** Mixed-modality payload attachment: modality assigned
    * deterministically from the id (stand-in for real mime sniffing on
    * `binaryFile` reads).
    */
  def attachMixedPayload(df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.Partitioning.spread(df).select(
      col(idCol).as("id"),
      encode(col(textCol), "UTF-8").as("payload"),
      struct(
        length(encode(col(textCol), "UTF-8")).cast("long").as("n_bytes"),
        when(col(idCol) % 3 === 0, "image/png")
          .when(col(idCol) % 3 === 1, "audio/wav")
          .otherwise("video/mp4").as("format")).as("meta"))

  final case class ModalFeatures(id: Long, modality: String, n_bytes: Long,
                                 feature: Double)

  /** Modality dispatch: ONE pass over a mixed-media corpus, routing each
    * row to its modality's decoder inside the partition iterator. The
    * alternative — a filtered scan per modality — reads the corpus M
    * times; dispatch reads it once and keeps every decoder co-resident
    * per executor. Decoders are the honest stubs (real ones sit behind
    * the same `MediaRow => feature` boundary):
    * image → first-two-byte dimension product, audio → mean amplitude,
    * video → payload size; a null payload reads as empty (`n_bytes` 0,
    * feature 0.0).
    */
  def dispatchFeatures(spark: SparkSession, withPayload: DataFrame): Dataset[ModalFeatures] = {
    import spark.implicits._
    mediaRows(spark, withPayload).mapPartitions(_.map { r =>
      val b = r.payload
      val modality = r.format.takeWhile(_ != '/')
      val feature = modality match {
        case "image" => (byteAt(b, 0) * byteAt(b, 1)).toDouble
        case "audio" => byteMean(b)
        case _ => nBytes(b).toDouble
      }
      ModalFeatures(r.id, modality, nBytes(b), feature)
    })
  }

  final case class FrameRow(id: Long, frame_idx: Int, frame: Array[Byte])
  final case class FrameFeatures(id: Long, frame_idx: Int, n_bytes: Long, mean_byte: Double)

  /** Frame-sampling stage (the video-pipeline shape: decode → sample →
    * per-frame features): split the payload into fixed `frameBytes`
    * blocks and keep every `stride`-th one. Payloads never leave
    * executors; output is one row per kept frame — a flatMap, no shuffle.
    * The "codec" is the honest stub (byte blocks as frames); a null
    * payload has no frames.
    */
  def sampleFrames(spark: SparkSession, withPayload: DataFrame,
                   frameBytes: Int = 64, stride: Int = 2): Dataset[FrameRow] = {
    import spark.implicits._
    withPayload.select(col("id"), col("payload")).as[(Long, Array[Byte])]
      .flatMap { case (id, p) =>
        (if (p == null) Iterator.empty else p.grouped(frameBytes)).zipWithIndex.collect {
          case (blk, i) if i % stride == 0 => FrameRow(id, i, blk)
        }
      }
  }

  def frameFeatures(frames: Dataset[FrameRow]): Dataset[FrameFeatures] = {
    import frames.sparkSession.implicits._
    frames.map(f => FrameFeatures(f.id, f.frame_idx, nBytes(f.frame), byteMean(f.frame)))
  }

  final case class ResizedDims(id: Long, width: Int, height: Int, out_w: Int, out_h: Int)

  /** Resize stage (dimension arithmetic only — the pixel work is behind
    * the stubbed codec): fit (width, height) into (maxW, maxH) preserving
    * aspect ratio, never upscaling. Pure integer math (permille scale)
    * so results are byte-reproducible in any engine.
    */
  def resizeDims(feats: Dataset[MediaFeatures], maxW: Int, maxH: Int): Dataset[ResizedDims] = {
    import feats.sparkSession.implicits._
    feats.map { f =>
      val w = math.max(f.width, 1)
      val h = math.max(f.height, 1)
      val s = math.min(1000L, math.min(maxW * 1000L / w, maxH * 1000L / h))
      ResizedDims(f.id, f.width, f.height, (w * s / 1000L).toInt, (h * s / 1000L).toInt)
    }
  }
}
