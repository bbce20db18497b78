package graft.multimodal

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: media (image/audio/video) as opaque `binary`
  * columns with typed metadata, processed by a pluggable per-partition
  * decoder.
  *
  * The Spark-side shape is the deliverable — schema, partition batching,
  * decoder signature — with two [[MediaDecoder]] instances behind it:
  * [[ImageIoDecoder]], a REAL pure-JVM image decode (javax.imageio — PNG
  * and friends, true pixel dims + channel moments), and [[StubDecoder]],
  * a deterministic byte-statistics fake whose arithmetic is SQL-replicable
  * and therefore carries the DuckDB oracle (media decoding itself has no
  * cross-engine oracle). Audio/video codecs aren't in this container —
  * swapping in ffmpeg/JNI changes only the decoder instance, not the
  * pipeline.
  */
object MultimodalOps {

  /** ImageIO defaults to a DISK-backed stream cache — every
    * encode/decode creates and deletes a temp FILE. The in-memory cache
    * is 3.5× faster per call single-threaded (5000 PNG encode+decodes
    * 0.95 s → 0.27 s warm; OPTIMIZATION_r16.md, "Retired measurement
    * tools") and removes filesystem contention across 32 executor
    * threads. JVM-global and idempotent; every synth/decode closure
    * references this lazy val so each executor JVM flips it exactly once
    * (r16, guide §1.2 per-task work). */
  private[multimodal] lazy val imageIoInMemory: Unit =
    javax.imageio.ImageIO.setUseCache(false)

  /** Round-robin-spread a narrow id frame across the session's shuffle
    * parallelism before CPU-dense media synth/decode (r15): the
    * documents parquet is one small split — a single scan partition —
    * so every ImageIO/PNG/WAV/GFV1 encode+decode in the registered
    * media corpora ran on ONE core. The spread is a tiny shuffle of id
    * rows (the blobs are synthesized AFTER it, on the spread
    * partitions, and the library decode entries inherit the layout
    * through their narrow maps). Partition count is the session's
    * shuffle-partition setting — the cluster-scale knob, never a
    * local[*] constant; at real scale a many-split media table simply
    * pays one cheap id shuffle. Deterministic per row (the synth is a
    * pure function of the id), so placement cannot affect results. */
  private[multimodal] def spreadIds(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions)


  /** One decoded media record. */
  final case class MediaFeatures(
      nBytes: Long, format: String, width: Int, height: Int,
      features: Array[Float])

  /** Decoder contract: called once per partition with an iterator of blobs —
    * implementations amortize codec/model init across the whole partition
    * (the mapInPandas batching idiom, natively in Scala). */
  trait MediaDecoder extends Serializable {
    def decodePartition(blobs: Iterator[(Long, Array[Byte])])
        : Iterator[(Long, MediaFeatures)]
  }

  /** STUB decoder — deterministic fake decode: "dimensions" and an 8-dim
    * "feature vector" derived from byte statistics. Marks where a real
    * image/audio codec would run. */
  object StubDecoder extends MediaDecoder {
    override def decodePartition(blobs: Iterator[(Long, Array[Byte])])
        : Iterator[(Long, MediaFeatures)] =
      blobs.map { case (id, rawBytes) =>
        // a null blob column value decodes like an empty blob, never an NPE
        val bytes = if (rawBytes == null) Array.emptyByteArray else rawBytes
        val n = bytes.length
        val sum = bytes.foldLeft(0L)((a, b) => a + (b & 0xff))
        // feature i = mean contribution of bytes at positions ≡ i (mod 8):
        // exact integer sum → one double division → float32 quantization.
        // This arithmetic shape is cross-engine replicable (the oracle does
        // the identical int-sum / double-divide / float-cast), unlike a
        // float-accumulated sum whose rounding is order-dependent.
        val feats = Array.tabulate(8) { i =>
          if (n == 0) 0f
          else {
            var s = 0L
            var j = i
            while (j < n) { s += bytes(j) & 0xff; j += 8 }
            (s.toDouble / n).toFloat
          }
        }
        id -> MediaFeatures(n.toLong, "stub",
          width = (sum % 640).toInt, height = (sum % 480).toInt, feats)
      }
  }

  /** REAL pure-JVM image decoder over javax.imageio (PNG/GIF/BMP/JPEG —
    * whatever ImageIO service providers the JRE ships). Per blob:
    * container format name, true pixel dimensions, and an 8-dim feature
    * vector of exact-integer channel moments (mean A/R/G/B, mean luma,
    * luma second moment, width, height) — the same
    * int-sum → double-divide → float-cast arithmetic shape as
    * [[StubDecoder]], so features are deterministic and replicable.
    * Undecodable blobs map to format "unknown" with -1 dims rather than
    * failing the partition (a 100 TB scrape always contains garbage).
    * ImageIO's reader registry is JVM-static, so per-partition amortization
    * needs no extra state. */
  object ImageIoDecoder extends MediaDecoder {
    override def decodePartition(blobs: Iterator[(Long, Array[Byte])])
        : Iterator[(Long, MediaFeatures)] =
      blobs.map { case (id, bytes) => id -> decodeOne(bytes) }

    private def decodeOne(rawBytes: Array[Byte]): MediaFeatures = {
      imageIoInMemory
      // null blob → classified "unknown" like any other undecodable garbage
      val bytes = if (rawBytes == null) Array.emptyByteArray else rawBytes
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext)
          return MediaFeatures(bytes.length.toLong, "unknown", -1, -1,
            Array.fill(8)(0f))
        val reader = readers.next()
        try {
          reader.setInput(iis)
          val fmt = reader.getFormatName.toLowerCase
          val img = reader.read(0)
          val w = img.getWidth
          val h = img.getHeight
          var sa, sr, sg, sb, sl, sll = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val p = img.getRGB(x, y) // ARGB, color-model-converted
              val a = (p >>> 24) & 0xff
              val r = (p >>> 16) & 0xff
              val g = (p >>> 8) & 0xff
              val b = p & 0xff
              // integer-weighted luma (ITU-R 601 in 1/1000ths) keeps the
              // sums exact, so the float features are order-independent
              val l = 299L * r + 587L * g + 114L * b
              sa += a; sr += r; sg += g; sb += b; sl += l; sll += l * l / 1000L
              x += 1
            }
            y += 1
          }
          val n = w.toLong * h
          def m(s: Long) = if (n == 0) 0f else (s.toDouble / n).toFloat
          MediaFeatures(bytes.length.toLong, fmt, w, h,
            Array(m(sa), m(sr), m(sg), m(sb), m(sl / 1000L), m(sll / 1000L),
              w.toFloat, h.toFloat))
        } finally reader.dispose()
      } catch {
        case scala.util.control.NonFatal(_) =>
          MediaFeatures(bytes.length.toLong, "unknown", -1, -1,
            Array.fill(8)(0f))
      } finally iis.close()
    }
  }

  /** REAL pure-JVM AUDIO decoder for PCM WAV: manual RIFF chunk walk (no
    * codec library needed for uncompressed PCM — the container format is a
    * public spec): validates RIFF/WAVE, reads `fmt ` (must be audioFormat 1,
    * 16-bit) and `data`, then computes exact-integer sample statistics. The
    * media-schema mapping for audio: width := sample rate (Hz), height :=
    * channels; features = [nSamples, durationMs, mean, rms, peakAbs,
    * zeroCrossings, bits, channels] — all from exact integer sums with one
    * double divide (and one correctly-rounded sqrt for rms) before the
    * float32 cast, the same order-independent arithmetic contract as
    * [[ImageIoDecoder]]. Non-RIFF / compressed / truncated blobs map to
    * "unknown" rather than failing the partition. */
  object WavDecoder extends MediaDecoder {
    override def decodePartition(blobs: Iterator[(Long, Array[Byte])])
        : Iterator[(Long, MediaFeatures)] =
      blobs.map { case (id, bytes) => id -> decodeOne(bytes) }

    private def le16(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    private def le32(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
      ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
    private def tag(b: Array[Byte], o: Int): String =
      new String(b.slice(o, o + 4), java.nio.charset.StandardCharsets.US_ASCII)

    private def unknown(n: Long) =
      MediaFeatures(n, "unknown", -1, -1, Array.fill(8)(0f))

    /** RIFF walk shared by the clip-level decode and the frame-level
      * feature op: (sampleRate, channels, dataOffset, nSamples) for a valid
      * 16-bit PCM mono/multi WAV, None otherwise. A null blob column value
      * is "not a WAV" (None → classified invalid/skipped by callers), never
      * an NPE that kills the whole partition. */
    private[multimodal] def pcmInfo(bytes: Array[Byte])
        : Option[(Int, Int, Int, Int)] = {
      if (bytes == null || bytes.length < 44 ||
          tag(bytes, 0) != "RIFF" || tag(bytes, 8) != "WAVE")
        return None
      var off = 12
      var rate = 0
      var channels = 0
      var bits = 0
      var pcm = false
      var dataOff = -1
      var dataLen = 0
      while (off + 8 <= bytes.length) {
        val id = tag(bytes, off)
        val size = le32(bytes, off + 4)
        if (size < 0 || off + 8 + size > bytes.length) return None
        if (id == "fmt " && size >= 16) {
          pcm = le16(bytes, off + 8) == 1
          channels = le16(bytes, off + 10)
          rate = le32(bytes, off + 12)
          bits = le16(bytes, off + 22)
        } else if (id == "data") {
          dataOff = off + 8
          dataLen = size
        }
        off += 8 + size + (size & 1) // chunks are word-aligned
      }
      if (!pcm || bits != 16 || rate <= 0 || channels <= 0 || dataOff < 0) None
      else Some((rate, channels, dataOff, dataLen / 2))
    }

    private[multimodal] def sampleAt(bytes: Array[Byte], dataOff: Int,
        j: Int): Long = le16(bytes, dataOff + 2 * j).toShort.toLong

    private def decodeOne(bytes: Array[Byte]): MediaFeatures = {
      val nb = if (bytes == null) 0L else bytes.length.toLong
      val info = pcmInfo(bytes)
      if (info.isEmpty) return unknown(nb)
      val (rate, channels, dataOff, n) = info.get
      val bits = 16
      var sum = 0L
      var sumSq = 0L
      var peak = 0L
      var zc = 0L
      var prevNonNeg = true
      var j = 0
      while (j < n) {
        val s = le16(bytes, dataOff + 2 * j).toShort.toLong
        sum += s
        sumSq += s * s
        val a = math.abs(s)
        if (a > peak) peak = a
        val nonNeg = s >= 0
        if (j > 0 && nonNeg != prevNonNeg) zc += 1
        prevNonNeg = nonNeg
        j += 1
      }
      def m(num: Long) = if (n == 0) 0f else (num.toDouble / n).toFloat
      val frames = n / channels
      MediaFeatures(nb, "wav", width = rate, height = channels,
        Array(n.toFloat,
          (frames * 1000.0 / rate).toFloat,
          m(sum),
          (if (n == 0) 0f else math.sqrt(sumSq.toDouble / n).toFloat),
          peak.toFloat, zc.toFloat, bits.toFloat, channels.toFloat))
    }
  }

  /** Compressed-audio decoder behind the same [[MediaDecoder]] seam:
    * shells out to an `ffmpeg` binary to demux + decode any compressed
    * container (MP3/AAC/OGG/M4A/WAV …) to mono 16-bit PCM at a fixed rate,
    * then computes the SAME exact-integer statistic family as
    * [[WavDecoder]]. This container ships no codecs (neither does the
    * reference's docker/base-image/Dockerfile), so availability is a
    * RUNTIME property: [[available]] probes the PATH once per JVM, and when
    * the binary is absent every blob classifies as "unknown" — the decoder
    * degrades exactly like an undecodable blob instead of failing the job,
    * so pipelines and specs behave in both environments. Per-partition
    * process reuse would be the next step at scale (one ffmpeg per blob is
    * the simple correct form; the seam hides either choice). */
  object FfmpegAudioDecoder extends MediaDecoder {
    val SampleRate = 16000

    /** Probed lazily once per JVM (executors probe independently). */
    lazy val available: Boolean =
      try {
        val p = new ProcessBuilder("ffmpeg", "-version")
          .redirectErrorStream(true).start()
        p.getInputStream.readAllBytes()
        p.waitFor() == 0
      } catch { case _: Exception => false }

    private def unknown(n: Long) =
      MediaFeatures(n, "unknown", -1, -1, Array.fill(8)(0f))

    /** Watchdog for hung decodes — shared daemon timer, one task per blob. */
    private lazy val watchdog = new java.util.Timer("ffmpeg-watchdog", true)
    private val DecodeTimeoutMs = 60000L

    override def decodePartition(blobs: Iterator[(Long, Array[Byte])])
        : Iterator[(Long, MediaFeatures)] =
      blobs.map { case (id, bytes) => id -> decodeOne(bytes) }

    private def decodeOne(bytes: Array[Byte]): MediaFeatures = {
      if (bytes == null || bytes.isEmpty || !available)
        return unknown(if (bytes == null) 0L else bytes.length.toLong)
      val nb = bytes.length.toLong
      try {
        // stderr MUST be discarded: a corrupt blob can make ffmpeg emit more
        // error text than the pipe buffer (~64 KB); with nobody draining it,
        // ffmpeg blocks on stderr while we block on stdout — a deadlocked
        // Spark task. DISCARD keeps stdout (the PCM stream) separate/clean.
        val p = new ProcessBuilder("ffmpeg", "-hide_banner",
          "-loglevel", "error", "-i", "pipe:0", "-f", "s16le", "-ac", "1",
          "-ar", SampleRate.toString, "pipe:1")
          .redirectError(ProcessBuilder.Redirect.DISCARD).start()
        // belt-and-braces: if ffmpeg wedges anyway (no output, no exit), a
        // watchdog kills it so the task degrades to "unknown", never hangs
        val kill = new java.util.TimerTask {
          def run(): Unit = p.destroyForcibly()
        }
        watchdog.schedule(kill, DecodeTimeoutMs)
        // feed stdin from a helper thread — writing and reading the same
        // process from one thread deadlocks once either pipe buffer fills
        val writer = new Thread(() => {
          try { p.getOutputStream.write(bytes); p.getOutputStream.close() }
          catch { case _: java.io.IOException => () } // decoder died early
        })
        writer.setDaemon(true)
        writer.start()
        val pcm = try p.getInputStream.readAllBytes() finally kill.cancel()
        writer.join()
        if (p.waitFor() != 0 || pcm.length < 2) return unknown(nb)
        val n = pcm.length / 2
        var sum = 0L; var sumSq = 0L; var peak = 0L; var zc = 0L
        var prevNonNeg = true
        var j = 0
        while (j < n) {
          val s = (((pcm(2 * j) & 0xff) | ((pcm(2 * j + 1) & 0xff) << 8))
            .toShort).toLong
          sum += s; sumSq += s * s
          val a = math.abs(s)
          if (a > peak) peak = a
          val nonNeg = s >= 0
          if (j > 0 && nonNeg != prevNonNeg) zc += 1
          prevNonNeg = nonNeg
          j += 1
        }
        def m(num: Long) = if (n == 0) 0f else (num.toDouble / n).toFloat
        MediaFeatures(nb, "ffmpeg/pcm16", width = SampleRate, height = 1,
          Array(n.toFloat, (n * 1000.0 / SampleRate).toFloat, m(sum),
            (if (n == 0) 0f else math.sqrt(sumSq.toDouble / n).toFloat),
            peak.toFloat, zc.toFloat, 16f, 1f))
      } catch { case scala.util.control.NonFatal(_) => unknown(nb) }
    }
  }

  /** Serialize mono 16-bit PCM to a canonical 44-byte-header WAV blob —
    * the ingest side of the audio path (and the deterministic generator the
    * q_mm_wav oracle replays). */
  def pcm16Wav(samples: Array[Short], sampleRate: Int): Array[Byte] = {
    val dataLen = samples.length * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes).putInt(36 + dataLen).put("WAVE".getBytes)
    buf.put("fmt ".getBytes).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(sampleRate).putInt(sampleRate * 2) // byte rate
      .putShort(2).putShort(16) // block align, bits
    buf.put("data".getBytes).putInt(dataLen)
    samples.foreach(buf.putShort)
    buf.array()
  }

  val wavFrameSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("frame_id", LongType),
    StructField("n_samples", LongType),
    StructField("rms", FloatType),
    StructField("peak", LongType),
    StructField("zero_crossings", LongType)))

  /** Frame-level audio features — what a real audio feature extractor
    * emits (clip-level stats hide structure; VAD / energy gating / silence
    * trimming all work on frames): non-overlapping `frameSamples`-sample
    * windows over the decoded PCM, per frame the exact-integer RMS, peak,
    * and zero-crossing count (crossings counted within the frame, so frames
    * are independently recomputable). Ragged tail kept. Invalid blobs
    * contribute no rows rather than failing the partition (the decoder
    * contract).
    *
    * MONO ONLY: the PCM data chunk is a flat sample stream, so framing a
    * multi-channel WAV would window across interleaved channels and mix
    * channels inside every RMS/zero-crossing — semantically wrong, so
    * channels != 1 blobs are skipped like invalid blobs. (Per-channel
    * de-interleaving is the decoder-seam extension if stereo is needed.)
    * Absence from this table is therefore ambiguous between "corrupt" and
    * "stereo policy skip" — join [[wavFrameCoverage]] when a pipeline
    * needs to tell them apart.
    *
    * Scale: mapPartitions decode, one output row per frame — linear in
    * audio duration, no shuffle; the frame rows carry only 6 scalars. */
  def wavFrameFeatures(df: DataFrame, idCol: String, blobCol: String,
      frameSamples: Int = 80): DataFrame = {
    require(frameSamples >= 1, "frameSamples must be >= 1")
    val spark = df.sparkSession
    val rows = df.select(col(idCol).cast("long"), col(blobCol)).rdd
      .mapPartitions(_.flatMap { r =>
        val id = r.getLong(0)
        val bytes = r.getAs[Array[Byte]](1)
        WavDecoder.pcmInfo(bytes).iterator
          .filter { case (_, channels, _, _) => channels == 1 }
          .flatMap { case (_, _, dataOff, n) =>
          val nFrames = (n + frameSamples - 1) / frameSamples
          (0 until nFrames).iterator.map { f =>
            val from = f * frameSamples
            val until = math.min(from + frameSamples, n)
            var sumSq = 0L
            var peak = 0L
            var zc = 0L
            var j = from
            var prevNonNeg = true
            while (j < until) {
              val s = WavDecoder.sampleAt(bytes, dataOff, j)
              sumSq += s * s
              val a = math.abs(s)
              if (a > peak) peak = a
              val nonNeg = s >= 0
              if (j > from && nonNeg != prevNonNeg) zc += 1
              prevNonNeg = nonNeg
              j += 1
            }
            val len = until - from
            Row(id, f.toLong, len.toLong,
              math.sqrt(sumSq.toDouble / len).toFloat, peak, zc)
          }
        }
      })
    spark.createDataFrame(rows, wavFrameSchema)
  }

  /** Per-blob status companion to [[wavFrameFeatures]]: "ok" (mono PCM,
    * frames emitted), "multichannel" (valid PCM skipped by the mono-only
    * policy), or "invalid" (not decodable 16-bit PCM) — so a pipeline can
    * distinguish a policy skip from corruption instead of inferring from
    * absence. Same mapPartitions shape, no shuffle. */
  def wavFrameCoverage(df: DataFrame, idCol: String,
      blobCol: String): DataFrame = {
    val spark = df.sparkSession
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("status", StringType)))
    val rows = df.select(col(idCol).cast("long"), col(blobCol)).rdd
      .mapPartitions(_.map { r =>
        val status = WavDecoder.pcmInfo(r.getAs[Array[Byte]](1)) match {
          case None => "invalid"
          case Some((_, channels, _, _)) =>
            if (channels == 1) "ok" else "multichannel"
        }
        Row(r.getLong(0), status)
      })
    spark.createDataFrame(rows, schema)
  }

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("n_bytes", LongType),
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("features", ArrayType(FloatType))))

  // -- video: frame container + stride sampling ---------------------------

  /** Minimal length-prefixed frame container ("GFV1": magic + LE frame
    * count + per-frame LE length + payload). Real video codecs aren't in
    * this container image, but the VIDEO-SHAPED plumbing — container parse,
    * stride frame sampling, per-frame decode through any [[MediaDecoder]],
    * temporal feature aggregation — is the deliverable (the brief's
    * "frame-sample" step), and the per-frame decode is real (ImageIO for
    * PNG payloads). Swapping in an MP4 demuxer changes only [[videoFrames]]. */
  def gfv1(frames: Seq[Array[Byte]]): Array[Byte] = {
    val total = 8 + frames.map(4 + _.length).sum
    val buf = java.nio.ByteBuffer.allocate(total)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("GFV1".getBytes).putInt(frames.length)
    frames.foreach { f => buf.putInt(f.length); buf.put(f) }
    buf.array()
  }

  /** Parse a GFV1 blob: (frameCount, frames) or None if malformed. */
  def videoFrames(bytes: Array[Byte]): Option[(Int, Vector[Array[Byte]])] = {
    if (bytes == null || bytes.length < 8 ||
        new String(bytes.slice(0, 4), java.nio.charset.StandardCharsets.US_ASCII) != "GFV1")
      return None
    val buf = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.position(4)
    val n = buf.getInt
    if (n < 0) return None
    val out = Vector.newBuilder[Array[Byte]]
    var i = 0
    while (i < n) {
      if (buf.remaining() < 4) return None
      val len = buf.getInt
      if (len < 0 || buf.remaining() < len) return None
      val f = new Array[Byte](len)
      buf.get(f)
      out += f
      i += 1
    }
    Some((n, out.result()))
  }

  val videoSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("n_bytes", LongType),
    StructField("format", StringType),
    StructField("n_frames", IntegerType),
    StructField("n_sampled", IntegerType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("features", ArrayType(FloatType))))

  /** Stride frame sampling + per-frame decode + temporal mean pooling:
    * sample every `stride`-th frame, decode each with `frameDecoder`, keep
    * the first sampled frame's dims/format and the element-wise mean of the
    * sampled frames' feature vectors (summed in frame order; for
    * [[StubDecoder]] features the per-frame values are exact multiples of
    * 2⁻⁶, so the sum — and therefore the q_mm_video oracle — is exact in
    * any engine). Malformed containers or all-undecodable frames map to
    * "unknown", never failing the partition. */
  def decodeVideoFeatures(df: DataFrame, idCol: String, blobCol: String,
      stride: Int = 2, frameDecoder: MediaDecoder = StubDecoder): DataFrame = {
    require(stride >= 1)
    val spark = df.sparkSession
    val rdd = df.select(col(idCol).cast("long"), col(blobCol).cast("binary"))
      .rdd.map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
      .mapPartitions { it =>
        it.map { case (id, rawBytes) =>
          // null blob → 0-byte "unknown" row, never an NPE
          val bytes = if (rawBytes == null) Array.emptyByteArray else rawBytes
          videoFrames(bytes) match {
            case None =>
              Row(id, bytes.length.toLong, "unknown", -1, -1, -1, -1,
                Seq.fill(8)(0f))
            case Some((nf, frames)) =>
              val sampled = frames.zipWithIndex.filter(_._2 % stride == 0)
              val decoded = frameDecoder.decodePartition(
                sampled.iterator.map { case (f, i) => (i.toLong, f) }).toVector
              if (decoded.isEmpty)
                Row(id, bytes.length.toLong, "gfv1/empty", nf, 0, -1, -1,
                  Seq.fill(8)(0f))
              else {
                val head = decoded.head._2
                val acc = new Array[Double](8)
                decoded.foreach { case (_, mf) =>
                  var i = 0
                  while (i < 8) { acc(i) += mf.features(i); i += 1 }
                }
                Row(id, bytes.length.toLong, s"gfv1/${head.format}", nf,
                  decoded.size, head.width, head.height,
                  acc.map(a => (a / decoded.size).toFloat).toSeq)
              }
          }
        }
      }
    spark.createDataFrame(rdd, videoSchema)
  }

  /** Run a decoder over a (id, binary) frame. Partition-parallel; the blob
    * column never leaves the executor it was read on. */
  def decodeFeatures(df: DataFrame, idCol: String, blobCol: String,
      decoder: MediaDecoder = StubDecoder): DataFrame = {
    val spark = df.sparkSession
    val rdd = df.select(col(idCol).cast("long"), col(blobCol).cast("binary"))
      .rdd.map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
      .mapPartitions(decoder.decodePartition)
      .map { case (id, f) =>
        Row(id, f.nBytes, f.format, f.width, f.height, f.features.toSeq)
      }
    spark.createDataFrame(rdd, mediaSchema)
  }

  /** Image resize (the brief's "resize" step): decode → Graphics2D
    * bilinear scale to (w, h) → re-encode PNG, per partition. Pure JVM, no
    * codec library. Output (media_id, blob, ok): undecodable inputs yield
    * ok = false with an empty blob instead of failing the partition. The
    * resized blob is a real PNG — [[ImageIoDecoder]] round-trips it, which
    * is how the q_mm_resize oracle verifies the plumbing (re-decoded dims
    * must equal the literal targets). */
  def resizeImages(df: DataFrame, idCol: String, blobCol: String,
      w: Int, h: Int): DataFrame = {
    require(w > 0 && h > 0)
    val spark = df.sparkSession
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("blob", BinaryType),
      StructField("ok", BooleanType)))
    val rdd = df.select(col(idCol).cast("long"), col(blobCol).cast("binary"))
      .rdd.map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
      .mapPartitions { it =>
        imageIoInMemory
        it.map { case (id, bytes) =>
          try {
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes))
            if (img == null) Row(id, Array.empty[Byte], false)
            else {
              val out = new java.awt.image.BufferedImage(
                w, h, java.awt.image.BufferedImage.TYPE_INT_ARGB)
              val g = out.createGraphics()
              try {
                g.setRenderingHint(
                  java.awt.RenderingHints.KEY_INTERPOLATION,
                  java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
                g.drawImage(img, 0, 0, w, h, null)
              } finally g.dispose()
              val bos = new java.io.ByteArrayOutputStream()
              javax.imageio.ImageIO.write(out, "png", bos)
              Row(id, bos.toByteArray, true)
            }
          } catch {
            case scala.util.control.NonFatal(_) =>
              Row(id, Array.empty[Byte], false)
          }
        }
      }
    spark.createDataFrame(rdd, schema)
  }

  // -- registered queries -------------------------------------------------

  /** Binary-column plumbing with an oracle on the SQL-expressible parts:
    * byte length and sha256 of the blob (text bytes stand in for media). */
  private val mmBinary = Q(
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"),
        length(col("text").cast("binary")).cast("long").as("n_bytes"),
        sha2(col("text").cast("binary"), 256).as("sha"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
                   sha256(text) AS sha
            FROM documents ORDER BY doc_id"""))

  /** Stub decode through the real mapPartitions pipeline, fully
    * hash-checked: the 8 feature values are emitted as per-feature DOUBLE
    * columns (exact widening of the stored float32 — no float-JSON
    * formatting ambiguity) and the oracle replays the same
    * int-sum/double-divide/float-cast per byte-residue class. */
  private val mmDecode = Q(
    (s, d) => {
      val decoded = decodeFeatures(
        Tables.documents(s, d).withColumn("blob", col("text").cast("binary")),
        "doc_id", "blob")
      decoded.select(
        Seq(col("media_id"), col("n_bytes"), col("format"),
          col("width"), col("height")) ++
        (0 until 8).map(i =>
          element_at(col("features"), i + 1).cast("double").as(s"f$i")): _*)
        .orderBy("media_id")
    },
    Some {
      val feat = (0 until 8).map { i =>
        s"""CASE WHEN length(text) = 0 THEN CAST(0.0 AS DOUBLE)
           ELSE CAST(CAST(CAST(COALESCE(list_sum(list_transform(
                  list_filter(range(1, length(text) + 1), p -> (p - 1) % 8 = $i),
                  p -> ascii(substr(text, CAST(p AS INT), 1)))), 0) AS DOUBLE)
                / length(text) AS REAL) AS DOUBLE) END AS f$i"""
      }.mkString(",\n                   ")
      s"""SELECT CAST(doc_id AS BIGINT) AS media_id,
                   CAST(length(text) AS BIGINT) AS n_bytes,
                   'stub' AS format,
                   CAST(COALESCE(list_sum(list_transform(range(1, length(text)+1),
                        i -> ascii(substr(text, i, 1)))), 0) % 640 AS INTEGER) AS width,
                   CAST(COALESCE(list_sum(list_transform(range(1, length(text)+1),
                        i -> ascii(substr(text, i, 1)))), 0) % 480 AS INTEGER) AS height,
                   $feat
            FROM documents ORDER BY media_id"""
    })

  /** The decode pipeline's integer byte math (n_bytes, width, height) is
    * SQL-expressible on ASCII text, so this variant runs the REAL
    * mapPartitions decoder and hash-checks everything except the float
    * feature vector against a DuckDB byte-sum oracle. */
  private val mmDecodeDims = Q(
    (s, d) => decodeFeatures(
      Tables.documents(s, d).withColumn("blob", col("text").cast("binary")),
      "doc_id", "blob")
      .select("media_id", "n_bytes", "format", "width", "height")
      .orderBy("media_id"),
    Some("""SELECT CAST(doc_id AS BIGINT) AS media_id,
                   CAST(length(text) AS BIGINT) AS n_bytes,
                   'stub' AS format,
                   CAST(COALESCE(list_sum(list_transform(range(1, length(text)+1),
                        i -> ascii(substr(text, i, 1)))), 0) % 640 AS INTEGER) AS width,
                   CAST(COALESCE(list_sum(list_transform(range(1, length(text)+1),
                        i -> ascii(substr(text, i, 1)))), 0) % 480 AS INTEGER) AS height
            FROM documents ORDER BY media_id"""))

  /** REAL audio decode, fully hash-checked end-to-end: deterministic mono
    * PCM WAV blobs are synthesized per doc (sample j = ((id·31 + j·17) mod
    * 2001) − 1000, a public closed form), the [[WavDecoder]] parses the
    * actual RIFF bytes back, and the oracle recomputes every decoded
    * statistic from the same closed form — so a parser bug (wrong header
    * offset, endianness, sign extension) breaks the hash match. Float32
    * quantization points (`CAST AS REAL`) mirror the decoder's .toFloat
    * casts exactly. */
  private val mmWav = Q(
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id").cast("long").as("doc_id"))
      val rdd = spreadIds(docs).rdd.map { r =>
        val id = r.getLong(0)
        val n = (160 + (id % 5) * 16).toInt
        val samples = Array.tabulate(n)(j =>
          (((id * 31 + j * 17) % 2001) - 1000).toShort)
        Row(id, pcm16Wav(samples, 8000))
      }
      val withBlob = s.createDataFrame(rdd, StructType(Seq(
        StructField("doc_id", LongType), StructField("blob", BinaryType))))
      decodeFeatures(withBlob, "doc_id", "blob", WavDecoder)
        .select(
          col("media_id"), col("n_bytes"), col("format"),
          col("width").as("sample_rate"), col("height").as("channels"),
          element_at(col("features"), 1).cast("double").as("n_samples"),
          element_at(col("features"), 2).cast("double").as("duration_ms"),
          element_at(col("features"), 3).cast("double").as("mean_amp"),
          element_at(col("features"), 4).cast("double").as("rms"),
          element_at(col("features"), 5).cast("double").as("peak"),
          element_at(col("features"), 6).cast("double").as("zero_crossings"))
        .orderBy("media_id")
    },
    Some("""WITH b AS (SELECT CAST(doc_id AS BIGINT) AS media_id,
                   160 + (doc_id % 5) * 16 AS n FROM documents),
            s AS (SELECT media_id, n,
                   list_transform(range(n),
                     j -> ((media_id * 31 + j * 17) % 2001) - 1000) AS smp
                  FROM b)
            SELECT media_id,
                   CAST(44 + 2 * n AS BIGINT) AS n_bytes,
                   'wav' AS format,
                   CAST(8000 AS INTEGER) AS sample_rate,
                   CAST(1 AS INTEGER) AS channels,
                   CAST(CAST(n AS REAL) AS DOUBLE) AS n_samples,
                   CAST(CAST(n * 1000.0 / 8000 AS REAL) AS DOUBLE) AS duration_ms,
                   CAST(CAST(CAST(list_sum(smp) AS DOUBLE) / n AS REAL) AS DOUBLE) AS mean_amp,
                   CAST(CAST(SQRT(CAST(list_sum(list_transform(smp, x -> x * x)) AS DOUBLE) / n) AS REAL) AS DOUBLE) AS rms,
                   CAST(CAST(list_max(list_transform(smp, x -> abs(x))) AS REAL) AS DOUBLE) AS peak,
                   CAST(CAST(COALESCE(list_sum(list_transform(range(1, n), j ->
                       CASE WHEN (((media_id * 31 + j * 17) % 2001) - 1000 >= 0)
                            <> (((media_id * 31 + (j - 1) * 17) % 2001) - 1000 >= 0)
                            THEN 1 ELSE 0 END)), 0) AS REAL) AS DOUBLE) AS zero_crossings
            FROM s ORDER BY media_id"""))

  /** Frame-level audio features over the same deterministic PCM blobs as
    * [[mmWav]], fully hash-checked: 80-sample frames, per-frame
    * exact-integer RMS/peak/zero-crossings recomputed by the oracle from
    * the closed-form samples — a frame-boundary bug (off-by-one window,
    * cross-frame crossing count, ragged-tail loss) breaks the hash. */
  private val mmWavFrames = Q(
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id").cast("long").as("doc_id"))
      val rdd = spreadIds(docs).rdd.map { r =>
        val id = r.getLong(0)
        val n = (160 + (id % 5) * 16).toInt
        val samples = Array.tabulate(n)(j =>
          (((id * 31 + j * 17) % 2001) - 1000).toShort)
        Row(id, pcm16Wav(samples, 8000))
      }
      val withBlob = s.createDataFrame(rdd, StructType(Seq(
        StructField("doc_id", LongType), StructField("blob", BinaryType))))
      wavFrameFeatures(withBlob, "doc_id", "blob", frameSamples = 80)
        .select(col("media_id"), col("frame_id"), col("n_samples"),
          col("rms").cast("double").as("rms"), col("peak"),
          col("zero_crossings"))
        .orderBy("media_id", "frame_id")
    },
    Some("""WITH b AS (SELECT CAST(doc_id AS BIGINT) AS media_id,
                   160 + (doc_id % 5) * 16 AS n FROM documents),
            f AS (SELECT media_id, n, CAST(fr AS BIGINT) AS frame_id,
                   CAST(fr * 80 AS INT) AS lo,
                   CAST(LEAST((fr + 1) * 80, n) AS INT) AS hi
                  FROM b, LATERAL (SELECT unnest(range(0,
                    CAST(ceil(n / 80.0) AS BIGINT))) AS fr) ff),
            s AS (SELECT media_id, frame_id, lo, hi, hi - lo AS len,
                   list_transform(range(lo, hi),
                     j -> ((media_id * 31 + j * 17) % 2001) - 1000) AS smp
                  FROM f)
            SELECT media_id, frame_id,
                   CAST(len AS BIGINT) AS n_samples,
                   CAST(CAST(sqrt(CAST(list_sum(list_transform(smp, x -> x * x))
                       AS DOUBLE) / len) AS REAL) AS DOUBLE) AS rms,
                   CAST(list_max(list_transform(smp, x -> abs(x))) AS BIGINT) AS peak,
                   CAST(COALESCE(list_sum(list_transform(range(lo + 1, hi), j ->
                       CASE WHEN (((media_id * 31 + j * 17) % 2001) - 1000 >= 0)
                            <> (((media_id * 31 + (j - 1) * 17) % 2001) - 1000 >= 0)
                            THEN 1 ELSE 0 END)), 0) AS BIGINT) AS zero_crossings
            FROM s ORDER BY media_id, frame_id"""))

  /** Video plumbing, fully hash-checked: deterministic GFV1 containers
    * (3-5 closed-form 64-byte frames per doc) are built, stride-2 frame
    * sampling + per-frame stub decode + temporal mean pooling run through
    * the real mapPartitions path, and the oracle recomputes everything from
    * the same closed form — container mis-parsing (wrong length prefix,
    * wrong stride, off-by-one frame span) breaks the hash match. Per-frame
    * stub features are exact multiples of 2⁻⁶, so the temporal mean is
    * order-independent and engine-exact. */
  private val mmVideo = Q(
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id").cast("long").as("doc_id"))
      val rdd = spreadIds(docs).rdd.map { r =>
        imageIoInMemory
        val id = r.getLong(0)
        val nf = (3 + id % 3).toInt
        val frames = (0 until nf).map(f => Array.tabulate(64)(j =>
          (((id * 131 + f * 17 + j * 7) % 251) & 0xff).toByte))
        Row(id, gfv1(frames))
      }
      val withBlob = s.createDataFrame(rdd, StructType(Seq(
        StructField("doc_id", LongType), StructField("blob", BinaryType))))
      decodeVideoFeatures(withBlob, "doc_id", "blob", stride = 2)
        .select(
          Seq(col("media_id"), col("n_bytes"), col("format"),
            col("n_frames"), col("n_sampled"), col("width"), col("height")) ++
          (0 until 8).map(i =>
            element_at(col("features"), i + 1).cast("double").as(s"f$i")): _*)
        .orderBy("media_id")
    },
    Some {
      def frameSum(f: String): String =
        s"list_sum(list_transform(range(64), j -> (id * 131 + $f * 17 + j * 7) % 251))"
      val feat = (0 until 8).map { i =>
        s"""CAST(CAST(list_sum(list_transform(fs, f ->
               CAST(CAST(list_sum(list_transform(range(8),
                     t -> (id * 131 + f * 17 + (t * 8 + $i) * 7) % 251))
                   AS DOUBLE) / 64 AS REAL))) / len(fs) AS REAL) AS DOUBLE) AS f$i"""
      }.mkString(",\n                   ")
      s"""WITH b AS (SELECT CAST(doc_id AS BIGINT) AS id,
                   3 + (doc_id % 3) AS nf FROM documents),
            sm AS (SELECT id, nf, list_filter(range(nf), f -> f % 2 = 0) AS fs
                   FROM b)
            SELECT id AS media_id,
                   CAST(8 + nf * 68 AS BIGINT) AS n_bytes,
                   'gfv1/stub' AS format,
                   CAST(nf AS INTEGER) AS n_frames,
                   CAST(len(fs) AS INTEGER) AS n_sampled,
                   CAST(${frameSum("0")} % 640 AS INTEGER) AS width,
                   CAST(${frameSum("0")} % 480 AS INTEGER) AS height,
                   $feat
            FROM sm ORDER BY media_id"""
    })

  /** Video with REAL per-frame image decode, fully hash-checked: GFV1
    * containers whose frames are genuine 4×4 ARGB PNGs (deterministic
    * closed-form pixels), stride-2 sampled and decoded by [[ImageIoDecoder]]
    * — not the stub — then temporally mean-pooled. The oracle recomputes
    * every channel moment (mean A/R/G/B, the integer-luma moments, dims)
    * from the same closed-form pixels with the identical
    * int-sum → int-div → double-div → float-cast ladder, so a PNG
    * round-trip bug, a wrong stride, or a pooling error breaks the hash.
    * PNG byte length is deflate-dependent, so n_bytes is deliberately NOT
    * part of the hashed surface. */
  private val mmVideoPng = Q(
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id").cast("long").as("doc_id"))
      val rdd = spreadIds(docs).rdd.map { r =>
        val id = r.getLong(0)
        val nf = (3 + id % 3).toInt
        val frames = (0 until nf).map { f =>
          val img = new java.awt.image.BufferedImage(
            4, 4, java.awt.image.BufferedImage.TYPE_INT_ARGB)
          for (y <- 0 until 4; x <- 0 until 4)
            img.setRGB(x, y, 0xff000000 |
              (((id * 31 + f * 97 + y * 4 + x) % 0x1000000).toInt))
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          bos.toByteArray
        }
        Row(id, gfv1(frames))
      }
      val withBlob = s.createDataFrame(rdd, StructType(Seq(
        StructField("doc_id", LongType), StructField("blob", BinaryType))))
      decodeVideoFeatures(withBlob, "doc_id", "blob", stride = 2,
          frameDecoder = ImageIoDecoder)
        .select(
          Seq(col("media_id"), col("format"), col("n_frames"),
            col("n_sampled"), col("width"), col("height")) ++
          (0 until 8).map(i =>
            element_at(col("features"), i + 1).cast("double").as(s"f$i")): _*)
        .orderBy("media_id")
    },
    Some {
      // closed-form pixel q (row-major) of frame f: ARGB with a = 255 and
      // rgb24 = (id·31 + f·97 + q) mod 2^24 — the exact setRGB input
      val v = "((id * 31 + f * 97 + q) % 16777216)"
      val r = s"(($v // 65536) % 256)"
      val g = s"(($v // 256) % 256)"
      val b = s"($v % 256)"
      val l = s"(299*$r + 587*$g + 114*$b)"
      // per-frame feature values, replicating ImageIoDecoder's arithmetic:
      // exact integer sums, integer division for the luma scalings, double
      // divide by n = 16 pixels, float cast
      def px(sum: String) = s"list_sum(list_transform(range(16), q -> $sum))"
      val perFrame: Seq[String] = Seq(
        "4080",                        // Σa = 16·255
        px(r), px(g), px(b)).map(sm => s"CAST(CAST($sm AS DOUBLE)/16 AS REAL)") ++ Seq(
        s"CAST(CAST(${px(l)} // 1000 AS DOUBLE)/16 AS REAL)",
        s"CAST(CAST(${px(s"(($l*$l) // 1000)")} // 1000 AS DOUBLE)/16 AS REAL)",
        "CAST(4 AS REAL)", "CAST(4 AS REAL)")
      // temporal mean over the sampled frames: float features widened to
      // double, summed in frame order, divided by the count, cast to float
      val feat = perFrame.zipWithIndex.map { case (e, i) =>
        s"""CAST(CAST(list_sum(list_transform(fs, f -> CAST($e AS DOUBLE)))
               / len(fs) AS REAL) AS DOUBLE) AS f$i"""
      }.mkString(",\n                   ")
      s"""WITH bb AS (SELECT CAST(doc_id AS BIGINT) AS id,
                   3 + (doc_id % 3) AS nf FROM documents),
            sm AS (SELECT id, nf, list_filter(range(nf), f -> f % 2 = 0) AS fs
                   FROM bb)
            SELECT id AS media_id,
                   'gfv1/png' AS format,
                   CAST(nf AS INTEGER) AS n_frames,
                   CAST(len(fs) AS INTEGER) AS n_sampled,
                   CAST(4 AS INTEGER) AS width,
                   CAST(4 AS INTEGER) AS height,
                   $feat
            FROM sm ORDER BY media_id"""
    })

  /** Resize round-trip, oracle-checked on the decode-verifiable surface:
    * per doc a deterministic 4×4 ARGB PNG is generated, resized to 8×6
    * through the real partition pipeline, and the output is RE-DECODED with
    * [[ImageIoDecoder]] — format and dims must come back as the literal
    * targets (an encode/resize failure degrades to "unknown"/-1 and breaks
    * the hash). Post-resize pixel values are interpolator-specific, so only
    * the decode-verifiable surface is hashed. */
  private val mmResize = Q(
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id").cast("long").as("doc_id"))
      val rdd = spreadIds(docs).rdd.map { r =>
        imageIoInMemory
        val id = r.getLong(0)
        val img = new java.awt.image.BufferedImage(
          4, 4, java.awt.image.BufferedImage.TYPE_INT_ARGB)
        for (y <- 0 until 4; x <- 0 until 4)
          img.setRGB(x, y, 0xff000000 | (((id * 31 + y * 4 + x) % 0x1000000).toInt))
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        Row(id, bos.toByteArray)
      }
      val withBlob = s.createDataFrame(rdd, StructType(Seq(
        StructField("doc_id", LongType), StructField("blob", BinaryType))))
      val resized = resizeImages(withBlob, "doc_id", "blob", w = 8, h = 6)
      decodeFeatures(resized, "media_id", "blob", ImageIoDecoder)
        .select(col("media_id"), col("format"), col("width"), col("height"))
        .orderBy("media_id")
    },
    Some("""SELECT CAST(doc_id AS BIGINT) AS media_id, 'png' AS format,
                   CAST(8 AS INTEGER) AS width, CAST(6 AS INTEGER) AS height
            FROM documents ORDER BY media_id"""))

  /** Deterministic 9×8 grayscale test image for `id` (closed form, public):
    * pixel(r, c) = ((g·37 + r·19 + c·11)·(2g+1)) mod 251 with g = id%251 —
    * the (2g+1) factor rotates the gradient per group, so DIFFERENT groups
    * get genuinely different dHashes (a purely additive form shifts all
    * pixels uniformly and barely changes any comparison) — plus ONE
    * perturbed pixel at (id%8, (id/8)%9) flipped to 250−base, so ids
    * sharing a group render near-identical images whose dHashes differ in
    * ≤ 2 bits each. Encoded as a REAL PNG so the decode under test is
    * real. */
  private[multimodal] def synthGrayPng(id: Long): Array[Byte] = {
    imageIoInMemory
    val img = new java.awt.image.BufferedImage(
      9, 8, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    val g = (id % 251).toInt
    val pr = (id % 8).toInt
    val pc = ((id / 8) % 9).toInt
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 9) {
        val base = ((g * 37 + r * 19 + c * 11) * (2 * g + 1)) % 251
        raster.setSample(c, r, 0,
          if (r == pr && c == pc) 250 - base else base)
        c += 1
      }
      r += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Perceptual dHash (difference hash) of image blobs: decode with
    * ImageIO, reduce to 9×8 grayscale (direct sampling when the image
    * already is one — the lossless path the oracle replays; real bilinear
    * draw-scale otherwise), set bit r·8+c iff pixel(r,c) > pixel(r,c+1).
    * Near-identical images land within small Hamming distance — feed the
    * result to [[graft.dedup.DedupOps.bandedHammingPairs]] for image
    * near-dup pairs, exactly as text SimHashes do.
    * Returns (media_id, dhash, ok); undecodable blobs carry ok = false. */
  def dHashImages(df: DataFrame, idCol: String, blobCol: String): DataFrame = {
    val spark = df.sparkSession
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("dhash", LongType),
      StructField("ok", BooleanType)))
    val rdd = df.select(col(idCol).cast("long"), col(blobCol).cast("binary"))
      .rdd.map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
      .mapPartitions { it =>
        imageIoInMemory
        it.map { case (id, bytes) =>
          try {
            val img = if (bytes == null) null
              else javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(bytes))
            if (img == null) Row(id, 0L, false)
            else {
              val gray =
                if (img.getWidth == 9 && img.getHeight == 8 &&
                  img.getType == java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
                  img
                else {
                  val out = new java.awt.image.BufferedImage(9, 8,
                    java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
                  val gr = out.createGraphics()
                  try {
                    gr.setRenderingHint(
                      java.awt.RenderingHints.KEY_INTERPOLATION,
                      java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
                    gr.drawImage(img, 0, 0, 9, 8, null)
                  } finally gr.dispose()
                  out
                }
              val ras = gray.getRaster
              var h = 0L
              var r = 0
              while (r < 8) {
                var c = 0
                while (c < 8) {
                  if (ras.getSample(c, r, 0) > ras.getSample(c + 1, r, 0))
                    h |= 1L << (r * 8 + c)
                  c += 1
                }
                r += 1
              }
              Row(id, h, true)
            }
          } catch {
            case scala.util.control.NonFatal(_) => Row(id, 0L, false)
          }
        }
      }
    spark.createDataFrame(rdd, schema)
  }

  /** Image near-dup pairs over the synthetic corpus imagery: REAL PNG
    * encode → REAL ImageIO decode → dHash → banded Hamming pairs at
    * distance ≤ 4 (each perturbed image differs from its group base in
    * ≤ 2 dHash bits, so same-group pairs sit within 4). The oracle
    * recomputes pixels from the closed form, the 64 comparison bits, the
    * signed 64-bit hash, and the identical band-join predicate. */
  private val mmImageNearDup = Q(
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id").cast("long").as("doc_id"))
      val rdd = spreadIds(docs).rdd.map(r =>
        Row(r.getLong(0), synthGrayPng(r.getLong(0))))
      val withBlob = s.createDataFrame(rdd, StructType(Seq(
        StructField("doc_id", LongType), StructField("blob", BinaryType))))
      val sig = dHashImages(withBlob, "doc_id", "blob")
        .select(col("media_id").as("id"), col("dhash").as("simhash"))
      graft.dedup.DedupOps.bandedHammingPairs(sig, maxHamming = 4)
        .orderBy("ida", "idb")
    },
    Some("WITH " + imageSigCtes + """
        SELECT a.id AS ida, b.id AS idb,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        FROM sig a JOIN sig b ON a.id < b.id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 4
          AND ((a.simhash >> 0)  & 65535 = (b.simhash >> 0)  & 65535
            OR (a.simhash >> 16) & 65535 = (b.simhash >> 16) & 65535
            OR (a.simhash >> 32) & 65535 = (b.simhash >> 32) & 65535
            OR (a.simhash >> 48) & 65535 = (b.simhash >> 48) & 65535)
        ORDER BY ida, idb"""))

  /** Oracle CTE chain ending in `sig(id, simhash)` — the synthetic-PNG
    * dHash replay shared by the pair and cluster oracles. A def (the
    * object-init-order convention for shared SQL). */
  private def imageSigCtes: String =
    """ids AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        px AS (SELECT id, r, c,
            CASE WHEN r = id % 8 AND c = (id // 8) % 9
                 THEN 250 - (((id % 251) * 37 + r * 19 + c * 11)
                   * (2 * (id % 251) + 1)) % 251
                 ELSE (((id % 251) * 37 + r * 19 + c * 11)
                   * (2 * (id % 251) + 1)) % 251 END AS p
          FROM ids
          CROSS JOIN (SELECT unnest(range(0, 8)) AS r) rr
          CROSS JOIN (SELECT unnest(range(0, 9)) AS c) cc),
        bits AS (SELECT a.id, a.r * 8 + a.c AS b
          FROM px a JOIN px b2
            ON a.id = b2.id AND a.r = b2.r AND b2.c = a.c + 1
          WHERE a.c < 8 AND a.p > b2.p),
        rawsig AS (SELECT id,
            CAST(SUM(CASE WHEN b = 63 THEN CAST(-9223372036854775808 AS HUGEINT)
                 ELSE CAST(CAST(1 AS BIGINT) << CAST(b AS INT) AS HUGEINT) END)
              AS BIGINT) AS simhash
          FROM bits GROUP BY 1),
        sig AS (SELECT i.id, COALESCE(s.simhash, 0) AS simhash
          FROM ids i LEFT JOIN rawsig s ON i.id = s.id)"""

  /** CC closure + canonical labeling over a media near-dup pair set:
    * every id keeps a row (singletons are their own component), the
    * minimum id canonicalizes its component. */
  def visualClusters(ids: DataFrame, idCol: String, pairs: DataFrame)
      : DataFrame = {
    val cc = graft.dedup.DupClusters.connectedComponents(
      pairs.select(col("ida"), col("idb")))
    val all = ids.select(col(idCol).as("__id"))
      .join(cc.withColumnRenamed("id", "__id"), Seq("__id"), "left")
      .withColumn("component", coalesce(col("comp"), col("__id")))
    val sizes = all.groupBy("component")
      .agg(count(lit(1)).as("cluster_size"))
    all.join(sizes, Seq("component"))
      .select(col("__id").as("media_id"), col("component"),
        col("cluster_size"),
        (col("__id") === col("component")).cast("int").as("is_canonical"))
  }

  /** Visual duplicate CLUSTERS: the dHash near-dup pair set closed into
    * connected components — the image twin of q_d_dup_clusters /
    * q_s_semantic_clusters (exact text, embedding, and now visual
    * duplicate grouping all share the CC closure): a crawl's resized /
    * re-encoded image copies collapse to one canonical media id per
    * component. Pure composition of proven pieces — the banded-Hamming
    * pair plan + pointer-jumping CC; singletons keep their own id. */
  private val mmImageClusters = Q(
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id").cast("long").as("doc_id"))
      val rdd = spreadIds(docs).rdd.map(r =>
        Row(r.getLong(0), synthGrayPng(r.getLong(0))))
      val withBlob = s.createDataFrame(rdd, StructType(Seq(
        StructField("doc_id", LongType), StructField("blob", BinaryType))))
      val sig = dHashImages(withBlob, "doc_id", "blob")
        .select(col("media_id").as("id"), col("dhash").as("simhash"))
      val pairs = graft.dedup.DedupOps.bandedHammingPairs(sig, maxHamming = 4)
      visualClusters(docs, "doc_id", pairs).orderBy("media_id")
    },
    Some("WITH RECURSIVE " + imageSigCtes + """,
        p AS (SELECT a.id AS ida, b.id AS idb
          FROM sig a JOIN sig b ON a.id < b.id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 4
            AND ((a.simhash >> 0)  & 65535 = (b.simhash >> 0)  & 65535
              OR (a.simhash >> 16) & 65535 = (b.simhash >> 16) & 65535
              OR (a.simhash >> 32) & 65535 = (b.simhash >> 32) & 65535
              OR (a.simhash >> 48) & 65535 = (b.simhash >> 48) & 65535)),
        e AS (SELECT ida AS a, idb AS b FROM p
              UNION SELECT idb AS a, ida AS b FROM p),
        reach AS (SELECT a, b FROM e
                  UNION
                  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
                  WHERE e2.b <> r.a),
        comp AS (SELECT a AS id, LEAST(a, MIN(b)) AS comp
                 FROM reach GROUP BY a),
        allc AS (SELECT i.id, COALESCE(c.comp, i.id) AS component
                 FROM ids i LEFT JOIN comp c ON i.id = c.id),
        sz AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
               FROM allc GROUP BY 1)
        SELECT allc.id AS media_id, allc.component, sz.cluster_size,
               CAST(allc.id = allc.component AS INT) AS is_canonical
        FROM allc JOIN sz ON allc.component = sz.component
        ORDER BY media_id"""))

  val queries: Map[String, Q] = Map(
    "q_mm_image_neardup" -> mmImageNearDup,
    "q_mm_image_clusters" -> mmImageClusters,
    "q_mm_binary_meta" -> mmBinary,
    "q_mm_stub_decode" -> mmDecode,
    "q_mm_decode_dims" -> mmDecodeDims,
    "q_mm_wav_decode" -> mmWav,
    "q_mm_wav_frames" -> mmWavFrames,
    "q_mm_video_frames" -> mmVideo,
    "q_mm_video_png" -> mmVideoPng,
    "q_mm_resize" -> mmResize)
}
