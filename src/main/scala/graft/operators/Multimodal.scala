package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** One opaque media payload with typed metadata — the multimodal column
  * model: media travels as `binary`, everything queryable lives in typed
  * sidecar columns.
  */
case class MediaBlob(doc_id: Long, media_type: String, payload: Array[Byte])

/** Decoded/extracted features for one payload. */
case class MediaMeta(doc_id: Long, media_type: String, byte_len: Long,
                     sha256: String, width: Int, height: Int, n_frames: Int)

/** One stored media row: sidecar metadata columns NEXT TO the payload —
  * the blob-store layout where metadata queries read only the small
  * typed columns and parquet column pruning never materializes a byte
  * of media.
  */
case class MediaRecord(doc_id: Long, media_type: String, byte_len: Long,
                       sha256: String, width: Int, height: Int, n_frames: Int,
                       payload: Array[Byte])

/** Multimodal column handling (north-star LLM-pipeline surface).
  *
  * Design for 100 TB of media: payloads are opaque `binary` columns;
  * decode/feature-extraction is a per-partition batch map (one decoder
  * instance per partition, amortized over its rows — the Scala analogue
  * of `mapInPandas` batches); all *queryable* attributes are extracted
  * into plain typed columns so Parquet scans of metadata never touch
  * payload bytes (column pruning drops the binary column entirely).
  *
  * IMAGE decode is REAL: `javax.imageio` ships in the JDK (PNG, JPEG,
  * GIF, BMP), so `image/...` payloads are actually decoded
  * ([[decodeImage]], exercised end-to-end by q21d's encode→decode
  * round-trip against a closed-form oracle). AUDIO decode is REAL too:
  * `javax.sound.sampled` ships WAV/AIFF/AU codecs ([[decodeWav]],
  * exercised by q21e's encode→decode round-trip). VIDEO container
  * parsing is REAL as well: Y4M/YUV4MPEG2 clips are generated and
  * fully parsed byte-level ([[decodeY4m]], exercised by q21f) —
  * header, frame markers, planar 4:2:0 layout, per-frame luma. PIXEL-
  * CODEC video is REAL too: MJPEG-in-AVI clips are written and demuxed
  * byte-level ([[mjpegAviBlob]]/[[decodeAvi]]) with every frame's JPEG
  * decoded by the JDK codec (q21g). Only inter-frame codecs (H.26x —
  * no JDK decoder exists) fall back to the deterministic
  * [[decodeStub]]; the Spark-side plumbing (schema, typed Dataset
  * path, per-partition batching, binary column pruning) is identical
  * for all paths.
  */
object Multimodal {

  // ImageIO's default stream cache spools every encode/decode through a
  // TEMP FILE (one create+delete per image) — at thousands of tiny
  // in-memory images per partition that's the dominant cost and an
  // executor-disk dependency. Byte-array streams need no cache.
  javax.imageio.ImageIO.setUseCache(false)

  /** Deterministic fake "decode" of one payload — stands in for codecs
    * the JDK does not ship (video, audio). Image formats take the REAL
    * [[decodeImage]] path.
    */
  def decodeStub(payloadSha48: Long): (Int, Int, Int) = {
    val width = 64 + (payloadSha48 % 960).toInt
    val height = 64 + ((payloadSha48 >> 10) % 540).toInt
    val nFrames = 1 + (payloadSha48 % 30).toInt
    (width, height, nFrames)
  }

  /** REAL image decode via the JDK's `javax.imageio` (PNG/JPEG/GIF/BMP
    * ship in every JRE — no new dependency): returns (width, height)
    * or None when the bytes are not a decodable image. Used by
    * [[decode]]/[[ingest]] for image-typed payloads; everything else
    * (and undecodable image bytes) falls back to [[decodeStub]].
    */
  def decodeImage(payload: Array[Byte]): Option[(Int, Int)] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null) None else Some((img.getWidth, img.getHeight))
    } catch {
      // The JDK decoders throw RuntimeExceptions (IllegalArgument,
      // NegativeArraySize, CMMException...) on malformed data, not just
      // IOException — for untrusted web media that's the COMMON case,
      // and a curation job must fall back, not abort.
      case scala.util.control.NonFatal(_) => None
    }

  /** Typed per-partition decode: one "decoder" per partition, payloads
    * processed in partition-local batches. Image media types are
    * decoded for REAL ([[decodeImage]]); non-image types use the
    * documented stub (`iter.grouped(batch)` keeps peak memory at
    * batch × payload size per task).
    */
  /** The shared per-payload decode: sha256, then the real image path
    * for image types (stub fallback for everything else and for
    * undecodable bytes). ONE spelling for [[decode]] and [[ingest]] so
    * the sidecar-equals-re-decode invariant can't silently fork.
    */
  private def decodeOne(digest: java.security.MessageDigest,
                        b: MediaBlob): MediaMeta = {
    digest.reset()
    val sha = digest.digest(b.payload).map("%02x".format(_)).mkString
    val h48 = java.lang.Long.parseLong(sha.substring(0, 12), 16)
    val real =
      if (b.media_type.startsWith("image/")) decodeImage(b.payload) else None
    val (w, h, f) = real match {
      case Some((rw, rh)) => (rw, rh, 1)
      case None => decodeStub(h48)
    }
    MediaMeta(b.doc_id, b.media_type, b.payload.length.toLong, sha, w, h, f)
  }

  def decode(blobs: Dataset[MediaBlob], batchSize: Int = 64): Dataset[MediaMeta] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions { iter =>
      val digest = java.security.MessageDigest.getInstance("SHA-256")
      iter.grouped(batchSize).flatMap(_.map(decodeOne(digest, _)))
    }
  }

  /** Deterministic synthetic BINARY payloads — genuinely non-text bytes
    * (the full 0–255 range, including invalid-UTF-8 sequences), from a
    * seeded hash chain. The fixture for proving the blob column
    * round-trips parquet bit-for-bit and is pruned from metadata scans;
    * [[blobsFromDocuments]]' text.cast(binary) can't prove either,
    * since text bytes survive any charset-lossy path too.
    */
  def syntheticBlobs(spark: org.apache.spark.sql.SparkSession,
                     n: Int, seed: Long): Dataset[MediaBlob] = {
    import spark.implicits._
    import graft.streaming.SyncCore.hash48
    spark.range(n.toLong).map { id =>
      val len = 64 + (hash48(s"$seed:len:$id") % 192).toInt
      // 6 pseudo-random bytes per hash call, little-endian slices.
      val bytes = Array.tabulate(len) { j =>
        ((hash48(s"$seed:$id:${j / 6}") >> (8 * (j % 6))) & 0xFF).toByte
      }
      MediaBlob(id, if (id % 3 == 0) "video/fake" else "image/fake", bytes)
    }
  }

  /** Ingest into the blob-store layout: ONE per-partition decode pass
    * computes the sidecar metadata next to the payload ([[MediaRecord]])
    * — the same real-image/stub split as [[decode]], so the sidecar
    * always equals a re-decode of the stored bytes. Downstream metadata
    * queries then never pay for the bytes.
    */
  def ingest(blobs: Dataset[MediaBlob], batchSize: Int = 64): Dataset[MediaRecord] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions { iter =>
      val digest = java.security.MessageDigest.getInstance("SHA-256")
      iter.grouped(batchSize).flatMap(_.map { b =>
        val m = decodeOne(digest, b)
        MediaRecord(m.doc_id, m.media_type, m.byte_len, m.sha256,
          m.width, m.height, m.n_frames, b.payload)
      })
    }
  }

  /** Parquet blob store round-trip. */
  def writeBlobStore(blobs: Dataset[MediaBlob], path: String): Unit =
    ingest(blobs).write.mode("overwrite").parquet(path)

  def readBlobStore(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    graft.sources.Parquet.read(spark, path)

  /** Deterministic tiny REAL PNGs: image `id` is (8 + id·37 mod 24) ×
    * (8 + id·53 mod 24) pixels of gray v(x,y) = (7x + 13y + id) mod 256,
    * encoded by `javax.imageio` into genuine PNG bytes. The dims and
    * the pixel sum are closed-form in `id`, so a SQL oracle can verify
    * a REAL decode without being able to decode anything itself.
    */
  def pngBlob(id: Long): MediaBlob = {
    val w = (8 + id * 37 % 24).toInt
    val h = (8 + id * 53 % 24).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = ((7L * x + 13L * y + id) % 256L).toInt
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    MediaBlob(id, "image/png", bos.toByteArray)
  }

  /** Q21d — REAL image decode, oracle-checkable: per document id, emit
    * a deterministic PNG ([[pngBlob]]), then DECODE the bytes with the
    * actual codec and report what the decoder saw — dimensions and the
    * gray-channel pixel sum. The oracle recomputes all three from the
    * generator's closed form; any codec misbehavior (wrong dims, pixel
    * corruption, channel order) breaks the hash. Encode and decode both
    * run inside the partition map — the per-partition batch shape every
    * real media pipeline uses; nothing but (id, small ints) ever
    * reaches the shuffle.
    */
  def imageDecode(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val out = graft.sources.Tables.widen(docs)
      .select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val blob = pngBlob(id)
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(blob.payload))
          require(img != null, s"PNG round-trip failed for doc $id")
          var pxSum = 0L
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              pxSum += img.getRGB(x, y) & 0xFF
              x += 1
            }
            y += 1
          }
          (id, img.getWidth, img.getHeight, pxSum)
        }
      }
      .toDF("doc_id", "width", "height", "px_sum")
    out.orderBy("doc_id")
  }

  /** Deterministic tiny REAL WAVs: clip `id` is 16-bit signed
    * little-endian mono PCM at 8 kHz with n(id) = 64 + id·37 mod 192
    * samples of s(i) = ((7i² + 29i + 13·id) mod 65536) − 32768,
    * encoded by `javax.sound.sampled` into genuine RIFF/WAVE bytes.
    * Sample count and amplitude stats are closed-form in `id`, so a
    * SQL oracle can verify a REAL decode without a codec of its own
    * (the q21d pattern, audio edition).
    */
  /** The JDK audio SPI providers, resolved ONCE per JVM (round 14,
    * guide §4.5 "initialise heavyweight state once", JVM edition):
    * `AudioSystem.write` / `AudioSystem.getAudioInputStream` funnel
    * EVERY encode/decode through a JVM-global synchronized provider
    * lookup (`JDK13Services.getProviders`) — measured on this corpus:
    * 5k clips encode+decode run 1.66 s on ONE thread but 2.59 s on 16
    * threads (a lock convoy, worse than serial — exactly q21e's 0.82
    * core-scaling ratio in BENCH_r13). The provider objects themselves
    * are stateless (all parse state lives on the streams they are
    * handed), so one shared instance set serves every task lock-free.
    * The iteration order and try-next-on-failure semantics below mirror
    * `AudioSystem`'s own loops, so accepted/rejected byte streams and
    * produced bytes are identical.
    */
  private object WavSpi {
    import scala.jdk.CollectionConverters._
    // Reader ORDER is result-neutral — each JDK reader accepts a
    // disjoint magic number (RIFF/WAVE vs FORM/AIFF vs .snd/AU vs
    // MThd/MIDI) and rejects everything else — but it is NOT
    // cost-neutral: the ServiceLoader order puts Gervill's
    // SoftMidiAudioFileReader before WaveFileReader, and its rejection
    // path consults MidiSystem (the same JVM-global synchronized
    // provider registry), re-creating the convoy for every decode.
    // Measured on 5k clips / 16 threads: ServiceLoader order 1.41 s,
    // Wave-first 0.01 s. So: WAVE readers first, the MIDI reader last.
    private def prio(r: javax.sound.sampled.spi.AudioFileReader): Int = {
      val n = r.getClass.getSimpleName
      if (n.contains("Wave")) 0 else if (n.contains("Midi")) 2 else 1
    }
    val readers: List[javax.sound.sampled.spi.AudioFileReader] =
      java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileReader])
        .iterator().asScala.toList.sortBy(prio)
    val writers: List[javax.sound.sampled.spi.AudioFileWriter] =
      java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileWriter])
        .iterator().asScala.toList
  }

  def wavBlob(id: Long): MediaBlob = {
    val n = (64 + id * 37 % 192).toInt
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = (((7L * i * i + 29L * i + 13L * id) % 65536L) - 32768L).toInt
      pcm(2 * i) = (s & 0xFF).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    // AudioSystem.write's provider loop, minus its global lock: first
    // writer that accepts the (type, stream) wins, IllegalArgumentException
    // means try the next — the same contract, the same WAVE bytes.
    val wrote = WavSpi.writers.exists { w =>
      try { w.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos); true }
      catch { case _: IllegalArgumentException => false }
    }
    require(wrote, s"no WAVE writer in this JRE for doc $id")
    MediaBlob(id, "audio/wav", bos.toByteArray)
  }

  /** REAL audio decode via the JDK's `javax.sound.sampled` (WAV, AIFF,
    * AU ship in every JRE — no new dependency): returns
    * (sampleRateHz, channels, 16-bit samples) or None when the bytes
    * are not decodable audio (the same untrusted-media fallback
    * contract as [[decodeImage]] — JDK audio parsers also throw
    * RuntimeExceptions on malformed headers).
    */
  def decodeWav(payload: Array[Byte]): Option[(Int, Int, Array[Int])] =
    try {
      // AudioSystem.getAudioInputStream's provider loop, minus its
      // global lock (see WavSpi): first reader that parses the header
      // wins; UnsupportedAudioFileException means try the next (readers
      // reset the stream on rejection per the SPI contract); none
      // accepting = not decodable audio.
      val bis = new java.io.ByteArrayInputStream(payload)
      val ais = WavSpi.readers.iterator
        .flatMap { r =>
          try Some(r.getAudioInputStream(bis))
          catch {
            case _: javax.sound.sampled.UnsupportedAudioFileException => None
          }
        }
        .nextOption()
        .getOrElse(throw new javax.sound.sampled.UnsupportedAudioFileException(
          "Stream of unsupported format"))
      val fmt = ais.getFormat
      if (fmt.getSampleSizeInBits != 16) None
      else {
        val bytes = ais.readAllBytes()
        val n = bytes.length / 2
        val samples = new Array[Int](n)
        var i = 0
        if (fmt.isBigEndian) {
          while (i < n) {
            samples(i) = ((bytes(2 * i) << 8) | (bytes(2 * i + 1) & 0xFF)).toShort.toInt
            i += 1
          }
        } else {
          while (i < n) {
            samples(i) = ((bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xFF)).toShort.toInt
            i += 1
          }
        }
        Some((fmt.getSampleRate.toInt, fmt.getChannels, samples))
      }
    } catch {
      case scala.util.control.NonFatal(_) => None
    }

  /** Q21e — REAL audio decode, oracle-checkable: per document id, emit
    * a deterministic WAV ([[wavBlob]]), DECODE the bytes with the
    * actual JDK codec, and report what the decoder saw — sample rate,
    * sample count, amplitude sum and peak. The oracle recomputes all
    * four from the generator's closed form; any codec misbehavior
    * (header misparse, byte-order flip, truncation) breaks the hash.
    * Encode and decode both run inside the partition map — nothing but
    * (id, small ints) ever reaches the shuffle.
    */
  def audioDecode(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    graft.sources.Tables.widen(docs)
      .select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val blob = wavBlob(id)
          val (rate, channels, samples) = decodeWav(blob.payload)
            .getOrElse(sys.error(s"WAV round-trip failed for doc $id"))
          require(channels == 1, s"WAV round-trip channel drift for doc $id")
          var ampSum = 0L
          var ampPeak = 0L
          var i = 0
          while (i < samples.length) {
            ampSum += samples(i)
            val a = math.abs(samples(i).toLong)
            if (a > ampPeak) ampPeak = a
            i += 1
          }
          (id, rate, samples.length.toLong, ampSum, ampPeak)
        }
      }
      .toDF("doc_id", "sample_rate", "n_samples", "amp_sum", "amp_peak")
      .orderBy("doc_id")
  }

  /** Deterministic tiny REAL Y4M (YUV4MPEG2) clips — a genuine video
    * container the JDK can both produce and fully parse with zero
    * dependencies: the textual `YUV4MPEG2 W.. H.. F..` header, then
    * per frame a `FRAME\n` marker and raw planar 4:2:0 YUV bytes.
    * Clip `id`: even dims w = 8+2·(13id mod 12), h = 8+2·(7id mod 8),
    * 2+(id mod 5) frames at F(24+(id mod 2)):1; frame f's luma at
    * raster index i is `(7id + 17f + i) mod 251`, chroma planes are
    * per-frame constants. Stride-1 luma makes every frame's pixel sum
    * CLOSED-FORM (full 0..250 cycles plus two arithmetic tails), so a
    * SQL oracle verifies a REAL container decode in O(1) per frame.
    */
  def y4mBlob(id: Long): MediaBlob = {
    val w = (8 + 2 * ((id * 13) % 12)).toInt
    val h = (8 + 2 * ((id * 7) % 8)).toInt
    val nFrames = (2 + id % 5).toInt
    val fps = (24 + id % 2).toInt
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(s"YUV4MPEG2 W$w H$h F$fps:1 Ip A1:1 C420jpeg\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    var f = 0
    while (f < nFrames) {
      bos.write("FRAME\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      val base = ((7 * id + 17 * f) % 251).toInt
      var i = 0
      while (i < w * h) {
        bos.write((base + i) % 251)
        i += 1
      }
      val cn = (w / 2) * (h / 2)
      val u = (64 + f) % 256
      val v = (192 + f) % 256
      var c = 0
      while (c < cn) { bos.write(u); c += 1 }
      c = 0
      while (c < cn) { bos.write(v); c += 1 }
      f += 1
    }
    MediaBlob(id, "video/x-yuv4mpeg", bos.toByteArray)
  }

  /** REAL Y4M parse: validates the magic, reads the W/H/F header
    * tokens, then walks `FRAME` sections extracting each frame's luma
    * plane (4:2:0 chroma skipped by size). Returns (w, h, fpsNum,
    * fpsDen, luma planes) — both sides of the F ratio, so NTSC-style
    * rates (F30000:1001) survive the parse — or None for bytes that
    * are not a well-formed clip — the untrusted-media fallback
    * contract of [[decodeImage]].
    */
  def decodeY4m(payload: Array[Byte]): Option[(Int, Int, Int, Int, Seq[Array[Byte]])] =
    try {
      val nl = payload.indexOf('\n'.toByte)
      if (nl < 0) return None
      val header = new String(payload, 0, nl, java.nio.charset.StandardCharsets.US_ASCII)
      val toks = header.split(" ")
      if (toks.head != "YUV4MPEG2") return None
      def tok(p: String): Option[String] =
        toks.tail.find(_.startsWith(p)).map(_.drop(p.length))
      val w = tok("W").map(_.toInt).getOrElse(return None)
      val h = tok("H").map(_.toInt).getOrElse(return None)
      val fTok = tok("F").getOrElse(return None)
      val fParts = fTok.split(":")
      val fpsNum = fParts(0).toInt
      // Y4M allows a bare numerator; spec form is num:den (den = 1001
      // for NTSC rates). Absent den defaults to 1.
      val fpsDen = if (fParts.length > 1) fParts(1).toInt else 1
      if (fpsNum <= 0 || fpsDen <= 0) return None
      if (w <= 0 || h <= 0 || w % 2 != 0 || h % 2 != 0) return None
      // Honor the colorspace tag (absent = 420 per the Y4M spec): the
      // chroma plane sizes differ per subsampling, and misreading them
      // would misalign the frame walk.
      val chromaBytes = tok("C").getOrElse("420jpeg") match {
        case c if c.startsWith("420") => 2 * ((w / 2) * (h / 2))
        case c if c.startsWith("422") => 2 * ((w / 2) * h)
        case c if c.startsWith("444") => 2 * (w * h)
        case "mono"                   => 0
        case _                        => return None
      }
      val frameBytes = w * h + chromaBytes
      val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      var pos = nl + 1
      val marker = "FRAME".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      while (pos < payload.length) {
        if (pos + marker.length > payload.length ||
            !marker.indices.forall(k => payload(pos + k) == marker(k))) return None
        val fnl = payload.indexOf('\n'.toByte, pos)
        if (fnl < 0 || fnl + 1 + frameBytes > payload.length) return None
        frames += java.util.Arrays.copyOfRange(payload, fnl + 1, fnl + 1 + w * h)
        pos = fnl + 1 + frameBytes
      }
      if (frames.isEmpty) None else Some((w, h, fpsNum, fpsDen, frames.toSeq))
    } catch {
      case scala.util.control.NonFatal(_) => None
    }

  /** Q21f — REAL video-container decode, oracle-checkable: per
    * document id, emit a deterministic Y4M clip ([[y4mBlob]]), PARSE
    * the actual bytes back ([[decodeY4m]]), and report what the parser
    * saw — dimensions, frame rate, frame count, total and first-frame
    * luma sums. The oracle recomputes everything from the generator's
    * closed form (stride-1 luma ⇒ arithmetic-series frame sums), so a
    * header misparse, frame misalignment, or plane-size error breaks
    * the hash. This clears the last decode stub: image (q21d), audio
    * (q21e) and video containers all decode for real in-partition;
    * only pixel-codec video (H.26x) remains outside the JDK.
    */
  def videoDecode(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    graft.sources.Tables.widen(docs)
      .select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val blob = y4mBlob(id)
          val (w, h, fps, fpsDen, frames) = decodeY4m(blob.payload)
            .getOrElse(sys.error(s"Y4M round-trip failed for doc $id"))
          var total = 0L
          var first = 0L
          var f = 0
          while (f < frames.length) {
            val plane = frames(f)
            var s = 0L
            var i = 0
            while (i < plane.length) {
              s += plane(i) & 0xFF
              i += 1
            }
            if (f == 0) first = s
            total += s
            f += 1
          }
          (id, w, h, fps, fpsDen.toLong, frames.length.toLong, total, first)
        }
      }
      .toDF("doc_id", "width", "height", "fps_num", "fps_den", "n_frames",
        "luma_sum", "luma_first")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------------
  // MJPEG-in-AVI: PIXEL-CODEC video with zero new dependencies. The JDK
  // ships a real JPEG codec (javax.imageio), so a Motion-JPEG stream —
  // every frame an independent JPEG — is the one pixel-coded video
  // format this engine can both produce and genuinely decode. The AVI
  // (RIFF) container is written and parsed byte-level like Y4M.
  // ---------------------------------------------------------------------

  private def le32(v: Int): Array[Byte] =
    Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)

  private def le16(v: Int): Array[Byte] =
    Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)

  private def fcc(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  /** One RIFF chunk: fourcc + LE size + body, padded to even length
    * (the RIFF word-alignment rule — the pad byte is NOT counted in the
    * size field).
    */
  private def riffChunk(id: String, body: Array[Byte]): Array[Byte] = {
    val pad = if (body.length % 2 == 1) Array(0.toByte) else Array.empty[Byte]
    fcc(id) ++ le32(body.length) ++ body ++ pad
  }

  private def riffList(listType: String, body: Array[Byte]): Array[Byte] =
    riffChunk("LIST", fcc(listType) ++ body)

  /** One two-band gray frame encoded by the REAL JDK JPEG codec: left
    * half gray `vL`, right half gray `vR`. Both bands are 8×8-block
    * aligned (w is a multiple of 16, the split at w/2 a multiple of 8),
    * so every DCT block is uniform and the lossy codec round-trips the
    * pixels EXACTLY (verified across all 256 grays) — which is what
    * makes a closed-form SQL oracle possible for a lossy format.
    */
  def jpegFrame(w: Int, h: Int, vL: Int, vR: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = if (x < w / 2) vL else vR
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  /** Deterministic tiny REAL MJPEG/AVI clips: clip `id` is
    * w = 16·(2 + id mod 3) × h = 8·(2 + id mod 4) pixels,
    * 2 + id mod 5 frames at (24 + id mod 2) fps; frame f is two gray
    * bands vL = (7·id + 17·f) mod 256, vR = (11·id + 29·f + 101) mod
    * 256 ([[jpegFrame]]). The container is a genuine RIFF/AVI file —
    * `hdrl` (avih + strl with a 'vids'/'MJPG' strh and a
    * BITMAPINFOHEADER strf), `movi` with one '00dc' chunk per JPEG
    * frame, and an idx1 keyframe index — any standard AVI demuxer can
    * play it.
    */
  def mjpegAviBlob(id: Long): MediaBlob = {
    val w = (16 * (2 + id % 3)).toInt
    val h = (8 * (2 + id % 4)).toInt
    val nFrames = (2 + id % 5).toInt
    val fps = (24 + id % 2).toInt
    val frames = Array.tabulate(nFrames) { f =>
      val vL = ((7 * id + 17 * f) % 256).toInt
      val vR = ((11 * id + 29 * f + 101) % 256).toInt
      jpegFrame(w, h, vL, vR)
    }
    val maxFrame = frames.map(_.length).max

    val avih = riffChunk("avih",
      le32(1000000 / fps) ++ le32(0) ++ le32(0) ++ le32(0x10) ++ // AVIF_HASINDEX
        le32(nFrames) ++ le32(0) ++ le32(1) ++ le32(maxFrame) ++
        le32(w) ++ le32(h) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0))
    val strh = riffChunk("strh",
      fcc("vids") ++ fcc("MJPG") ++ le32(0) ++ le16(0) ++ le16(0) ++
        le32(0) ++ le32(1) ++ le32(fps) ++ le32(0) ++ le32(nFrames) ++
        le32(maxFrame) ++ le32(0) ++ le32(0) ++
        le16(0) ++ le16(0) ++ le16(w) ++ le16(h))
    val strf = riffChunk("strf",
      le32(40) ++ le32(w) ++ le32(h) ++ le16(1) ++ le16(24) ++
        fcc("MJPG") ++ le32(w * h * 3) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0))
    val hdrl = riffList("hdrl", avih ++ riffList("strl", strh ++ strf))

    val moviChunks = frames.map(riffChunk("00dc", _))
    val movi = riffList("movi", moviChunks.flatten)
    // idx1 entries: offset is relative to the 'movi' fourcc position,
    // pointing at each '00dc' header; 0x10 = AVIIF_KEYFRAME.
    var off = 4
    val idxEntries = moviChunks.zip(frames).flatMap { case (c, fr) =>
      val e = fcc("00dc") ++ le32(0x10) ++ le32(off) ++ le32(fr.length)
      off += c.length
      e
    }
    val idx1 = riffChunk("idx1", idxEntries)

    val body = fcc("AVI ") ++ hdrl ++ movi ++ idx1
    val payload = fcc("RIFF") ++ le32(body.length) ++ body
    MediaBlob(id, "video/x-msvideo", payload)
  }

  /** REAL AVI parse: validates the RIFF/'AVI ' magic, reads the avih
    * header (dims + declared frame count) and the video strh's
    * RATIONAL dwRate/dwScale frame rate (the q21f lesson, AVI
    * edition: NTSC 29.97 is 30000/1001 — deriving fps from avih's
    * integer µs-per-frame alone truncates it to 29), walks the `movi`
    * list extracting every '00dc' video chunk's JPEG payload. Returns
    * (w, h, fpsNum, fpsDen, declaredFrames, jpeg byte arrays) or None
    * for bytes that are not a well-formed clip — the untrusted-media
    * fallback contract of [[decodeImage]]. The JPEG payloads are NOT
    * decoded here; pixel decode is the caller's per-frame
    * [[decodeImage]] step, keeping container demux and pixel codec as
    * separate stages the way a real media pipeline stages them.
    */
  def decodeAvi(payload: Array[Byte]): Option[(Int, Int, Int, Int, Int, Seq[Array[Byte]])] =
    try {
      def str(pos: Int, n: Int): String =
        new String(payload, pos, n, java.nio.charset.StandardCharsets.US_ASCII)
      def rdLe32(pos: Int): Int =
        (payload(pos) & 0xFF) | ((payload(pos + 1) & 0xFF) << 8) |
          ((payload(pos + 2) & 0xFF) << 16) | ((payload(pos + 3) & 0xFF) << 24)
      if (payload.length < 12 || str(0, 4) != "RIFF" || str(8, 4) != "AVI ")
        return None
      val riffEnd = math.min(payload.length.toLong, 8L + rdLe32(4)).toInt
      var w = -1; var h = -1; var declared = -1
      var fpsNum = -1; var fpsDen = 1
      val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      // Walk chunks in [from, to); recurse into LIST hdrl/strl/movi.
      def walk(from: Int, to: Int): Unit = {
        var pos = from
        while (pos + 8 <= to) {
          val id = str(pos, 4)
          val size = rdLe32(pos + 4)
          if (size < 0 || pos + 8 + size > to) return
          if (id == "LIST" && size >= 4) {
            val lt = str(pos + 8, 4)
            if (lt == "hdrl" || lt == "strl" || lt == "movi")
              walk(pos + 12, pos + 8 + size)
          } else if (id == "avih" && size >= 40) {
            declared = rdLe32(pos + 8 + 16)
            w = rdLe32(pos + 8 + 32)
            h = rdLe32(pos + 8 + 36)
            // Fallback rate only — the video strh's rational wins.
            val usPerFrame = rdLe32(pos + 8)
            if (fpsNum < 0 && usPerFrame > 0) { fpsNum = 1000000 / usPerFrame; fpsDen = 1 }
          } else if (id == "strh" && size >= 32 && str(pos + 8, 4) == "vids") {
            val scale = rdLe32(pos + 8 + 20)
            val rate = rdLe32(pos + 8 + 24)
            if (rate > 0 && scale > 0) { fpsNum = rate; fpsDen = scale }
          } else if (id == "00dc") {
            frames += java.util.Arrays.copyOfRange(payload, pos + 8, pos + 8 + size)
          }
          pos += 8 + size + (size & 1)
        }
      }
      walk(12, riffEnd)
      if (w <= 0 || h <= 0 || declared < 0 || frames.isEmpty) None
      else Some((w, h, fpsNum, fpsDen, declared, frames.toSeq))
    } catch {
      case scala.util.control.NonFatal(_) => None
    }

  /** Q21g — REAL pixel-codec video decode, oracle-checkable: per
    * document id, emit a deterministic MJPEG/AVI clip
    * ([[mjpegAviBlob]]), demux the container byte-level
    * ([[decodeAvi]]), then decode EVERY frame's JPEG with the actual
    * JDK codec and report what the decoder saw — dims, frame count,
    * total and first-frame gray sums. Block-aligned two-band frames
    * round-trip the lossy codec exactly, so the oracle recomputes the
    * sums from the generator's closed form: any container misparse,
    * frame mis-extraction, or codec drift breaks the hash. This closes
    * the last decode stub: container demux (q21f) AND pixel codec
    * (here) both run for real in-partition.
    */
  def mjpegDecode(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    graft.sources.Tables.widen(docs)
      .select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val blob = mjpegAviBlob(id)
          val (w, h, fpsNum, fpsDen, declared, frames) = decodeAvi(blob.payload)
            .getOrElse(sys.error(s"AVI round-trip failed for doc $id"))
          require(fpsDen == 1, s"generator emits den=1; parse drift for doc $id")
          val fps = fpsNum
          require(declared == frames.length,
            s"AVI header/chunk frame-count drift for doc $id")
          var total = 0L
          var first = 0L
          var f = 0
          while (f < frames.length) {
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(frames(f)))
            require(img != null && img.getWidth == w && img.getHeight == h,
              s"JPEG frame decode drift for doc $id frame $f")
            var s = 0L
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                s += img.getRGB(x, y) & 0xFF
                x += 1
              }
              y += 1
            }
            if (f == 0) first = s
            total += s
            f += 1
          }
          (id, w, h, fps, frames.length.toLong, total, first)
        }
      }
      .toDF("doc_id", "width", "height", "fps", "n_frames", "px_sum", "px_first")
      .orderBy("doc_id")
  }

  /** A metadata catalog query over the blob store: per media type,
    * count/bytes/dimension stats — reads ONLY sidecar columns, so the
    * parquet scan's ReadSchema must not contain `payload` (asserted by
    * MultimodalSpec).
    */
  def blobCatalog(store: DataFrame): DataFrame =
    store
      .groupBy("media_type")
      .agg(
        count(lit(1)).as("n_items"),
        sum("byte_len").as("total_bytes"),
        max("width").as("max_w"),
        max("height").as("max_h"),
        sum("n_frames").as("total_frames"))
      .orderBy("media_type")

  /** Documents → MediaBlob dataset (text bytes standing in for media
    * payloads — the test corpus has no real media).
    */
  def blobsFromDocuments(docs: DataFrame): Dataset[MediaBlob] = {
    import docs.sparkSession.implicits._
    docs.select(
        col("doc_id"),
        lit("text/plain").as("media_type"),
        col("text").cast("binary").as("payload"))
      .as[MediaBlob]
  }

  /** Q21c — resize planning: aspect-preserving target dimensions with
    * the long side capped at `maxDim` (never upscaled). Like frame
    * sampling this is metadata-only — the real pixel transform is the
    * stubbed codec's job; what the engine owns is the deterministic
    * dimension math every downstream batch needs agreed on.
    */
  def resizeMeta(docs: DataFrame, maxDim: Int): DataFrame =
    mediaMeta(docs)
      .withColumn("scale", least(
        lit(1.0),
        lit(maxDim.toDouble) / greatest(col("width"), col("height"))))
      .select(
        col("doc_id"), col("width"), col("height"),
        floor(col("width") * col("scale") + lit(0.5)).cast("int").as("resized_w"),
        floor(col("height") * col("scale") + lit(0.5)).cast("int").as("resized_h"))
      .orderBy("doc_id")

  /** Q21b — frame sampling: pick up to `maxFrames` evenly-spaced frame
    * indices per media item (stride = ceil(n/max)), the standard
    * decimation step before frame-level feature extraction. Pure
    * metadata math + one explode — the payload column is never touched,
    * so at scale the scan reads only the tiny metadata columns.
    */
  def sampleFrames(docs: DataFrame, maxFrames: Int): DataFrame =
    mediaMeta(docs)
      .select(
        col("doc_id"), col("n_frames"),
        explode(expr(
          s"""transform(
                sequence(0, CAST(ceil(CAST(n_frames AS DOUBLE) / $maxFrames) AS INT) * ($maxFrames - 1),
                         CAST(ceil(CAST(n_frames AS DOUBLE) / $maxFrames) AS INT)),
                x -> x)""")).as("frame_idx"))
      .where(col("frame_idx") < col("n_frames"))
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"), col("n_frames"))
      .orderBy("doc_id", "frame_idx")

  /** Q21 — declarative twin of [[decode]] for the oracle gate: the same
    * metadata extraction as pure SQL expressions (sha256 via sha2, fake
    * dims via the portable 48-bit hash). Proves the metadata contract;
    * [[decode]] proves the typed per-partition plumbing (unit-tested to
    * produce identical rows).
    */
  def mediaMeta(docs: DataFrame): DataFrame =
    docs
      .withColumn("payload", col("text").cast("binary"))
      .withColumn("sha256", sha2(col("payload"), 256))
      .withColumn("h48", expr(
        "CAST(conv(substring(sha256, 1, 12), 16, 10) AS BIGINT)"))
      .select(
        col("doc_id"),
        lit("text/plain").as("media_type"),
        length(col("payload")).cast("long").as("byte_len"),
        col("sha256"),
        (lit(64) + col("h48") % 960).cast("int").as("width"),
        (lit(64) + shiftright(col("h48"), 10) % 540).cast("int").as("height"),
        (lit(1) + col("h48") % 30).cast("int").as("n_frames"))
      .orderBy("doc_id")
}
