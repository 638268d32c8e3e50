package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import javax.imageio.ImageIO

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal columns: image/audio/video payloads as opaque `binary`
  * columns with typed metadata, plus the decode / feature-extract / resize
  * plumbing a training-data pipeline needs.
  *
  * JPEG/PNG decode, resize and pixel featurization are REAL, via the
  * JRE's own `javax.imageio` (no external deps): [[decodeMeta]] reads
  * intrinsic dimensions from the image header without decoding pixel
  * data, [[resizeImage]] decodes + rescales + re-encodes, and
  * [[extractImageFeatures]] computes deterministic luminance features
  * from decoded pixels. Payloads imageio cannot read (audio/video/unknown
  * formats — those codecs are NOT in this container) fall back to the
  * clearly-marked deterministic stubs, keeping every operator total.
  * Either way the Spark-side shape is the load-bearing part at 100 TB:
  * binary column schema, typed output rows, per-partition batched
  * execution (`mapPartitions`, the Scala analog of `mapInPandas` batch
  * processing — codec/model init per task, not per row), and partition
  * sizing so one task never holds more than a bounded number of payload
  * bytes ([[repartitionByBytes]]).
  */
object Multimodal {

  /** Full decode for the pixel-touching operators: sniff, then
    * `ImageIO.read` guarded against right-magic-but-corrupt payloads —
    * a truncated JPEG makes `read` throw `IIOException`, and an operator
    * that dies on one bad row cannot claim totality over a mixed corpus.
    * Returns null (the callers' stub-fallback signal) on any failure. */
  private def readImage(bytes: Array[Byte]): BufferedImage =
    if (sniff(bytes) == "unknown") null
    else try ImageIO.read(new ByteArrayInputStream(bytes))
    catch { case _: Exception => null }

  /** Magic-prefix format sniff (same rule as [[binaryMeta]]'s column
    * form). */
  private def sniff(bytes: Array[Byte]): String =
    if (bytes == null || bytes.length < 4) "unknown"
    else if ((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8) "jpeg"
    else if ((bytes(0) & 0xff) == 0x89 && bytes(1) == 'P' && bytes(2) == 'N' &&
      bytes(3) == 'G') "png"
    else "unknown"

  /** The payload-operator scaffold every decoder below runs on:
    * (id cast to long, payload) rows mapped per partition — codec/model
    * init per task, not per row. The input should be pre-repartitioned
    * so Σbytes per partition is bounded (see [[repartitionByBytes]]). */
  private def payloadOp[T <: Product : TypeTag](df: DataFrame, idCol: String,
      binCol: String)(f: Iterator[(Long, Array[Byte])] => Iterator[T]): Dataset[T] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(f)
  }

  /** The fixture-renderer scaffold: (id cast to long, `cols`…) rows →
    * (id, payload) rows, encoder init per partition. */
  private def renderOp[R <: Product : TypeTag](df: DataFrame, idCol: String,
      cols: Column*)(render: R => (Long, Array[Byte])): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long") +: cols: _*).as[R]
      .mapPartitions(_.map(render)).toDF(idCol, "payload")
  }

  /** Byte count of a payload for the stub-fallback rows (0 for null). */
  private def nBytes(bytes: Array[Byte]): Int =
    if (bytes == null) 0 else bytes.length

  /** Unsigned reads of a payload in one byte order — the reader of every
    * byte-walk decoder below. An offset past the buffer throws, and each
    * decoder's catch turns that into None. */
  private final class ByteReader(bytes: Array[Byte], littleEndian: Boolean) {
    def u8(o: Int): Int = bytes(o) & 0xff
    def u16(o: Int): Int =
      if (littleEndian) u8(o) | (u8(o + 1) << 8) else (u8(o) << 8) | u8(o + 1)
    def u32(o: Int): Long =
      if (littleEndian) (u16(o + 2).toLong << 16) | u16(o)
      else (u16(o).toLong << 16) | u16(o + 2)
    def tag(o: Int): String = new String(bytes, o, 4, "US-ASCII")
    def length: Int = bytes.length
  }

  /** The RIFF chunk walk (WAV, AVI and AVI's `hdrl` list): calls
    * `visit(id, offset, len)` on each chunk header in [from, end) until
    * it returns false. Returns false for a malformed walk: a corrupt
    * length can make the word-aligned advance 8 + len + pad non-positive,
    * and without this check the walk spins forever and wedges the task. */
  private def riffChunks(r: ByteReader, from: Int, end: Int)(
      visit: (String, Int, Long) => Boolean): Boolean = {
    var off = from
    var more = true
    while (more && off + 8 <= end) {
      val len = r.u32(off + 4)
      more = visit(r.tag(off), off, len)
      val advance = 8 + len.toInt + (len.toInt & 1)
      if (advance <= 0) return false
      off += advance
    }
    true
  }

  /** The ISO-BMFF box walk (MP4's top level, `moov` and `trak`): calls
    * `visit(type, offset, size)` on each box header in [from, end) until
    * it returns false. Returns false for a malformed walk: a u32 size
    * below 8 or past the buffer (incl. > Int.MaxValue, which would go
    * negative under .toInt and walk the cursor backwards) is malformed by
    * definition — and so are size==1 (a 64-bit largesize, out of scope
    * for metadata headers) and size==0 ("to end of file", only legal for
    * the last box). */
  private def isoBoxes(r: ByteReader, from: Int, end: Int)(
      visit: (String, Int, Long) => Boolean): Boolean = {
    var off = from
    var more = true
    while (more && off + 8 <= end) {
      val size = r.u32(off)
      more = visit(r.tag(off + 4), off, size)
      if (size < 8 || size > r.length) return false
      off += size.toInt
    }
    true
  }

  // per-row ImageIO calls would otherwise allocate a disk-backed
  // FileCacheImageInputStream (a temp file create/write/delete per row —
  // syscalls on the O(header) hot path, and /tmp pressure at scale)
  javax.imageio.ImageIO.setUseCache(false)

  private val md5Pool = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private def md5Hex(bytes: Array[Byte]): String = {
    val md = md5Pool.get()
    md.reset()
    md.digest(bytes).map(b => f"${b & 0xff}%02x").mkString
  }

  /** Typed metadata extracted from a binary media payload. */
  case class MediaMeta(
      doc_id: Long,
      n_bytes: Long,
      format: String,
      width: Int,
      height: Int,
      checksum: String)

  /** Column-level metadata: byte length + magic-prefix format sniff +
    * content hash. Pure expressions — codegen'd, no decode needed. This is
    * the cheap pass that runs on all 100 TB before any decode. */
  def binaryMeta(df: DataFrame, idCol: String, binCol: String): DataFrame =
    df.select(
      col(idCol).as("doc_id"),
      octet_length(col(binCol)).cast("long").as("n_bytes"),
      hex(substring(col(binCol), 1, 4)).as("magic_hex"),
      md5(col(binCol)).as("checksum"),
      when(hex(substring(col(binCol), 1, 2)) === "FFD8", "jpeg")
        .when(hex(substring(col(binCol), 1, 4)) === "89504E47", "png")
        .otherwise("unknown").as("format"))

  /** ===== STUB ===== deterministic fake decode for payloads imageio
    * cannot read (audio/video/unknown): derives plausible dimensions from
    * the payload bytes instead of decoding them. A deployment with
    * ffmpeg/audio bindings plugs the real codec behind the same seam. */
  def fakeDecode(id: Long, bytes: Array[Byte]): MediaMeta = {
    val n = nBytes(bytes)
    val head = if (bytes == null) Array.emptyByteArray else bytes.take(16)
    val h = head.foldLeft(17L)((acc, b) => acc * 31 + (b & 0xff))
    MediaMeta(
      doc_id = id,
      n_bytes = n.toLong,
      format = if (n % 2 == 0) "jpeg" else "png",
      width = 64 + (h % 576).toInt.abs,
      height = 64 + ((h / 576) % 416).toInt.abs,
      checksum = f"${h}%016x")
  }

  /** REAL single-payload decode: JPEG/PNG intrinsic dimensions read from
    * the image HEADER via an imageio `ImageReader` — `getWidth(0)` never
    * decodes pixel data, so cost is O(header), not O(pixels); exactly what
    * a 100 TB metadata pass wants. Returns None when no reader accepts
    * the payload (corrupt or non-image). */
  def decodeImageMeta(id: Long, bytes: Array[Byte]): Option[MediaMeta] = {
    val fmt = sniff(bytes)
    if (fmt == "unknown") None
    else try {
      val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
      try {
        val readers = ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val r = readers.next()
          try {
            r.setInput(iis)
            Some(MediaMeta(id, bytes.length.toLong, fmt,
              r.getWidth(0), r.getHeight(0), md5Hex(bytes)))
          } finally r.dispose()
        }
      } finally iis.close()
    } catch {
      // right-magic-but-corrupt payloads (truncated headers etc.) are a
      // fact of life in a 100 TB corpus: fall back, never kill the task
      case _: Exception => None
    }
  }

  /** The decode operator: per-partition batched decode of binary payloads
    * into typed metadata — real imageio header decode for JPEG/PNG,
    * deterministic stub for everything else. */
  def decodeMeta(df: DataFrame, idCol: String,
                 binCol: String): Dataset[MediaMeta] =
    payloadOp(df, idCol, binCol)(_.map { case (id, bytes) =>
      decodeImageMeta(id, bytes).getOrElse(fakeDecode(id, bytes))
    })

  /** Deterministic PNG rendering: (id, width, height) → real PNG payload
    * with LCG-seeded pixels. This is the fixture-side generator that lets
    * the decode/resize operators be exercised — and oracle-checked — on
    * real image bytes built from fixture columns (the container ships no
    * image files). Encoder init is per-partition; dims should be small. */
  def renderPng(df: DataFrame, idCol: String, wCol: String,
                hCol: String): DataFrame =
    renderOp[(Long, Int, Int)](df, idCol, col(wCol).cast("int"),
        col(hCol).cast("int")) { case (id, w, h) =>
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      var s = id * 6364136223846793005L + 1442695040888963407L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          s = s * 6364136223846793005L + 1442695040888963407L
          img.setRGB(x, y, ((s >>> 40) & 0xffffff).toInt)
          x += 1
        }
        y += 1
      }
      (id, pngBytes(img))
    }

  /** PNG encode of a rendered or resized image. */
  private def pngBytes(img: BufferedImage): Array[Byte] = {
    val baos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  /** Typed output of [[extractFeaturesStub]]: fixed-dim embedding per doc. */
  case class MediaFeatures(doc_id: Long, dim: Int, embedding: Seq[Float])

  /** Feature extraction: binary payload → fixed-`dim` float embedding.
    * ===== STUB ===== the featurizer is a deterministic LCG seeded from the
    * payload bytes (a real deployment plugs a vision/audio model here).
    * Real and load-bearing: the `mapPartitions` batch shape (model init
    * per task, not per row), the fixed-dim `array<float>` output schema
    * that downstream similarity operators consume, and byte-bounded input
    * partitions via [[repartitionByBytes]]. */
  def extractFeaturesStub(df: DataFrame, idCol: String, binCol: String,
                          dim: Int): Dataset[MediaFeatures] =
    payloadOp(df, idCol, binCol) { it =>
      // per-task "model load" happens here in a real featurizer
      val f = stubFeatures(dim) _
      it.map { case (id, bytes) => MediaFeatures(id, dim, f(bytes)) }
    }

  /** REAL feature extraction for image payloads: decode via imageio, then
    * `dim` deterministic features — mean luminance (0..1) over the pixel
    * stripe where (x + y·w) ≡ d (mod dim). Integer-accumulated then one
    * double divide: bit-stable under any pixel visit order. Non-image
    * payloads fall back to the stub LCG featurizer, so the operator stays
    * total over a mixed corpus. */
  def extractImageFeatures(df: DataFrame, idCol: String, binCol: String,
                           dim: Int): Dataset[MediaFeatures] = {
    val stub = stubFeatures(dim) _
    // a real vision model would load per task here, not per row
    payloadOp(df, idCol, binCol)(_.map { case (id, bytes) =>
      val img = readImage(bytes)
      if (img == null) MediaFeatures(id, dim, stub(bytes))
      else {
        val w = img.getWidth
        val (sums, counts) = lumBins(img, dim)((x, y) => (x + y * w) % dim)
        val emb = Array.tabulate(dim)(d =>
          if (counts(d) == 0) 0.0f
          else (sums(d).toDouble / (counts(d) * 765.0)).toFloat)
        MediaFeatures(id, dim, emb.toSeq)
      }
    })
  }

  /** Integer luminance R+G+B (0..765) of every pixel, summed into `nBins`
    * bins by `bin(x, y)`, with each bin's pixel count — the pixel pass
    * shared by [[extractImageFeatures]] and [[imageAHash]]. Integer sums
    * are exact under any pixel visit order. */
  private def lumBins(img: BufferedImage, nBins: Int)(
      bin: (Int, Int) => Int): (Array[Long], Array[Long]) = {
    val sums = new Array[Long](nBins)
    val counts = new Array[Long](nBins)
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val rgb = img.getRGB(x, y)
        val b = bin(x, y)
        sums(b) += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
        counts(b) += 1
        x += 1
      }
      y += 1
    }
    (sums, counts)
  }

  /** The stub LCG featurizer body, shared by [[extractFeaturesStub]] and
    * the non-image fallback of [[extractImageFeatures]]. */
  private def stubFeatures(dim: Int)(bytes: Array[Byte]): Seq[Float] = {
    var s = if (bytes == null) 1L
      else bytes.foldLeft(17L)((acc, b) => acc * 31 + (b & 0xff)) | 1L
    Array.fill(dim) {
      s = s * 6364136223846793005L + 1442695040888963407L
      ((s >>> 33).toInt % 1000) / 1000.0f
    }.toSeq
  }

  /** Typed output of the resize operators: payload re-encoded at target
    * dims. */
  case class ResizedMedia(doc_id: Long, width: Int, height: Int,
                          n_bytes: Long, payload: Array[Byte])

  /** REAL resize for image payloads: imageio decode → Graphics2D bilinear
    * rescale → PNG re-encode. The output is a genuine decodable image at
    * (targetW, targetH) — round-tripped through [[decodeMeta]] in the
    * oracle query. Non-image payloads fall back to [[resizeStub]]'s
    * deterministic byte-fold. */
  def resizeImage(df: DataFrame, idCol: String, binCol: String,
                  targetW: Int, targetH: Int): Dataset[ResizedMedia] =
    payloadOp(df, idCol, binCol)(_.map { case (id, bytes) =>
      val img = readImage(bytes)
      if (img == null) stubResized(id, bytes, targetW, targetH)
      else {
        val dst = new BufferedImage(targetW, targetH,
          BufferedImage.TYPE_INT_RGB)
        val g = dst.createGraphics()
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, targetW, targetH, null)
        g.dispose()
        val out = pngBytes(dst)
        ResizedMedia(id, targetW, targetH, out.length.toLong, out)
      }
    })

  /** Resize: binary payload → payload re-encoded at (targetW, targetH).
    * ===== STUB ===== decode+scale+encode is faked as a deterministic
    * byte-fold (no codecs in this container). Real: the binary-in /
    * binary-out operator shape, output sized ∝ target area (so downstream
    * [[repartitionByBytes]] stays meaningful), per-partition batching. */
  def resizeStub(df: DataFrame, idCol: String, binCol: String,
                 targetW: Int, targetH: Int): Dataset[ResizedMedia] =
    payloadOp(df, idCol, binCol)(_.map { case (id, bytes) =>
      stubResized(id, bytes, targetW, targetH)
    })

  /** [[resizeStub]]'s byte-fold, also [[resizeImage]]'s non-image
    * fallback. */
  private def stubResized(id: Long, bytes: Array[Byte], targetW: Int,
                          targetH: Int): ResizedMedia = {
    val outLen = math.max(16, targetW * targetH / 64)
    val src = if (bytes == null || bytes.isEmpty) Array[Byte](0) else bytes
    val out = Array.tabulate(outLen)(i =>
      (src(i % src.length) ^ (i & 0x7f)).toByte)
    ResizedMedia(id, targetW, targetH, outLen.toLong, out)
  }

  /** Typed metadata of an audio payload. */
  case class AudioMeta(doc_id: Long, format: String, sample_rate: Int,
                       channels: Int, bits_per_sample: Int, n_samples: Long,
                       duration_ms: Long)

  /** REAL WAV (RIFF) header decode — pure byte parsing, no codec library:
    * fmt chunk → sample rate / channels / bit depth, data chunk → sample
    * count and duration. O(header) like [[decodeImageMeta]]. Returns None
    * for non-WAV or malformed payloads (caller falls back or filters). */
  def decodeWavMeta(id: Long, bytes: Array[Byte]): Option[AudioMeta] =
    try wavChunks(bytes).flatMap { w =>
      w.fmt.flatMap { case (rate, ch, bits) =>
        if (w.dataLen < 0 || rate <= 0 || ch <= 0 || bits <= 0) None
        else {
          val nSamples = w.dataLen / (ch * bits / 8)
          Some(AudioMeta(id, "wav", rate, ch, bits, nSamples,
            nSamples * 1000L / rate))
        }
      }
    } catch { case _: Exception => None }

  /** What the RIFF walk of a WAV payload found: the fmt chunk's (sample
    * rate, channels, bits per sample), and the data chunk's offset and
    * length (-1 when absent). */
  private case class WavChunks(fmt: Option[(Int, Int, Int)], dataOff: Int,
                               dataLen: Long)

  /** The fmt/data walk of both WAV decoders; None for non-WAV or malformed
    * payloads. Chunks are walked, never assumed at fixed offsets past 12:
    * a real-world WAV may interleave others (LIST, fact). */
  private def wavChunks(bytes: Array[Byte]): Option[WavChunks] = {
    val r = new ByteReader(bytes, littleEndian = true)
    if (bytes == null || bytes.length < 44 || r.tag(0) != "RIFF" ||
      r.tag(8) != "WAVE") None
    else {
      var fmt: Option[(Int, Int, Int)] = None
      var dataOff = -1
      var dataLen = -1L
      val ok = riffChunks(r, 12, bytes.length) { (id4, off, len) =>
        // the fmt fields live in THIS chunk's bytes: a declared len<16
        // must not let the reads spill into the next chunk's payload
        if (id4 == "fmt " && len >= 16 && off + 24 <= bytes.length)
          fmt = Some((r.u32(off + 12).toInt, r.u16(off + 10), r.u16(off + 22)))
        else if (id4 == "data") {
          dataOff = off + 8
          // clamp to the bytes actually present — a corrupt header's
          // inflated declared length must not inflate n_samples/duration
          dataLen = math.min(len, math.max(0L, bytes.length - off - 8L))
        }
        fmt.isEmpty || dataOff < 0
      }
      if (ok) Some(WavChunks(fmt, dataOff, dataLen)) else None
    }
  }

  /** Deterministic mono 16-bit PCM WAV rendering: (id, n_samples,
    * sample_rate) → real RIFF/WAVE payload with LCG-seeded samples — the
    * fixture-side generator for exercising [[decodeWavMeta]] on real
    * audio bytes built from fixture columns (no audio files ship in the
    * container). */
  def renderWav(df: DataFrame, idCol: String, nSamplesCol: String,
                rateCol: String): DataFrame =
    renderOp[(Long, Int, Int)](df, idCol, col(nSamplesCol).cast("int"),
        col(rateCol).cast("int")) { case (id, n, rate) =>
      val bb = wavHeader(n, rate)
      var s = id * 6364136223846793005L + 1442695040888963407L
      var i = 0
      while (i < n) {
        s = s * 6364136223846793005L + 1442695040888963407L
        bb.putShort((s >>> 48).toShort)
        i += 1
      }
      (id, bb.array())
    }

  /** The RIFF/WAVE header of a mono 16-bit PCM payload of `n` samples at
    * `rate`, in a buffer sized for the samples the caller appends. */
  private def wavHeader(n: Int, rate: Int): ByteBuffer = {
    val dataLen = n * 2
    val bb = ByteBuffer.allocate(44 + dataLen).order(ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(rate).putInt(rate * 2).putShort(2).putShort(16)
    bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
  }

  /** Audio decode operator: WAV payloads → typed metadata via the real
    * RIFF parser; non-WAV payloads fall back to a deterministic stub row
    * (format "unknown", dims from the byte fold) so the operator stays
    * total over a mixed corpus. */
  def decodeAudioMeta(df: DataFrame, idCol: String,
                      binCol: String): Dataset[AudioMeta] =
    payloadOp(df, idCol, binCol)(_.map { case (id, bytes) =>
      decodeWavMeta(id, bytes).getOrElse(
        AudioMeta(id, "unknown", 0, 0, 0, nBytes(bytes).toLong, 0L))
    })

  /** Deterministic mono 16-bit PCM SQUARE-WAVE WAV rendering: sample_i =
    * +amp for even i, −amp for odd — every decoded-feature expectation
    * (peak = amp, rms = amp, Σ = amp·(n mod 2)) is closed-form in the
    * fixture columns, so the PCM DECODE path gets an arithmetic DuckDB
    * twin (the LCG renderer's samples would need 64-bit wrapping
    * multiplication, which DuckDB refuses). */
  def renderWavSquare(df: DataFrame, idCol: String, nSamplesCol: String,
                      rateCol: String, ampCol: String): DataFrame =
    renderOp[(Long, Int, Int, Int)](df, idCol, col(nSamplesCol).cast("int"),
        col(rateCol).cast("int"), col(ampCol).cast("int")) {
      case (id, n, rate, amp) =>
        val bb = wavHeader(n, rate)
        var i = 0
        while (i < n) {
          bb.putShort(if ((i & 1) == 0) amp.toShort else (-amp).toShort)
          i += 1
        }
        (id, bb.array())
    }

  /** Decoded-sample statistics of a 16-bit PCM WAV payload. */
  case class AudioPcmStats(doc_id: Long, n_samples: Long, peak: Int,
                           sum_samples: Long, rms: Double)

  /** REAL PCM sample decode: walk RIFF chunks to fmt/data (the walk
    * [[decodeWavMeta]] shares), then read every little-endian int16
    * sample in the data chunk and fold peak / Σx / Σx² in one pass —
    * rms = √(Σx²/n). O(payload) but single-pass and allocation-free;
    * None for non-WAV, non-16-bit, or malformed payloads. */
  def decodeWavPcm(id: Long, bytes: Array[Byte]): Option[AudioPcmStats] =
    try wavChunks(bytes)
      .filter(w => w.fmt.exists(_._3 == 16) && w.dataLen >= 2)
      .map { w =>
        val r = new ByteReader(bytes, littleEndian = true)
        val n = (w.dataLen / 2).toInt
        var peak = 0
        var sum = 0L
        var sumSq = 0L
        var i = 0
        while (i < n) {
          val s = r.u16(w.dataOff + i * 2).toShort.toInt
          val a = math.abs(s)
          if (a > peak) peak = a
          sum += s
          sumSq += s.toLong * s.toLong
          i += 1
        }
        AudioPcmStats(id, n.toLong, peak, sum,
          math.sqrt(sumSq.toDouble / n.toDouble))
      } catch { case _: Exception => None }

  /** PCM feature-extraction operator over a binary WAV column —
    * mapPartitions like the other decoders; undecodable payloads fall
    * back to an all-zero stats row so the operator stays total. */
  def pcmStats(df: DataFrame, idCol: String,
               binCol: String): Dataset[AudioPcmStats] =
    payloadOp(df, idCol, binCol)(_.map { case (id, bytes) =>
      decodeWavPcm(id, bytes).getOrElse(AudioPcmStats(id, 0L, 0, 0L, 0.0))
    })

  /** Typed metadata of a video-container payload. */
  case class VideoMeta(doc_id: Long, format: String, timescale: Int,
                       duration_ms: Long, n_tracks: Int, width: Int,
                       height: Int)

  /** REAL MP4 (ISO-BMFF) container metadata decode — pure byte parsing,
    * no codec library, same O(header) discipline as [[decodeWavMeta]]:
    * walk the top-level box list to `moov`, read `mvhd` (timescale,
    * duration — v0 and v1 layouts), count `trak` children, and read the
    * first track's `tkhd` 16.16 fixed-point width/height. Big-endian
    * reads (ISO-BMFF); every level walks through [[isoBoxes]], which
    * guards against corrupt size fields. Returns None for non-MP4 or
    * malformed payloads. */
  def decodeMp4Meta(id: Long, bytes: Array[Byte]): Option[VideoMeta] = {
    val r = new ByteReader(bytes, littleEndian = false)
    try {
      if (bytes == null || bytes.length < 16 || r.tag(4) != "ftyp") None
      else {
        var moov = -1
        var moovEnd = -1
        val topOk = isoBoxes(r, 0, bytes.length) { (typ, off, size) =>
          if (typ == "moov") {
            moov = off
            moovEnd = math.min(bytes.length.toLong, off + size).toInt
          }
          moov < 0
        }
        if (!topOk || moov < 0) None
        else {
          var ts = 0L; var durUnits = -1L; var nTraks = 0
          var w = 0; var h = 0
          var trakOk = true
          val moovOk = isoBoxes(r, moov + 8, moovEnd) { (typ, o, size) =>
            if (typ == "mvhd" && o + 32 <= moovEnd) {
              if (r.u8(o + 8) == 0) {
                ts = r.u32(o + 20); durUnits = r.u32(o + 24)
              } else if (o + 44 <= moovEnd) { // v1: 64-bit times
                ts = r.u32(o + 28)
                durUnits = (r.u32(o + 32) << 32) | r.u32(o + 36)
              }
            } else if (typ == "trak") {
              nTraks += 1
              // only the first trak's tkhd supplies dims (the fixture
              // renders identical dims per track; a real corpus would
              // surface per-track rows via a trak-exploding variant)
              if (nTraks == 1) {
                val trakEnd = math.min(moovEnd.toLong, o + size).toInt
                trakOk = isoBoxes(r, o + 8, trakEnd) { (inner, t, _) =>
                  if (inner == "tkhd") {
                    val wOff = if (r.u8(t + 8) == 0) t + 84 else t + 96
                    if (wOff + 8 <= trakEnd) {
                      w = (r.u32(wOff) >> 16).toInt   // 16.16 fixed point
                      h = (r.u32(wOff + 4) >> 16).toInt
                    }
                  }
                  true
                }
              }
            }
            trakOk
          }
          // a u32 timescale above Int.MaxValue cannot be represented in
          // the Int metadata field — malformed, not a negative timescale
          if (!moovOk || !trakOk || ts <= 0 || ts > Int.MaxValue ||
            durUnits < 0) None
          else Some(VideoMeta(id, "mp4", ts.toInt,
            durUnits * 1000L / ts, nTraks, w, h))
        }
      }
    } catch { case _: Exception => None }
  }

  /** Deterministic minimal-MP4 rendering: (id, timescale, duration-units,
    * n_tracks, w, h) → a real `ftyp`+`moov(mvhd, trak(tkhd)…)` container
    * — the fixture-side generator for exercising [[decodeMp4Meta]] on
    * real ISO-BMFF bytes built from fixture columns (no video files ship
    * in the container). Box layouts follow ISO/IEC 14496-12 v0 boxes. */
  def renderMp4(df: DataFrame, idCol: String, timescaleCol: String,
                durUnitsCol: String, nTracksCol: String, wCol: String,
                hCol: String): DataFrame =
    renderOp[(Long, Int, Long, Int, Int, Int)](df, idCol,
        col(timescaleCol).cast("int"), col(durUnitsCol).cast("long"),
        col(nTracksCol).cast("int"), col(wCol).cast("int"),
        col(hCol).cast("int")) { case (id, ts, dur, nTracks, w, h) =>
      val moovSize = 8 + 108 + nTracks * 100
      val bb = ByteBuffer.allocate(20 + moovSize)
        .order(ByteOrder.BIG_ENDIAN)
      // ftyp
      bb.putInt(20).put("ftyp".getBytes("US-ASCII"))
        .put("isom".getBytes("US-ASCII")).putInt(0x200)
        .put("isom".getBytes("US-ASCII"))
      // moov > mvhd (v0, 108 bytes)
      bb.putInt(moovSize).put("moov".getBytes("US-ASCII"))
      bb.putInt(108).put("mvhd".getBytes("US-ASCII"))
        .putInt(0)                 // version/flags
        .putInt(0).putInt(0)       // ctime/mtime
        .putInt(ts).putInt(dur.toInt)
        .putInt(0x00010000).putShort(0x0100.toShort).putShort(0)
      bb.putLong(0)                // reserved
      // unity matrix
      bb.putInt(0x00010000).putInt(0).putInt(0)
      bb.putInt(0).putInt(0x00010000).putInt(0)
      bb.putInt(0).putInt(0).putInt(0x40000000)
      (0 until 6).foreach(_ => bb.putInt(0)) // pre_defined
      bb.putInt(nTracks + 1)       // next_track_ID
      // trak > tkhd (v0, 92 bytes) per track
      (1 to nTracks).foreach { tid =>
        bb.putInt(100).put("trak".getBytes("US-ASCII"))
        bb.putInt(92).put("tkhd".getBytes("US-ASCII"))
          .putInt(3)               // version 0, flags enabled|in-movie
          .putInt(0).putInt(0)     // ctime/mtime
          .putInt(tid).putInt(0)   // track_ID, reserved
          .putInt(dur.toInt)
        bb.putLong(0)              // reserved
        bb.putShort(0).putShort(0).putShort(0).putShort(0)
        bb.putInt(0x00010000).putInt(0).putInt(0)
        bb.putInt(0).putInt(0x00010000).putInt(0)
        bb.putInt(0).putInt(0).putInt(0x40000000)
        bb.putInt(w << 16).putInt(h << 16) // 16.16 fixed point
      }
      (id, bb.array())
    }

  /** Typed metadata of an AVI payload. */
  case class AviMeta(doc_id: Long, format: String, frame_us: Long,
                     n_frames: Long, n_streams: Int, width: Int,
                     height: Int, duration_ms: Long)

  /** REAL AVI (RIFF) container metadata decode — the second RIFF walker
    * next to [[decodeWavMeta]], little-endian, O(header), loop-guarded by
    * [[riffChunks]] at both levels: `RIFF…AVI ` → `LIST hdrl` → `avih`
    * main header (µs/frame, total frames, stream count, dims). Returns
    * None for non-AVI or malformed payloads. */
  def decodeAviMeta(id: Long, bytes: Array[Byte]): Option[AviMeta] = {
    val r = new ByteReader(bytes, littleEndian = true)
    try {
      if (bytes == null || bytes.length < 24 || r.tag(0) != "RIFF" ||
        r.tag(8) != "AVI ") None
      else {
        var meta: Option[AviMeta] = None
        var hdrlOk = true
        val ok = riffChunks(r, 12, bytes.length) { (id4, off, len) =>
          if (id4 == "LIST" && off + 12 <= bytes.length &&
            r.tag(off + 8) == "hdrl") {
            // walk the hdrl list for the avih main header
            val listEnd = math.min(bytes.length.toLong, off + 8 + len).toInt
            hdrlOk = riffChunks(r, off + 12, listEnd) { (cid, o, clen) =>
              if (cid == "avih" && clen >= 40 && o + 8 + 40 <= listEnd) {
                val frameUs = r.u32(o + 8)
                val nFrames = r.u32(o + 8 + 16)
                val nStreams = r.u32(o + 8 + 24).toInt
                val w = r.u32(o + 8 + 32).toInt
                val h = r.u32(o + 8 + 36).toInt
                if (frameUs > 0)
                  meta = Some(AviMeta(id, "avi", frameUs, nFrames, nStreams,
                    w, h, frameUs * nFrames / 1000L))
              }
              meta.isEmpty
            }
          }
          hdrlOk && meta.isEmpty
        }
        if (ok && hdrlOk) meta else None
      }
    } catch { case _: Exception => None }
  }

  /** Deterministic minimal-AVI rendering: (id, µs/frame, frames,
    * streams, w, h) → a real `RIFF(AVI  LIST(hdrl avih))` container for
    * exercising [[decodeAviMeta]] on genuine bytes. */
  def renderAvi(df: DataFrame, idCol: String, frameUsCol: String,
                nFramesCol: String, nStreamsCol: String, wCol: String,
                hCol: String): DataFrame =
    renderOp[(Long, Long, Long, Int, Int, Int)](df, idCol,
        col(frameUsCol).cast("long"), col(nFramesCol).cast("long"),
        col(nStreamsCol).cast("int"), col(wCol).cast("int"),
        col(hCol).cast("int")) { case (id, frameUs, nFrames, nStreams, w, h) =>
      val avihLen = 56
      val hdrlLen = 4 + 8 + avihLen       // "hdrl" + avih chunk
      val riffLen = 4 + 8 + hdrlLen       // "AVI " + LIST chunk
      val bb = ByteBuffer.allocate(8 + riffLen)
        .order(ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(riffLen)
        .put("AVI ".getBytes("US-ASCII"))
      bb.put("LIST".getBytes("US-ASCII")).putInt(hdrlLen)
        .put("hdrl".getBytes("US-ASCII"))
      bb.put("avih".getBytes("US-ASCII")).putInt(avihLen)
        .putInt(frameUs.toInt)  // dwMicroSecPerFrame
        .putInt(0).putInt(0).putInt(0)
        .putInt(nFrames.toInt)  // dwTotalFrames
        .putInt(0)
        .putInt(nStreams)       // dwStreams
        .putInt(0)
        .putInt(w).putInt(h)    // dwWidth / dwHeight
        .putInt(0).putInt(0).putInt(0).putInt(0)
      (id, bb.array())
    }

  /** AVI decode operator with the standard stub-fallback totality
    * contract (see [[decodeVideoMeta]]). */
  def decodeAviMetaOp(df: DataFrame, idCol: String,
                      binCol: String): Dataset[AviMeta] =
    payloadOp(df, idCol, binCol)(_.map { case (id, bytes) =>
      decodeAviMeta(id, bytes).getOrElse(
        AviMeta(id, "unknown", 0L, 0L, 0, nBytes(bytes), 0, 0L))
    })

  /** Video-container decode operator: MP4 payloads → typed metadata via
    * the real box-walk parser; non-MP4 payloads fall back to a
    * deterministic stub row so the operator stays total over a mixed
    * corpus (same contract as [[decodeAudioMeta]]). */
  def decodeVideoMeta(df: DataFrame, idCol: String,
                      binCol: String): Dataset[VideoMeta] =
    payloadOp(df, idCol, binCol)(_.map { case (id, bytes) =>
      decodeMp4Meta(id, bytes).getOrElse(
        VideoMeta(id, "unknown", 0, 0L, 0, nBytes(bytes), 0))
    })

  /** Frame sampling for video-like columns (`array<binary>` of frames):
    * keep every `everyN`-th frame, preserving frame index. Pure
    * posexplode + filter — codegen'd, narrow, no shuffle; the standard
    * decimation pass before any per-frame decode at 100 TB. */
  def frameSample(df: DataFrame, idCol: String, framesCol: String,
                  everyN: Int): DataFrame =
    df.select(col(idCol).as("doc_id"),
        posexplode(col(framesCol)).as(Seq("frame_idx", "frame")))
      .filter(col("frame_idx") % everyN === 0)
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        col("frame"))

  /** Size-aware repartitioning: target ≤ `bytesPerPartition` of payload per
    * task so decode tasks neither OOM nor straggle. At 100 TB this is the
    * difference between a working decode pass and a dead cluster.
    *
    * Sizing: when every leaf of the plan is a file relation, Catalyst's
    * `stats.sizeInBytes` IS the summed file size — FREE, no data pass
    * (payload columns dominate row size, so whole-row bytes are the right
    * proxy; this is the 100 TB path). File stats are COMPRESSED on-disk
    * bytes while the bound is about in-memory payload bytes, so the
    * estimate is inflated by `compressionFactor` (how much larger data is
    * in memory than on disk — already-compressed media ≈ 1, text-heavy
    * payloads considerably more; err high: too many partitions wastes
    * scheduling, too few OOMs). Non-file plans (local/in-memory
    * relations) carry schema-derived guesses instead of real sizes, so
    * they fall back to one exact aggregation over the payload column. */
  def repartitionByBytes(df: DataFrame, binCol: String,
                         bytesPerPartition: Long,
                         compressionFactor: Double = 3.0): DataFrame = {
    val leaves = df.queryExecution.optimizedPlan.collectLeaves()
    val fileBacked = leaves.nonEmpty && leaves.forall {
      case _: org.apache.spark.sql.execution.datasources.LogicalRelation => true
      case _ => false
    }
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val total =
      if (fileBacked && est > 0 && est < BigInt(Long.MaxValue))
        (est.toLong * compressionFactor).toLong
      else df.agg(sum(octet_length(col(binCol)).cast("long")))
        .head().getLong(0)
    val parts = math.max(1, (total / bytesPerPartition).toInt + 1)
    df.repartition(parts)
  }

  /** Typed output of [[imageAHash]]: the 64-bit perceptual average-hash
    * split into two 32-bit halves (bits 0-31 in `ahash_lo`, 32-63 in
    * `ahash_hi`) so every value stays positive in a BIGINT in BOTH
    * engines — the same reasoning as the 60-bit SimHash
    * ([[Dedup.SimhashBits]]); hamming distance is
    * bit_count(xor(lo)) + bit_count(xor(hi)) on either side. */
  case class AHashRow(doc_id: Long, ahash_lo: Long, ahash_hi: Long)

  /** Deterministic block-pattern PNG renderer for the perceptual-hash
    * fixtures: an 8×8 grid of blocks over a (w, h) canvas, block
    * b = by·8+bx painted bright gray (200) when bit b of the 64-bit
    * pattern word (loCol = bits 0-31, hiCol = bits 32-63) is set, dark
    * gray (50) otherwise. The SAME image content rendered at different
    * (w, h) resolutions produces the same average-hash — which is the
    * perceptual property mm8's fixture exercises. */
  def renderBlockPng(df: DataFrame, idCol: String, loCol: String,
                     hiCol: String, wCol: String, hCol: String): DataFrame =
    renderOp[(Long, Long, Long, Int, Int)](df, idCol, col(loCol).cast("long"),
        col(hiCol).cast("long"), col(wCol).cast("int"),
        col(hCol).cast("int")) { case (id, lo, hi, w, h) =>
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val b = (y * 8 / h) * 8 + (x * 8 / w)
          val bit =
            if (b < 32) (lo >>> b) & 1L else (hi >>> (b - 32)) & 1L
          val g = if (bit == 1L) 200 else 50
          img.setRGB(x, y, (g << 16) | (g << 8) | g)
          x += 1
        }
        y += 1
      }
      (id, pngBytes(img))
    }

  /** REAL perceptual average-hash (aHash) over decoded pixels: imageio
    * decode → integer luminance sums over an 8×8 block grid → bit b set
    * iff block b's MEAN luminance exceeds the global mean. All-integer
    * comparison (cross-multiplied: blockSum·totalPix > totalSum·blockPix)
    * — exact under any pixel visit order and any block-size imbalance
    * when w or h is not a multiple of 8. Resolution-independent by
    * construction: the downsample IS the hash. Undecodable payloads are
    * dropped (a perceptual hash of non-image bytes is meaningless — the
    * caller's corpus filter, not a stub, owns that decision).
    *
    * Scale shape: narrow per-row decode (mapPartitions, codec init per
    * task) → one small (doc, lo, hi) table; pair generation belongs to
    * [[Dedup.hammingNearDup]]'s banded join, never here. */
  def imageAHash(df: DataFrame, idCol: String,
                 binCol: String): Dataset[AHashRow] =
    payloadOp(df, idCol, binCol)(_.flatMap { case (id, bytes) =>
      val img = readImage(bytes)
      if (img == null) None
      else {
        val (w, h) = (img.getWidth, img.getHeight)
        val (sums, counts) =
          lumBins(img, 64)((x, y) => (y * 8 / h) * 8 + (x * 8 / w))
        val total = sums.sum
        val totalPix = w.toLong * h
        var lo = 0L; var hi = 0L
        var b = 0
        while (b < 64) {
          if (counts(b) > 0 && sums(b) * totalPix > total * counts(b)) {
            if (b < 32) lo |= 1L << b else hi |= 1L << (b - 32)
          }
          b += 1
        }
        Some(AHashRow(id, lo, hi))
      }
    })

  /** Typed metadata of a TIFF/EXIF payload. */
  case class TiffMeta(doc_id: Long, format: String, byte_order: String,
                      width: Long, height: Long, bits_per_sample: Int,
                      orientation: Int, iso: Int)

  /** REAL TIFF/EXIF metadata decode — the third byte-walk family next to
    * the RIFF walkers and the ISO-BMFF box walk, and the only one with
    * RUNTIME-SELECTED endianness: the header's `II`/`MM` mark picks
    * little- vs big-endian for every later read (EXIF is the TIFF
    * structure embedded in JPEG APP1, so this walker is the camera-
    * metadata path). IFD0's 12-byte entries supply width (tag 256),
    * height (257), bits-per-sample (258), orientation (274); the Exif
    * sub-IFD pointer (tag 0x8769) is followed — bounds-guarded — for
    * ISO (tag 0x8827). SHORT (type 3) values read 2 bytes of the value
    * field, LONG (type 4) all 4, both in the header's byte order — a
    * wrong-endian read or a miscounted entry offset cannot hash-match
    * the oracle. O(entries), loop-guarded, None for malformed. */
  def decodeTiffMeta(id: Long, bytes: Array[Byte]): Option[TiffMeta] = {
    try {
      if (bytes == null || bytes.length < 8) return None
      val le = (bytes(0) & 0xff, bytes(1) & 0xff) match {
        case (0x49, 0x49) => true
        case (0x4d, 0x4d) => false
        case _ => return None
      }
      val r = new ByteReader(bytes, littleEndian = le)
      import r.{u16, u32}
      if (u16(2) != 42) return None
      // value of one IFD entry at `o`: SHORT reads 2 bytes, LONG 4. The
      // count field (o+4) decides inline vs offset: count·typeSize > 4
      // means the value field holds an OFFSET to the array (e.g.
      // BitsPerSample count=3 on RGB TIFFs) — follow it bounds-guarded
      // and read the first element, never misread the offset as data.
      def entryValue(o: Int): Long = {
        val typ = u16(o + 2)
        val size = typ match { case 3 => 2; case 4 => 4; case _ => 0 }
        if (size == 0) return -1L
        val count = u32(o + 4)
        val at =
          if (count * size <= 4) o + 8
          else {
            val off = u32(o + 8)
            if (off < 0 || off + size > bytes.length) return -1L
            off.toInt
          }
        if (size == 2) u16(at).toLong else u32(at)
      }
      var width = -1L; var height = -1L; var bps = -1; var orient = 1
      var exifOff = -1L; var iso = -1
      def walkIfd(ifd: Long, exifLevel: Boolean): Boolean = {
        if (ifd < 0 || ifd + 2 > bytes.length) return false
        val n = u16(ifd.toInt)
        if (ifd + 2 + n * 12 > bytes.length) return false
        var i = 0
        while (i < n) {
          val o = (ifd + 2 + i * 12).toInt
          u16(o) match {
            case 256 if !exifLevel => width = entryValue(o)
            case 257 if !exifLevel => height = entryValue(o)
            case 258 if !exifLevel => bps = entryValue(o).toInt
            case 274 if !exifLevel => orient = entryValue(o).toInt
            case 0x8769 if !exifLevel => exifOff = u32(o + 8)
            case 0x8827 if exifLevel => iso = entryValue(o).toInt
            case _ => ()
          }
          i += 1
        }
        true
      }
      if (!walkIfd(u32(4), exifLevel = false)) return None
      if (exifOff >= 0 && !walkIfd(exifOff, exifLevel = true)) return None
      if (width < 0 || height < 0) None
      else Some(TiffMeta(id, "tiff", if (le) "II" else "MM",
        width, height, bps, orient, iso))
    } catch { case _: Exception => None }
  }

  /** TIFF decode operator — total over a mixed corpus via the stub-row
    * fallback (the [[decodeVideoMeta]] contract). */
  def decodeTiffMetaOp(df: DataFrame, idCol: String,
                       binCol: String): Dataset[TiffMeta] =
    payloadOp(df, idCol, binCol)(_.map { case (id, bytes) =>
      decodeTiffMeta(id, bytes).getOrElse(
        TiffMeta(id, "unknown", "", nBytes(bytes), 0L, 0, 0, 0))
    })

  /** Deterministic minimal-TIFF rendering: (id, byte-order flag, width,
    * height, bits-per-sample, orientation, iso) → a real TIFF header +
    * IFD0 (7 entries incl. the Exif sub-IFD pointer) + Exif IFD (ISO) —
    * the fixture generator for [[decodeTiffMeta]], emitting BOTH byte
    * orders so the endian-switched read path is exercised end to end. */
  def renderTiff(df: DataFrame, idCol: String, leCol: String, wCol: String,
                 hCol: String, bpsCol: String, orientCol: String,
                 isoCol: String): DataFrame =
    renderOp[(Long, Boolean, Long, Long, Int, Int, Int)](df, idCol,
        col(leCol).cast("boolean"), col(wCol).cast("long"),
        col(hCol).cast("long"), col(bpsCol).cast("int"),
        col(orientCol).cast("int"), col(isoCol).cast("int")) {
      case (id, le, w, h, bps, orient, iso) =>
        val order = if (le) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN
        val bb = ByteBuffer.allocate(116).order(order)
        bb.put((if (le) "II" else "MM").getBytes("US-ASCII"))
        bb.putShort(42).putInt(8)
        def entry(tag: Int, typ: Int, value: Long): Unit = {
          bb.putShort(tag.toShort).putShort(typ.toShort).putInt(1)
          if (typ == 3) { bb.putShort(value.toInt.toShort); bb.putShort(0) }
          else bb.putInt(value.toInt)
        }
        bb.putShort(7)                    // IFD0: 7 entries
        entry(256, 4, w)                  // ImageWidth  (LONG)
        entry(257, 4, h)                  // ImageLength (LONG)
        entry(258, 3, bps)                // BitsPerSample
        entry(259, 3, 1)                  // Compression: none
        entry(262, 3, 1)                  // Photometric: BlackIsZero
        entry(274, 3, orient)             // Orientation
        entry(0x8769, 4, 98)              // Exif IFD pointer
        bb.putInt(0)                      // next IFD: none
        bb.putShort(1)                    // Exif IFD at 98: 1 entry
        entry(0x8827, 3, iso)             // ISOSpeedRatings
        bb.putInt(0)
        (id, bb.array())
    }
}
