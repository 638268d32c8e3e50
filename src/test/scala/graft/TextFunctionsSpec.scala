package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.functions._
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import graft.functions.TextFunctions._
import graft.operators.Multimodal

/** Text-analysis edge cases + multimodal decode plumbing. */
class TextFunctionsSpec extends AnyFunSuite with TimeLimits {
  lazy val spark = TestSession.spark
  import spark.implicits._

  implicit val signaler: Signaler = ThreadSignaler

  /** Runs a driver-side decoder on a pool thread and waits for it under
    * `failAfter`: a chunk walk that stops advancing spins without ever
    * checking for interrupts, so the wait, not the walk, is what the
    * time limit interrupts — a lost loop guard fails the test instead of
    * hanging the suite. A timeout is reported at the caller's line. */
  private def bounded[T](decode: => T)(
      implicit pos: org.scalactic.source.Position): T = {
    val f = Future(decode)(ExecutionContext.global)
    failAfter(10.seconds)(Await.result(f, Duration.Inf))
  }

  /** Overwrites the little-endian u32 at `o` of a copy of `b`. */
  private def withLe32(b: Array[Byte], o: Int, v: Long): Array[Byte] = {
    val c = b.clone()
    (0 until 4).foreach(i => c(o + i) = ((v >>> (8 * i)) & 0xff).toByte)
    c
  }

  test("token counting is whitespace-robust") {
    val out = Seq("a  b\t c", "", "   ", "single")
      .toDF("text").select(tokenCount($"text").as("n")).as[Long].collect().toSeq
    assert(out == Seq(3L, 0L, 0L, 1L))
  }

  test("fingerprint is order-sensitive and stable") {
    val fps = Seq("alpha beta gamma", "gamma beta alpha", "alpha beta gamma")
      .toDF("text").select(fingerprint($"text").as("fp")).as[Long].collect()
    assert(fps(0) != fps(1))
    assert(fps(0) == fps(2))
  }

  test("language ID picks the marker-dense language, 'und' when no markers") {
    val out = Seq(
      "the cat and the dog sat in a box",
      "der hund und die katze ist nicht da",
      "el perro y la casa es que los gatos",
      "xyzzy qwerty plugh").toDF("text")
      .select(langId($"text").as("l")).as[String].collect().toSeq
    assert(out == Seq("en", "de", "es", "und"))
  }

  test("quality score: clean prose beats punctuation soup") {
    val out = Seq(
      "the report of the committee is ready for review and approval today",
      ";;;;!!!! ,,,, ???? ;;;; !!!!").toDF("text")
      .select(qualityScore($"text").as("q")).as[Double].collect()
    assert(out(0) > out(1))
  }

  test("multimodal: binaryMeta sniffs format and decodeStub is deterministic") {
    val jpegMagic = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xe0.toByte, 1, 2)
    val pngMagic = Array[Byte](0x89.toByte, 0x50, 0x4e, 0x47, 3, 4)
    val df = Seq((1L, jpegMagic), (2L, pngMagic), (3L, Array[Byte](9, 9)))
      .toDF("doc_id", "payload")
    val meta = Multimodal.binaryMeta(df, "doc_id", "payload")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("format")).toMap
    assert(meta(1L) == "jpeg" && meta(2L) == "png" && meta(3L) == "unknown")
    val decoded = Multimodal.decodeMeta(df, "doc_id", "payload")
      .collect().sortBy(_.doc_id)
    assert(decoded.length == 3)
    assert(decoded.forall(m => m.width >= 64 && m.height >= 64))
    val again = Multimodal.decodeMeta(df, "doc_id", "payload")
      .collect().sortBy(_.doc_id)
    assert(decoded.toSeq == again.toSeq)
    // a null payload gets its stub row too; it must not abort the job
    val withNull = df.union(
      Seq((4L, null: Array[Byte])).toDF("doc_id", "payload"))
    val stubs = Multimodal.decodeMeta(withNull, "doc_id", "payload")
      .collect().sortBy(_.doc_id)
    assert(stubs.take(3).toSeq == decoded.toSeq)
    assert(stubs(3).doc_id == 4L && stubs(3).n_bytes == 0L &&
      stubs(3).width >= 64 && stubs(3).height >= 64)
  }

  test("multimodal: real PNG render → imageio header decode round trip") {
    val dims = Seq((1L, 5, 3), (2L, 37, 23), (3L, 1, 1))
    val df = dims.toDF("doc_id", "w", "h")
    val pngs = Multimodal.renderPng(df, "doc_id", "w", "h")
    // payloads are genuine PNGs (magic sniff agrees)
    val fmts = Multimodal.binaryMeta(pngs, "doc_id", "payload")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("format"))
    assert(fmts.forall(_._2 == "png"))
    val meta = Multimodal.decodeMeta(pngs, "doc_id", "payload")
      .collect().map(m => m.doc_id -> ((m.width, m.height, m.format))).toMap
    dims.foreach { case (id, w, h) => assert(meta(id) == ((w, h, "png"))) }
  }

  test("multimodal: real resize re-encodes a decodable image at target dims") {
    val df = Seq((1L, 20, 14)).toDF("doc_id", "w", "h")
    val pngs = Multimodal.renderPng(df, "doc_id", "w", "h")
    val resized = Multimodal.resizeImage(pngs, "doc_id", "payload", 8, 6)
    val roundTrip = Multimodal.decodeMeta(
        resized.select($"doc_id", $"payload").toDF(), "doc_id", "payload")
      .collect().head
    assert(roundTrip.width == 8 && roundTrip.height == 6 &&
      roundTrip.format == "png")
    // deterministic re-encode (retry-safe)
    val a = resized.collect().head.payload.toSeq
    val b = Multimodal.resizeImage(pngs, "doc_id", "payload", 8, 6)
      .collect().head.payload.toSeq
    assert(a == b)
  }

  test("multimodal: real pixel featurizer is deterministic, stub fallback for non-images") {
    val df = Seq((1L, 9, 7), (2L, 9, 7)).toDF("doc_id", "w", "h")
    val pngs = Multimodal.renderPng(df, "doc_id", "w", "h")
    val feats = Multimodal.extractImageFeatures(pngs, "doc_id", "payload", 8)
      .collect().sortBy(_.doc_id)
    assert(feats.forall(_.embedding.length == 8))
    // luminance means land in [0,1]; different pixels → different features
    assert(feats.forall(_.embedding.forall(v => v >= 0.0f && v <= 1.0f)))
    assert(feats(0).embedding != feats(1).embedding)
    val again = Multimodal.extractImageFeatures(pngs, "doc_id", "payload", 8)
      .collect().sortBy(_.doc_id)
    assert(feats.map(_.embedding).toSeq == again.map(_.embedding).toSeq)
    // non-image payloads take the stub path (same values as the stub op)
    val junk = Seq((9L, Array[Byte](1, 2, 3))).toDF("doc_id", "payload")
    val viaReal = Multimodal.extractImageFeatures(junk, "doc_id", "payload", 8)
      .collect().head.embedding
    val viaStub = Multimodal.extractFeaturesStub(junk, "doc_id", "payload", 8)
      .collect().head.embedding
    assert(viaReal == viaStub)
  }

  test("multimodal: WAV render → RIFF header decode round trip; non-WAV falls back") {
    val df = Seq((1L, 160, 8000), (2L, 441, 44100)).toDF("doc_id", "n", "rate")
    val wavs = Multimodal.renderWav(df, "doc_id", "n", "rate")
    val meta = Multimodal.decodeAudioMeta(wavs, "doc_id", "payload")
      .collect().map(m => m.doc_id -> m).toMap
    assert(meta(1L).format == "wav" && meta(1L).sample_rate == 8000 &&
      meta(1L).channels == 1 && meta(1L).bits_per_sample == 16 &&
      meta(1L).n_samples == 160L && meta(1L).duration_ms == 20L)
    assert(meta(2L).sample_rate == 44100 && meta(2L).n_samples == 441L &&
      meta(2L).duration_ms == 10L)
    // payload is a genuine RIFF/WAVE container (magic check)
    val bytes = wavs.collect().head.getAs[Array[Byte]]("payload")
    assert(new String(bytes.take(4), "US-ASCII") == "RIFF" &&
      new String(bytes.slice(8, 12), "US-ASCII") == "WAVE")
    // non-WAV payloads take the stub fallback row, not an exception
    val junk = Seq((9L, Array[Byte](1, 2, 3))).toDF("doc_id", "payload")
    val fb = Multimodal.decodeAudioMeta(junk, "doc_id", "payload")
      .collect().head
    assert(fb.format == "unknown" && fb.n_samples == 3L)
    // malformed headers, decoded driver-side (offsets: fmt length at 16,
    // data length at 40, samples from 44)
    val one = wavs.filter(col("doc_id") === 1L).collect().head
      .getAs[Array[Byte]]("payload")
    // fmt length 0xFFFFFFF8: the word-aligned advance is 0 — malformed,
    // never a walk that spins on the same chunk
    assert(bounded(Multimodal.decodeWavMeta(1L,
      withLe32(one, 16, 0xFFFFFFF8L))).isEmpty)
    // a data length past the buffer is clamped to the bytes present
    val overrun = bounded(Multimodal.decodeWavMeta(1L,
      withLe32(one, 40, 1000000L)))
    assert(overrun.exists(m => m.n_samples == 160L && m.duration_ms == 20L),
      s"$overrun")
    // a fmt chunk declaring len < 16 is not read: its fields would spill
    // past the chunk (here into the pad byte), so there is no fmt at all
    assert(bounded(Multimodal.decodeWavMeta(1L,
      withLe32(one, 16, 15L))).isEmpty)
  }

  test("multimodal: MP4 render → box-walk decode round trip; corrupt falls back") {
    val df = Seq((1L, 600, 3000L, 1, 160, 90), (2L, 1000, 9000L, 3, 320, 240))
      .toDF("doc_id", "ts", "dur", "n_tracks", "w", "h")
    val mp4s = Multimodal.renderMp4(df, "doc_id", "ts", "dur",
      "n_tracks", "w", "h")
    val meta = Multimodal.decodeVideoMeta(mp4s, "doc_id", "payload")
      .collect().map(m => m.doc_id -> m).toMap
    assert(meta(1L).format == "mp4" && meta(1L).timescale == 600 &&
      meta(1L).duration_ms == 5000L && meta(1L).n_tracks == 1 &&
      meta(1L).width == 160 && meta(1L).height == 90)
    assert(meta(2L).timescale == 1000 && meta(2L).duration_ms == 9000L &&
      meta(2L).n_tracks == 3 && meta(2L).width == 320 &&
      meta(2L).height == 240)
    // payload is a genuine ISO-BMFF container (ftyp magic at offset 4)
    val bytes = mp4s.collect().head.getAs[Array[Byte]]("payload")
    assert(new String(bytes.slice(4, 8), "US-ASCII") == "ftyp")
    // non-MP4 payloads take the stub fallback row, not an exception
    val junk = Seq((9L, Array[Byte](1, 2, 3))).toDF("doc_id", "payload")
    val fb = Multimodal.decodeVideoMeta(junk, "doc_id", "payload")
      .collect().head
    assert(fb.format == "unknown" && fb.width == 3)
    // a corrupt box size (< 8) must neither loop forever nor throw: the
    // walk flags malformed and the row falls back
    val corrupt = bytes.clone()
    corrupt(20) = 0; corrupt(21) = 0; corrupt(22) = 0; corrupt(23) = 1
    val cb = Multimodal.decodeVideoMeta(
        Seq((8L, corrupt)).toDF("doc_id", "payload"), "doc_id", "payload")
      .collect().head
    assert(cb.format == "unknown")
    // a tkhd box size < 8 inside the first trak (ftyp 20 + moov header 8
    // + mvhd 108 + trak header 8 = 144) is malformed, not skipped
    val badTkhd = bytes.clone()
    badTkhd(144) = 0; badTkhd(145) = 0; badTkhd(146) = 0; badTkhd(147) = 4
    assert(bounded(Multimodal.decodeMp4Meta(8L, badTkhd)).isEmpty)
  }

  test("multimodal: AVI render → RIFF hdrl decode round trip; corrupt falls back") {
    val df = Seq((1L, 33333L, 300L, 1, 640, 480), (2L, 16667L, 1200L, 2, 1920, 1080))
      .toDF("doc_id", "frame_us", "n_frames", "n_streams", "w", "h")
    val avis = Multimodal.renderAvi(df, "doc_id", "frame_us",
      "n_frames", "n_streams", "w", "h")
    val meta = Multimodal.decodeAviMetaOp(avis, "doc_id", "payload")
      .collect().map(m => m.doc_id -> m).toMap
    assert(meta(1L).format == "avi" && meta(1L).frame_us == 33333L &&
      meta(1L).n_frames == 300L && meta(1L).n_streams == 1 &&
      meta(1L).width == 640 && meta(1L).height == 480 &&
      meta(1L).duration_ms == 33333L * 300L / 1000L)
    assert(meta(2L).n_streams == 2 && meta(2L).width == 1920 &&
      meta(2L).duration_ms == 20000L)
    // genuine RIFF/AVI container; a WAV payload is NOT decoded as AVI
    val bytes = avis.collect().head.getAs[Array[Byte]]("payload")
    assert(new String(bytes.take(4), "US-ASCII") == "RIFF" &&
      new String(bytes.slice(8, 12), "US-ASCII") == "AVI ")
    val wav = Multimodal.renderWav(
        Seq((3L, 100, 8000)).toDF("doc_id", "n", "rate"),
      "doc_id", "n", "rate")
    val cross = Multimodal.decodeAviMetaOp(wav, "doc_id", "payload")
      .collect().head
    assert(cross.format == "unknown")
    // corrupt avih chunk length (negative advance): the loop guard must
    // flag malformed instead of spinning, and the row falls back
    val corrupt = bytes.clone()
    corrupt(28) = 0xF0.toByte; corrupt(29) = -1; corrupt(30) = -1
    corrupt(31) = -1
    val cb = Multimodal.decodeAviMetaOp(
        Seq((8L, corrupt)).toDF("doc_id", "payload"), "doc_id", "payload")
      .collect().head
    assert(cb.format == "unknown")
    // a corrupt top-level LIST length (at 16; advance 0) is malformed
    // even though the hdrl walk already found avih
    assert(bounded(Multimodal.decodeAviMeta(8L,
      withLe32(bytes, 16, 0xFFFFFFF8L))).isEmpty)
  }

  test("multimodal: TIFF render → IFD/EXIF decode round trip in BOTH " +
      "byte orders; malformed falls back") {
    val df = Seq((1L, true, 640L, 480L, 8, 6, 400),
        (2L, false, 1920L, 1080L, 16, 1, 3200))
      .toDF("doc_id", "le", "w", "h", "bps", "orient", "iso")
    val tiffs = Multimodal.renderTiff(df, "doc_id", "le", "w", "h",
      "bps", "orient", "iso")
    val meta = Multimodal.decodeTiffMetaOp(tiffs, "doc_id", "payload")
      .collect().map(m => m.doc_id -> m).toMap
    assert(meta(1L).format == "tiff" && meta(1L).byte_order == "II" &&
      meta(1L).width == 640L && meta(1L).height == 480L &&
      meta(1L).bits_per_sample == 8 && meta(1L).orientation == 6 &&
      meta(1L).iso == 400)
    assert(meta(2L).byte_order == "MM" && meta(2L).width == 1920L &&
      meta(2L).bits_per_sample == 16 && meta(2L).iso == 3200)
    val bytes = tiffs.filter(col("doc_id") === 2L).collect().head
      .getAs[Array[Byte]]("payload")
    // big-endian header: 'MM', magic 42 as 0x00 0x2a
    assert(bytes(0) == 'M' && bytes(2) == 0 && bytes(3) == 42)
    // wrong byte-order mark → fallback
    val badMark = bytes.clone(); badMark(0) = 'X'
    // truncated mid-IFD → fallback (bounds guard, no exception)
    val truncated = bytes.take(40)
    // Exif pointer past the buffer → fallback
    val badExif = bytes.clone()
    // IFD0 at 8, entry 7 (0x8769) at 8 + 2 + 6*12 = 82; value at 90
    badExif(90) = 0x7f; badExif(91) = -1; badExif(92) = -1; badExif(93) = -1
    val fb = Multimodal.decodeTiffMetaOp(
        Seq((8L, badMark), (9L, truncated), (10L, badExif))
          .toDF("doc_id", "payload"), "doc_id", "payload")
      .collect().map(m => m.doc_id -> m.format).toMap
    assert(fb == Map(8L -> "unknown", 9L -> "unknown", 10L -> "unknown"))
  }

  test("multimodal: TIFF real-world shapes — JPEG-in-TIFF (tag 259≠1, " +
      "dims in the compressed stream) degrades to the fallback row, " +
      "never garbage; a strip-offset ARRAY entry (273, count>1) cannot " +
      "corrupt the walk") {
    // hand-built little-endian TIFFs: header 'II' 42, IFD0 at 8
    def le16(b: Array[Byte], o: Int, v: Int): Unit = {
      b(o) = (v & 0xff).toByte; b(o + 1) = ((v >> 8) & 0xff).toByte
    }
    def le32(b: Array[Byte], o: Int, v: Long): Unit = {
      b(o) = (v & 0xff).toByte; b(o + 1) = ((v >> 8) & 0xff).toByte
      b(o + 2) = ((v >> 16) & 0xff).toByte
      b(o + 3) = ((v >> 24) & 0xff).toByte
    }
    def header(b: Array[Byte]): Unit = {
      b(0) = 'I'; b(1) = 'I'; le16(b, 2, 42); le32(b, 4, 8L)
    }
    def entry(b: Array[Byte], o: Int, tag: Int, typ: Int, count: Long,
              value: Long): Unit = {
      le16(b, o, tag); le16(b, o + 2, typ); le32(b, o + 4, count)
      le32(b, o + 8, value)
    }
    // old-JPEG TIFF: ONLY Compression=6 — width/height live inside the
    // embedded JPEG stream, which a metadata walker must not invent
    val jpegInTiff = new Array[Byte](26)
    header(jpegInTiff)
    le16(jpegInTiff, 8, 1)
    entry(jpegInTiff, 10, 259, 3, 1L, 6L)
    le32(jpegInTiff, 22, 0L)
    // striped TIFF: valid dims plus a StripOffsets (273) LONG array of
    // 4 — count·size > 4 means the value field is an OFFSET; an
    // implementation that misreads array entries as data, or follows
    // them into the walk, would corrupt width/height
    val striped = new Array[Byte](80)
    header(striped)
    le16(striped, 8, 4)
    entry(striped, 10, 256, 3, 1L, 320L)
    entry(striped, 22, 257, 3, 1L, 240L)
    entry(striped, 34, 258, 3, 1L, 8L)
    entry(striped, 46, 273, 4, 4L, 64L)
    le32(striped, 58, 0L)
    (0 until 4).foreach(i => le32(striped, 64 + i * 4, 1000L + i))
    val out = Multimodal.decodeTiffMetaOp(
        Seq((20L, jpegInTiff), (21L, striped))
          .toDF("doc_id", "payload"), "doc_id", "payload")
      .collect().map(m => m.doc_id -> m).toMap
    assert(out(20L).format == "unknown",
      s"JPEG-in-TIFF without dim tags must fall back, got ${out(20L)}")
    assert(out(21L).format == "tiff" && out(21L).width == 320L &&
      out(21L).height == 240L && out(21L).bits_per_sample == 8,
      s"strip-offset array must not corrupt dims: ${out(21L)}")
  }

  test("multimodal: frameSample keeps every Nth frame with indices") {
    val frames = (0 until 10).map(i => Array[Byte](i.toByte)).toSeq
    val df = Seq((7L, frames)).toDF("vid_id", "frames")
    val out = Multimodal.frameSample(df, "vid_id", "frames", 3)
      .collect().map(r => (r.getAs[Long]("frame_idx"),
        r.getAs[Array[Byte]]("frame")(0)))
    assert(out.map(_._1).toSeq == Seq(0L, 3L, 6L, 9L))
    assert(out.forall { case (i, b) => b.toLong == i })
  }

  test("multimodal: extractFeaturesStub emits fixed-dim deterministic embeddings") {
    val df = Seq((1L, Array[Byte](1, 2, 3)), (2L, Array[Byte](4, 5)))
      .toDF("doc_id", "payload")
    val a = Multimodal.extractFeaturesStub(df, "doc_id", "payload", 8)
      .collect().sortBy(_.doc_id)
    assert(a.forall(_.embedding.length == 8) && a.forall(_.dim == 8))
    // deterministic (retry-safe) and content-sensitive
    val b = Multimodal.extractFeaturesStub(df, "doc_id", "payload", 8)
      .collect().sortBy(_.doc_id)
    assert(a.toSeq == b.toSeq)
    assert(a(0).embedding != a(1).embedding)
    // the output schema feeds the similarity operators directly
    val ds = Multimodal.extractFeaturesStub(df, "doc_id", "payload", 8)
      .toDF().withColumn("embedding", $"embedding".cast("array<float>"))
    val norms = graft.operators.Similarity
      .normSeq($"embedding")
    assert(ds.select(norms).as[Double].collect().forall(_ >= 0.0))
  }

  test("multimodal: resizeStub output is sized by target area, deterministic") {
    val df = Seq((1L, Array[Byte](1, 2, 3, 4, 5))).toDF("doc_id", "payload")
    val out = Multimodal.resizeStub(df, "doc_id", "payload", 64, 64)
      .collect().head
    assert(out.width == 64 && out.height == 64)
    assert(out.n_bytes == 64L * 64 / 64 && out.payload.length == 64)
    val again = Multimodal.resizeStub(df, "doc_id", "payload", 64, 64)
      .collect().head
    assert(out.payload.toSeq == again.payload.toSeq)
  }

  test("multimodal: repartitionByBytes bounds partition payload") {
    val df = Seq.tabulate(64)(i => (i.toLong, Array.fill[Byte](1000)(i.toByte)))
      .toDF("doc_id", "payload")
    val re = Multimodal.repartitionByBytes(df, "payload", 8000L)
    assert(re.rdd.getNumPartitions >= 8)
  }

  test("perceptual aHash: resolution-invariant through a real codec, planted pair found") {
    import graft.operators.Dedup
    val wordA = 0x123456789ABCDL      // 52-bit pattern, blocks 60-63 dark
    val wordB = 0xBADC0FFEE0DDFL      // unrelated pattern (hamming 26)
    val wordP = wordA ^ ((1L << 5) | (1L << 40)) // perturbed: 2 blocks differ
    def split(w: Long) = (w & 0xffffffffL, w >>> 32)
    val pats = Seq((1L, wordA, 16, 16), (2L, wordA, 40, 24),
      (3L, wordB, 16, 16), (4L, wordP, 32, 16))
      .map { case (id, w, px, py) =>
        val (lo, hi) = split(w); (id, lo, hi, px, py) }
    val df = pats.toDF("doc_id", "lo", "hi", "w", "h")
    val pngs = Multimodal.renderBlockPng(df, "doc_id", "lo", "hi",
      "w", "h")
    val hs = Multimodal.imageAHash(pngs, "doc_id", "payload")
      .collect().map(h => h.doc_id -> ((h.ahash_lo, h.ahash_hi))).toMap
    // decoded hash IS the rendered pattern word — at EVERY resolution
    assert(hs(1L) == split(wordA) && hs(2L) == split(wordA))
    assert(hs(3L) == split(wordB) && hs(4L) == split(wordP))
    // a bilinear-resized copy of the image stays within the near-dup bar
    val resized = Multimodal.resizeImage(
      pngs.filter(col("doc_id") === 1L), "doc_id", "payload", 32, 32)
    val rh = Multimodal.imageAHash(
        resized.select($"doc_id", $"payload").toDF(), "doc_id", "payload")
      .collect().head
    val (la, ha) = split(wordA)
    val drift = java.lang.Long.bitCount(rh.ahash_lo ^ la) +
      java.lang.Long.bitCount(rh.ahash_hi ^ ha)
    assert(drift <= 3, s"resized copy drifted $drift bits")
    // banded pair stage: same-pattern pairs + the 2-bit perturbed pair,
    // nothing against the unrelated pattern
    val pairs = Dedup.hammingNearDup(
        Multimodal.imageAHash(pngs, "doc_id", "payload").toDF(),
        "doc_id", Seq("ahash_lo", "ahash_hi"), 32, 16, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs == Map((1L, 2L) -> 0L, (1L, 4L) -> 2L, (2L, 4L) -> 2L),
      s"$pairs")
  }

  test("imageAHash drops undecodable payloads instead of fabricating hashes") {
    val junk = Seq((9L, Array[Byte](1, 2, 3, 4, 5))).toDF("doc_id", "payload")
    assert(Multimodal.imageAHash(junk, "doc_id", "payload")
      .collect().isEmpty)
  }

  test("multimodal: PCM sample decode matches a driver-side LCG replay bit-for-bit") {
    // decode the RANDOM-sample renderer's payloads (not the square-wave
    // oracle fixture) and check peak/sum/rms against the same LCG run on
    // the driver — exercises int16 LE sign handling on arbitrary values
    val df = Seq((1L, 160, 8000), (2L, 441, 44100)).toDF("doc_id", "n", "rate")
    val wavs = Multimodal.renderWav(df, "doc_id", "n", "rate")
    val got = Multimodal.pcmStats(wavs, "doc_id", "payload")
      .collect().map(s => s.doc_id -> s).toMap
    for ((id, n) <- Seq((1L, 160), (2L, 441))) {
      var s = id * 6364136223846793005L + 1442695040888963407L
      var peak = 0; var sum = 0L; var sumSq = 0L
      for (_ <- 0 until n) {
        s = s * 6364136223846793005L + 1442695040888963407L
        val v = (s >>> 48).toShort.toInt
        peak = math.max(peak, math.abs(v)); sum += v
        sumSq += v.toLong * v.toLong
      }
      val st = got(id)
      assert(st.n_samples == n.toLong && st.peak == peak &&
        st.sum_samples == sum &&
        st.rms == math.sqrt(sumSq.toDouble / n.toDouble),
        s"doc $id: $st vs ($n, $peak, $sum)")
    }
    // malformed payloads fall back to the zero row, not an exception
    val junk = Seq((9L, Array[Byte](1, 2, 3))).toDF("doc_id", "payload")
    val fb = Multimodal.pcmStats(junk, "doc_id", "payload")
      .collect().head
    assert(fb.n_samples == 0L && fb.peak == 0 && fb.rms == 0.0)
    // malformed headers, decoded driver-side (the WAV meta test's
    // offsets): advance 0 and a fmt len < 16 give None; a data length
    // past the buffer reads only the samples present
    val bytes = wavs.filter(col("doc_id") === 1L).collect().head
      .getAs[Array[Byte]]("payload")
    assert(bounded(Multimodal.decodeWavPcm(1L,
      withLe32(bytes, 16, 0xFFFFFFF8L))).isEmpty)
    assert(bounded(Multimodal.decodeWavPcm(1L,
      withLe32(bytes, 40, 1000000L))) == Some(got(1L)))
    assert(bounded(Multimodal.decodeWavPcm(1L,
      withLe32(bytes, 16, 15L))).isEmpty)
  }
}
