package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass byte-level scan kernels behind the hot text functions.
  *
  * Why these exist: the builtin regex expressions (`regexp_replace`,
  * `regexp_count`, `regexp_extract_all`) execute java.util.regex per row,
  * and profiling the 10x fixture showed the JDK-17 `Pattern` char-class
  * predicate chain collapsing under executor-thread concurrency: the same
  * normalization stage cost 2.3 CPU-seconds at local[1] but 64+
  * CPU-seconds at local[32] (flat wall time — aggregate throughput pinned
  * near one core, per-task CPU growing with thread count; every thread
  * RUNNABLE inside Pattern$BmpCharPredicate lambdas). A per-char
  * predicate interpreter is also simply the wrong tool for fixed ASCII
  * char classes. Each kernel below is one branch-predictable pass over
  * the UTF8String bytes, reached by one `StaticInvoke` per expression
  * (TextExpressions.scala), so the work stays inside whole-stage codegen
  * and scales linearly with executor threads.
  *
  * Semantics contract: each kernel is BIT-EQUAL to the regex composition
  * it replaces (TextKernelsSpec keeps the regex twins and pins equality
  * on fixture text and adversarial ASCII/whitespace/unicode strings).
  * Byte-level scanning is exact even on multi-byte UTF-8 for the
  * token/punct/word kernels because Java's default (non-unicode)
  * `\s`/`\w`/punct classes match single ASCII bytes only, and UTF-8
  * continuation bytes (>= 0x80) never collide with ASCII values.
  * `normalize` alone changes behavior on non-ASCII *lowercasing*, so it
  * falls back to the exact regex path for any row containing a byte >=
  * 0x80.
  */
object TextKernels {

  private val StripNonAlnum = Pattern.compile("[^a-z0-9\\s]")
  private val WsRun = Pattern.compile("\\s+")

  /** Java `\s` on ASCII: space, \t, \n, \x0B, \f, \r. */
  @inline private def isWs(b: Byte): Boolean =
    b == ' ' || (b >= '\t' && b <= '\r')

  /** Java default `\w`: [a-zA-Z0-9_] (ASCII only). */
  @inline private def isWord(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
      (b >= '0' && b <= '9') || b == '_'

  /** trim(regexp_replace(regexp_replace(lower(s), "[^a-z0-9\\s]", ""),
    * "\\s+", " ")) in one pass: lowercase A-Z, drop everything outside
    * [a-z0-9\s], join the surviving alnum runs with single spaces.
    * A removed char does NOT act as a separator ("a.b" -> "ab"), exactly
    * as strip-then-collapse composes. Non-ASCII input takes the regex
    * path (identical operator chain) because Unicode lowercasing is not
    * a byte-local operation.
    */
  def normalize(s: UTF8String): UTF8String = {
    val n = s.numBytes()
    var i = 0
    while (i < n) {
      if (s.getByte(i) < 0) { // any multi-byte char => exact slow path
        val lowered = s.toLowerCase.toString
        val stripped = StripNonAlnum.matcher(lowered).replaceAll("")
        val collapsed = WsRun.matcher(stripped).replaceAll(" ")
        return UTF8String.fromString(collapsed).trim()
      }
      i += 1
    }
    val out = new Array[Byte](n)
    var o = 0
    var pendingWs = false
    i = 0
    while (i < n) {
      var b = s.getByte(i)
      if (b >= 'A' && b <= 'Z') b = (b + 32).toByte
      if ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')) {
        if (pendingWs && o > 0) { out(o) = ' '; o += 1 }
        out(o) = b; o += 1
        pendingWs = false
      } else if (isWs(b)) {
        pendingWs = true
      } // else: stripped, and NOT a separator
      i += 1
    }
    UTF8String.fromBytes(out, 0, o)
  }

  /** regexp_count(s, "\\S+"): number of maximal non-whitespace runs. */
  def tokenCount(s: UTF8String): Long = {
    val n = s.numBytes()
    var c = 0L
    var inTok = false
    var i = 0
    while (i < n) {
      val ws = isWs(s.getByte(i))
      if (!ws && !inTok) c += 1
      inTok = !ws
      i += 1
    }
    c
  }

  /** regexp_count(s, "[.,!?;:]"). */
  def punctCount(s: UTF8String): Long = {
    val n = s.numBytes()
    var c = 0L
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (b == '.' || b == ',' || b == '!' || b == '?' || b == ';' || b == ':')
        c += 1
      i += 1
    }
    c
  }

  /** regexp_count(s, "\\b(w1|w2|…)\\b") for all-word-char alternatives:
    * each match is a maximal `\w+` run equal to one of the words (both
    * boundaries forced, so no partial or overlapping matches exist).
    * Case-sensitive, like the regex (callers pre-lower). `words` is an
    * array of strings.
    */
  def wordSetCount(s: UTF8String, words: ArrayData): Long = {
    val n = s.numBytes()
    val nWords = words.numElements()
    var c = 0L
    var i = 0
    while (i < n) {
      if (isWord(s.getByte(i))) {
        var j = i + 1
        while (j < n && isWord(s.getByte(j))) j += 1
        val len = j - i
        var w = 0
        var matched = false
        while (!matched && w < nWords) {
          val cand = words.getUTF8String(w)
          if (cand.numBytes() == len) {
            var k = 0
            while (k < len && cand.getByte(k) == s.getByte(i + k)) k += 1
            matched = k == len
          }
          w += 1
        }
        if (matched) c += 1
        i = j
      } else i += 1
    }
    c
  }

  /** regexp_count(s, "[A-Za-z0-9]+|[^A-Za-z0-9\\s]"): BPE-ish subword
    * count — each maximal ASCII-alnum run is one subword, every other
    * non-whitespace code point counts alone. Code-point exact on UTF-8:
    * the single-char alternative matches one CODE POINT in both java
    * regex and RE2, so only non-continuation lead bytes ((b & 0xC0) !=
    * 0x80) are counted for multi-byte chars.
    */
  def subwordCount(s: UTF8String): Long = {
    val n = s.numBytes()
    var c = 0L
    var inRun = false
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      val alnum = (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
        (b >= '0' && b <= '9')
      if (alnum) {
        if (!inRun) c += 1
        inRun = true
      } else {
        inRun = false
        if (b >= 0) { // ASCII non-alnum: count unless whitespace
          if (!isWs(b)) c += 1
        } else if ((b & 0xC0) != 0x80) { // non-ASCII lead byte = 1 code point
          c += 1
        }
      }
      i += 1
    }
    c
  }

  /** regexp_extract_all(s, "\\S+", 0): the maximal non-whitespace runs,
    * in order. Slices share one fresh copy of the source bytes. */
  def tokens(s: UTF8String): GenericArrayData = {
    val bytes = s.getBytes // fresh copy; safe to alias from the slices
    val out = new java.util.ArrayList[UTF8String]()
    var run = nextRun(bytes, 0)
    while (run >= 0) {
      val start = (run >>> 32).toInt
      out.add(UTF8String.fromBytes(bytes, start, run.toInt - start))
      run = nextRun(bytes, run.toInt)
    }
    new GenericArrayData(out.toArray)
  }

  /** The first \S+ byte run at or after `from`: its start in the high 32
    * bits and its end (exclusive) in the low 32, or -1 when none is left.
    * Packed into one Long, so the token walks allocate nothing per run. */
  private def nextRun(bytes: Array[Byte], from: Int): Long = {
    val n = bytes.length
    var i = from
    while (i < n && isWs(bytes(i))) i += 1
    if (i == n) -1L
    else {
      val start = i
      while (i < n && !isWs(bytes(i))) i += 1
      (start.toLong << 32) | i
    }
  }

  /** aggregate(tokens(s), 0L, (acc, t) => acc +
    * (hash60(t) % buckets) * 131 % 401 - 200) in one pass — the
    * hashed-linear-classifier margin (tx19/tx27/tx28/tx33). The
    * composed form walks Catalyst's interpreted higher-order fold per
    * token AND materializes the token array; this folds the md5-hash
    * weight per \S+ byte run directly. Long arithmetic on a
    * non-negative 60-bit hash — identical value, identical (and
    * order-insensitive) sum. Token boundaries are the [[tokens]]
    * kernel's (ASCII \s only; multi-byte UTF-8 never collides), and the
    * md5 runs over the token's exact UTF-8 byte slice, so every term is
    * bit-equal to Hash60 over the sliced token. */
  def tokenWeightSum(s: UTF8String, buckets: Long): Long = {
    val bytes = s.getBytes
    var acc = 0L
    var run = nextRun(bytes, 0)
    while (run >= 0) {
      val start = (run >>> 32).toInt
      val h = PortableHash.hash60Java(bytes, start, run.toInt - start)
      acc += (h % buckets) * 131L % 401L - 200L
      run = nextRun(bytes, run.toInt)
    }
    acc
  }
}
