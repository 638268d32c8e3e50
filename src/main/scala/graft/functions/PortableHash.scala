package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Engine-portable hashing for the sketch operators (MinHash, SimHash).
  *
  * Spark's `xxhash64` has no DuckDB twin, so any operator whose OUTPUT
  * depends on hash VALUES (not just hash equality) cannot be checked by
  * the SQL oracle when built on it. These primitives produce identical
  * integers in both engines from plain SQL arithmetic:
  *
  *  - [[hash60]]: the first 15 hex chars of `md5(s)` parsed base-16 — a
  *    uniform 60-bit non-negative long. Spark computes it with the native
  *    [[Hash60]] kernel; the DuckDB twin ([[hash60Sql]]) folds the same
  *    15 chars with `strpos` arithmetic. md5 on UTF-8 bytes is engine-identical
  *    (verified incl. non-ASCII), so both sides see the same 60-bit value.
  *  - [[minhashPerm]]: the classic affine permutation family
  *    h_i(x) = (a_i * (x mod p) + b_i) mod p over p = 2^31-1. Operands
  *    stay under 2^62, so the arithmetic never overflows a BIGINT in
  *    either engine (DuckDB errors on overflow rather than wrapping).
  *
  * Cost note: hash60 is an md5 digest per value, dearer than an xxhash64 —
  * still narrow per-row work; use xxhash64 where only hash EQUALITY
  * matters (join keys), these where hash VALUES reach the output.
  */
object PortableHash {

  /** Mersenne prime 2^31 - 1: the permutation modulus. */
  val P31 = 2147483647L

  /** 60-bit engine-portable string hash (see class doc) — computed by the
    * native [[Hash60]] expression, which takes the digest's top 60 bits
    * directly instead of round-tripping a 32-char hex string through
    * substring+conv per row (PortableHashSpec pins it bit-equal to that
    * built-ins-only composition). */
  def hash60(c: Column): Column =
    Bridge.column(Hash60(Bridge.expr(c)))

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** JVM-side value of [[hash60]]: the first 15 hex chars of the md5
    * digest parsed base-16 ≡ the digest's first 8 bytes (big-endian)
    * shifted right 4. Thread-local digest: no per-row allocation. */
  def hash60Java(bytes: Array[Byte]): Long =
    hash60Java(bytes, 0, bytes.length)

  /** [[hash60Java]] of a string's UTF-8 bytes — the [[Hash60]] kernel. */
  def hash60Java(s: UTF8String): Long = hash60Java(s.getBytes)

  /** [[hash60Java]] over a byte range — the token-slice form
    * (md.update(range) + digest() ≡ digest(copied slice)). */
  def hash60Java(bytes: Array[Byte], off: Int, len: Int): Long = {
    val md = md5Local.get()
    md.reset()
    md.update(bytes, off, len)
    val d = md.digest()
    (((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
      ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
      ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)) >>> 4
  }

  /** DuckDB twin of [[hash60]]. Lambda variables deliberately obscure:
    * `e` is spliced INSIDE the hex-position lambda, and DuckDB lambda
    * parameters SHADOW outer columns of the same name — an `e` that
    * referenced a column named `i` used to hash a different value per
    * fold step (caught live by tx34's positional shingles; the r12
    * rename retires the hazard class instead of each caller dodging
    * it). */
  def hash60Sql(e: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(1,16), h60i -> CAST(strpos('0123456789abcdef', " +
      s"substring(md5($e), CAST(h60i AS INTEGER), 1)) - 1 AS BIGINT))), " +
      s"(h60a, h60d) -> h60a * 16 + h60d)"

  /** Coefficients of the i-th affine permutation (a_i nonzero: both
    * factors are in (0, p) and p is prime, so the product mod p is too). */
  def permCoeffs(i: Int): (Long, Long) =
    (((i + 1) * 1103515245L) % P31, (i * 12345L + 67890L) % P31)

  /** i-th MinHash permutation of a [[hash60]] value. */
  def minhashPerm(i: Int, h60: Column): Column = {
    val (a, b) = permCoeffs(i)
    (lit(a) * (h60 % P31) + lit(b)) % P31
  }

  /** DuckDB twin of [[minhashPerm]]. */
  def minhashPermSql(i: Int, e: String): String = {
    val (a, b) = permCoeffs(i)
    s"(($a * (($e) % $P31) + $b) % $P31)"
  }
}

/** Native form of [[PortableHash.hash60]]: md5 digest → top 60 bits
  * ([[PortableHash.hash60Java]]), skipping the hex-string round trip of
  * the composed conv(substring(md5)) form. Same SURVEY §7 phase-3
  * extension level (b) as [[VectorDot]]: a custom `Expression` where
  * built-in composition leaves performance on the table (the
  * shingle/token hash is the hottest per-row op in the dedup operators). */
case class Hash60(child: Expression)
    extends RuntimeReplaceable with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = Kernel.check(
    child.dataType == StringType,
    s"hash60 expects a string argument, got ${child.dataType.simpleString}")

  override lazy val replacement: Expression =
    Kernel.invoke(PortableHash, "hash60Java", LongType, child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
