package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.PortableHash

/** The native Hash60 expression must be bit-equal to the built-ins-only
  * conv(substring(md5)) composition — and therefore to the DuckDB strpos
  * fold the oracle runs (the gate pins that side). */
class PortableHashSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private val strs = Seq("hello world", "", "a", "über straße", "中文 text",
    "x y z", "the quick brown fox", "shingle one two", "0", " ")

  /** The built-ins-only composition — the readable reference
    * implementation of [[PortableHash.hash60]]. */
  private def hash60Composed(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  test("native Hash60 ≡ conv(substring(md5)) composition (codegen path)") {
    // KernelParity runs the projection in generated code (and checks it
    // against interpreted eval); the null row stays null on both paths
    val withNull = strs.map(Option(_)) :+ None
    val out = KernelParity.rows(withNull.toDF("s"),
      PortableHash.hash60($"s").as("nat"),
      hash60Composed($"s").as("comp"))
    assert(out.last.isNullAt(0) && out.last.isNullAt(1))
    out.init.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // 60-bit: always non-negative
    out.init.foreach(r => assert(r.getLong(0) >= 0L))
  }

  test("minhash permutation coefficients are nonzero and in range") {
    (0 until 64).foreach { i =>
      val (a, b) = PortableHash.permCoeffs(i)
      assert(a > 0 && a < PortableHash.P31, s"a($i)=$a degenerate")
      assert(b >= 0 && b < PortableHash.P31, s"b($i)=$b out of range")
    }
  }

  test("native Hash60 ≡ composition on the interpreted path (inside a HOF lambda)") {
    val out = strs.toDF("s").select(
      transform(array($"s"), x => PortableHash.hash60(x)).getItem(0).as("nat"),
      hash60Composed($"s").as("comp")).collect()
    out.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }
}
