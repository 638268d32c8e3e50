package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VectorDot

/** The native VectorDot expression: bit-equality with the built-ins-only
  * HOF fold on both expression paths (KernelParity), the GraftExtensions
  * SQL function, null/edge handling. */
class VectorDotSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  /** The built-ins-only reference fold (zip_with + aggregate) — the
    * semantics `Similarity.dotSeq` delegates to the native expression. */
  private def dotSeqHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  private val rnd = new scala.util.Random(11)
  private val df = (0L until 200L).map(i =>
    (i, Seq.fill(64)(rnd.nextGaussian().toFloat),
      Seq.fill(64)(rnd.nextGaussian().toFloat)))
    .toDF("id", "a", "b")
    .withColumn("a", $"a".cast("array<float>"))
    .withColumn("b", $"b".cast("array<float>"))

  test("native expression is bit-identical to the zip_with/aggregate fold") {
    // the HOF fold is interpreted-only, so it runs in its own projection
    val native = KernelParity.rows(df, VectorDot.vector_dot($"a", $"b"))
    val hof = df.select(dotSeqHof($"a", $"b")).collect()
    assert(native.map(_.getDouble(0)) == hof.map(_.getDouble(0)).toSeq)
  }

  test("GraftExtensions-injected SQL function resolves without temp registration") {
    val df2 = Seq((Seq(2.0f, 3.0f), Seq(4.0f, 5.0f))).toDF("a", "b")
      .withColumn("a", $"a".cast("array<float>"))
      .withColumn("b", $"b".cast("array<float>"))
    df2.createOrReplaceTempView("vd_ext")
    assert(spark.sql("SELECT vector_dot(a, b) AS d FROM vd_ext")
      .head().getDouble(0) == 23.0)
  }

  test("registered SQL function works") {
    // multi-row: the SQL path is bit-identical to the HOF fold
    df.createOrReplaceTempView("vd")
    val out = spark.sql(
      "SELECT id, vector_dot(a, b) AS d FROM vd ORDER BY id").collect()
    val want = df.select($"id", dotSeqHof($"a", $"b"))
      .orderBy("id").collect()
    assert(out.map(_.getDouble(1)).toSeq == want.map(_.getDouble(1)).toSeq)
  }

  test("null inputs yield null; empty arrays yield 0") {
    val edge = Seq(
      (1L, Some(Seq(1.0f)), Some(Seq(2.0f))),
      (2L, None, Some(Seq(2.0f))),
      (3L, Some(Seq.empty[Float]), Some(Seq.empty[Float])),
      (4L, Some(Seq(1.0f, 7.0f, 9.0f)), Some(Seq(2.0f))),
      (5L, Some(Seq(3.0f)), None))
      .toDF("id", "a", "b")
      .withColumn("a", $"a".cast("array<float>"))
      .withColumn("b", $"b".cast("array<float>"))
    val out = KernelParity.rows(edge.orderBy("id"), $"id",
      VectorDot.vector_dot($"a", $"b").as("d"),
      VectorDot.vector_dot($"a", $"b".cast("array<double>")).as("fd"),
      VectorDot.vector_dot($"a".cast("array<double>"), $"b").as("df"))
    assert(out(0).getDouble(1) == 2.0)
    assert(out(1).isNullAt(1))
    assert(out(2).getDouble(1) == 0.0)
    // ragged: the min-length overlap
    assert(out(3).getDouble(1) == 2.0)
    assert(out(4).isNullAt(1))
    assert(out.forall(r => r.get(1) == r.get(2) && r.get(1) == r.get(3)))
  }

  test("double and mixed float/double arrays are bit-identical to the HOF fold") {
    // the r15 widening: the PQ/IVF hot paths fold array<double> residuals
    // and codeword arrays against float corpus vectors
    val mixed = (0L until 200L).map(i =>
      (i, Seq.fill(64)(rnd.nextGaussian().toFloat),
        Seq.fill(64)(rnd.nextGaussian())))
      .toDF("id", "f", "d")
      .withColumn("f", $"f".cast("array<float>"))
    val pairs = Seq(($"f", $"d"), ($"d", $"d"), ($"d", $"f"))
    val native = KernelParity.rows(mixed,
      pairs.map { case (x, y) => VectorDot.vector_dot(x, y) }: _*)
    val hof = mixed.select(
      pairs.map { case (x, y) => dotSeqHof(x, y) }: _*).collect()
    assert(native.map(_.toSeq) == hof.map(_.toSeq).toSeq)
  }

  test("type mismatch is an analysis error") {
    val bad = Seq((1, Seq("x", "y"))).toDF("id", "a")
    intercept[org.apache.spark.sql.AnalysisException] {
      bad.select(VectorDot.vector_dot($"a", $"a")).collect()
    }
  }
}
