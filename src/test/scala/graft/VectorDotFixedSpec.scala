package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VectorDotFixed
import graft.operators.Similarity

/** The native VectorDotFixed expression (r15's LSH-signature fold):
  * bit-equality with the exploded per-plane SUM-aggregate shape it
  * replaced, and null/edge handling. */
class VectorDotFixedSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(23)
  private val df = (0L until 300L).map(i =>
    (i, Seq.fill(64)(rnd.nextGaussian().toFloat)))
    .toDF("id", "v")
    .withColumn("v", $"v".cast("array<float>"))

  /** The former signature-build shape: explode to (id, dim, x) and SUM
    * the per-element fixed-point terms — the reference VectorDotFixed
    * must match bit-for-bit (the sum is an integer sum of identical
    * per-element terms, so the fold order cannot matter). */
  private def explodedSum(signs: Seq[Double]): Map[Long, Long] = {
    val sgArr = array(signs.map(lit): _*)
    df.select($"id", posexplode($"v").as(Seq("dim", "xf")))
      .select($"id",
        floor(($"xf".cast("double") *
          element_at(sgArr, ($"dim" + 1).cast("int"))) * lit(1e12))
          .cast("long").as("t"))
      .groupBy($"id").agg(sum($"t").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("per-row fold is bit-identical to the exploded SUM aggregate " +
      "(double sign vector)") {
    val signs = (0 until 64).map(d => Similarity.planeSignJava(3, d))
    val want = explodedSum(signs)
    val got = df.select($"id",
        VectorDotFixed.vector_dot_fixed($"v",
          array(signs.map(lit): _*)).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("squared-norm form (v · v, float right operand) matches the " +
      "exploded x*x sum") {
    val want = df.select($"id", posexplode($"v").as(Seq("dim", "xf")))
      .select($"id", floor(($"xf".cast("double") * $"xf".cast("double"))
        * lit(1e12)).cast("long").as("t"))
      .groupBy($"id").agg(sum($"t").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = df.select($"id",
        VectorDotFixed.vector_dot_fixed($"v", $"v").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("interpreted eval agrees with codegen") {
    // KernelParity compares the two paths and restores every setting it
    // touches (wholeStage, factoryMode, fallback) to its previous value
    val prevMode = spark.conf.getOption("spark.sql.codegen.factoryMode")
    val signs = (0 until 64).map(d => Similarity.planeSignJava(7, d))
    val out = KernelParity.rows(df, $"id",
      VectorDotFixed.vector_dot_fixed($"v", array(signs.map(lit): _*)),
      VectorDotFixed.vector_dot_fixed($"v", $"v"))
    assert(out.length == 300 && out.forall(r => !r.isNullAt(1)))
    assert(spark.conf.getOption("spark.sql.codegen.factoryMode") == prevMode)
  }

  test("null vector yields null; empty arrays yield 0; length mismatch " +
      "sums the overlap") {
    val edge = Seq(
      (1L, Some(Seq(1.5f, -2.25f)), Some(Seq(1.0f, 1.0f))),
      (2L, None, Some(Seq(2.0f))),
      (3L, Some(Seq.empty[Float]), Some(Seq.empty[Float])),
      (4L, Some(Seq(1.0f, 7.0f, 9.0f)), Some(Seq(2.0f))))
      .toDF("id", "a", "b")
      .union(Seq((5L, Seq[java.lang.Float](2.0f, null, 4.0f),
        Seq[java.lang.Float](1.0f, 3.0f, null))).toDF("id", "a", "b"))
      .withColumn("a", $"a".cast("array<float>"))
      .withColumn("b", $"b".cast("array<float>"))
    val out = KernelParity.rows(edge, $"id",
      VectorDotFixed.vector_dot_fixed($"a", $"b").as("s"),
      VectorDotFixed.vector_dot_fixed($"a", $"b".cast("array<double>")))
    assert(out.forall(r => r.get(1) == r.get(2)))
    assert(out(0).getLong(1) ==
      math.floor(1.5 * 1e12).toLong + math.floor(-2.25 * 1e12).toLong)
    assert(out(1).isNullAt(1))
    assert(out(2).getLong(1) == 0L)
    assert(out(3).getLong(1) == math.floor(2.0 * 1e12).toLong)
    // pairs with a null element are skipped
    assert(out(4).getLong(1) == math.floor(2.0 * 1e12).toLong)
  }

  test("signatures: new per-row build equals the r14 exploded-agg build " +
      "row-for-row") {
    // the old shape, inlined verbatim (planes=12, dims=64)
    val planes = 12
    val ex = df.repartition($"id")
      .select($"id", posexplode($"v").as(Seq("dim", "xf")))
      .select($"id", $"dim".cast("long").as("dim"),
        $"xf".cast("double").as("x"))
    val projAggs = (0 until planes).map { p =>
      val sgArr = array((0 until 64).map(d =>
        lit(Similarity.planeSignJava(p, d))): _*)
      sum(floor(($"x" * element_at(sgArr, ($"dim" + 1).cast("int")))
        * lit(1e12)).cast("long")).as(s"pr$p")
    }
    val normAgg = sum(floor(($"x" * $"x") * lit(1e12)).cast("long")).as("n2")
    val aggs = projAggs :+ normAgg
    val old = ex.groupBy($"id").agg(aggs.head, aggs.tail: _*)
      .select($"id",
        sqrt($"n2".cast("double") / Similarity.Scale).as("nrm"),
        (0 until planes).map(p =>
          when(col(s"pr$p") >= 0L, lit(1L << p)).otherwise(lit(0L)))
          .reduce(_ + _).as("sig"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    val neu = Similarity.signatures(df, "id", "v", planes, 64)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(neu == old)
  }

  test("SQL registration works") {
    df.createOrReplaceTempView("vdf")
    val one = spark.sql(
      "SELECT vector_dot_fixed(v, v) AS s FROM vdf LIMIT 1").head()
    assert(!one.isNullAt(0))
  }
}
