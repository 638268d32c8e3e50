package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.ExactNum._

/** Twin parity for every ExactNum form: the Column form, Spark SQL
  * evaluating its `*Sql` twin, and the driver mirror where one exists
  * return bit-identical doubles. Inputs are the values where rounding,
  * flooring and decimal conversion part ways first; every fold runs
  * under two partitionings. */
class ExactNumSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  /** (g, i, x) edge rows: g0 HALF_UP ties at the 7th decimal, g1
    * negatives whose floor differs from truncation, g2 signed zeros and
    * subnormals, g3 magnitudes near the scaled-long limit `big` plus a
    * null, g4 an all-null (empty) group. */
  private def edges(big: Double): DataFrame = {
    val tiny = Double.MinPositiveValue
    val groups: Seq[Seq[Option[Double]]] = Seq(
      Seq(5e-7, -5e-7, 2.5e-6, -2.5e-6, 1.0000005, -12.3456785).map(Some(_)),
      Seq(-1e-7, -1.5e-6, -0.1234567, -3.0000001).map(Some(_)),
      Seq(0.0, -0.0, tiny, -tiny, 2.2e-310, -2.2e-310).map(Some(_)),
      Seq(Some(big), Some(-big), Some(big / 3), None),
      Seq(None, None))
    val rows = for {
      (xs, g) <- groups.zipWithIndex
      (x, j) <- xs.zipWithIndex
    } yield (g, g * 100 + j, x)
    rows.toDF("g", "i", "x")
  }

  /** One partition, and seven hash partitions on the row id. */
  private def partitionings(df: DataFrame): Seq[DataFrame] =
    Seq(df.repartition(1), df.repartition(7, col("i")))

  /** Column form and SQL twin, as (key → raw bits or None). */
  private def both(df: DataFrame, key: String, c: org.apache.spark.sql.Column,
                   sql: String, groupBy: Boolean): (Map[Int, Option[Long]],
                                                     Map[Int, Option[Long]]) = {
    def read(rows: Array[Row]) = rows.map(r => r.getInt(0) ->
      (if (r.isNullAt(1)) None
       else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(1))))).toMap
    val colRows =
      if (groupBy) df.groupBy(col(key)).agg(c).collect()
      else df.select(col(key), c).collect()
    df.createOrReplaceTempView("exact_num_v")
    val sqlRows = spark.sql(s"SELECT $key, $sql FROM exact_num_v" +
      (if (groupBy) s" GROUP BY $key" else "")).collect()
    (read(colRows), read(sqlRows))
  }

  private def values(df: DataFrame, g: Int): Seq[Double] =
    df.filter(col("g") === g && col("x").isNotNull).orderBy("i")
      .select("x").as[Double].collect().toSeq

  private def bits(d: Double): Option[Long] =
    Some(java.lang.Double.doubleToRawLongBits(d))

  test("quantize: Column, SQL twin and driver mirror agree bit for bit") {
    val df = edges(9.2e12)
    val (byCol, bySql) = both(df, "i", quantize(col("x")), quantizeSql("x"),
      groupBy = false)
    assert(byCol == bySql)
    val xs = df.select("i", "x").collect()
      .map(r => r.getInt(0) -> Option(r.get(1)).map(_.asInstanceOf[Double]))
    xs.foreach { case (i, x) =>
      assert(byCol(i) == x.flatMap(v => bits(quantizeDriver(v))), s"row $i")
    }
    // HALF_UP at the tie, away from zero on both signs
    assert(quantizeDriver(5e-7) == 1e-6 && quantizeDriver(-5e-7) == -1e-6)
  }

  test("sumFloor at 6 and 12 digits: Column, SQL twin and driver mirror " +
      "agree under two partitionings") {
    for ((digits, big) <- Seq(6 -> 9.2e12, 12 -> 9.2e6)) {
      val df = edges(big)
      val runs = partitionings(df).map(p =>
        both(p, "g", sumFloor(col("x"), digits), sumFloorSql("x", digits),
          groupBy = true))
      runs.foreach { case (byCol, bySql) => assert(byCol == bySql) }
      assert(runs.map(_._1).distinct.size == 1, s"digits $digits")
      val byCol = runs.head._1
      (0 to 3).foreach { g =>
        val xs = values(df, g)
        assert(byCol(g) == bits(sumFloorDriver(xs.iterator, digits)), s"g$g")
        assert(byCol(g) == bits(sumFloorDriver(xs.reverseIterator, digits)))
      }
      assert(byCol(4).isEmpty) // all-null group folds to null
      // floorUnits, each driver fold's per-value term, equals Spark's
      // floor(x·10^d) on every non-null row (near-limit ones included)
      val s = math.pow(10, digits)
      df.filter(col("x").isNotNull)
        .select(col("x"), floor(col("x") * s)).as[(Double, Long)].collect()
        .foreach { case (x, f) => assert(floorUnits(x, s) == f, s"x=$x") }
    }
    // floor, not truncation: -1.5e-6 contributes -2e-6
    assert(sumFloorDriver(Iterator(-1.5e-6)) == -2e-6)
  }

  test("sumExact and avgExact: Column and SQL twin agree under two " +
      "partitionings; empty input folds to null") {
    val df = edges(9.2e12)
    for ((c, sql) <- Seq(sumExact(col("x")) -> sumExactSql("x"),
                         avgExact(col("x")) -> avgExactSql("x"))) {
      val runs =
        partitionings(df).map(p => both(p, "g", c, sql, groupBy = true))
      runs.foreach { case (byCol, bySql) => assert(byCol == bySql) }
      assert(runs.map(_._1).distinct.size == 1)
      assert(runs.head._1(4).isEmpty)
    }
    val empty = df.filter(lit(false))
    empty.createOrReplaceTempView("exact_num_empty")
    assert(empty.agg(sumExact(col("x"))).head().isNullAt(0))
    assert(spark.sql(s"SELECT ${sumExactSql("x")} FROM exact_num_empty")
      .head().isNullAt(0))
  }

  test("sumExactOver: Column and SQL twin agree on running and " +
      "whole-partition frames; the whole frame equals sumExact") {
    val df = edges(9.2e12)
    val running = Window.partitionBy(col("g")).orderBy(col("i"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cases = Seq(
      (running, "(PARTITION BY g ORDER BY i ROWS UNBOUNDED PRECEDING)"),
      (Window.partitionBy(col("g")), "(PARTITION BY g)"))
    val perFrame = cases.map { case (w, wSql) =>
      val runs = partitionings(df).map(p => both(p, "i",
        sumExactOver(col("x"), w), sumExactOverSql("x", wSql),
        groupBy = false))
      runs.foreach { case (byCol, bySql) => assert(byCol == bySql) }
      assert(runs.map(_._1).distinct.size == 1)
      runs.head._1
    }
    val grouped = both(df, "g", sumExact(col("x")), sumExactSql("x"),
      groupBy = true)._1
    df.select("g", "i").as[(Int, Int)].collect().foreach { case (g, i) =>
      assert(perFrame(1)(i) == grouped(g), s"row $i")
    }
  }

  test("toExact: Column and SQL twin give the same DECIMAL(28,6) values") {
    val df = edges(9.2e12)
    df.createOrReplaceTempView("exact_num_v")
    val byCol = df.select(col("i"), toExact(col("x"))).collect()
      .map(r => r.getInt(0) -> Option(r.getDecimal(1))).toMap
    val bySql = spark.sql(s"SELECT i, ${toExactSql("x")} FROM exact_num_v")
      .collect().map(r => r.getInt(0) -> Option(r.getDecimal(1))).toMap
    assert(byCol == bySql)
    assert(df.select(toExact(col("x"))).schema.head.dataType == Exact)
  }
}
