package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Sketches

/** Count-Min heavy hitters on a planted vocabulary large enough to
  * collide (the fixture corpus has ~31 distinct tokens — every bucket is
  * private there, so the sketch's defining behaviors need construction).
  */
class SketchesSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  test("CM estimate is never below exact; tight grid forces overcounts") {
    // 400 distinct tokens, zipf-ish: token i appears (401-i) times; a
    // 4x64 grid (256 counters for 400 tokens) must collide somewhere.
    val docs = (1 to 400).flatMap(i => Seq.fill(401 - i)(s"tok$i"))
      .grouped(50).map(_.mkString(" ")).toSeq.toDF("text")
    val out = Sketches.tokenHeavyHitters(docs, "text", k = 30,
        depth = 4, width = 64)
      .collect().map(r => (r.getAs[String]("token"),
        r.getAs[Long]("n_exact"), r.getAs[Long]("n_cm")))
    assert(out.length == 30)
    // top-30 by construction: tok1..tok30 (counts 400..371)
    assert(out.map(_._1).toSet == (1 to 30).map(i => s"tok$i").toSet)
    out.foreach { case (t, exact, cm) =>
      assert(cm >= exact, s"$t: cm $cm < exact $exact")
    }
    val exactByTok = out.map(t => t._1 -> t._2).toMap
    assert(exactByTok("tok1") == 400L && exactByTok("tok30") == 371L)
    // with 400 tokens in 256 counters per the pigeonhole SOME of the
    // top-30 must share all-private buckets with heavy mass only rarely;
    // do not demand a specific collision, but the grid-wide overcount
    // (sum cm - sum exact) must be observable on at least one token OR
    // every top token happened to dodge — accept either but verify the
    // sketch never undercounts (asserted above) and estimates are exact
    // for an uncontested singleton grid:
    val wide = Sketches.tokenHeavyHitters(docs, "text", k = 30,
        depth = 4, width = 65536)
      .collect().map(r => (r.getAs[String]("token"),
        r.getAs[Long]("n_exact"), r.getAs[Long]("n_cm")))
    assert(wide.forall(t => t._2 == t._3),
      "65536-wide grid over 400 tokens should be collision-free")
  }

  test("KMV distinct estimate: calibrated error, partition-invariant, " +
      "exact in the sparse regime") {
    // 3 groups with known distinct counts: g0 5000 keys, g1 800 keys
    // (both >> k: formula path), g2 9 keys (sparse path)
    val rows = (1 to 5000).map(i => ("g0", s"a$i")) ++
      (1 to 800).map(i => ("g1", s"b$i")) ++
      (1 to 9).map(i => ("g2", s"c$i")) ++
      (1 to 800).map(i => ("g1", s"b$i")) // duplicates must not matter
    val df = rows.toDF("grp", "key")
    val out = Sketches.kmvDistinct(df, col("grp"), col("key"), k = 64)
      .collect().map(r => r.getAs[String]("grp") ->
        (r.getAs[Long]("n_kept"), r.getAs[Double]("est_distinct"))).toMap
    // k=64 ⇒ stderr ≈ 1/√62 ≈ 12.7%; 4σ bound keeps flake odds nil
    assert(math.abs(out("g0")._2 / 5000.0 - 1.0) < 0.5, out("g0"))
    assert(math.abs(out("g1")._2 / 800.0 - 1.0) < 0.5, out("g1"))
    assert(out("g0")._1 == 64L && out("g1")._1 == 64L)
    // sparse regime: all 9 hashes kept, estimate IS the exact count
    assert(out("g2") == ((9L, 9.0)))
    // the two-stage k-min selection must not depend on physical layout
    Seq(1, 7, 32).foreach { n =>
      val re = Sketches.kmvDistinct(df.repartition(n), col("grp"),
          col("key"), k = 64)
        .collect().map(r => r.getAs[String]("grp") ->
          (r.getAs[Long]("n_kept"), r.getAs[Long]("h_k"),
            r.getAs[Double]("est_distinct"))).toMap
      val base = Sketches.kmvDistinct(df, col("grp"), col("key"), k = 64)
        .collect().map(r => r.getAs[String]("grp") ->
          (r.getAs[Long]("n_kept"), r.getAs[Long]("h_k"),
            r.getAs[Double]("est_distinct"))).toMap
      assert(re == base, s"repartition($n) changed the sketch")
    }
  }

  test("KMV merge: k-min of unioned states equals the union's own sketch") {
    import org.apache.spark.sql.expressions.Window
    // overlapping key sets: merging the two 64-min STATES must give
    // exactly the sketch a fresh pass over A ∪ B would build — the
    // property that lets per-partition/per-day sketches combine without
    // revisiting data
    val a = (1 to 3000).map(i => ("A", s"x$i"))
    val b = (2000 to 4500).map(i => ("B", s"x$i"))
    val df = (a ++ b).toDF("grp", "key")
    val kept = Sketches.kMinHashes(df, col("grp"), col("key"), 64)
    val mergedState = kept.select(lit("u").as("grp"), col("h")).distinct()
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col("h"))))
      .filter(col("rn") <= 64).select(col("grp"), col("h"))
    val viaMerge = Sketches.kmvEstimate(mergedState, 64)
      .collect().map(r => (r.getAs[Long]("n_kept"), r.getAs[Long]("h_k"),
        r.getAs[Double]("est_distinct"))).head
    val direct = Sketches.kmvDistinct(
        df.select(lit("u").as("g"), col("key")), col("g"), col("key"), 64)
      .collect().map(r => (r.getAs[Long]("n_kept"), r.getAs[Long]("h_k"),
        r.getAs[Double]("est_distinct"))).head
    assert(viaMerge == direct)
    assert(math.abs(direct._3 / 4500.0 - 1.0) < 0.5, direct)
  }

  test("top-k tie-break is (count desc, token asc) and deterministic") {
    val docs = Seq("b b a a d c c", "d e").toDF("text")
    val out = Sketches.tokenHeavyHitters(docs, "text", k = 3)
      .orderBy(desc("n_exact"), asc("token"))
      .collect().map(r => (r.getAs[String]("token"), r.getAs[Long]("n_exact")))
    // counts: a=2 b=2 c=2 d=2 e=1 -> top3 by tie-break = a, b, c
    assert(out.toSeq == Seq(("a", 2L), ("b", 2L), ("c", 2L)))
  }
}
