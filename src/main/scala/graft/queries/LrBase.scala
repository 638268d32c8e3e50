package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.ExactNum.{floorUnits, sumFloorSql}
import graft.functions.TextFunctions

/** The in-engine logistic-regression trainer shared by pl27 (the
  * hash-oracled weight trajectory) and pl28 (the trained model served as
  * a corpus filter) — pl27's arithmetic, extracted verbatim so the two
  * keys can never drift.
  *
  * Execution shape (the textbook full-batch GD at corpus scale): the
  * feature projection is ONE narrow corpus pass (the caller persists
  * it); every round is ONE map-side-combined aggregation producing a
  * 4-value gradient (+ the accuracy count of the PREVIOUS round's
  * weights, fused into the same job — 17 passes for 16 rounds + final
  * accuracy, never two jobs per round). Model state is 4 doubles on the
  * driver — the Lloyd's-iteration discipline.
  *
  * Oracle-portability: gradient moments fold as floor·1e6 decimals
  * (order-insensitive), the fast-sigmoid link p = ½ + ½·m/(1+|m|) is
  * IEEE-exact in both engines (a stated deviation from exp-sigmoid),
  * and the weight update is the identical double expression — the
  * DuckDB twin replays the chain as CTEs ([[chainSql]]) and pl27's
  * oracle pins the whole trajectory bit-for-bit.
  */
object LrBase {

  val Rounds = 16
  val Eta = 8.0

  /** Feature projection (doc_id, x1, x2, x3, y): scaled en-marker
    * count / length / token count, centered at FIXED constants (≈ the
    * corpus means, hard-coded — a data-derived mean would cost a pass
    * and another portability surface): uncentered all-positive features
    * against a 69%-positive teacher stall full-batch GD at the majority
    * predictor for far more rounds (measured: 8 rounds flat at 0.688;
    * centered+η=8 rises to 0.804 by round 16). The teacher rule reads
    * the RAW scaled features. */
  def feats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val x1r = TextFunctions.wordListCount(lower($"text"),
      TextFunctions.langMarkers.head._2).cast("double") / 10.0
    val x2r = length($"text").cast("double") / 1000.0
    val x3r = TextFunctions.tokenCount($"text").cast("double") / 100.0
    Tables.spread(Tables.load(s, dir, "documents"))
      .select($"doc_id", (x1r - 0.35).as("x1"), (x2r - 0.3).as("x2"),
        (x3r - 0.55).as("x3"),
        when(lit(3.0) * x1r - lit(2.0) * x3r + lit(0.3) >= 0.0,
          lit(1.0)).otherwise(lit(0.0)).as("y"))
  }

  /** The linear margin at weights `wv` over the (x1, x2, x3) columns. */
  def margin(wv: Array[Double]): Column =
    lit(wv(0)) + lit(wv(1)) * col("x1") + lit(wv(2)) * col("x2") +
      lit(wv(3)) * col("x3")

  /** Run the 16 GD rounds over a (persisted) [[feats]] frame. Returns
    * (per-round weights w_1..w_16, per-round n_correct at w_0..w_15
    * [+ w_16 when `finalNc`]). Each round is one gradient-aggregation
    * job; pass t computes the gradient at w_{t-1} AND the accuracy at
    * w_{t-1} in the same fold (they share the margin arithmetic).
    *
    * Execution (optimization r15, guide §1.2 "per-task work"): the
    * rounds used to run as DataFrame aggs, but the weights enter the
    * plan as round-dependent LITERALS, so every round re-planned and
    * re-generated a fresh codegen class that never got JIT-compiled —
    * measured ~0.11 s/round of driver gap + interpreted-class task
    * time at sf0.1 against ~5 ms of actual arithmetic; probed
    * alternatives (weights as a broadcast 1-row join; AQE off;
    * two-level long/decimal DataFrame sums) all measured WORSE
    * (JobProbe/BenchOne records in OPTIMIZATION_r15.md). The loop is
    * therefore the classic MLlib gradient shape (one compiled
    * mapPartitions fold per round over the cached frame — Spark's own
    * LogisticRegression trains exactly this way via treeAggregate):
    * per-partition partial sums in Long (each per-row term
    * floor(c·1e6) is an integer with |term| ≤ 1e6·|x|, so a 1 GB
    * partition stays ≥4 orders inside Long range), merged on the
    * driver in BigInt — bit-identical totals to the former
    * sum(DECIMAL(38,0)) at ANY corpus size, in the identical IEEE
    * expression order (m, p, e and the floors are the same double ops
    * the Catalyst expressions compiled to). The per-round job is
    * data-independent 48-byte output; model state stays 4 doubles on
    * the driver. */
  def train(feats: DataFrame, finalNc: Boolean)
      : (Seq[Array[Double]], Seq[Long]) = {
    var w = Array(0.0, 0.0, 0.0, 0.0)
    val ws = scala.collection.mutable.ArrayBuffer[Array[Double]]()
    val ncs = scala.collection.mutable.ArrayBuffer[Long]()
    val passes = if (finalNc) Rounds + 1 else Rounds
    // one compiled projection of the 4 training columns, reused by every
    // round — reading the caller's persisted/cached feats blocks
    val rdd = feats.select(col("x1"), col("x2"), col("x3"), col("y"))
      .queryExecution.toRdd
    for (t <- 1 to passes) {
      val w0 = w(0); val w1 = w(1); val w2 = w(2); val w3 = w(3)
      // 7 Long partials per partition: Σfloor(e·1e6), Σfloor(e·x1·1e6),
      // Σfloor(e·x2·1e6), Σfloor(e·x3·1e6), n, nc — the same integers
      // the former DataFrame agg folded, in the same IEEE order.
      val partials = rdd.mapPartitions { it =>
        var s0 = 0L; var s1 = 0L; var s2 = 0L; var s3 = 0L
        var n = 0L; var nc = 0L
        val grad = t <= Rounds
        while (it.hasNext) {
          val r = it.next()
          // a null feature row contributed nothing to the old agg's
          // moment sums or nc, but WAS counted by count(lit(1)) —
          // preserved exactly (no such rows in any current fixture)
          if (r.anyNull) { if (grad) n += 1L }
          else {
          val x1 = r.getDouble(0); val x2 = r.getDouble(1)
          val x3 = r.getDouble(2); val y = r.getDouble(3)
          val m = w0 + w1 * x1 + w2 * x2 + w3 * x3
          if ((m >= 0.0) == (y == 1.0)) nc += 1L
          if (grad) {
            val p = 0.5 + 0.5 * m / (1.0 + math.abs(m))
            val e = y - p
            // addExact (ADVICE r15): the former sum(DECIMAL(38,0))
            // could not wrap; the Long partial can in principle (a
            // partition of rows with |x| ~ 1e12 would need ~10^6 rows
            // to overflow) — throw loudly instead of silently wrapping.
            // The cross-partition merge below is already BigInt-exact.
            s0 = Math.addExact(s0, floorUnits(e, 1e6))
            s1 = Math.addExact(s1, floorUnits(e * x1, 1e6))
            s2 = Math.addExact(s2, floorUnits(e * x2, 1e6))
            s3 = Math.addExact(s3, floorUnits(e * x3, 1e6))
            n += 1L
          }
          }
        }
        Iterator.single(Array(s0, s1, s2, s3, n, nc))
      }.collect()
      // driver-side exact merge: ≤numPartitions 6-long arrays, summed in
      // BigInt so unbounded-corpus totals can never wrap
      def tot(i: Int): BigInt =
        partials.foldLeft(BigInt(0))((a, p) => a + BigInt(p(i)))
      ncs += tot(5).toLong // nc(w_{t-1}) [or nc(w_16) on the extra pass]
      if (t <= Rounds) {
        val n = tot(4).toDouble
        // g_i = BigInt total → double → /1e6: the identical value and
        // rounding the DECIMAL(38,0).cast(double)/1e6 chain produced
        w = Array.tabulate(4)(j =>
          w(j) + Eta * (tot(j).toDouble / 1e6) / n)
        ws += w.clone()
      }
    }
    (ws.toSeq, ncs.toSeq)
  }

  /** DuckDB CTE chain `feats … wt0 … wt16` (plus `nc_t` accuracy CTEs
    * when `withNc`) — the twin of [[feats]]+[[train]], shared by the
    * pl27 and pl28 oracles. Emits CTE definitions only (no leading
    * WITH, no trailing comma). */
  def chainSql(withNc: Boolean): String = {
    val enWords = TextFunctions.langMarkers.head._2
    val x1 =
      s"(CAST(${TextFunctions.wordListCountSql("lower(text)", enWords)}" +
        " AS DOUBLE) / 10.0)"
    val x2 = "(CAST(length(text) AS DOUBLE) / 1000.0)"
    val x3 = s"(CAST(${TextFunctions.tokenCountSql("text")} AS DOUBLE)" +
      " / 100.0)"
    val mExpr = "(w.w0 + w.w1 * x1 + w.w2 * x2 + w.w3 * x3)"
    val eExpr = "(y - (0.5 + 0.5 * m / (1.0 + abs(m))))"
    val sb = new StringBuilder
    sb ++= s"""feats AS MATERIALIZED (
       |  SELECT doc_id, (x1r - 0.35) AS x1, (x2r - 0.3) AS x2,
       |    (x3r - 0.55) AS x3,
       |    CASE WHEN 3.0 * x1r - 2.0 * x3r + 0.3 >= 0.0
       |      THEN 1.0 ELSE 0.0 END AS y
       |  FROM (SELECT doc_id, $x1 AS x1r, $x2 AS x2r, $x3 AS x3r
       |        FROM documents) f0
       |),
       |wt0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)"""
      .stripMargin
    for (t <- 1 to Rounds) {
      sb ++= s""",
         |g$t AS MATERIALIZED (
         |  SELECT ${sumFloorSql(eExpr)} AS g0,
         |    ${sumFloorSql(s"$eExpr * x1")} AS g1,
         |    ${sumFloorSql(s"$eExpr * x2")} AS g2,
         |    ${sumFloorSql(s"$eExpr * x3")} AS g3,
         |    count(*) AS n
         |  FROM (SELECT y, x1, x2, x3, $mExpr AS m
         |        FROM feats, wt${t - 1} w) z
         |), wt$t AS MATERIALIZED (
         |  SELECT w.w0 + $Eta * g.g0 / CAST(g.n AS DOUBLE) AS w0,
         |    w.w1 + $Eta * g.g1 / CAST(g.n AS DOUBLE) AS w1,
         |    w.w2 + $Eta * g.g2 / CAST(g.n AS DOUBLE) AS w2,
         |    w.w3 + $Eta * g.g3 / CAST(g.n AS DOUBLE) AS w3
         |  FROM wt${t - 1} w, g$t g
         |)""".stripMargin
      if (withNc) sb ++= s""",
         |nc$t AS MATERIALIZED (
         |  SELECT CAST(sum(CASE WHEN ($mExpr >= 0.0) = (y = 1.0)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS nc
         |  FROM feats, wt$t w
         |)""".stripMargin
    }
    sb.toString
  }
}
