package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.ExactNum.{quantize, quantizeDriver, quantizeSql,
  sumFloorDriver, sumFloorSql}

/** Platt scaling (Platt 1999): calibrate a raw classifier SCORE into a
  * probability by fitting p = σ(a·m + b) with Newton/IRLS — the step
  * that turns tx19-style margins into usable keep-probabilities and
  * decision thresholds. The in-engine training loop that closes the
  * quality-classifier story: apply (tx19) AND fit (here) both run as
  * queries.
  *
  * Scale shape — the fit NEVER iterates over the corpus: scores are
  * integers (hashed-weight margins), so ONE corpus pass builds the
  * (margin, n, k) histogram (aggregate-sized: bounded score domain) and
  * every Newton iteration is a 5-scalar aggregate over that histogram
  * (weighted moments S1..S3, gradient G1..G2) + a driver-side 2×2
  * solve. Fixed iteration count; the histogram is persisted once.
  *
  * Determinism / oracle-portability:
  *  - per-row p = quantize(1/(1 + quantize(exp(clamp(−(a·m+b), ±30)))))
  *    — the ln/exp DECIMAL(28,6) round-trip discipline (tx13/tx14),
  *    clamp keeps exp finite at any margin;
  *  - moment sums are floor·1e6 decimal folds (order-insensitive):
  *    ExactNum.sumFloorDriver on the driver, sumFloorSql in the twin;
  *  - the Newton update `a − (S3·G1 − S2·G2)/det` is the IDENTICAL
  *    double expression on the driver and in the SQL twin, evaluated on
  *    identical operands — bit-equal results with no quantization of
  *    the parameters themselves.
  */
object Calibration {

  /** σ(a·m + b) through the portable exp round-trip. */
  private def pCal(m: Column, a: Double, b: Double): Column = {
    val z = greatest(least(-(lit(a) * m + lit(b)), lit(30.0)), lit(-30.0))
    quantize(lit(1.0) / (lit(1.0) + quantize(exp(z))))
  }

  /** Driver mirror of [[pCal]]: Spark's exp is java.lang.Math.exp —
    * the same JVM intrinsic this driver call hits. The clamp mirrors
    * Spark's least/greatest NaN ORDERING too (Spark comparisons treat
    * NaN as the largest double, so least(NaN, 30) = 30; java.lang.Math
    * min/max would PROPAGATE the NaN) — unreachable with today's finite
    * a/b/m, but the mirror must not silently desynchronize if an input
    * ever degrades (ADVICE r10). */
  private def pCalD(m: Double, a: Double, b: Double): Double = {
    val z0 = -(a * m + b)
    val zLo = if (z0.isNaN) 30.0 else math.min(z0, 30.0) // Spark least
    val z = math.max(zLo, -30.0) // zLo is finite here, max is exact
    quantizeDriver(1.0 / (1.0 + quantizeDriver(math.exp(z))))
  }

  /** Fit on a (mCol, nCol, kCol) histogram — n rows, k positives per
    * score value — and return the calibrated table:
    * (mCol, nCol, kCol, p_cal, a, b).
    *
    * ONE corpus pass, total: scores are integers, so the histogram is
    * bounded by the score DOMAIN, not the corpus — it collects like a
    * Lloyd's centroid table, the Newton iterations run driver-side
    * over the collected rows, and the output projects from the same
    * rows as a LocalRelation. (The r8 form persisted the histogram and
    * ran each iteration as a 5-scalar cluster aggregate — correct but
    * 4 extra scheduled jobs; the r9 form additionally re-ran the
    * corpus pass at consumption, the tx27 ≈3× regression. Nothing is
    * pinned on executors now, retiring that round's leak concern too.) */
  def plattCalibrate(hist: DataFrame, mCol: String, nCol: String,
                     kCol: String, iters: Int = 3): DataFrame = {
    require(iters >= 1)
    val spark = hist.sparkSession
    // persisted ONLY across the collect below (a retry of the collect
    // job re-reads the cache, not the corpus); the collected rows serve
    // every later consumer — the LocalRelation output and the driver
    // fit — so the block is released here instead of pinning an
    // executor block per distinct calibration until clearCache
    // (ADVICE r10)
    val slim = hist.select(col(mCol), col(nCol), col(kCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rows = slim.collect()
    slim.unpersist()
    // the driver collect is score-domain-bounded by CONTRACT (integer
    // margins from hashed-weight classifiers span ~10³ values); guard
    // the contract so a caller handing a continuous-score histogram
    // fails with the design assumption named, not a driver OOM
    require(rows.length <= (1 << 22),
      s"plattCalibrate: histogram has ${rows.length} rows — the fit " +
        "collects the score-domain histogram to the driver, which " +
        "assumes a bounded integer score domain (≲4M distinct values); " +
        "quantize/bucket the score column before calibrating")
    val mv = rows.map(_.get(0).asInstanceOf[Number].doubleValue)
    val nv = rows.map(_.get(1).asInstanceOf[Number].doubleValue)
    val kv = rows.map(_.get(2).asInstanceOf[Number].doubleValue)
    // Platt 1999's defining regularization: the fit targets are the
    // Bayes-corrected t+ = (N₊+1)/(N₊+2) and t− = 1/(N₋+2), NOT raw
    // 0/1 labels — on separable data the raw-label MLE has no finite
    // optimum (a grows without bound and p_cal saturates to exact 0/1
    // overconfidence); the corrected targets guarantee one. The start
    // is Platt's b₀ = ln((N₋+1)/(N₊+1)) (a=0), quantized through the
    // repo's DECIMAL(28,6) ln discipline so both engines iterate from
    // the identical double. t± are divisions of exact integers —
    // bit-identical in any IEEE engine.
    val nPos = kv.map(k => BigInt(k.toLong)).sum
    val nNeg = rows.indices.map(i => BigInt((nv(i) - kv(i)).toLong)).sum
    val tPlus = (nPos.doubleValue + 1.0) / (nPos.doubleValue + 2.0)
    val tMinus = 1.0 / (nNeg.doubleValue + 2.0)
    var a = 0.0
    var b = quantizeDriver(
      math.log((nNeg.doubleValue + 1.0) / (nPos.doubleValue + 1.0)))
    for (_ <- 1 to iters) {
      val p = mv.map(pCalD(_, a, b))
      val w = rows.indices.map(i => nv(i) * p(i) * (1.0 - p(i)))
      // gradient of the cross-entropy against the CORRECTED targets:
      // Σ per-sample (p − t_i) = n·p − (k·t⁺ + (n−k)·t⁻)
      val r = rows.indices.map(i =>
        nv(i) * p(i) - (kv(i) * tPlus + (nv(i) - kv(i)) * tMinus))
      val ix = rows.indices
      val s1 = sumFloorDriver(ix.iterator.map(i => w(i) * mv(i) * mv(i)))
      val s2 = sumFloorDriver(ix.iterator.map(i => w(i) * mv(i)))
      val s3 = sumFloorDriver(w.iterator)
      val g1 = sumFloorDriver(ix.iterator.map(i => r(i) * mv(i)))
      val g2 = sumFloorDriver(r.iterator)
      val det = s1 * s3 - s2 * s2
      // A degenerate histogram (e.g. one distinct margin) has det == 0;
      // the update would silently turn a/b (and every p_cal) into
      // NaN/Infinity. Freeze the parameters at their last finite value
      // instead — σ(a·m+b) stays a valid calibration, just unrefined.
      if (det != 0.0) {
        val aN = a - (s3 * g1 - s2 * g2) / det
        val bN = b - (s1 * g2 - s2 * g1) / det
        // identical expressions in the SQL twin — keep the operand order
        if (java.lang.Double.isFinite(aN) && java.lang.Double.isFinite(bN)) {
          a = aN; b = bN
        }
      }
    }
    // serve from the collected rows (LocalRelation): the per-row p_cal
    // projection still evaluates through the SPARK quantize/exp
    // expressions, so the output AST is unchanged from the r8 form
    val m = col(mCol).cast("double")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), slim.schema)
      .select(col(mCol), col(nCol), col(kCol),
        pCal(m, a, b).as("p_cal"), lit(a).as("a"), lit(b).as("b"))
  }

  /** The DuckDB twin: the identical Newton unroll as CTEs over a
    * histogram CTE named `hist(m, n, k)` supplied by `histSql`. */
  def plattSql(histSql: String, iters: Int = 3): String = {
    def pSql(aE: String, bE: String) = {
      val z = s"greatest(least(-(($aE) * CAST(m AS DOUBLE) + ($bE)), " +
        "CAST(30.0 AS DOUBLE)), CAST(-30.0 AS DOUBLE))"
      quantizeSql(s"1.0 / (1.0 + ${quantizeSql(s"exp($z)")})")
    }
    val iterCtes = (1 to iters).map { it =>
      val prev = s"pr${it - 1}"
      val p = pSql(s"$prev.a", s"$prev.b")
      // the same degenerate-histogram freeze as the Spark loop: det == 0
      // (or a non-finite update) keeps the previous parameters — a
      // double division by zero is NULL or ±inf depending on engine
      // version, and BOTH fall to the ELSE branch here, matching the
      // driver loop's guard exactly.
      val det = s"(mo$it.s1 * mo$it.s3 - mo$it.s2 * mo$it.s2)"
      val aN = s"($prev.a - (mo$it.s3 * mo$it.g1 - mo$it.s2 * mo$it.g2)" +
        s" / $det)"
      val bN = s"($prev.b - (mo$it.s1 * mo$it.g2 - mo$it.s2 * mo$it.g1)" +
        s" / $det)"
      val upd = s"($det <> 0 AND isfinite($aN) AND isfinite($bN))"
      // residual against Platt's Bayes-corrected targets (tc.tplus /
      // tc.tminus), matching the driver loop verbatim
      val resid = s"(CAST(n AS DOUBLE) * $p - (CAST(k AS DOUBLE) * tc.tplus" +
        s" + (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)) * tc.tminus))"
      s"""mo$it AS (
         |  SELECT
         |    ${sumFloorSql(s"CAST(n AS DOUBLE) * $p * (1.0 - $p) * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)")} AS s1,
         |    ${sumFloorSql(s"CAST(n AS DOUBLE) * $p * (1.0 - $p) * CAST(m AS DOUBLE)")} AS s2,
         |    ${sumFloorSql(s"CAST(n AS DOUBLE) * $p * (1.0 - $p)")} AS s3,
         |    ${sumFloorSql(s"$resid * CAST(m AS DOUBLE)")} AS g1,
         |    ${sumFloorSql(resid)} AS g2
         |  FROM hist CROSS JOIN $prev CROSS JOIN tc
         |), pr$it AS (
         |  SELECT
         |    CASE WHEN $upd THEN $aN ELSE $prev.a END AS a,
         |    CASE WHEN $upd THEN $bN ELSE $prev.b END AS b
         |  FROM mo$it CROSS JOIN $prev
         |)""".stripMargin
    }.mkString(",\n")
    val pFinal = pSql(s"pr$iters.a", s"pr$iters.b")
    s"""WITH hist AS (
       |$histSql
       |), tots AS (
       |  SELECT CAST(sum(k) AS DOUBLE) AS npos,
       |    CAST(sum(n - k) AS DOUBLE) AS nneg FROM hist
       |), tc AS (
       |  SELECT (npos + CAST(1 AS DOUBLE)) / (npos + CAST(2 AS DOUBLE))
       |      AS tplus,
       |    CAST(1 AS DOUBLE) / (nneg + CAST(2 AS DOUBLE)) AS tminus,
       |    npos, nneg
       |  FROM tots
       |), pr0 AS (
       |  SELECT CAST(0 AS DOUBLE) AS a,
       |    ${quantizeSql("ln((nneg + CAST(1 AS DOUBLE)) / (npos + CAST(1 AS DOUBLE)))")}
       |      AS b
       |  FROM tots
       |),
       |$iterCtes
       |SELECT hist.m, hist.n, hist.k, $pFinal AS p_cal,
       |  pr$iters.a AS a, pr$iters.b AS b
       |FROM hist CROSS JOIN pr$iters""".stripMargin
  }
}
