package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{PortableHash, TextFunctions}

/** Frequency-sketch operators for corpus statistics.
  *
  * Count-Min sketch (Cormode & Muthukrishnan 2005): a depth×width counter
  * grid; each item increments one bucket per hash row, an item's estimate
  * is the MIN of its buckets — always ≥ the true count, with overshoot
  * bounded by (corpus mass / width) per row. The sketch is built on the
  * engine-portable [[PortableHash.hash60]] family, so bucket assignment —
  * and therefore every estimate — is reproducible from plain SQL
  * arithmetic in the DuckDB oracle: the sketch VALUES are hash-checked,
  * not just "rows came back".
  */
object Sketches {

  /** Bucket of `token` in CM row `d`: a per-row salt prefixed to the
    * token keeps the depth rows independent with one hash family. */
  private def cmBucket(d: Int, token: Column, width: Int): Column =
    PortableHash.hash60(concat(lit(s"cm$d:"), token)) % width

  /** SQL twin of [[cmBucket]] with the row index inlined from a
    * generate_series column `dExpr`. */
  def cmBucketSql(dExpr: String, tokenExpr: String, width: Int): String =
    PortableHash.hash60Sql(
      s"'cm' || CAST($dExpr AS VARCHAR) || ':' || $tokenExpr") + s" % $width"

  /** Corpus token heavy hitters: exact top-k vocabulary with Count-Min
    * estimates alongside — the frequency table that seeds BPE vocabulary
    * training and stopword lists, plus the memory-bounded sketch a
    * production pipeline substitutes when the vocabulary itself is too
    * large to aggregate exactly.
    *
    * Scale shape: the exact pass is one hash aggregation over tokens
    * (shuffle keyed on token, partial counts map-side) followed by a
    * distributed top-k (TakeOrderedAndProject — per-partition heaps of k,
    * never a global sort). The CM pass aggregates to a FIXED depth×width
    * grid (here 4×1024 counters) regardless of corpus size — the partial
    * aggregate collapses each upstream partition to ≤ depth·width rows
    * before the (tiny) shuffle, which is the whole point of the sketch at
    * 100 TB: vocabulary-sized state never moves, only the constant grid.
    * The estimate join touches k·depth rows.
    *
    * Output: (token, n_exact, n_cm), n_cm ≥ n_exact by construction
    * (equality iff no colliding token shares all `depth` buckets). */
  def tokenHeavyHitters(docs: DataFrame, textCol: String, k: Int = 50,
                        depth: Int = 4, width: Int = 1024): DataFrame = {
    val spark = docs.sparkSession
    val toks = graft.core.Tables.spread(docs)
      .select(explode(TextFunctions.tokens(col(textCol))).as("token"))
    val topk = toks.groupBy(col("token"))
      .agg(count(lit(1)).cast("long").as("n_exact"))
      .orderBy(col("n_exact").desc, col("token").asc)
      .limit(k)
    // one (d, bucket) row per token occurrence per hash row; the groupBy
    // collapses to the constant grid
    val cm = cmGrid(toks, depth, width)
    // k·depth probe rows against the grid; both sides tiny — broadcast
    val probes = topk.select(col("token"), col("n_exact"),
      explode(array((0 until depth).map(d =>
        struct(lit(d).as("d"),
          cmBucket(d, col("token"), width).as("b"))): _*)).as("db"))
      .select(col("token"), col("n_exact"),
        col("db.d").as("d"), col("db.b").as("b"))
    probes.join(broadcast(cm), Seq("d", "b"))
      .groupBy(col("token"), col("n_exact"))
      .agg(min(col("cnt")).as("n_cm"))
  }

  /** One (d, bucket) row per token occurrence per hash row, collapsed to
    * the constant depth×width grid. */
  private def cmGrid(toks: DataFrame, depth: Int, width: Int): DataFrame =
    toks.select(explode(array((0 until depth).map(d =>
        struct(lit(d).as("d"),
          cmBucket(d, col("token"), width).as("b"))): _*)).as("db"))
      .groupBy(col("db.d").as("d"), col("db.b").as("b"))
      .agg(count(lit(1)).cast("long").as("cnt"))

  /** KMV (k-minimum-values) distinct-count sketch per group (Bar-Yossef
    * et al. 2002; Beyer et al. 2007's unbiased estimator): keep the k
    * smallest hash values of the key set; with h_k the k-th smallest of
    * a hash uniform on [0, 2^60), distinct ≈ (k−1)·2^60 / h_k. Unlike
    * the HLL behind q21 (whose register layout is engine-private, hence
    * its bounded oracle), every number here derives from
    * [[PortableHash.hash60]] order statistics — plain SQL arithmetic the
    * DuckDB oracle reproduces bit-for-bit, giving a fully hash-checkable
    * distinct sketch.
    *
    * Scale shape: one dedup shuffle on (group, hash), then the k-min
    * selection runs TWO-STAGE — k smallest per (group, input partition)
    * first, so the per-group global sort sees ≤ k·partitions rows, never
    * the full key set (the relational spelling of the sketch's bounded
    * k-heap partial aggregate; a group with a billion distinct keys
    * never sorts a billion rows in one task). Groups with fewer than k
    * distinct hashes keep them all and the estimate degrades to the
    * EXACT count (n_kept), the sketch's sparse regime.
    *
    * Output: (grp, n_kept, h_k, est_distinct). */
  def kmvDistinct(df: DataFrame, grp: Column, key: Column,
                  k: Int = 64): DataFrame =
    kmvEstimate(kMinHashes(df, grp, key, k), k)

  /** The sketch STATE: the k smallest distinct key hashes per group,
    * as (grp, h) rows. Exposed because KMV states are mergeable — the
    * k-min of a union of sets is the k-min of the union of their
    * k-min states (q62 builds union/intersection estimates on this). */
  def kMinHashes(df: DataFrame, grp: Column, key: Column,
                 k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dk = df.filter(key.isNotNull)
      .select(grp.as("grp"), PortableHash.hash60(key.cast("string")).as("h"))
      .distinct()
    val local = dk.withColumn("p", spark_partition_id())
      .withColumn("rn",
        row_number().over(Window.partitionBy(col("grp"), col("p"))
          .orderBy(col("h"))))
      .filter(col("rn") <= k).select(col("grp"), col("h"))
    local.withColumn("rn",
        row_number().over(Window.partitionBy(col("grp")).orderBy(col("h"))))
      .filter(col("rn") <= k).select(col("grp"), col("h"))
  }

  /** (grp, n_kept, h_k, est_distinct) from a [[kMinHashes]] state. */
  def kmvEstimate(kept: DataFrame, k: Int): DataFrame =
    kept.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_kept"), max(col("h")).as("h_k"))
      .withColumn("est_distinct",
        when(col("n_kept") < k, col("n_kept").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(Pow60) /
            col("h_k").cast("double")))

  /** 2^60 as a double (exact): the hash range for the KMV estimator. */
  val Pow60: Double = 1152921504606846976.0

  /** DuckDB twin of [[kmvDistinct]]'s selection + estimate, as a CTE
    * body parameterized on the source relation and expressions. */
  def kmvSql(from: String, grpExpr: String, keyExpr: String,
             k: Int = 64): String =
    s"""SELECT grp, count(*) AS n_kept, max(h) AS h_k,
       |  CASE WHEN count(*) < $k THEN CAST(count(*) AS DOUBLE)
       |       ELSE ${(k - 1).toDouble} * ${Pow60} / CAST(max(h) AS DOUBLE)
       |  END AS est_distinct
       |FROM (
       |  SELECT grp, h,
       |    row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
       |  FROM (SELECT DISTINCT $grpExpr AS grp,
       |          ${PortableHash.hash60Sql(s"CAST($keyExpr AS VARCHAR)")} AS h
       |        FROM $from WHERE $keyExpr IS NOT NULL)
       |) WHERE rn <= $k GROUP BY grp""".stripMargin
}
