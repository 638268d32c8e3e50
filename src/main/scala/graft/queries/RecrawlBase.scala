package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** The recrawl keys' fetch-table derivation, shared by pl29 and pl31
  * (the LrBase precedent). Fixture mapping (PLANS_r13 §pl29 gate —
  * planted change schedule, ~7.7% fetch-failure sample, both falsified
  * against the organic alternatives before the oracle): fetch = one
  * documents row; page = doc_id mod npages; round r = doc_id div
  * npages; doc_id % 13 == 7 fetches FAILED; page p refreshes every
  * period(p) = 1 + p%4 rounds serving its base fetch's text; content
  * key = hash60(text); pages key on the CANONICALIZED url.
  */
object RecrawlBase {

  /** Corpus-derived page-universe size (one row: npages). */
  def pages(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents")
    d.agg(greatest(lit(50L), expr("count(1) div 10")).as("npages"))
  }

  /** The observed fetch table: (canonical_url, r, period, ck) — one
    * corpus scan renders+canonicalizes, one equi-join fetches content. */
  def fetches(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables.spread(Tables.load(s, dir, "documents"))
    val f = d.crossJoin(broadcast(pages(s, dir)))
      .filter($"doc_id" % 13 =!= 7)
      .select($"doc_id", $"npages",
        graft.operators.UrlCanon.canonicalize(
          graft.operators.UrlCanon.renderUrl($"doc_id", $"npages"))
          .as("canonical_url"),
        ($"doc_id" % $"npages").as("p"),
        expr("doc_id div npages").as("r"))
      .withColumn("period", lit(1L) + $"p" % 4)
      .withColumn("base_id",
        $"p" + ($"r" - $"r" % $"period") * $"npages")
    f.join(d.select($"doc_id".as("base_id"), $"text"), Seq("base_id"))
      .select($"canonical_url", $"r", $"period",
        graft.functions.PortableHash.hash60($"text").as("ck"))
  }

  /** Fetches classified against each page's previous OBSERVED fetch via
    * ONE page-partitioned lag window. (canonical_url, r, period, chg). */
  def classified(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lagW = Window.partitionBy($"canonical_url").orderBy($"r")
    fetches(s, dir)
      .withColumn("prev", lag($"ck", 1).over(lagW))
      .withColumn("chg", when($"prev".isNull, "new")
        .when($"ck" =!= $"prev", "changed").otherwise("unchanged"))
      .select($"canonical_url", $"r", $"period", $"chg")
  }

  /** Per-page change OBSERVATIONS — the estimator's input (pl31): one
    * row per consecutive observed fetch pair, (canonical_url, period,
    * chg 0/1, gap in rounds). Same page-partitioned lag window as
    * [[classified]]; gaps > 1 are the planted fetch failures — exactly
    * the irregular-polling regime Cho & Garcia-Molina's correction
    * exists for. */
  def comparisons(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lagW = Window.partitionBy($"canonical_url").orderBy($"r")
    fetches(s, dir)
      .withColumn("prev_ck", lag($"ck", 1).over(lagW))
      .withColumn("prev_r", lag($"r", 1).over(lagW))
      .filter($"prev_ck".isNotNull)
      .select($"canonical_url", $"period",
        when($"ck" =!= $"prev_ck", 1L).otherwise(0L).as("chg"),
        ($"r" - $"prev_r").as("gap"))
  }

  /** Per-period page-class sizes from pure arithmetic — no corpus pass. */
  def classSizes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.range(0, 4).toDF("c")
      .crossJoin(broadcast(pages(s, dir)))
      .select((lit(1L) + $"c").as("period"),
        expr("(npages - c + 3) div 4").as("class_size"))
  }
}
