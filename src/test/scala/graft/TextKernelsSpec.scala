package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TextExpressions
import graft.functions.TextFunctions._

/** Pins the byte-scan kernels (TextKernels, via the TextExpressions
  * wrappers) BIT-EQUAL to the regex compositions they replaced — the same
  * twin-pinning discipline as VectorDot vs the HOF fold. The adversarial
  * set covers every boundary the kernels special-case: each Java `\s`
  * member, removed-char-is-not-a-separator, leading/trailing runs,
  * word-boundary digits/underscores, prefix-overlapping word lists, and
  * the non-ASCII fallback path of normalize.
  */
class TextKernelsSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  /** The regex compositions the kernels replaced — their reference twins. */
  private def tokensRegex(text: Column): Column =
    regexp_extract_all(text, lit("\\S+"), lit(0))
  private def tokenCountRegex(text: Column): Column =
    regexp_count(text, lit("\\S+")).cast("long")
  private def punctCountRegex(text: Column): Column =
    regexp_count(text, lit("[.,!?;:]")).cast("long")
  private def wordListCountRegex(text: Column, words: Seq[String]): Column =
    regexp_count(text, lit("\\b(" + words.mkString("|") + ")\\b")).cast("long")
  private def normalizeTextRegex(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9\\s]", ""), "\\s+", " "))

  /** The composed classifier-margin fold over the production token
    * weight — the reference twin of the token_weight_sum kernel. */
  private def marginHof(t: org.apache.spark.sql.Column) =
    aggregate(tokens(t), lit(0L),
      (acc, tok) => acc + graft.queries.TextQueries.tokenWeight(tok))

  private val adversarial = Seq(
    "", " ", "\t\n\f\r", "single", "a  b\t c",
    "  lead and trail  ", "a.b", "a . b", "Hello, World! 42",
    "dots...and;;semis::", "a,b,c.d!e?f", "UPPER lower MiXeD",
    "the theater thesis the", "under_score_word the_cat", "the5 5the 5 the",
    "a-b_c d-e", "!!!", "...the...", "tab\tsep\tvals",
    "multi\n\nline\r\nwin", "digits 123 456mix78",
    "x" * 500, ("word " * 200).trim,
    "café résumé", "Über STRAßE", "emoji 😀 mid",
    "mixed ascii café then more", "中文 text")

  private def fixtureTexts: Seq[String] =
    graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("text").as[String].collect().toSeq

  test("normalize kernel == regex chain on adversarial + fixture text") {
    val df = (adversarial ++ fixtureTexts).toDF("text")
    val diff = df.select(
        normalizeText($"text").as("fast"),
        normalizeTextRegex($"text").as("slow"))
      .where(not($"fast" <=> $"slow"))
    assert(diff.count() === 0, diff.collect().take(3).mkString("; "))
  }

  test("token/punct/wordlist kernels == regex twins") {
    val words = Seq("the", "and", "of", "a", "in", "is", "to", "for")
    val df = (adversarial ++ fixtureTexts).toDF("text")
    val diff = df.select(
        tokenCount($"text").as("tcF"), tokenCountRegex($"text").as("tcS"),
        punctCount($"text").as("pcF"), punctCountRegex($"text").as("pcS"),
        wordListCount(lower($"text"), words).as("wcF"),
        wordListCountRegex(lower($"text"), words).as("wcS"))
      .where(not($"tcF" <=> $"tcS") || not($"pcF" <=> $"pcS") ||
        not($"wcF" <=> $"wcS"))
    assert(diff.count() === 0, diff.collect().take(3).mkString("; "))
  }

  test("subword kernel == regex alternation twin") {
    val df = (adversarial ++ fixtureTexts).toDF("text")
    val diff = df.select(
        TextExpressions.subword_count($"text").as("fast"),
        regexp_count($"text", lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"))
          .cast("long").as("slow"))
      .where(not($"fast" <=> $"slow"))
    assert(diff.count() === 0, diff.collect().take(3).mkString("; "))
  }

  test("token_weight_sum kernel == interpreted HOF fold (incl. null)") {
    val df = (adversarial ++ fixtureTexts).toDF("text")
    val diff = df.select(
        TextExpressions.token_weight_sum($"text", 4096L).as("fast"),
        marginHof($"text").as("slow"))
      .where(not($"fast" <=> $"slow"))
    assert(diff.count() === 0, diff.collect().take(3).mkString("; "))
    val nulls = Seq[Option[String]](None, Some("a b")).toDF("text")
      .select(TextExpressions.token_weight_sum($"text", 4096L).as("f"))
      .collect()
    assert(nulls(0).isNullAt(0) && !nulls(1).isNullAt(0))
  }

  test("tokens kernel == regexp_extract_all twin") {
    val df = (adversarial ++ fixtureTexts).toDF("text")
    val diff = df.select(
        tokens($"text").as("fast"), tokensRegex($"text").as("slow"))
      .where(not($"fast" <=> $"slow"))
    assert(diff.count() === 0, diff.collect().take(3).mkString("; "))
  }

  test("kernels propagate NULL like the regex forms") {
    val df = Seq[Option[String]](None, Some("a b")).toDF("text")
    val r = df.select(
      normalizeText($"text").as("n"), tokenCount($"text").as("t"),
      punctCount($"text").as("p"),
      wordListCount($"text", Seq("a")).as("w"), tokens($"text").as("k"))
      .collect()
    val nulls = r.find(_.isNullAt(1)).get
    (0 until 5).foreach(i => assert(nulls.isNullAt(i)))
  }

  test("interpreted (non-codegen) eval path agrees with codegen") {
    // every text kernel on both expression paths (KernelParity), over
    // the adversarial strings (the empty one included) and a null row
    val words = Seq("the", "and", "of", "a", "in", "is", "to", "for")
    val df = (adversarial.map(Option(_)) :+ None).toDF("text")
    val out = KernelParity.rows(df,
      normalizeText($"text"), tokenCount($"text"), punctCount($"text"),
      wordListCount(lower($"text"), words), tokens($"text"),
      TextExpressions.subword_count($"text"),
      TextExpressions.token_weight_sum($"text", 4096L))
    assert(out.length == adversarial.length + 1)
    assert((0 until 7).forall(out.last.isNullAt))
    assert(out.init.forall(r => (0 until 7).forall(i => !r.isNullAt(i))))
  }
}
