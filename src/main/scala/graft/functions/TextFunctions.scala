package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for the LLM-data-pipeline operator set
  * (BASELINE.json north star): tokenization, token counting, quality
  * scoring, language-ID heuristics, document fingerprinting.
  *
  * Everything here is a pure, codegen-friendly column expression — no UDFs,
  * no driver-side loops — so it runs identically in batch and streaming and
  * scales linearly with input (narrow, no shuffle). Each function has an
  * ANSI-SQL twin used by the DuckDB oracle (TextQueries).
  */
object TextFunctions {

  /** Whitespace-delimited tokens (the '\S+' definition — robust to leading/
    * trailing/repeated whitespace, unlike split-on-' ').
    *
    * Kernel-backed (TextKernels): profiling showed the JDK regex engine
    * serializing under executor-thread concurrency — see TextKernels'
    * scaladoc. TextKernelsSpec keeps the regex forms as test twins and
    * pins each kernel bit-equal to its twin. */
  def tokens(text: Column): Column = TextExpressions.tokens_fast(text)

  /** Token count without materializing the token array. */
  def tokenCount(text: Column): Column = TextExpressions.token_count(text)

  /** Count of punctuation characters. */
  def punctCount(text: Column): Column = TextExpressions.punct_count(text)

  /** Count of occurrences of any word in `words` (word-boundary matched,
    * case-insensitive via pre-lowered input). */
  def wordListCount(text: Column, words: Seq[String]): Column =
    TextExpressions.word_set_count(text, words)

  /** Per-language stopword marker lists for the language-ID heuristic.
    * Order matters: it is the deterministic tie-break order. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "a", "in", "is"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht"),
    "es" -> Seq("el", "la", "los", "y", "es", "que"),
    "fr" -> Seq("le", "la", "et", "les", "est", "dans"),
    "zh" -> Seq("de", "shi", "le", "zai", "he", "you"))

  /** Argmax language by marker-word hits with deterministic first-wins
    * tie-break (an n-gram-heuristic language identifier; scores on the
    * lowered text). */
  def langId(text: Column): Column = {
    val lowered = lower(text)
    val scores = langMarkers.map { case (l, ws) => l -> wordListCount(lowered, ws) }
    val best = scores.map(_._2).reduce(greatest(_, _))
    scores.foldRight(lit("und"): Column) { case ((l, s), acc) =>
      when(s === best && s > 0, lit(l)).otherwise(acc)
    }
  }

  /** Heuristic quality score ∈ [0,1]-ish: rewards stopword presence and
    * moderate token length, penalizes punctuation soup. All-double
    * arithmetic in a fixed evaluation order (portable bit-for-bit). */
  def qualityScore(text: Column): Column = {
    val nChars = length(text).cast("long")
    val nTok = tokenCount(text)
    val stop = wordListCount(lower(text),
      Seq("the", "and", "of", "a", "in", "is", "to", "for"))
    val punct = punctCount(text)
    val avgTokLen = nChars.cast("double") / nullif(nTok, lit(0L)).cast("double")
    val stopRatio = stop.cast("double") / nullif(nTok, lit(0L)).cast("double")
    val punctRatio = punct.cast("double") / nullif(nChars, lit(0L)).cast("double")
    coalesce(
      stopRatio * 2.0 + (lit(1.0) - abs(avgTokLen - 5.0) / 10.0) - punctRatio * 5.0,
      lit(0.0))
  }

  /** Order-sensitive polynomial rolling fingerprint over the token stream:
    * fp = fold(tokens, 0, (acc, t) => (acc*31 + len(t)*131 + ascii(t[0])) mod 1e9+7).
    * Pure integer arithmetic — identical in any engine (the DuckDB twin is
    * list_reduce over the same fold). */
  def fingerprint(text: Column): Column =
    aggregate(
      transform(tokens(text),
        t => (length(t) * 131 + ascii(substring(t, 1, 1))).cast("long")),
      lit(0L),
      (acc, h) => (acc * 31L + h) % 1000000007L)

  /** Canonical pre-dedup text normalization: lowercase, strip non-alnum,
    * collapse whitespace. THE single definition — tx7 and the composed
    * pl8 pipeline both call this, so their content hashes agree by
    * construction, not copy-paste. */
  def normalizeText(text: Column): Column =
    TextExpressions.ascii_normalize(text)

  /** SQL twins for the oracle. */
  def normalizeTextSql(e: String): String =
    s"trim(regexp_replace(regexp_replace(lower($e), " +
      s"'[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))"
  def tokenCountSql(e: String): String =
    s"CAST(len(regexp_extract_all($e, '\\S+')) AS BIGINT)"
  def punctCountSql(e: String): String =
    s"CAST(len(regexp_extract_all($e, '[.,!?;:]')) AS BIGINT)"
  def wordListCountSql(e: String, words: Seq[String]): String =
    s"CAST(len(regexp_extract_all($e, '\\b(${words.mkString("|")})\\b')) AS BIGINT)"
  /** DuckDB twin of [[qualityScore]] — ONE definition (pl8's chain and
    * pl12's curriculum both rank on it; a drifted copy would silently
    * desync their oracles). */
  def qualityScoreSql(e: String): String = {
    val nTok = tokenCountSql(e)
    val nStop = wordListCountSql(s"lower($e)",
      Seq("the", "and", "of", "a", "in", "is", "to", "for"))
    val nPunct = punctCountSql(e)
    s"""COALESCE(
       |      (CAST($nStop AS DOUBLE) / CAST(NULLIF($nTok, 0) AS DOUBLE)) * 2.0
       |      + (1.0 - abs(CAST(length($e) AS DOUBLE) / CAST(NULLIF($nTok, 0) AS DOUBLE) - 5.0) / 10.0)
       |      - (CAST($nPunct AS DOUBLE) / CAST(NULLIF(CAST(length($e) AS BIGINT), 0) AS DOUBLE)) * 5.0,
       |      CAST(0 AS DOUBLE))""".stripMargin
  }
  def fingerprintSql(e: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(regexp_extract_all($e, '\\S+'), " +
      s"x -> CAST(len(x)*131 + ascii(substr(x,1,1)) AS BIGINT))), " +
      s"(acc, x) -> (acc*31 + x) % 1000000007)"
}
