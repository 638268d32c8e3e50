package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{ExactNum, TextFunctions}

/** Corpus-trained bigram language model + per-doc perplexity — the
  * CCNet-style quality signal (Wenzek et al. 2020, "CCNet: Extracting
  * High Quality Monolingual Datasets from Web Crawl Data": docs are
  * bucketed by LM perplexity; high-ppl ≈ noise, low-ppl ≈ boilerplate).
  *
  * Model: Laplace-smoothed conditional bigram,
  * p(w₂|w₁) = (c(w₁w₂) + 1) / (c(w₁·) + V), V = |unigram vocab|;
  * per doc: logprob = Σ ln p over its bigrams (decimal-exact sum),
  * ppl = exp(−logprob / n_bigrams).
  *
  * Scale shape: the bigram model is one hash agg over the exploded
  * corpus; prefix totals are a second agg OVER THE MODEL (vocab-sized,
  * not corpus-sized); scoring joins doc bigrams to the model on the
  * bigram key — hash-partitioned equi-join, never broadcast-dependent
  * (the vocabulary outgrows broadcast at real scale). Token-string keys
  * keep the DuckDB twin exactly portable; the 8-byte-hash swap is the
  * 100 TB shuffle variant (tx12's note).
  *
  * Numerics: per-bigram score terms are decimal-quantized before the
  * fold ([[ExactNum.sumExact]]), so logprob is engine-portable outright;
  * ppl applies `exp` to that portable value and is itself quantized
  * through the same DECIMAL(28,6) round-trip — the emitted doubles are
  * bit-identical across engines (ln/exp's last-ulp drift is absorbed by
  * the 1e-6 quantization step), making the full output hash-oracle-able.
  *
  * Output: (idCol, n_bigrams, logprob, ppl); docs with <2 tokens carry
  * (0, 0.0, null) — a perplexity over zero bigrams is undefined, not 1.
  */
object LanguageModel {

  def bigramPerplexity(docs: DataFrame, idCol: String, textCol: String,
                       preBigrams: Option[DataFrame] = None,
                       preVocab: Option[DataFrame] = None): DataFrame = {
    // served from the shared (doc, w1, w2, n_occ) base when provided
    // (graft.queries.DocBigramBase — the corpus-snapshot n-gram table
    // every LM variant trains from); self-built otherwise
    val docBigrams = preBigrams.getOrElse {
      // the token table feeds the bigram explode AND the vocab count —
      // persist EAGERLY so the regex tokenize (the dominant per-row
      // CPU) runs once, not once per consumer (narrow subtree:
      // ReuseExchange cannot dedup it)
      val toks = docs.select(col(idCol).as("doc"),
          TextFunctions.tokens(col(textCol)).as("_toks"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      toks.count()
      // ONE corpus-scale shuffle: the per-doc bigram aggregate. The
      // model (corpus bigram counts) is its re-aggregation —
      // vocabulary-sized input. Persist: it feeds both the model build
      // and the scoring join below.
      val dbg = toks.select(col("doc"),
          explode(when(size(col("_toks")) >= 2,
            transform(sequence(lit(1), size(col("_toks")) - 1),
              i => struct(element_at(col("_toks"), i).as("w1"),
                element_at(col("_toks"), i + 1).as("w2"))))
            .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
            .as("bg"))
        .select(col("doc"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        .groupBy(col("doc"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("n_occ"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      dbg.count()
      dbg
    }
    // |vocab| as a 1-row frame with column `v`; the shared term-freq
    // base yields it as a vocab-entry-sized agg (identical tokenizer ⇒
    // identical distinct-token set)
    val vocab = preVocab.getOrElse {
      docs.select(explode(TextFunctions.tokens(col(textCol))).as("w"))
        .agg(countDistinct(col("w")).as("v"))
    }
    scoreAndFold(docs, idCol, docBigrams,
      laplaceModelScored(docBigrams, vocab))
  }

  /** The per-bigram Laplace log-prob model (w1, w2, lp) — extracted so
    * tx14 can serve it from a durable artifact (corpus-deterministic;
    * doubles round-trip parquet bit-exactly, so serving changes no
    * hashes). Prefix totals, the vocab scalar, and the log itself fold
    * into the MODEL rows (vocabulary-sized) before any corpus-scale
    * join — ln evaluates once per distinct bigram, not once per
    * (doc, bigram), and scoring is a single equi-join. */
  def laplaceModelScored(docBigrams: DataFrame,
                         vocab: DataFrame): DataFrame = {
    val model = docBigrams.groupBy(col("w1"), col("w2"))
      .agg(sum(col("n_occ")).as("c12"))
    val prefix = model.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"))
    model.join(prefix, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("lp", log((col("c12") + 1).cast("double") /
        (col("c1") + col("v")).cast("double")))
      .select(col("w1"), col("w2"), col("lp"))
  }

  /** Interpolated Kneser–Ney bigram perplexity — the smoothing real
    * LM-quality filters use (Kneser & Ney 1995; Chen & Goodman 1998 §3;
    * CCNet's KenLM models are modified-KN):
    *
    *   p(w₂|w₁) = max(c(w₁w₂) − D, 0)/c(w₁·)
    *            + D·N₁₊(w₁·)/c(w₁·) · N₁₊(·w₂)/N₁₊(··)
    *
    * with fixed discount D ∈ (0,1) (0.75, the Chen–Goodman default) and
    * continuation counts N₁₊ = distinct-neighbour counts. Unlike
    * Laplace, probability mass moves to words that follow MANY contexts
    * ("Francisco" scores low however frequent, because it follows only
    * "San").
    *
    * Scale shape: identical to [[bigramPerplexity]] — trains from the
    * shared (doc, w1, w2, n_occ) base; every continuation count is an
    * aggregate over the MODEL (vocab-sized), never the corpus; ln
    * evaluates once per distinct bigram; scoring is one hash equi-join.
    * Numerics: the per-bigram probability is pure IEEE double with a
    * fixed evaluation order (mirrored verbatim in the DuckDB twin), so
    * the decimal-quantized fold hash-matches end to end.
    */
  def knBigramPerplexity(docs: DataFrame, idCol: String, textCol: String,
                         docBigrams: DataFrame,
                         discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1, s"discount in (0,1): $discount")
    scoreAndFold(docs, idCol, docBigrams,
      knModelScored(docBigrams, discount))
  }

  /** The per-bigram interpolated-KN log-prob model (w1, w2, lp) —
    * extracted so tx31 can serve it from a durable artifact (same
    * rationale as [[laplaceModelScored]]). */
  def knModelScored(docBigrams: DataFrame,
                    discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1, s"discount in (0,1): $discount")
    val model = docBigrams.groupBy(col("w1"), col("w2"))
      .agg(sum(col("n_occ")).as("c12"))
    // c(w₁·) and N₁₊(w₁·) in one pass over the model
    val prefix = model.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1f"))
    val cont = model.groupBy(col("w2")).agg(count(lit(1)).as("n1p"))
    val tot = model.agg(count(lit(1)).as("nbb"))
    // every c12 ≥ 1 > D, so the max() of the textbook form is vacuous
    // here (trained and scored on the same corpus — no unseen bigrams)
    model.join(prefix, Seq("w1"))
      .join(cont, Seq("w2"))
      .crossJoin(broadcast(tot))
      .withColumn("lp", log(
        (col("c12").cast("double") - lit(discount)) /
          col("c1").cast("double") +
        (lit(discount) * col("n1f").cast("double") /
          col("c1").cast("double")) *
          (col("n1p").cast("double") / col("nbb").cast("double"))))
      .select(col("w1"), col("w2"), col("lp"))
  }

  /** Per-doc perplexity against a PREBUILT per-bigram log-prob model —
    * the serve path for both smoothing variants: the model is a
    * corpus-snapshot artifact (train once), scoring is one equi-join +
    * per-doc decimal fold. */
  def perplexityServed(docs: DataFrame, idCol: String,
                       docBigrams: DataFrame,
                       modelScored: DataFrame): DataFrame =
    scoreAndFold(docs, idCol, docBigrams, modelScored)

  /** Shared scoring tail: join doc bigrams to the per-bigram log-prob
    * model, fold per doc (decimal-exact), left-join back to every doc.
    * n_bigrams = Σ n_occ: every doc bigram exists in the corpus-trained
    * model by construction, so the count derives from the scoring rows
    * — no second corpus tokenize pass; docs with <2 tokens simply have
    * no rows and fill with zeros through the left join. */
  private def scoreAndFold(docs: DataFrame, idCol: String,
                           docBigrams: DataFrame,
                           modelScored: DataFrame): DataFrame = {
    val scoredBigrams = docBigrams
      .join(modelScored, Seq("w1", "w2"))
      .withColumn("term", col("n_occ").cast("double") * col("lp"))
    val weights = scoredBigrams.groupBy(col("doc"))
      .agg(ExactNum.sumExact(col("term")).as("logprob"),
        sum(col("n_occ")).as("n_bigrams"))
    docs.select(col(idCol).as("doc"))
      .join(weights, Seq("doc"), "left")
      .na.fill(0.0, Seq("logprob")).na.fill(0L, Seq("n_bigrams"))
      .withColumn("ppl",
        when(col("n_bigrams") > 0,
          ExactNum.quantize(exp(col("logprob") * lit(-1.0) /
            col("n_bigrams").cast("double")))))
      .select(col("doc").as(idCol), col("n_bigrams"), col("logprob"),
        col("ppl"))
  }
}
