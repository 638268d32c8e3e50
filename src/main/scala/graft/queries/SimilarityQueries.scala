package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.ExactNum._
import graft.operators.Similarity

/** Similarity-search queries over `embeddings` (ArrayType(FloatType),
  * dim 64). Per-row dot products are sequential double folds — DuckDB's
  * `list_reduce` folds in the same left-to-right order, so both engines
  * produce bit-identical doubles (see Similarity's class doc). The LSH ANN
  * path uses engine-native signature aggregation (rows-only oracle) with
  * recall asserted against brute force in SimilaritySpec.
  */
object SimilarityQueries extends QueryPack {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  /** Shared learned k-means quantizer — sim9 (the build), sim16
    * (cluster health) and sim11 (IVF-PQ coarse cells) consume the
    * IDENTICAL training run; like the shingle and basket bases, one
    * Lloyd's per fixture GENERATION replaces three, prewarmed outside
    * Bench's timed region and durable across JVMs via
    * [[graft.core.FixtureCache]] (centroids are k·dims rows; doubles
    * round-trip parquet bit-exactly, so oracle hashes are unchanged). */
  private def sharedKmeans(s: SparkSession, dir: String, k: Int,
                           iters: Int): DataFrame = {
    // Served as a LocalRelation rebuilt from once-per-generation
    // collected rows (k·dims is driver-sized): consumers join against
    // it broadcast with zero scan jobs, while the durable parquet copy
    // still carries warm starts + staleness (FixtureCache.localFor).
    val (schema, rows) = graft.core.FixtureCache.localFor(
      s, dir, s"kmeans-k$k-i$iters")(tmp =>
      Similarity.kmeansCentroids(emb(s, dir), "vec_id", "embedding",
          k, iters)
        .write.mode("overwrite").parquet(tmp)) { gen =>
      val df = s.read.parquet(gen)
      (df.schema, df.collect())
    }
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Same sharing for the PQ codebook (sim10 + sim11's ADC stage):
    * trained once per generation, served from the durable table. */
  private def sharedPqModel(s: SparkSession, dir: String, dims: Int,
                            m: Int, ks: Int, iters: Int)
      : graft.operators.ProductQuantization.PqModel =
    // The decoded model object is memoized per generation (localFor):
    // modelFromDF collects the codebook, so doing it per call was a
    // Spark job on every consuming query in the r9 capture.
    graft.core.FixtureCache.localFor(s, dir,
      s"pq-d$dims-m$m-k$ks-i$iters")(tmp =>
      graft.operators.ProductQuantization.modelToDF(
          graft.operators.ProductQuantization.train(emb(s, dir),
            "vec_id", "embedding", dims, m, ks, iters))
        .write.mode("overwrite").parquet(tmp))(gen =>
      graft.operators.ProductQuantization.modelFromDF(
        s.read.parquet(gen)))

  /** The residual PQ codebook (sim11's IVFADC stage): trained over the
    * corpus residuals against the SHARED coarse quantizer — keyed by
    * both parameter sets, since the codebook is only meaningful next to
    * the centroids it was trained against. */
  private def sharedResPqModel(s: SparkSession, dir: String, dims: Int,
                               m: Int, ks: Int, iters: Int, coarseK: Int,
                               coarseIters: Int)
      : graft.operators.ProductQuantization.PqModel =
    graft.core.FixtureCache.localFor(s, dir,
      s"pqres-d$dims-m$m-k$ks-i$iters-ck$coarseK-ci$coarseIters")(tmp =>
      graft.operators.ProductQuantization.modelToDF(
          graft.operators.ProductQuantization.trainResidual(emb(s, dir),
            "vec_id", "embedding",
            Similarity.centroidArrays(
              sharedKmeans(s, dir, coarseK, coarseIters)),
            dims, m, ks, iters))
        .write.mode("overwrite").parquet(tmp))(gen =>
      graft.operators.ProductQuantization.modelFromDF(
        s.read.parquet(gen)))

  /** sim22's durable SCALE-CORRECT index: the whole corpus built into a
    * VectorIndex with coarseK = max(4, round(√N)) cells (dd5's
    * derivation; Jégou 2011 uses k' ≈ √n, the FAISS guideline is
    * 4√N–16√N). Assignment/encode are BUILD work here — the deployment
    * truth the in-query variant (sim11's shape at derived k) hides: a
    * first cut ran nearest-cell assignment of the full corpus inside
    * the timed region and measured 2.9 s at sf0.1, all of it index
    * construction. */
  private[graft] def vectorIndexScaledDir(s: SparkSession, dir: String): String =
    graft.core.FixtureCache.dirFor(s, dir, "vidxs1") { p =>
      val e = emb(s, dir)
      val ck = dd5K(s, dir)
      graft.operators.VectorIndex.build(e, "vec_id", "embedding", p,
        dims = 64, m = 8, ks = 8, iters = 2, coarseK = ck,
        coarseIters = 2)
      ()
    }

  /** sim23's deterministically CLUSTERED embedding set, derived from
    * the fixture ids alone (the renderUrl/renderWav derivation
    * discipline — both engines rebuild identical vectors from vec_id),
    * with TWO levels of structure so both stages of the index have
    * something real to resolve:
    *
    *  - macro cluster c = vec_id % 3: center = 20.0 on the c-th third
    *    of the 64 dims, 0.0 elsewhere — what the COARSE quantizer must
    *    recover (centers 20·√21 ≈ 91.7 apart; total within-cluster
    *    displacement ≤ √(64·(2+0.125)²) ≈ 17 — no overlap);
    *  - sub-cluster g = vec_id div 12: a per-(c, g, dim) pattern
    *    uniform in [−2, 2) from hash60("c:g:d") — each (c, g) cell
    *    holds exactly 4 ids among any 12 consecutive, so every vector
    *    has 3 planted same-pattern siblings; per-(id, dim) jitter
    *    uniform in [−0.125, 0.125) separates siblings from exact
    *    copies. Sibling d² ≈ 64·2·(0.25²/12) ≈ 0.7 vs cross-pattern
    *    d² ≈ 64·2·(4²/12) ≈ 171 — what the RESIDUAL codes must
    *    resolve, and CAN: codes quantize only the ±2 pattern ball
    *    around the cell centroid (Jégou 2011 §IV.A), not the ±20
    *    center spread a raw codebook would have to span.
    *
    * A flat-spectrum fixture (uniform noise with NO sub-structure —
    * the first cut, and sim20's random fixture) is PQ's pathological
    * case and measures recall ≈ 0.17 regardless of encoding; real
    * embedding corpora have neighbor structure, which is what this
    * derivation plants. Every coordinate is an exact dyadic
    * (center 0/20 + k·2⁻⁸ pattern + k·2⁻¹² jitter), so both engines
    * produce identical bits under any evaluation order. */
  private def deriveClusteredVecs(s: SparkSession,
                                  dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.PortableHash
    val dims = 64
    val coord = (1 to dims).map { d =>
      val block = ((d - 1) * 3) / dims
      val center = when($"vec_id" % 3 === lit(block), lit(20.0))
        .otherwise(lit(0.0))
      val pat = (PortableHash.hash60(concat_ws(":",
          ($"vec_id" % 3).cast("string"),
          expr("vec_id div 12").cast("string"), lit(d.toString)))
          % lit(1024L))
        .cast("double") / lit(1024.0) * lit(4.0) - lit(2.0)
      val jit = (PortableHash.hash60(concat_ws(":",
          $"vec_id".cast("string"), lit(d.toString))) % lit(1024L))
        .cast("double") / lit(1024.0) * lit(0.25) - lit(0.125)
      center + pat + jit
    }
    emb(s, dir).select($"vec_id", array(coord: _*).as("embedding"))
  }

  /** [[deriveClusteredVecs]] served from the durable cache: the derived
    * corpus is a per-generation artifact exactly like the index built
    * over it — deriving in-query re-paid 128 MD5s per row on EVERY
    * consumer (ann queries, brute truth, query set: 3× per sim23 run,
    * measured as the bulk of its 4.3 s first capture). Doubles
    * round-trip parquet bit-exactly, so serving changes no hashes. */
  private def clusteredVecs(s: SparkSession, dir: String): DataFrame =
    graft.core.FixtureCache.tableFor(s, dir, "cvecs1")(
      deriveClusteredVecs(s, dir))

  /** The DuckDB twin of [[clusteredVecs]] (a `cvecs(vec_id, embedding)`
    * CTE body): the identical center + pattern + jitter arithmetic
    * inside a list_transform. Outer lambda var is `dd` — hash60Sql's
    * internal lambdas bind `i` and `d`; DuckDB `//` is floor division ≡
    * Spark's `div` on the nonnegative ids. */
  private def clusteredVecsSql: String = {
    import graft.functions.PortableHash
    val hPat = PortableHash.hash60Sql(
      "CAST(vec_id % 3 AS VARCHAR) || ':' || " +
        "CAST(vec_id // 12 AS VARCHAR) || ':' || CAST(dd AS VARCHAR)")
    val hJit = PortableHash.hash60Sql(
      "CAST(vec_id AS VARCHAR) || ':' || CAST(dd AS VARCHAR)")
    """cvecs AS (
      |  SELECT vec_id, list_transform(generate_series(1, 64), dd ->
      |    (CASE WHEN vec_id % 3 = ((dd - 1) * 3) // 64
      |          THEN 20.0 ELSE 0.0 END)
      |    + (CAST((HPAT) % 1024 AS DOUBLE) / 1024.0 * 4.0 - 2.0)
      |    + (CAST((HJIT) % 1024 AS DOUBLE) / 1024.0 * 0.25 - 0.125)
      |  ) AS embedding
      |  FROM embeddings)""".stripMargin
      .replace("HPAT", hPat).replace("HJIT", hJit)
  }

  /** sim23's durable index over the DERIVED clustered corpus — same
    * freeze/serve contract as sim18/sim22; built in prewarm. coarseK=4
    * over 3 true clusters (one cell splits a cluster; nprobe=2 covers
    * it), IVFADC residual codes at the sim18 (m=8, ks=8). */
  private[graft] def vectorIndexClusteredDir(s: SparkSession,
                                             dir: String): String =
    // "vidxc2": the cache name carries the DERIVATION version too — the
    // flat-noise v1 fixture was replaced by the sub-clustered one; an
    // index built over v1 vectors must never serve v2 queries
    graft.core.FixtureCache.dirFor(s, dir, "vidxc2") { p =>
      graft.operators.VectorIndex.build(clusteredVecs(s, dir), "vec_id",
        "embedding", p, dims = 64, m = 8, ks = 8, iters = 2, coarseK = 4,
        coarseIters = 2)
      ()
    }

  /** The sim18 fixture split: vectors with vec_id ≡ 0 (mod 4) are the
    * "new batch" appended to the durable index; the rest are the
    * historical corpus both models are trained on (dd4's split shape). */
  private val NewVecMod = 4

  /** Persisted IVF-PQ index root: built over the OLD slice, then the
    * new slice appended — once per fixture GENERATION into the durable
    * [[graft.core.FixtureCache]] (the dd4 pattern). Queries against it
    * (sim18/sim20) are read-only, so the generation is immutable. */
  private[graft] def vectorIndexDir(s: SparkSession, dir: String): String =
    // "vidx3": the cache name IS the index-format version (v2 =
    // residual codes, v3 = pivoted codes layout) — a root built by an
    // older layout must never be served to newer query code (the meta
    // `enc` check catches the residual flip loudly; the bump avoids
    // even that failure)
    graft.core.FixtureCache.dirFor(s, dir, "vidx3") { p =>
      val e = emb(s, dir)
      graft.operators.VectorIndex.build(
        e.filter(col("vec_id") % NewVecMod =!= 0), "vec_id", "embedding",
        p, dims = 64, m = 8, ks = 8, iters = 2, coarseK = 8,
        coarseIters = 2)
      graft.operators.VectorIndex.appendBatch(s, p,
        e.filter(col("vec_id") % NewVecMod === 0), "vec_id", "embedding")
    }

  override def prewarm(s: SparkSession, dir: String): Unit = {
    sharedKmeans(s, dir, 8, 2)
    sharedKmeans(s, dir, dd5K(s, dir), 2)
    sharedPqModel(s, dir, 64, 8, 8, 2)
    sharedResPqModel(s, dir, 64, 8, 8, 2, 8, 2)
    vectorIndexDir(s, dir)
    vectorIndexScaledDir(s, dir)
    vectorIndexClusteredDir(s, dir)
    sim26Rel(s, dir)
    ()
  }

  /** dd5's corpus-derived cluster count k = max(4, round(√N)) — the
    * O(N^1.5) work-minimizing choice (see the dd5 entry); shared between
    * the query and prewarm so both hit the same durable kmeans key. */
  private def dd5K(s: SparkSession, dir: String): Int =
    math.max(4L,
      math.round(math.sqrt(emb(s, dir).count().toDouble))).toInt

  /** Recall@5 of the durable index under `indexDir` (nprobe=2) against
    * exact-L2 top-5 truth over the corpus `e`, for its first 40 vectors:
    * per-query (query_id, n_hits, recall). Shared by sim20 (fixture
    * corpus) and sim23 (clustered corpus). */
  private def annRecall(s: SparkSession, e: DataFrame,
                        indexDir: String): DataFrame = {
    import s.implicits._
    val qs = e.filter($"vec_id" < 40)
    val ann = graft.operators.VectorIndex.query(s,
        indexDir, qs, "vec_id", "embedding",
        nprobe = 2, k = 5)
      .select($"query_id", $"neighbor_id")
    val c = e.select($"vec_id".as("neighbor_id"),
      $"embedding".as("cv"),
      Similarity.dotSeq($"embedding", $"embedding").as("c2"))
    val q = qs.select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id")
      .orderBy($"d2".asc, $"neighbor_id".asc)
    val truth = c.crossJoin(broadcast(q))
      .filter($"neighbor_id" =!= $"query_id")
      .withColumn("d2",
        $"c2" - lit(2.0) * Similarity.dotSeq($"qv", $"cv"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 5)
      .select($"query_id", $"neighbor_id")
    truth.join(ann, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy($"query_id").agg(count(lit(1)).as("n_hits"))
      .join(qs.select($"vec_id".as("query_id")), Seq("query_id"),
        "right")
      .select($"query_id",
        coalesce($"n_hits", lit(0L)).as("n_hits"),
        (coalesce($"n_hits", lit(0L)).cast("double") / lit(5.0))
          .as("recall"))
  }

  /** The served BM25 top-10 leg (query_id, doc_id, rank) of sim14/sim25/
    * sim26. */
  private def servedBm25(s: SparkSession, dir: String,
                         qs: DataFrame): DataFrame =
    TermFreqBase.bm25Served(s, dir, qs, k = 10)
      .select(col("query_id"), col("doc_id"), col("rank"))

  /** ONE brute cosine scan (query_id, doc_id, cos) over the %50 query
    * panel — feeds sim25's dense leg AND the semantic relevance
    * channel (and, at BUILD time, the sim26 relevance artifact). */
  private def bruteCosq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = emb(s, dir)
    val qv = e.filter($"vec_id" % 50 === 0)
    val cside = e.select($"vec_id".as("doc_id"),
      $"embedding".as("c_vec"),
      Similarity.normSeq($"embedding").as("c_norm"))
    val qn = qv.select($"vec_id".as("query_id"),
      $"embedding".as("q_vec"),
      Similarity.normSeq($"embedding").as("q_norm"))
    cside.repartition($"doc_id").crossJoin(broadcast(qn))
      .filter($"doc_id" =!= $"query_id")
      .select($"query_id", $"doc_id",
        (Similarity.dotSeq($"q_vec", $"c_vec") /
          ($"q_norm" * $"c_norm")).as("cos"))
  }

  /** The planted two-channel graded relevance pool (PLANS_r14 §sim25 —
    * two falsifications recorded before the design landed): rel = term
    * depth (1: ≥2 of the query's 3 distinct terms; 2: all 3) + semantic
    * bonus (1: cos ≥ 0.35 ≈ p99.7 of the corpus's own pair-cos
    * distribution, self excluded). (query_id, doc_id, rel ∈ {1,2,3}). */
  private def relPool(s: SparkSession, dir: String,
                      cosq: DataFrame): DataFrame = {
    import s.implicits._
    import graft.functions.TextFunctions
    val qTerms = TermFreqBase.retrievalQueries(s, dir)
      .select($"qid".as("query_id"),
        explode(array_distinct(TextFunctions.tokens($"qtext")))
          .as("term"))
    val tsig = TermFreqBase.tf(s, dir).select($"doc_id", $"term")
      .join(broadcast(qTerms), "term")
      .groupBy($"query_id", $"doc_id").agg(count(lit(1)).as("nt"))
      .filter($"nt" >= 2)
      .select($"query_id", $"doc_id",
        when($"nt" >= 3, 2L).otherwise(1L).as("tr"))
    val vsig = cosq.filter($"cos" >= 0.35)
      .select($"query_id", $"doc_id", lit(1L).as("vr"))
    tsig.join(vsig, Seq("query_id", "doc_id"), "full_outer")
      .select($"query_id", $"doc_id",
        (coalesce($"tr", lit(0L)) + coalesce($"vr", lit(0L)))
          .as("rel"))
  }

  /** sim26's relevance pool as a DURABLE artifact — the qrels of a real
    * retrieval evaluation: judgments are a static per-corpus-snapshot
    * table, not recomputed per evaluation run. Built once per fixture
    * generation with [[relPool]]'s exact AST over the brute cosine scan
    * (longs round-trip parquet exactly), so the artifact ≡ sim25's
    * in-query pool row for row — and the TWIN recomputes it from
    * scratch, keeping the oracle honest. */
  private def sim26Rel(s: SparkSession, dir: String): DataFrame =
    graft.core.FixtureCache.tableFor(s, dir, "sim26rel1")(
      relPool(s, dir, bruteCosq(s, dir)))

  /** nDCG@10 scorer shared by sim25/sim26 (Järvelin & Kekäläinen 2002;
    * see sim25's comment for the full arithmetic discipline): IDCG from
    * per-query grade counts (a 10-row explode, never a sort over the
    * relevance table), DCG per supplied list, per-query rows + ONE mean
    * row via rollup. Integer CASE gains 2^g − 1, one shared
    * ln(rank+1)/ln 2 AST, every term DECIMAL(28,6)-quantized pre-fold,
    * ndcg and the rollup means re-quantized after division. `lists` are
    * (name, (query_id, doc_id, rank ≤ 10)) → output columns
    * ndcg_<name>, in order. */
  private def ndcgScore(qIds: DataFrame, rel: DataFrame,
                        lists: Seq[(String, DataFrame)]): DataFrame = {
    import org.apache.spark.sql.Column
    def gain(g: Column) =
      when(g === 3L, 7.0).when(g === 2L, 3.0)
        .when(g === 1L, 1.0).otherwise(0.0)
    val ln2 = log(lit(2.0))
    val gcounts = qIds
      .join(rel, Seq("query_id"), "left")
      .groupBy(col("query_id")).agg(
        sum(when(col("rel") === 3, 1L).otherwise(0L)).as("n3"),
        sum(when(col("rel") === 2, 1L).otherwise(0L)).as("n2"),
        sum(when(col("rel") === 1, 1L).otherwise(0L)).as("n1"))
    val idcg = gcounts
      .select(col("query_id"), col("n3"), col("n2"), col("n1"),
        explode(sequence(lit(1L), lit(10L))).as("i"))
      .withColumn("g", when(col("i") <= col("n3"), 3L)
        .when(col("i") <= col("n3") + col("n2"), 2L)
        .when(col("i") <= col("n3") + col("n2") + col("n1"), 1L)
        .otherwise(0L))
      .groupBy(col("query_id"))
      .agg(sumExact(
        gain(col("g")) / (log(col("i").cast("double") + 1.0) / ln2))
        .as("idcg"))
    def dcgOf(list: DataFrame, as: String) = list
      .join(rel, Seq("query_id", "doc_id"), "left")
      .groupBy(col("query_id"))
      .agg(sumExact(gain(coalesce(col("rel"), lit(0L))) /
        (log(col("rank").cast("double") + 1.0) / ln2)).as(as))
    def nd(dcg: Column) =
      when(col("idcg") > 0.0, quantize(coalesce(dcg, lit(0.0)) / col("idcg")))
        .otherwise(lit(0.0))
    val perQ = lists.foldLeft(idcg) { case (acc, (name, list)) =>
        acc.join(dcgOf(list, s"dcg_$name"), Seq("query_id"), "left")
      }
      .select(col("query_id") +: lists.map { case (name, _) =>
        nd(col(s"dcg_$name")).as(s"ndcg_$name") }: _*)
    perQ.rollup(col("query_id"))
      .agg(count(lit(1)).as("n_q"),
        lists.map { case (name, _) =>
          quantize(sumExact(col(s"ndcg_$name")) / count(lit(1)))
            .as(s"ndcg_$name") }: _*)
  }

  /** The sim25/sim26 twins' nDCG pieces, the SQL side of [[ndcgScore]]:
    * the graded gain, the per-list DCG over a ranked `list` CTE
    * (query_id, doc_id, rank), the per-query quantized dcg/idcg of the
    * `alias`-joined dcg CTE, and the rollup's quantized mean of one ndcg
    * column. */
  private def gainSql(g: String): String =
    s"CASE $g WHEN 3 THEN 7.0 WHEN 2 THEN 3.0 WHEN 1 THEN 1.0 ELSE 0.0 END"

  private def dcgCte(list: String): String =
    s"""SELECT l.query_id, ${sumExactSql(
         s"(${gainSql("coalesce(r.rel, 0)")}) / (ln(l.rank + 1.0) / ln(2.0))")}
       |    AS dcg
       |  FROM $list l LEFT JOIN rel r
       |    ON r.query_id = l.query_id AND r.doc_id = l.doc_id
       |  GROUP BY 1""".stripMargin

  private def ndcgSql(alias: String): String = "CASE WHEN idcg > 0 THEN " +
    s"${quantizeSql(s"coalesce($alias.dcg, 0.0) / idcg")} ELSE 0.0 END"

  private def ndcgMeanSql(c: String): String =
    quantizeSql(s"${sumExactSql(c)} / count(*)")

  /** The sim14/sim25/sim26 twins' leading CTEs: `sparse` — tx13's BM25
    * chain at k=10 as (query_id, doc_id, `rank`) — and `nv`, every
    * vector with its norm. */
  private def sparseNvSql(rank: String): String =
    s"""sparse AS (
       |  SELECT query_id, doc_id, $rank
       |  FROM (${TextQueries.bm25RankedSql(10)}) s
       |), nv AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings
       |)""".stripMargin

  /** The sim25/sim26 twins' brute cosine scan `cosq` (query_id, doc_id,
    * cos) over the %50 query panel, self excluded; reads `nv`. */
  private val cosqSql =
    s"""cosq AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
       |    ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm)
       |      AS cos
       |  FROM nv q JOIN nv c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id % 50 = 0
       |)""".stripMargin

  /** The sim25/sim26 twins' tail after their `sparse`, `dense` and `cosq`
    * CTEs: the RRF fused list `flist`, the two-channel relevance pool
    * `rel`, IDCG from per-query grade counts, one DCG per list and the
    * per-query + rollup nDCG rows; the dense list's columns are named
    * ndcg_`dense`. */
  private def ndcgTailSql(dense: String): String =
    s"""fus AS (
       |  SELECT COALESCE(s.query_id, d.query_id) AS query_id,
       |    COALESCE(s.doc_id, d.doc_id) AS doc_id,
       |    COALESCE(1.0 / (60.0 + CAST(s.rank AS DOUBLE)), 0.0) +
       |    COALESCE(1.0 / (60.0 + CAST(d.rank AS DOUBLE)), 0.0) AS rrf
       |  FROM sparse s FULL OUTER JOIN dense d
       |    ON s.query_id = d.query_id AND s.doc_id = d.doc_id
       |), flist AS (
       |  SELECT query_id, doc_id, rank FROM (
       |    SELECT query_id, doc_id, row_number() OVER (
       |      PARTITION BY query_id ORDER BY rrf DESC, doc_id ASC)
       |      AS rank
       |    FROM fus) z
       |  WHERE rank <= 10
       |), toks AS (
       |  SELECT doc_id AS doc, regexp_extract_all(text, '\\S+') AS t
       |  FROM documents
       |), tfq AS (
       |  SELECT doc, term, count(*) AS tf FROM (
       |    SELECT doc, unnest(t) AS term FROM toks) u GROUP BY doc, term
       |), qt AS (
       |  SELECT doc AS query_id, unnest(list_distinct(t[1:3])) AS term
       |  FROM toks WHERE doc % 50 = 0
       |), tsig AS (
       |  SELECT q.query_id, f.doc AS doc_id,
       |    CASE WHEN count(*) >= 3 THEN 2 ELSE 1 END AS tr
       |  FROM qt q JOIN tfq f USING (term)
       |  GROUP BY 1, 2 HAVING count(*) >= 2
       |), vsig AS (
       |  SELECT query_id, doc_id, 1 AS vr FROM cosq WHERE cos >= 0.35
       |), rel AS (
       |  SELECT COALESCE(t.query_id, v.query_id) AS query_id,
       |    COALESCE(t.doc_id, v.doc_id) AS doc_id,
       |    CAST(coalesce(t.tr, 0) + coalesce(v.vr, 0) AS BIGINT) AS rel
       |  FROM tsig t FULL OUTER JOIN vsig v
       |    ON t.query_id = v.query_id AND t.doc_id = v.doc_id
       |), gc AS (
       |  SELECT q.query_id,
       |    coalesce(sum(CASE WHEN rel = 3 THEN 1 ELSE 0 END), 0) AS n3,
       |    coalesce(sum(CASE WHEN rel = 2 THEN 1 ELSE 0 END), 0) AS n2,
       |    coalesce(sum(CASE WHEN rel = 1 THEN 1 ELSE 0 END), 0) AS n1
       |  FROM (SELECT doc_id AS query_id FROM documents
       |        WHERE doc_id % 50 = 0) q
       |  LEFT JOIN rel ON rel.query_id = q.query_id
       |  GROUP BY 1
       |), idcg AS (
       |  SELECT query_id,
       |    ${sumExactSql(s"(${gainSql("g")}) / (ln(i + 1.0) / ln(2.0))")}
       |      AS idcg
       |  FROM (SELECT query_id, i,
       |      CASE WHEN i <= n3 THEN 3 WHEN i <= n3 + n2 THEN 2
       |        WHEN i <= n3 + n2 + n1 THEN 1 ELSE 0 END AS g
       |    FROM gc CROSS JOIN
       |      (SELECT unnest(generate_series(1, 10)) AS i) p) z
       |  GROUP BY 1
       |), dcg_s AS (
       |  ${dcgCte("sparse")}
       |), dcg_d AS (
       |  ${dcgCte("dense")}
       |), dcg_f AS (
       |  ${dcgCte("flist")}
       |), perq AS (
       |  SELECT i.query_id, ${ndcgSql("s")} AS ndcg_sparse,
       |    ${ndcgSql("d")} AS ndcg_$dense, ${ndcgSql("f")} AS ndcg_fused
       |  FROM idcg i
       |  LEFT JOIN dcg_s s USING (query_id)
       |  LEFT JOIN dcg_d d USING (query_id)
       |  LEFT JOIN dcg_f f USING (query_id)
       |)
       |SELECT query_id, count(*) AS n_q,
       |  ${ndcgMeanSql("ndcg_sparse")} AS ndcg_sparse,
       |  ${ndcgMeanSql(s"ndcg_$dense")} AS ndcg_$dense,
       |  ${ndcgMeanSql("ndcg_fused")} AS ndcg_fused
       |FROM perq GROUP BY ROLLUP(query_id)""".stripMargin

  /** The sim24/sim26 twins' refine rescore: each `ann0` shortlist row
    * (query_id, neighbor_id) rescored by the exact-fold d² against its
    * `qv` query vector over `corpus`, ranked by (d2, neighbor_id). */
  private def refineRankSql(corpus: String): String =
    s"""SELECT r.query_id, r.neighbor_id, r.d2,
       |    row_number() OVER (PARTITION BY r.query_id
       |      ORDER BY r.d2 ASC, r.neighbor_id ASC) AS rank
       |  FROM (
       |    SELECT a.query_id, a.neighbor_id,
       |      ${dotSql("c.embedding", "c.embedding")}
       |        - 2.0 * ${dotSql("q.qvec", "c.embedding")} AS d2
       |    FROM ann0 a
       |    JOIN $corpus c ON c.vec_id = a.neighbor_id
       |    JOIN qv q ON q.query_id = a.query_id) r""".stripMargin

  /** The sim20/sim23 twins' recall tail after their `ann` CTE: the first
    * 40 vectors of `corpus` as queries `qv`, exact-L2 top-5 `truth` via
    * the shared folds, `hits` per query, and (query_id, n_hits, recall). */
  private def recallSql(corpus: String): String =
    s"""qv AS (
       |  SELECT vec_id AS query_id, embedding AS qvec
       |  FROM $corpus WHERE vec_id < 40
       |), cv AS (
       |  SELECT vec_id AS neighbor_id, embedding AS cvec,
       |    ${dotSql("embedding", "embedding")} AS c2
       |  FROM $corpus
       |), truth AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.query_id, c.neighbor_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY c.c2 - 2.0 * ${dotSql("q.qvec", "c.cvec")} ASC,
       |          c.neighbor_id ASC) AS rank
       |    FROM cv c CROSS JOIN qv q
       |    WHERE c.neighbor_id <> q.query_id) t
       |  WHERE rank <= 5
       |), hits AS (
       |  SELECT t.query_id, count(*) AS n_hits
       |  FROM truth t JOIN ann a
       |    ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
       |  GROUP BY 1
       |)
       |SELECT q.query_id, coalesce(h.n_hits, 0) AS n_hits,
       |  CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 5.0 AS recall
       |FROM qv q LEFT JOIN hits h USING (query_id)""".stripMargin

  /** The sim13/sim15 twins' exploded view `ex` (vec_id, dim, x): one row
    * per embedding element, dim 0-based. */
  private val explodedSql =
    """ex AS (
      |  SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
      |    CAST(embedding[i] AS DOUBLE) AS x
      |  FROM (SELECT vec_id, embedding,
      |          unnest(generate_series(1, len(embedding))) AS i
      |        FROM embeddings) p
      |)""".stripMargin

  /** DuckDB twin of Similarity.dotSeq: sequential fold over the zipped
    * product list, same order as Spark's `aggregate`. */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(generate_series(1, len($a)), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), " +
      s"(acc, x) -> acc + x)"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // brute-force cosine top-k (k=5) for a 20-query subset — the ANN
    // correctness baseline.
    "sim1_cosine_topk" -> ((s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
      Similarity.cosineTopK(e, e.filter($"vec_id" < 20), "vec_id",
        "embedding", 5)
    }),

    // embedding-cosine near-duplicate pairs (threshold 0.45 — the fixture
    // corpus is random vectors with max pairwise cosine ≈ 0.51; production
    // near-dup would use ~0.95). Quarantined O(N²) VERIFICATION baseline,
    // so it runs over a FIXED 500-vector slice: benching it uncapped
    // measured quadratic fixture construction (slope 15 at r7; ~8 min/
    // query at sf10 and a guaranteed broadcast OOM long before 100 TB) —
    // the suite's scale-path near-dup entries are dd9 (exact PPJoin) and
    // sim5/dd5 (pruned). SimilaritySpec still pins LSH recall against
    // this baseline on its slice.
    "sim2_cosine_neardup" -> ((s, dir) => {
      import s.implicits._
      Similarity.cosineNearDupPairs(emb(s, dir).filter($"vec_id" < 500),
        "vec_id", "embedding", 0.45)
    }),

    // Johnson–Lindenstrauss ±1 random projection 64→8 dims: the
    // dimension-reduction pass before ANN/clustering when dim is the
    // cost driver. The sign matrix derives from the portable hash and
    // inlines as literals (KB-scale), so the map is zero-shuffle and
    // both engines rebuild it from the seed alone; distance
    // preservation is property-tested in SimilaritySpec.
    "sim17_random_projection" -> ((s, dir) =>
      graft.operators.RandomProjection.project(emb(s, dir), "vec_id",
        "embedding", d = 64, m = 8)),

    // per-label centroids (IVF coarse-quantizer build): exact mean per dim.
    "sim3_label_centroids" -> ((s, dir) =>
      Similarity.labelCentroids(emb(s, dir), "label", "embedding")),

    // vector norms (sanity surface for embeddings).
    "sim4_norms" -> ((s, dir) => {
      import s.implicits._
      emb(s, dir).select($"vec_id", $"label",
        Similarity.normSeq($"embedding").as("l2_norm"))
    }),

    // LSH-bucketed ANN. The signature math is engine-portable (LCG plane
    // signs + fixed-point floor sums), so the whole pipeline — bucketing,
    // candidate generation, cosine verification — is oracle-checked,
    // INCLUDING the corpus-size-derived band width and the bucket
    // membership cap (the SQL twin derives the same width from count(*));
    // SimilaritySpec adds the recall assertion vs brute force.
    "sim5_ann_lsh" -> ((s, dir) =>
      Similarity.annLsh(emb(s, dir), "vec_id", "embedding", dims = 64,
        planes = 48, bands = 4, threshold = 0.35,
        targetBucketSize = 8, maxBucket = 1024)),

    // same result as sim1 through the bounded-heap Aggregator: partial
    // aggregation ships k rows per (query, map task) through the shuffle
    // instead of sorting all N·Q scored pairs — gated against sim1's own
    // oracle SQL, so "identical rows" is proven, not claimed.
    "sim7_topk_agg" -> ((s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
      Similarity.cosineTopKAgg(e, e.filter($"vec_id" < 20), "vec_id",
        "embedding", 5)
    }),

    // IVF probe ANN (nprobe=1): nearest-centroid assignment + exact top-k
    // within the probed cluster; fully oracle-able (decimal-exact dots).
    // Query load is FIXED (vec_id < 40, the sim10 discipline): a query
    // set growing with the corpus (the old % 40) benchmarks O(N²/40)
    // fixture construction, not the per-query probe.
    "sim6_ivf_probe" -> ((s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
      Similarity.ivfProbe(e, e.filter($"vec_id" < 40), "vec_id",
        "embedding", "label", 5)
    }),

    // learned k-means IVF quantizer, SERVED FROM THE PREBUILT model
    // (seeded Lloyd's, k=8, 2 iterations, trained once per fixture in
    // prewarm and shared with sim11/sim16): deterministic hash-sampled
    // seeds + decimal-exact assignment/update make the clustering loop
    // oracle-checkable — the DuckDB twin unrolls the same two iterations
    // as CTEs, so correctness still covers TRAINING end to end. The
    // TIMED region here measures serving the centroid frame, not
    // Lloyd's: training wall time is Bench's prewarm_sec line item
    // (ADVICE r7 — don't compare this number to a system that times the
    // training run).
    "sim9_kmeans_ivf" -> ((s, dir) =>
      sharedKmeans(s, dir, k = 8, iters = 2)),

    // IVF probe with nprobe=2 — the recall knob: scanning the top-2
    // clusters recovers true neighbors sitting just across a Voronoi
    // boundary at 2/L of the corpus per query. Same exact-decimal
    // arithmetic, so the widened probe stays fully oracle-checked; same
    // fixed query set as sim6 (bench hygiene — ADVICE/VERDICT r7).
    "sim8_ivf_nprobe" -> ((s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
      Similarity.ivfProbe(e, e.filter($"vec_id" < 40), "vec_id",
        "embedding", "label", 5, nprobe = 2)
    }),

    // Product quantization ADC (Jégou et al. 2011): per-subspace
    // codebooks (m=8 × ks=8, seeded Lloyd's), corpus encoded to m
    // codes, queries answered from an exact-distance lookup table —
    // the compressed-corpus ANN path (m bytes/vector through the
    // scoring join). No transcendentals → full hash-match oracle.
    // query load is FIXED (vec_id < 40), not a corpus fraction: ADC is
    // by design a linear scan in compressed space per query, so a query
    // set growing with N benchmarks O(N·Q) = O(N²) fixture construction,
    // not the operator (measured 10× slope 21 with %40, ~linear fixed).
    "sim10_pq_adc" -> ((s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
      graft.operators.ProductQuantization.pqTopKWithModel(
        e, e.filter($"vec_id" < 40), "vec_id", "embedding",
        sharedPqModel(s, dir, 64, 8, 8, 2), m = 8, k = 5)
    }),

    // IVF-PQ with IVFADC residual encoding (Jégou 2011 §IV.A): learned
    // coarse cells (sim9's quantizer) prune to nprobe/coarseK of the
    // corpus; codes quantize y − c(y) against a residual-trained
    // codebook, and the ADC LUT is rebuilt per probed (query, cell)
    // pair from the query's residual. Fully hash-oracled.
    "sim11_ivfpq" -> ((s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
      graft.operators.ProductQuantization.ivfPqTopKWith(
        e, e.filter($"vec_id" < 40), "vec_id", "embedding",
        sharedResPqModel(s, dir, 64, 8, 8, 2, 8, 2),
        Similarity.centroidArrays(sharedKmeans(s, dir, 8, 2)),
        m = 8, nprobe = 2, k = 5)
    }),

    // IVFADC at the SCALE-CORRECT cell count: the durable index built
    // with coarseK = max(4, round(√N)) cells — sim11/sim18 pin
    // coarseK=8 for the fixture contract, where nprobe/coarseK prunes
    // only 4× and a bounded-query brute scan stays competitive
    // (measured, see sim14's note); HERE candidates per query are
    // N·nprobe/√N, so the pruning ratio IMPROVES as the corpus grows —
    // the property that makes IVF the billion-scale layout. Served
    // from parquet like sim18 (assignment/encode are BUILD work); the
    // twin re-derives the whole chain from scratch with the identical
    // derived k — the index ≡ from-scratch oracle.
    "sim22_ivfadc_scaled" -> ((s, dir) => {
      import s.implicits._
      graft.operators.VectorIndex.query(s, vectorIndexScaledDir(s, dir),
        emb(s, dir).filter($"vec_id" < 40), "vec_id", "embedding",
        nprobe = 2, k = 5)
    }),

    // Durable IVF-PQ index, served from parquet (VectorIndex — the dd4
    // persisted-index pattern for vectors): models trained on the
    // historical slice (vec_id % 4 ≠ 0) and FROZEN to disk; the new
    // slice was encoded against them and APPENDED — this query's plan
    // touches history only through `cells`/`codes` index scans (pinned
    // in VectorIndexSpec). The honest oracle unrolls training over the
    // old slice and encodes old ∪ new from scratch: the incremental
    // index must agree with from-scratch IVF-PQ bit-for-bit.
    "sim18_ivfpq_index" -> ((s, dir) => {
      import s.implicits._
      graft.operators.VectorIndex.query(s, vectorIndexDir(s, dir),
        emb(s, dir).filter($"vec_id" < 40), "vec_id", "embedding",
        nprobe = 2, k = 5)
    }),

    // int8 scalar quantization error profile (the SQ8 vector-memory
    // path next to PQ): per-dim affine grid from corpus min/max,
    // floor(+0.5) nearest-code rounding, saturation counts and
    // decimal-exact mean / exact max reconstruction error — the
    // diagnostic that decides whether 4× compression is safe. Corpus
    // never shuffles; both aggregate frames are dimension-sized.
    "sim19_scalar_quantize" -> ((s, dir) =>
      graft.operators.ScalarQuantization.int8Stats(emb(s, dir), "vec_id",
        "embedding")),

    // ANN recall@k evaluation — the metric every vector-index deployment
    // tracks: the durable index's top-5 (sim18, nprobe=2) scored against
    // EXACT L2 ground truth over the same corpus (d² ranking drops the
    // per-query q·q constant — identical order; (d², id) tiebreak).
    // Per-query n_hits/recall rows, fully hash-oracled: the twin nests
    // the whole sim18 chain and re-derives the brute truth with the
    // shared dot folds. Truth side is the sim1 bounded-query-set brute
    // pattern (linear corpus scan).
    // READ THE NUMBER RIGHT: the fixture's random near-orthogonal
    // vectors are PQ's pathological case (no low-dim structure, a flat
    // distance spectrum — measured mean recall@5 ≈ 0.17 with IVFADC
    // residual codes at m=8/ks=8, barely above the raw-code 0.15: a
    // residual of a random vector is still random), which is exactly
    // why a deployment runs this query before trusting an index; on
    // CLUSTERED data the residual win is real — SimilaritySpec's
    // three-cluster fixture measures raw 0.20 → residual 0.40 at equal
    // (m, ks) with pruning eliminated, and its planted near-copies
    // recall at 1.0 through the pruned path. The knobs recall buys
    // into are nprobe, m, ks.
    "sim20_ann_recall" -> ((s, dir) =>
      annRecall(s, emb(s, dir), vectorIndexDir(s, dir))),

    // sim20's evaluation on the CLUSTERED derived corpus (clusteredVecs)
    // — the oracled counterpart of SimilaritySpec's raw 0.20 → residual
    // 0.40 measurement, so the IVFADC recall gain is demonstrated by a
    // CORRECTNESS key, not only a spec (VERDICT r10 #4): the durable
    // clustered index's top-5 (nprobe=2 of coarseK=4) scored against
    // exact L2 ground truth, per-query n_hits/recall, fully hash-oracled
    // (the twin re-derives the vectors, the whole IVFADC chain, and the
    // brute truth from scratch). SimilaritySpec additionally pins the
    // MEAN recall ≥ 0.4 at sf0.001 so the demonstration cannot decay
    // into a structural green.
    "sim23_clustered_recall" -> ((s, dir) =>
      annRecall(s, clusteredVecs(s, dir), vectorIndexClusteredDir(s, dir))),

    // IVFADC + exact re-rank (Jégou et al. 2011's IVFADC+R topology,
    // VectorIndex.queryRefined): a 20-deep ADC shortlist from the
    // clustered index, exact-L2 rescored to top-5. The deployment
    // answer to sim23's quantization-capped 0.615: refinement fetches
    // Q·shortlist stored vectors through one _vid equi-join and
    // converts code error into a constant-factor IO knob —
    // SimilaritySpec pins the measured recall lift over sim23. Fully
    // hash-oracled: the twin re-derives the chain at k=20 and rescores
    // with the shared folds, pinning the refine arithmetic itself.
    "sim24_adc_refine" -> ((s, dir) => {
      import s.implicits._
      val e = clusteredVecs(s, dir)
      graft.operators.VectorIndex.queryRefined(s,
        vectorIndexClusteredDir(s, dir), e.filter($"vec_id" < 40),
        "vec_id", "embedding", nprobe = 2, shortlist = 20, k = 5)
    }),

    // Matryoshka truncation profile (Kusupati et al. 2022, "Matryoshka
    // Representation Learning"): the dimension-adaptive retrieval story —
    // serve the FIRST d coordinates of each embedding and measure what
    // ranking quality survives. For each truncation d ∈ {8, 16, 32},
    // per-query recall@5 of truncated-inner-product top-5 vs the
    // full-dim (64) top-5 over the fixed sim20 query set. One scored
    // frame computes all four dots (sequential per-row folds over
    // sliced arrays — bit-identical in DuckDB), then four
    // WindowGroupLimit rank passes; corpus × broadcast(40 queries), the
    // sim1/sim20 brute-force shape. The operational knob this grades:
    // how small can the serving index's dim be before recall pays.
    "sim21_matryoshka" -> ((s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
      val qs = e.filter($"vec_id" < 40)
        .select($"vec_id".as("query_id"), $"embedding".as("qv"))
      val scored = e.select($"vec_id".as("neighbor_id"),
          $"embedding".as("cv"))
        .crossJoin(broadcast(qs))
        .filter($"neighbor_id" =!= $"query_id")
        .select($"query_id", $"neighbor_id",
          Similarity.dotSeq($"qv", $"cv").as("d64"),
          Similarity.dotSeq(slice($"qv", 1, 32), slice($"cv", 1, 32))
            .as("d32"),
          Similarity.dotSeq(slice($"qv", 1, 16), slice($"cv", 1, 16))
            .as("d16"),
          Similarity.dotSeq(slice($"qv", 1, 8), slice($"cv", 1, 8))
            .as("d8"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // first-execution convoy guard (r16): 8 consumers (4 rank passes
      // × truth semi-joins) otherwise race the scored frame's cold
      // materialization
      graft.core.ManagedPersist.materializeOnce(scored)
      def top(dcol: String) = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"query_id")
          .orderBy(col(dcol).desc, $"neighbor_id".asc)
        scored.withColumn("rank", row_number().over(w))
          .filter($"rank" <= 5).select($"query_id", $"neighbor_id")
      }
      val truth = top("d64")
      Seq(8, 16, 32).map { d =>
        top(s"d$d")
          .join(truth, Seq("query_id", "neighbor_id"), "left_semi")
          .groupBy($"query_id").agg(count(lit(1)).as("n_hits"))
          .join(qs.select($"query_id"), Seq("query_id"), "right")
          .select(lit(d).as("trunc_dim"), $"query_id",
            coalesce($"n_hits", lit(0L)).as("n_hits"),
            (coalesce($"n_hits", lit(0L)).cast("double") / lit(5.0))
              .as("recall"))
      }.reduce(_ unionAll _)
    }),

    // MMR diversity re-rank (Carbonell & Goldstein 1998): the RAG-stack
    // step after retrieval — from each query's top-12 cosine candidates,
    // greedily pick 5 maximizing 0.7·rel − 0.3·max-sim-to-selected. The
    // greedy rounds unroll relationally (window argmax + broadcast
    // winner fold into a running maxsim column), and the SQL twin
    // unrolls the identical rounds as CTEs — every double op is the
    // shared portable fold or plain IEEE arithmetic, so the whole
    // re-rank hash-matches.
    "sim12_mmr_rerank" -> ((s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
      Similarity.mmrRerank(e, e.filter($"vec_id" < 12), "vec_id",
        "embedding", n = 12, kSel = 5)
    }),

    // SemDeDup: k-means clusters + within-cluster cosine keep-first drop.
    // k is DERIVED from corpus count as k = round(√N): total work =
    // assignment O(N·k) + within-cluster pairs O(N²/k) is minimized at
    // k = √N, giving O(N^1.5) end to end — the measured N/64 derivation
    // made assignment itself O(N²/64) (10× slope 8.5). The SQL twin
    // derives the identical k from count(*); √N is never exactly ·.5,
    // so round() agrees across engines. τ=0.4 genuinely splits the
    // fixture (random-ish vectors, max pairwise cosine ≈ 0.5).
    // The Lloyd's training itself rides the shared durable kmeans base
    // under dd5's own derived-(k, iters) key (train-once/serve-many, the
    // sim9/sim11 policy): the timed region is assignment + within-cluster
    // pairs only. r9's +45% was the in-query Lloyd's paying
    // first-JVM-execution codegen once sim9's training moved to the
    // cache; the centroids round-trip parquet bit-exactly, so the hash
    // oracle is unchanged.
    "dd5_semdedup" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.semDedupWith(e, "vec_id", "embedding",
        Similarity.centroidArrays(sharedKmeans(s, dir, dd5K(s, dir),
          iters = 2)), tau = 0.4)
    }),

    // semantic contamination: corpus vectors too close (cosine ≥ 0.35 —
    // production would use ~0.9 on real embeddings; the fixture corpus
    // is near-orthogonal random vectors, max cross cosine ≈ 0.49) to the
    // label-0 slice standing in for an eval benchmark's embeddings. The
    // embedding-space complement of tx10's n-gram contamination check —
    // catches paraphrased leakage token overlap misses. Corpus ×
    // broadcast(benchmark) is linear in the corpus (see
    // Similarity.semanticContamination's scale note).
    // benchmark slice is FIXED-SIZE (label 0 AND vec_id < 500): a real
    // eval benchmark does not grow with the training corpus, and a
    // %-of-corpus benchmark made the linear scan O(N²/L) in the fixture
    // (measured slope 10.4 at the 10× probe). At the sf0.01 gate the
    // bound is vacuous (all vec_ids < 500), so the oracle rows are
    // unchanged there.
    "dd8_semantic_contamination" -> ((s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
      Similarity.semanticContamination(e.filter($"label" =!= 0),
        e.filter($"label" === 0 && $"vec_id" < 500), "vec_id",
        "embedding", 0.35)
    }),

    // dimension covariance + correlation matrix (the PCA-whitening /
    // redundant-dimension-diagnostic input): outer products expanded
    // IN-ROW and reduced by one hash agg — the relational form of a
    // treeAggregate outer-product accumulation (see
    // Similarity.covarianceMatrix's scale note). DECIMAL(38,12) folds →
    // one shared double AST per cell ⇒ full hash oracle.
    // spread first: the d²/2 in-row pair expansion (~2080 structs per
    // vector) and the decimal folds otherwise fuse into the single-task
    // parquet scan stage (the Tables.spread trap — measured as the
    // round-10 sanity bench's #1 key at 4.4 s on one core)
    "sim13_covariance" -> ((s, dir) =>
      Similarity.covarianceMatrix(
        graft.core.Tables.spread(emb(s, dir)), "embedding")),

    // per-dimension z-standardization (whitening-lite before metric ops):
    // stats agg + broadcast-back — the corpus never shuffles. Full hash
    // oracle on every (vec, dim, z) row.
    "sim15_standardize" -> ((s, dir) =>
      Similarity.standardize(emb(s, dir), "vec_id", "embedding")),

    // k-means clustering quality: per-cluster inertia (Σ‖x−c‖²) and
    // sizes over the learned sim9 quantizer — the elbow-curve /
    // cluster-health metric that decides k and flags collapsed
    // clusters. ‖x−c‖² expands to x·x + (c·c − 2x·c): both terms are
    // the SAME per-row sequential folds the assignment already runs
    // (one broadcast of the k-row centroid arrays, no corpus shuffle
    // beyond the final label agg), folded decimal-exact. Fully
    // hash-oracled through the unrolled Lloyd's twin.
    "sim16_kmeans_inertia" -> ((s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
      val cent = sharedKmeans(s, dir, k = 8, iters = 2)
      val centArr = Similarity.centroidArrays(cent)
      val best = e.select($"vec_id", $"embedding",
          Similarity.dotSeq($"embedding", $"embedding").as("x2"))
        .crossJoin(broadcast(centArr))
        .withColumn("score", $"c2" - lit(2.0) *
          Similarity.dotSeq($"embedding", $"c_arr"))
        .groupBy($"vec_id")
        .agg(min(struct($"score", $"label")).as("b"), max($"x2").as("x2"))
      best.groupBy($"b.label".as("label"))
        .agg(count(lit(1)).as("cnt"),
          sumExact($"x2" + $"b.score")
            .as("inertia"))
    }),

    // hybrid retrieval via reciprocal-rank fusion (Cormack et al. 2009):
    // RRF(d) = Σ_lists 1/(60 + rank_d) over the sparse (tx13 BM25) and
    // dense top-10 lists, FULL OUTER on (query, doc) — a doc on one
    // list only keeps that list's term; a query with no embedding (the
    // fixture has fewer vectors than docs at sf≥0.1) fuses sparse-only.
    // Every weight is 1/(60+r) over integer ranks — one shared double
    // AST, no transcendentals ⇒ full hash oracle.
    //
    // The SPARSE leg rides the full durable serve path (the q21/dd9/dd10
    // consolidation): BM25 scores through the cached TermFreqBase
    // inverted index WITH its materialized dl/docfreq/avgdl statistics —
    // the r9 capture recomputed those three index aggregates per run,
    // the measured bulk of sim14's latency. The DENSE leg stays the
    // brute scorer, a decision made on MEASUREMENTS, twice: (a) served
    // from the coarseK=8 sim18 index, ~3× slower than brute (nprobe/8
    // prunes only 4× while the candidate join's per-row cost exceeds
    // the 64-wide codegen dot fold); (b) served from the √N-cell sim22
    // index + exact re-rank (the asymptotically right stack), STILL
    // ~1 s slower at both fixture scales — the index query's fixed job
    // chain (probes, LUT maps, rerank joins) exceeds what pruning saves
    // while brute is a single fused codegen scan. The crossover needs
    // either a larger corpus or a real cluster (where brute's O(Q·N·d)
    // is a non-starter); sim22 itself carries the serve-path
    // demonstration at √N cells.
    "sim14_hybrid_rrf" -> ((s, dir) => {
      import s.implicits._
      val sparse = servedBm25(s, dir, TermFreqBase.retrievalQueries(s, dir))
      val e = emb(s, dir)
      val dense = Similarity
        .cosineTopK(e, e.filter($"vec_id" % 50 === 0), "vec_id",
          "embedding", k = 10)
        .select($"query_id", $"neighbor_id".as("doc_id"), $"rank")
      graft.operators.Retrieval.rrfFuse(sparse, dense, k = 10)
    }),

    // SIM25 — retrieval ranking-QUALITY gate: nDCG@10 (Järvelin &
    // Kekäläinen 2002) for the BM25 / dense / RRF stack — the one trust
    // gate the retrieval family lacked (VERDICT r13 #2): tx13/sim14
    // prove the ARITHMETIC of scoring and fusion; this key measures
    // whether the rankings are any GOOD, against a planted relevance,
    // and whether fusion actually beats its inputs (Cormack, Clarke &
    // Buettcher 2009's claim, made measurable).
    //
    // Gate: PLANS_r14 §sim25 — two falsifications recorded before this
    // oracle. (1) pure term-coverage relevance is CIRCULAR with BM25
    // (probed nDCG ≡ 1.0 at both sfs, and fused < sparse — the pin
    // would be structurally false); (2) the fixture embeddings are
    // near-isotropic (max pair cos ≈ 0.45-0.49), so any conventional
    // "semantic neighbor" τ gives an EMPTY channel — τ = 0.35 ≈ p99.7
    // of the corpus's own pair-cos distribution. Landed relevance is a
    // two-channel graded pool: rel = term depth (1: ≥2 of the query's
    // 3 distinct terms; 2: all 3) + semantic bonus (1: cos ≥ 0.35,
    // self excluded) — each retriever sees only one channel, so
    // neither saturates, and fusion is graded on surfacing the docs
    // both channels endorse. Probed: fused mean 0.815/0.934 > best
    // single 0.792/0.874 at sf0.01/sf0.1 (RetrievalSpec pins it).
    //
    // Scale shape: the lists are the tx13/sim14 serve paths verbatim
    // (index + broadcast query terms; brute dense per sim14's measured
    // decision); the term channel is one posting-list join on the
    // shared index; the semantic channel is the same corpus ×
    // broadcast(queries) scan the dense leg runs; everything after is
    // (queries × grades)-sized. Hash discipline: integer CASE gains,
    // ln(rank+1)/ln 2 as one shared AST (no engine-native log2), every
    // DCG/IDCG term DECIMAL(28,6)-quantized pre-fold, ndcg and the
    // rollup means re-quantized after division.
    "sim25_retrieval_ndcg" -> ((s, dir) => {
      import s.implicits._
      val qs = TermFreqBase.retrievalQueries(s, dir)
      // each top-10 list feeds TWO consumers (its DCG leg + the RRF
      // fusion) — persisted (≤ queries·10 rows) so the BM25 scoring
      // chain and the cosine rank window run once, not per consumer;
      // release is GC-scoped with the other persists below
      val sparse = servedBm25(s, dir, qs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // ONE brute cosine scan feeds BOTH the dense top-10 (value- and
      // tie-break-identical to sim14's cosineTopK leg) and the semantic
      // relevance channel — two scans would double the key's dominant
      // cost. queries × vecs rows; persisted for the two consumers,
      // GC-scoped below.
      val cosq = bruteCosq(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val wD = org.apache.spark.sql.expressions.Window
        .partitionBy($"query_id").orderBy($"cos".desc, $"doc_id".asc)
      val dense = cosq
        .withColumn("rank", row_number().over(wD).cast("long"))
        .filter($"rank" <= 10)
        .select($"query_id", $"doc_id", $"rank")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val fusedL = graft.operators.Retrieval.rrfFuse(sparse, dense,
          k = 10)
        .select($"query_id", $"doc_id", $"fused_rank".as("rank"))
      val rel = relPool(s, dir, cosq)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val res = ndcgScore(qs.select($"qid".as("query_id")), rel,
        Seq("sparse" -> sparse, "dense" -> dense, "fused" -> fusedL))
      graft.core.ManagedPersist.register(rel, res)
      graft.core.ManagedPersist.register(cosq, res)
      graft.core.ManagedPersist.register(sparse, res)
      graft.core.ManagedPersist.register(dense, res)
      // first-execution convoy guard (r16): every persist above feeds
      // ≥2 consumers; materialize in dependency order on a cold cache
      // (see ManagedPersist.materializeOnce — warm runs skip at
      // metadata cost)
      graft.core.ManagedPersist.materializeOnce(cosq)
      graft.core.ManagedPersist.materializeOnce(sparse)
      graft.core.ManagedPersist.materializeOnce(dense)
      graft.core.ManagedPersist.materializeOnce(rel)
      res
    }),

    // SIM26 — the INDEX-SERVED hybrid retrieval stack, nDCG-gated
    // (VERDICT r14 #1): sim14/sim25's measured story is that at fixture
    // scale the brute dense leg beats the index-served one; this key IS
    // the serve path a deployment actually runs when brute's O(Q·N·d)
    // stops being an option — the dense leg comes from the durable
    // √N-cell IVFADC index (sim22's vectorIndexScaledDir) through the
    // IVFADC+R refine topology (sim24, shortlist 30 → exact re-rank to
    // 10), fused with the served BM25 leg and scored by the SAME nDCG
    // machinery against the SAME two-channel relevance as sim25 — so
    // the quality COST of leaving brute is a measured number, not a
    // hope (RetrievalSpec pins the band; the gate section in PLANS_r15
    // records the probed brute-vs-indexed comparison).
    //
    // The relevance pool is served from a durable artifact (sim26Rel —
    // qrels are a static judgment table in any real evaluation), so the
    // timed region contains NO brute corpus × queries scan: index scans
    // (cells/codes/vectors + the text index), the posting-list join,
    // and (queries × grades)-sized arithmetic. The candidate work per
    // query is nprobe·N/√N = 2√N rows — the pruning that IMPROVES with
    // corpus growth — against sim25's N; that asymmetry is the whole
    // point of the key.
    //
    // Ranking semantics, stated: the indexed leg ranks by refined
    // exact L2 (d2_shifted — queryRefined's contract), the brute leg
    // by cosine; on the fixture's unnormalized vectors these orders
    // differ even at perfect shortlist recall, and the nDCG delta
    // between sim25's ndcg_dense and this key's ndcg_indexed therefore
    // folds BOTH effects (ADC shortlist recall + metric change) — the
    // honest serving-quality number for THIS index topology.
    "sim26_indexed_retrieval_ndcg" -> ((s, dir) => {
      import s.implicits._
      val qs = TermFreqBase.retrievalQueries(s, dir)
      val sparse = servedBm25(s, dir, qs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val e = emb(s, dir)
      val indexed = graft.operators.VectorIndex.queryRefined(s,
          vectorIndexScaledDir(s, dir),
          e.filter($"vec_id" % 50 === 0), "vec_id", "embedding",
          nprobe = 2, shortlist = 30, k = 10)
        .select($"query_id", $"neighbor_id".as("doc_id"), $"rank")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val fusedL = graft.operators.Retrieval.rrfFuse(sparse, indexed,
          k = 10)
        .select($"query_id", $"doc_id", $"fused_rank".as("rank"))
      val res = ndcgScore(qs.select($"qid".as("query_id")),
        sim26Rel(s, dir),
        Seq("sparse" -> sparse, "indexed" -> indexed,
          "fused" -> fusedL))
      graft.core.ManagedPersist.register(sparse, res)
      graft.core.ManagedPersist.register(indexed, res)
      // first-execution convoy guard (r16) — both lists feed the DCG
      // leg and the fusion
      graft.core.ManagedPersist.materializeOnce(sparse)
      graft.core.ManagedPersist.materializeOnce(indexed)
      res
    }))

  /** sim5's DuckDB twin, mirroring Similarity.annLsh(planes=48, bands=4,
    * τ=0.35, dims=64, targetBucketSize=8, maxBucket=1024) stage by stage:
    * same hash60-parity plane signs (interpolated here as literal ±1
    * list lookups — both engines read the SAME driver-computed table, so
    * a divergent hash implementation cannot silently split the twins),
    * same fixed-point floor sums (integer addition ⇒
    * partitioning-invariant), same corpus-size-derived band width
    * (integer-only: smallest b ≤ 12 with count ≤ 8·2^b — so the oracle
    * tracks the operator across ALL scale factors), same per-bucket
    * membership cap via row_number, same sequential-fold cosine. */
  private def sim5Sql: String = {
    val planes = 48; val dims = 64
    val projAggs = (0 until planes).map { p =>
      val signList = (0 until dims)
        .map(d => Similarity.planeSignJava(p, d) match {
          case 1.0 => "1.0"; case _ => "-1.0"
        }).mkString("[", ", ", "]")
      s"CAST(sum(CAST(floor((x * CAST(($signList)[CAST(dim AS INT) + 1] AS DOUBLE)) " +
        s"* 1e12) AS BIGINT)) AS BIGINT) AS pr$p"
    }.mkString(",\n    ")
    val sigExpr = (0 until planes)
      .map(p => s"CASE WHEN pr$p >= 0 THEN (CAST(1 AS BIGINT) << $p) " +
        s"ELSE CAST(0 AS BIGINT) END")
      .mkString(" + ")
    val bandRows = (0 until 4).map { b =>
      s"SELECT id, $b AS band, (sig >> ($b * bb)) & " +
        s"((CAST(1 AS BIGINT) << bb) - 1) AS bucket FROM sigs CROSS JOIN params"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH params AS (
       |  SELECT coalesce((SELECT min(b) FROM generate_series(1, 12) t(b)
       |    WHERE (SELECT count(*) FROM embeddings)
       |      <= 8 * (CAST(1 AS BIGINT) << b)), 12) AS bb
       |), ex AS (
       |  SELECT vec_id AS id, CAST(i - 1 AS BIGINT) AS dim,
       |    CAST(embedding[i] AS DOUBLE) AS x
       |  FROM (SELECT vec_id, embedding,
       |          unnest(generate_series(1, len(embedding))) AS i
       |        FROM embeddings) p
       |), agg AS (
       |  SELECT id,
       |    $projAggs,
       |    CAST(sum(CAST(floor((x * x) * 1e12) AS BIGINT)) AS BIGINT) AS n2
       |  FROM ex GROUP BY id
       |), sigs AS (
       |  SELECT id, sqrt(CAST(n2 AS DOUBLE) / 1e12) AS nrm, $sigExpr AS sig
       |  FROM agg
       |), banded AS (
       |  SELECT id, band, bucket FROM (
       |    SELECT id, band, bucket,
       |      row_number() OVER (PARTITION BY band, bucket ORDER BY id) AS _bn
       |    FROM (
       |  $bandRows
       |    ) raw) capped
       |  WHERE _bn <= 1024
       |), cands AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
       |), scored AS (
       |  SELECT c.id_a, c.id_b,
       |    ${dotSql("va.embedding", "vb.embedding")} / (sa.nrm * sb.nrm)
       |      AS cos_sim
       |  FROM cands c
       |  JOIN embeddings va ON va.vec_id = c.id_a
       |  JOIN embeddings vb ON vb.vec_id = c.id_b
       |  JOIN sigs sa ON sa.id = c.id_a
       |  JOIN sigs sb ON sb.id = c.id_b
       |)
       |SELECT id_a, id_b, cos_sim FROM scored WHERE cos_sim >= 0.35""".stripMargin
  }

  private def sim1Sql: String =
    s"""WITH n AS (
         |  SELECT vec_id, sqrt(${dotSql("embedding", "embedding")}) AS nrm
         |  FROM embeddings
         |), d AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         ${dotSql("q.embedding", "c.embedding")} AS dot
         |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
         |  WHERE q.vec_id < 20
         |), cos AS (
         |  SELECT query_id, neighbor_id, dot / (nq.nrm * nc.nrm) AS cos_sim
         |  FROM d JOIN n nq ON nq.vec_id = query_id
         |         JOIN n nc ON nc.vec_id = neighbor_id
         |)
         |SELECT query_id, neighbor_id, cos_sim, rank FROM (
         |  SELECT query_id, neighbor_id, cos_sim,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
         |  FROM cos) r
         |WHERE rank <= 5""".stripMargin

  /** sim12's DuckDB twin: candidate top-n, then the kSel greedy MMR
    * rounds unrolled — each round one row_number argmax (p$r/w$r) and
    * one join folding the winner's cosine into every survivor's running
    * maxsim (s$r) — exactly the frames the Spark loop materializes. */
  private def sim12Sql(n: Int, kSel: Int): String = {
    val mmrExpr = (rel: String, ms: String) =>
      s"CAST(0.7 AS DOUBLE) * $rel - CAST(0.3 AS DOUBLE) * $ms"
    def round(r: Int): String =
      s"""p$r AS (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |    ORDER BY ${mmrExpr("rel", "maxsim")} DESC, cid ASC) AS prn
         |  FROM s${r - 1}),
         |w$r AS (SELECT qid, cid AS wcid, cv AS wv, cn AS wn,
         |         rel AS wrel, maxsim AS wmax FROM p$r WHERE prn = 1),
         |s$r AS (
         |  SELECT s.qid, s.cid, s.cv, s.cn, s.rel,
         |    greatest(s.maxsim,
         |      ${dotSql("s.cv", "w.wv")} / (s.cn * w.wn)) AS maxsim
         |  FROM p$r s JOIN w$r w ON s.qid = w.qid WHERE s.prn > 1)"""
        .stripMargin
    val picks = (1 to kSel)
      .map(r => s"SELECT qid, wcid, wrel, wmax, $r AS pick_order FROM w$r")
      .mkString("\n  UNION ALL ")
    s"""WITH q AS (
       |  SELECT vec_id AS qid, embedding AS qv,
       |    sqrt(${dotSql("embedding", "embedding")}) AS qn
       |  FROM embeddings WHERE vec_id < 12),
       |c AS (
       |  SELECT vec_id AS cid, embedding AS cv,
       |    sqrt(${dotSql("embedding", "embedding")}) AS cn
       |  FROM embeddings),
       |sc AS (
       |  SELECT qid, cid, cv, cn,
       |    ${dotSql("qv", "cv")} / (qn * cn) AS rel
       |  FROM c, q WHERE cid <> qid),
       |cand AS (
       |  SELECT qid, cid, cv, cn, rel FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid
       |      ORDER BY rel DESC, cid ASC) AS rn FROM sc) x
       |  WHERE rn <= $n),
       |s0 AS (SELECT qid, cid, cv, cn, rel, CAST(0 AS DOUBLE) AS maxsim
       |       FROM cand),
       |${(1 to kSel).map(round).mkString(",\n")}
       |SELECT qid AS query_id, wcid AS cand_id, wrel AS rel,
       |  wmax AS max_sim, ${mmrExpr("wrel", "wmax")} AS mmr,
       |  CAST(pick_order AS BIGINT) AS pick_order
       |FROM ($picks)""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "sim12_mmr_rerank" -> sim12Sql(12, 5),
    // sim14's twin: the tx13 BM25 chain (k=10) and the sim1-style brute
    // cosine ranking as subqueries, fused with the identical
    // 1/(60+rank) AST.
    "sim14_hybrid_rrf" ->
      s"""WITH ${sparseNvSql("rank AS r_sparse")}, dense AS (
         |  SELECT query_id, doc_id, rank AS r_dense FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |        ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm)
         |          DESC, c.vec_id ASC) AS rank
         |    FROM nv q JOIN nv c ON c.vec_id <> q.vec_id
         |    WHERE q.vec_id % 50 = 0) d
         |  WHERE rank <= 10
         |), fused AS (
         |  SELECT COALESCE(s.query_id, d.query_id) AS query_id,
         |    COALESCE(s.doc_id, d.doc_id) AS doc_id,
         |    s.r_sparse, d.r_dense,
         |    COALESCE(1.0 / (60.0 + CAST(s.r_sparse AS DOUBLE)), 0.0) +
         |    COALESCE(1.0 / (60.0 + CAST(d.r_dense AS DOUBLE)), 0.0)
         |      AS rrf
         |  FROM sparse s FULL OUTER JOIN dense d
         |    ON s.query_id = d.query_id AND s.doc_id = d.doc_id
         |)
         |SELECT query_id, doc_id, r_sparse, r_dense, rrf,
         |  rank AS fused_rank
         |FROM (
         |  SELECT f.*, row_number() OVER (PARTITION BY query_id
         |    ORDER BY rrf DESC, doc_id ASC) AS rank
         |  FROM fused f) z
         |WHERE rank <= 10""".stripMargin,
    // sim25's twin: the tx13 BM25 chain (k=10), the sim14 dense/RRF
    // legs, the two-channel relevance pool and the same quantized
    // DCG/IDCG arithmetic (see the key's comment and PLANS_r14 §sim25).
    // The gc query universe is doc_id % 50 = 0 over `documents` —
    // IDENTICAL to the Spark side's qs (ADVICE r14: deriving it from qt
    // would drop a zero-token query doc, an engine divergence; current
    // fixtures have none, so the hash is unchanged).
    "sim25_retrieval_ndcg" ->
      s"""WITH ${sparseNvSql("rank")}, $cosqSql, dense AS (
         |  SELECT query_id, doc_id, rank FROM (
         |    SELECT query_id, doc_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY cos DESC, doc_id ASC)
         |      AS rank
         |    FROM cosq) d
         |  WHERE rank <= 10
         |), ${ndcgTailSql("dense")}""".stripMargin,
    // sim26's twin — the honest from-scratch oracle for BOTH serve
    // paths at once: the dense list re-derives the WHOLE IVFADC chain
    // (sim22's derived-√N-cell twin at shortlist depth 30, the sim24
    // refine rescore on top), the relevance pool recomputes from
    // scratch (proving the sim26rel artifact ≡ the in-query sim25
    // pool), and the nDCG arithmetic is sim25's twin verbatim with
    // ndcg_indexed replacing ndcg_dense. cosq exists here only for the
    // semantic relevance channel.
    "sim26_indexed_retrieval_ndcg" ->
      s"""WITH ${sparseNvSql("rank")}, $cosqSql, ann0 AS (
         |${sim22Sql(2, 2, 8, 8, 8, 2, 30, queryWhere = "p._vid % 50 = 0")}
         |), qv AS (
         |  SELECT vec_id AS query_id, embedding AS qvec
         |  FROM embeddings WHERE vec_id % 50 = 0
         |), dense AS (
         |  SELECT query_id, neighbor_id AS doc_id, rank
         |  FROM (${refineRankSql("embeddings")}) t
         |  WHERE rank <= 10
         |), ${ndcgTailSql("indexed")}""".stripMargin,
    // sim13's twin pairs dimensions by a self-join of the exploded view
    // (the oracle can afford the N·d² shuffle the Spark side's in-row
    // expansion avoids); same fixed-point floor folds (a rounding
    // double→decimal cast would diverge at 12 digits — see
    // Similarity.covarianceMatrix), same cov/corr AST.
    "sim13_covariance" ->
      s"""WITH $explodedSql, stats AS (
        |  SELECT dim, count(*) AS n, ${sumFloorSql("x", 12)} AS s,
        |    ${sumFloorSql("x * x", 12)} AS s2
        |  FROM ex GROUP BY dim
        |), cells AS (
        |  SELECT a.dim AS i, b.dim AS j, count(*) AS n,
        |    ${sumFloorSql("a.x * b.x", 12)} AS s_ij
        |  FROM ex a JOIN ex b
        |    ON a.vec_id = b.vec_id AND a.dim <= b.dim
        |  GROUP BY 1, 2
        |)
        |SELECT i, j, cells.n,
        |  (s_ij - si.s * sj.s / cells.n) / (cells.n - 1) AS cov,
        |  ((s_ij - si.s * sj.s / cells.n) / (cells.n - 1)) /
        |    (sqrt((si.s2 - si.s * si.s / cells.n) / (cells.n - 1)) *
        |     sqrt((sj.s2 - sj.s * sj.s / cells.n) / (cells.n - 1))) AS corr
        |FROM cells
        |JOIN stats si ON cells.i = si.dim
        |JOIN stats sj ON cells.j = sj.dim""".stripMargin,
    // sim15's twin: same exploded view, same fixed-point stat folds,
    // same mean/std/z AST.
    "sim15_standardize" ->
      s"""WITH $explodedSql, stats AS (
        |  SELECT dim,
        |    ${sumFloorSql("x", 12)} / count(*) AS mean,
        |    sqrt((${sumFloorSql("x * x", 12)}
        |      - ${sumFloorSql("x", 12)} * ${sumFloorSql("x", 12)} / count(*))
        |      / (count(*) - 1)) AS std
        |  FROM ex GROUP BY dim
        |)
        |SELECT vec_id, ex.dim, x, (x - mean) / std AS z
        |FROM ex JOIN stats ON ex.dim = stats.dim""".stripMargin,
    "sim5_ann_lsh" -> sim5Sql,
    "sim1_cosine_topk" -> sim1Sql,
    // the Aggregator form must produce EXACTLY the window form's rows
    "sim7_topk_agg" -> sim1Sql,
    "sim2_cosine_neardup" ->
      s"""WITH e AS (
         |  SELECT * FROM embeddings WHERE vec_id < 500
         |), n AS (
         |  SELECT vec_id, sqrt(${dotSql("embedding", "embedding")}) AS nrm
         |  FROM e
         |), cos AS (
         |  SELECT x.vec_id AS id_a, y.vec_id AS id_b,
         |         ${dotSql("x.embedding", "y.embedding")} / (nx.nrm * ny.nrm) AS cos_sim
         |  FROM e x
         |  JOIN e y ON x.vec_id < y.vec_id
         |  JOIN n nx ON nx.vec_id = x.vec_id
         |  JOIN n ny ON ny.vec_id = y.vec_id
         |)
         |SELECT id_a, id_b, cos_sim FROM cos WHERE cos_sim >= 0.45""".stripMargin,
    "sim17_random_projection" ->
      graft.operators.RandomProjection.projectSql(d = 64, m = 8),
    "sim3_label_centroids" ->
      s"""SELECT label, CAST(i AS BIGINT) AS dim,
         |  ${sumExactSql("CAST(embedding[i] AS DOUBLE)")} / count(embedding[i]) AS centroid,
         |  count(*) AS cnt
         |FROM (SELECT label, embedding,
         |        unnest(generate_series(1, len(embedding))) AS i
         |      FROM embeddings) p
         |GROUP BY label, i""".stripMargin,
    "sim4_norms" ->
      s"""SELECT vec_id, label,
         |  sqrt(${dotSql("embedding", "embedding")}) AS l2_norm
         |FROM embeddings""".stripMargin,
    // dd8's twin: WHERE runs before the QUALIFY window in DuckDB exactly
    // as Spark's filter runs before the row_number — both argmax sorts
    // see only above-threshold pairs.
    "dd8_semantic_contamination" ->
      s"""WITH b AS (
         |  SELECT vec_id AS bench_id, embedding AS b_vec,
         |    sqrt(${dotSql("embedding", "embedding")}) AS b_norm
         |  FROM embeddings WHERE label = 0 AND vec_id < 500
         |), c AS (
         |  SELECT vec_id, embedding AS c_vec,
         |    sqrt(${dotSql("embedding", "embedding")}) AS c_norm
         |  FROM embeddings WHERE label <> 0
         |)
         |SELECT vec_id, bench_id,
         |  ${dotSql("c_vec", "b_vec")} / (c_norm * b_norm) AS cos_sim
         |FROM c, b
         |WHERE ${dotSql("c_vec", "b_vec")} / (c_norm * b_norm) >= 0.35
         |QUALIFY row_number() OVER (PARTITION BY vec_id
         |  ORDER BY cos_sim DESC, bench_id ASC) = 1""".stripMargin,
    "sim6_ivf_probe" -> ivfSql(1),
    "sim8_ivf_nprobe" -> ivfSql(2),
    "sim9_kmeans_ivf" -> sim9Sql(8, 2),
    "sim16_kmeans_inertia" -> sim16Sql(8, 2),
    "sim10_pq_adc" -> sim10Sql(8, 8, 8, 2, 5),
    "sim11_ivfpq" -> sim11Sql(8, 2, 2, 8, 8, 8, 2, 5),
    "sim22_ivfadc_scaled" -> sim22Sql(2, 2, 8, 8, 8, 2, 5),
    "sim18_ivfpq_index" -> sim18Sql(8, 2, 2, 8, 8, 8, 2, 5),
    "sim19_scalar_quantize" ->
      graft.operators.ScalarQuantization.int8StatsSql,
    // sim20's twin: the whole sim18 chain nested as a CTE, exact-L2
    // truth via the shared folds, hits counted per query.
    "sim20_ann_recall" ->
      s"""WITH ann0 AS (
         |${sim18Sql(8, 2, 2, 8, 8, 8, 2, 5)}
         |), ann AS (
         |  SELECT query_id, neighbor_id FROM ann0
         |), ${recallSql("embeddings")}""".stripMargin,
    // sim23's twin: the derived clustered vectors as an outer CTE
    // (visible inside ann0's nested WITH), the whole IVFADC chain
    // re-derived over them (training AND membership on cvecs), exact-L2
    // truth and hits exactly like sim20's twin.
    "sim23_clustered_recall" ->
      s"""WITH $clusteredVecsSql,
         |ann0 AS (
         |${ivfPqSql("4", 2, 2, 8, 8, 8, 2, 5, trainSrc = "cvecs",
                     corpus = "cvecs")}
         |), ann AS (
         |  SELECT query_id, neighbor_id FROM ann0
         |), ${recallSql("cvecs")}""".stripMargin,
    // sim24's twin: the sim23 chain at shortlist depth 20, rescored by
    // the exact-fold d² and re-ranked — the refine arithmetic is pinned
    // end to end, not just the hit sets.
    "sim24_adc_refine" ->
      s"""WITH $clusteredVecsSql,
         |ann0 AS (
         |${ivfPqSql("4", 2, 2, 8, 8, 8, 2, 20, trainSrc = "cvecs",
                     corpus = "cvecs")}
         |), qv AS (
         |  SELECT vec_id AS query_id, embedding AS qvec
         |  FROM cvecs WHERE vec_id < 40
         |)
         |SELECT query_id, neighbor_id, d2 AS d2_shifted, rank
         |FROM (${refineRankSql("cvecs")}) t
         |WHERE rank <= 5""".stripMargin,
    // sim21's twin: one scored CTE carrying all four fold dots (DuckDB
    // a[1:d] slices feed the same sequential fold), one ranked CTE per
    // truncation, hits vs the d=64 truth, unioned per dim.
    "sim21_matryoshka" -> {
      def hitsFor(d: Int): String =
        s"""t$d AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT query_id, neighbor_id,
           |      row_number() OVER (PARTITION BY query_id
           |        ORDER BY d$d DESC, neighbor_id ASC) AS r
           |    FROM sc) z$d
           |  WHERE r <= 5
           |), h$d AS (
           |  SELECT t.query_id, count(*) AS n_hits
           |  FROM t$d t JOIN t64 u
           |    ON u.query_id = t.query_id AND u.neighbor_id = t.neighbor_id
           |  GROUP BY 1
           |)""".stripMargin
      def selFor(d: Int): String =
        s"""SELECT $d AS trunc_dim, q.query_id,
           |  coalesce(h.n_hits, 0) AS n_hits,
           |  CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 5.0 AS recall
           |FROM qv q LEFT JOIN h$d h USING (query_id)""".stripMargin
      s"""WITH qv AS (
         |  SELECT vec_id AS query_id, embedding AS qvec
         |  FROM embeddings WHERE vec_id < 40
         |), sc AS (
         |  SELECT q.query_id, c.vec_id AS neighbor_id,
         |    ${dotSql("q.qvec", "c.embedding")} AS d64,
         |    ${dotSql("q.qvec[1:32]", "c.embedding[1:32]")} AS d32,
         |    ${dotSql("q.qvec[1:16]", "c.embedding[1:16]")} AS d16,
         |    ${dotSql("q.qvec[1:8]", "c.embedding[1:8]")} AS d8
         |  FROM embeddings c CROSS JOIN qv q
         |  WHERE c.vec_id <> q.query_id
         |), t64 AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY d64 DESC, neighbor_id ASC) AS r
         |    FROM sc) z64
         |  WHERE r <= 5
         |), ${hitsFor(8)}, ${hitsFor(16)}, ${hitsFor(32)}
         |${selFor(8)}
         |UNION ALL
         |${selFor(16)}
         |UNION ALL
         |${selFor(32)}""".stripMargin
    },
    "dd5_semdedup" -> dd5Sql(4, 2, 0.4))

  /** sim10's DuckDB twin: subvector split, shared-seed per-subspace
    * codebooks, the unrolled Lloyd's updates keyed by (sub, code), the
    * final encoding, and the ADC lookup-table scoring — per-row
    * list_reduce folds + decimal-exact sums throughout, so the compare
    * is a full hash match. (Bigram-style lambda-capture trap avoided:
    * every dotSql input is a materialized column, never an expression
    * over an outer positional variable.) */
  /** The p-prefixed PQ CTE chain (subvector split → seeded codebooks →
    * unrolled training → final encode `penc` + query LUT `plut`) —
    * composable with [[kmeansCtes]] (no CTE-name collisions) so sim11's
    * IVF-PQ twin reuses it verbatim. */
  private def pqCtes(m: Int, subDim: Int, ks: Int, iters: Int,
                     queryWhere: String,
                     trainSrc: String = "embeddings"): String = {
    // training stages see only trainSrc's vectors; psubq (the encode +
    // query-LUT base) always covers the full corpus — the sim18 split
    // where frozen codebooks come from history but encode old ∪ new.
    s"""psubq AS (
       |  SELECT vec_id AS _vid, CAST(sx.sub AS BIGINT) AS sub,
       |    embedding[(sx.sub * $subDim + 1):(sx.sub * $subDim + $subDim)]
       |      AS sv
       |  FROM embeddings CROSS JOIN
       |    (SELECT unnest(generate_series(0, ${m - 1})) AS sub) sx
       |), ${pqTrainSql(subDim, ks, iters, trainSrc)}, plut AS (
       |  SELECT q._vid AS query_id, q.sub, c.code,
       |    ${dotSql("q.sv", "q.sv")}
       |      - 2.0 * ${dotSql("q.sv", "c.c_arr")} + c.c2 AS d
       |  FROM psubq q JOIN pccF c USING (sub)
       |  WHERE $queryWhere
       |)""".stripMargin
  }

  /** The PQ training chain over a `psubq` CTE (_vid, sub, sv), shared by
    * [[pqCtes]] and [[pqResCtes]]: `ks` hash-seeded codebooks drawn from
    * `trainSrc`, `iters - 1` unrolled Lloyd's updates keyed by (sub,
    * code) over training rows only, the final codebook `pccF` with its
    * squared norms, and the final encode `penc` of every psubq row. */
  private def pqTrainSql(subDim: Int, ks: Int, iters: Int,
                         trainSrc: String): String = {
    import graft.functions.PortableHash
    val seedHash = PortableHash.hash60Sql("CAST(vec_id AS VARCHAR)")
    val trainJoin = if (trainSrc == "embeddings") ""
      else s" JOIN $trainSrc _tr ON _tr.vec_id = q._vid"
    // each psubq row's nearest code under codebook `cc` (ties to the
    // lower code): the training assignment and the final encode
    def nearest(cc: String, join: String): String =
      s"""SELECT _vid, sub, code FROM (
         |    SELECT q._vid, q.sub, c.code,
         |      row_number() OVER (PARTITION BY q._vid, q.sub
         |        ORDER BY c.c2 - 2.0 * ${dotSql("q.sv", "c.c_arr")} ASC,
         |          c.code ASC) AS rn
         |    FROM psubq q JOIN $cc c USING (sub)$join) t
         |  WHERE rn = 1""".stripMargin
    val iterCtes = (2 to iters).map { it =>
      val prev = it - 1
      s"""pcc$prev AS (
         |  SELECT sub, code, c_arr, ${dotSql("c_arr", "c_arr")} AS c2
         |  FROM pcb$prev
         |), pasg$prev AS (
         |  ${nearest(s"pcc$prev", trainJoin)}
         |), pcbe$it AS (
         |  SELECT sub, code, CAST(pos AS BIGINT) AS dim,
         |    ${avgExactSql("CAST(x AS DOUBLE)")} AS centroid
         |  FROM (SELECT a.sub, a.code, s.sv[pos] AS x, pos
         |        FROM pasg$prev a
         |        JOIN psubq s USING (_vid, sub)
         |        CROSS JOIN (SELECT unnest(generate_series(1, $subDim))
         |                    AS pos) p) z
         |  GROUP BY sub, code, dim
         |), pcb$it AS (
         |  SELECT sub, code, list(centroid ORDER BY dim) AS c_arr
         |  FROM pcbe$it GROUP BY sub, code
         |)""".stripMargin
    }.mkString(", ")
    s"""pseeds AS (
       |  SELECT vec_id AS _vid, CAST(rn - 1 AS BIGINT) AS code
       |  FROM (SELECT vec_id,
       |          row_number() OVER (ORDER BY $seedHash, vec_id) AS rn
       |        FROM $trainSrc) t
       |  WHERE rn <= $ks
       |), pcb1 AS (
       |  SELECT s.sub, sd.code,
       |    list_transform(s.sv, x -> CAST(x AS DOUBLE)) AS c_arr
       |  FROM pseeds sd JOIN psubq s ON s._vid = sd._vid
       |), $iterCtes, pccF AS (
       |  SELECT sub, code, c_arr, ${dotSql("c_arr", "c_arr")} AS c2
       |  FROM pcb$iters
       |), penc AS (
       |  ${nearest("pccF", "")}
       |)""".stripMargin
  }

  /** The ADC top-k of a `scored` CTE (query_id, _vid, d0 … d{m-1}),
    * shared by [[sim10Sql]] and [[ivfPqSql]]. */
  private def adcTopKSql(m: Int, k: Int): String =
    s"""SELECT query_id, _vid AS neighbor_id, adc_dist, rank FROM (
       |  SELECT query_id, _vid, ${pivotSum(m)} AS adc_dist,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY ${pivotSum(m)} ASC, _vid ASC) AS rank
       |  FROM scored) r
       |WHERE rank <= $k""".stripMargin

  private def pivotCols(m: Int): String = (0 until m).map(s =>
    s"max(CASE WHEN e.sub = $s THEN d END) AS d$s").mkString(",\n    ")
  private def pivotSum(m: Int): String =
    (0 until m).map(s => s"d$s").mkString(" + ")

  private def sim10Sql(m: Int, subDim: Int, ks: Int, iters: Int,
                       k: Int): String =
    s"""WITH ${pqCtes(m, subDim, ks, iters, "q._vid < 40")}, scored AS (
       |  SELECT l.query_id, e._vid, ${pivotCols(m)}
       |  FROM penc e
       |  JOIN plut l ON l.sub = e.sub AND l.code = e.code
       |    AND e._vid <> l.query_id
       |  GROUP BY l.query_id, e._vid
       |)
       |${adcTopKSql(m, k)}""".stripMargin

  /** sim11's DuckDB twin: the shared coarse k-means chain + per-row
    * fold cell assignment (rank window — rn=1 is membership, rn ≤
    * nprobe restricted to the query set is the probe list) composed
    * with the RESIDUAL PQ chain (IVFADC); scoring is restricted to
    * probed cells' members through the (query, label)-keyed candidate
    * and LUT joins, exactly the Spark plan. */
  private def sim11Sql(coarseK: Int, coarseIters: Int, nprobe: Int,
                       m: Int, subDim: Int, ks: Int, iters: Int,
                       k: Int): String =
    ivfPqSql(coarseK.toString, coarseIters, nprobe, m, subDim, ks, iters, k)

  /** sim22's twin: the sim11 IVFADC chain with the coarse cell count
    * DERIVED from the corpus (k = max(4, round(√N)), dd5's derivation —
    * the cell count that keeps IVF pruning real at any corpus size). */
  private def sim22Sql(coarseIters: Int, nprobe: Int, m: Int, subDim: Int,
                       ks: Int, iters: Int, k: Int,
                       queryWhere: String = "p._vid < 40"): String =
    ivfPqSql("(SELECT kk FROM params)", coarseIters, nprobe, m, subDim,
      ks, iters, k,
      prelude = "params AS (SELECT greatest(4, CAST(round(sqrt(count(*)))" +
        " AS BIGINT)) AS kk FROM embeddings), ",
      queryWhere = queryWhere)

  /** sim18's twin = the sim11 chain with BOTH trainings restricted to
    * the historical slice (`oldv`) while membership assignment,
    * residual encode and queries run over the full corpus — exactly
    * what the durable index serves after build(old) + appendBatch(new). */
  private def sim18Sql(coarseK: Int, coarseIters: Int, nprobe: Int,
                       m: Int, subDim: Int, ks: Int, iters: Int,
                       k: Int,
                       queryWhere: String = "p._vid < 40"): String =
    ivfPqSql(coarseK.toString, coarseIters, nprobe, m, subDim, ks, iters, k,
      prelude = "oldv AS (SELECT * FROM embeddings " +
        "WHERE vec_id % 4 <> 0), ",
      trainSrc = "oldv", queryWhere = queryWhere)

  /** The r-prefixed RESIDUAL PQ CTE chain (IVFADC): corpus residuals
    * `ires` (each vector minus its rn=1 cell centroid, the per-element
    * CAST-to-double subtraction Spark's zip_with evaluates), subvector
    * split over residuals, seeded codebooks + unrolled training
    * (training rows restricted to `trainSrc` ids), final encode
    * `penc`. Composes after the coarse CTEs (needs `iasg`/`icc`). */
  private def pqResCtes(m: Int, subDim: Int, ks: Int, iters: Int,
                        trainSrc: String,
                        corpus: String = "embeddings"): String = {
    val dims = m * subDim
    s"""ires AS (
       |  SELECT a._vid, a.label,
       |    list_transform(generate_series(1, $dims),
       |      i -> CAST(e.embedding[i] AS DOUBLE) - c.c_arr[i]) AS rvec
       |  FROM iasg a
       |  JOIN $corpus e ON e.vec_id = a._vid
       |  JOIN icc c ON c.label = a.label
       |  WHERE a.rn = 1
       |), psubq AS (
       |  SELECT _vid, CAST(sx.sub AS BIGINT) AS sub,
       |    rvec[(sx.sub * $subDim + 1):(sx.sub * $subDim + $subDim)]
       |      AS sv
       |  FROM ires CROSS JOIN
       |    (SELECT unnest(generate_series(0, ${m - 1})) AS sub) sx
       |), ${pqTrainSql(subDim, ks, iters, trainSrc)}""".stripMargin
  }

  private def ivfPqSql(coarseKExpr: String, coarseIters: Int, nprobe: Int,
                       m: Int, subDim: Int, ks: Int, iters: Int,
                       k: Int, prelude: String = "",
                       trainSrc: String = "embeddings",
                       queryWhere: String = "p._vid < 40",
                       corpus: String = "embeddings"): String = {
    val dims = m * subDim
    s"""WITH $prelude${kmeansCtes(coarseKExpr, coarseIters, trainSrc)},
       |icarr AS (
       |  SELECT label, list(centroid ORDER BY dim) AS c_arr
       |  FROM cent$coarseIters GROUP BY label
       |), icc AS (
       |  SELECT label, c_arr, ${dotSql("c_arr", "c_arr")} AS c2
       |  FROM icarr
       |), iscored AS (
       |  SELECT e.vec_id AS _vid, c.label,
       |    c.c2 - 2.0 * ${dotSql("e.embedding", "c.c_arr")} AS score
       |  FROM $corpus e CROSS JOIN icc c
       |), iasg AS (
       |  SELECT _vid, label,
       |    row_number() OVER (PARTITION BY _vid
       |      ORDER BY score ASC, label ASC) AS rn
       |  FROM iscored
       |), icand AS (
       |  SELECT p._vid AS query_id, p.label, mm._vid
       |  FROM iasg p JOIN iasg mm ON mm.rn = 1 AND mm.label = p.label
       |  WHERE $queryWhere AND p.rn <= $nprobe
       |), ${pqResCtes(m, subDim, ks, iters, trainSrc, corpus)},
       |iqres AS (
       |  SELECT p._vid AS query_id, p.label,
       |    list_transform(generate_series(1, $dims),
       |      i -> CAST(e.embedding[i] AS DOUBLE) - c.c_arr[i]) AS rvec
       |  FROM iasg p
       |  JOIN $corpus e ON e.vec_id = p._vid
       |  JOIN icc c ON c.label = p.label
       |  WHERE $queryWhere AND p.rn <= $nprobe
       |), pqs AS (
       |  SELECT query_id, label, CAST(sx.sub AS BIGINT) AS sub,
       |    rvec[(sx.sub * $subDim + 1):(sx.sub * $subDim + $subDim)]
       |      AS sv
       |  FROM iqres CROSS JOIN
       |    (SELECT unnest(generate_series(0, ${m - 1})) AS sub) sx
       |), plut AS (
       |  SELECT q.query_id, q.label, q.sub, c.code,
       |    ${dotSql("q.sv", "q.sv")}
       |      - 2.0 * ${dotSql("q.sv", "c.c_arr")} + c.c2 AS d
       |  FROM pqs q JOIN pccF c USING (sub)
       |), scored AS (
       |  SELECT c.query_id, e._vid, ${pivotCols(m)}
       |  FROM penc e
       |  JOIN icand c ON c._vid = e._vid
       |  JOIN plut l ON l.query_id = c.query_id AND l.label = c.label
       |    AND l.sub = e.sub AND l.code = e.code
       |  WHERE e._vid <> c.query_id
       |  GROUP BY c.query_id, e._vid
       |)
       |${adcTopKSql(m, k)}""".stripMargin
  }

  /** sim16's twin: the shared Lloyd's chain, final-centroid arrays, one
    * more scored assignment, then the per-cluster inertia fold. */
  private def sim16Sql(k: Int, iters: Int): String = {
    s"""WITH ${kmeansCtes(k.toString, iters)},
       |carrf AS (
       |  SELECT label, list(centroid ORDER BY dim) AS c_arr
       |  FROM cent$iters GROUP BY label
       |), ccf AS (
       |  SELECT label, c_arr, ${dotSql("c_arr", "c_arr")} AS c2
       |  FROM carrf
       |), scoredf AS (
       |  SELECT e.vec_id, c.label,
       |    c.c2 - 2.0 * ${dotSql("e.embedding", "c.c_arr")} AS score,
       |    ${dotSql("e.embedding", "e.embedding")} AS x2
       |  FROM embeddings e CROSS JOIN ccf c
       |), bestf AS (
       |  SELECT vec_id, label, score, x2 FROM (
       |    SELECT sf.*, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY score ASC, label ASC) AS rn
       |    FROM scoredf sf) t
       |  WHERE rn = 1
       |)
       |SELECT label, count(*) AS cnt,
       |  ${sumExactSql("x2 + score")} AS inertia
       |FROM bestf GROUP BY label""".stripMargin
  }

  /** sim9's DuckDB twin: the same seeded Lloyd's loop unrolled as CTEs —
    * hash-sampled seeds (identical [[graft.functions.PortableHash]]
    * arithmetic), per-iteration decimal-exact (c·c − 2x·c) assignment
    * with label tiebreak, decimal-exact mean update, fixed `iters`. */
  private def sim9Sql(k: Int, iters: Int): String =
    s"""WITH ${kmeansCtes(k.toString, iters)}
       |SELECT label, dim, centroid, cnt FROM cent$iters""".stripMargin

  /** The unrolled-Lloyd's CTE chain (ex, seeds, cent0, asg/cent per
    * iteration) shared by sim9's and dd5's twins. `kExpr` is a SQL
    * scalar for k — a literal for sim9, a corpus-count-derived
    * subquery for dd5 (so the oracle tracks the derived-k discipline
    * across scale factors, like sim5's band width). */
  private def kmeansCtes(kExpr: String, iters: Int,
                         src: String = "embeddings"): String = {
    import graft.functions.PortableHash
    val seedHash = PortableHash.hash60Sql("CAST(vec_id AS VARCHAR)")
    val iterCtes = (1 to iters).map { it =>
      val prev = s"cent${it - 1}"
      val centSelect =
        if (it < iters)
          s"""cent$it AS (
             |  SELECT a.label, e.dim, ${avgExactSql("e.x")} AS centroid
             |  FROM asg$it a JOIN ex e USING (_vid)
             |  GROUP BY a.label, e.dim
             |)"""
        else
          s"""cent$it AS (
             |  SELECT a.label, e.dim, ${avgExactSql("e.x")} AS centroid,
             |    count(*) AS cnt
             |  FROM asg$it a JOIN ex e USING (_vid)
             |  GROUP BY a.label, e.dim
             |)"""
      s"""carr$it AS (
         |  SELECT label, list(centroid ORDER BY dim) AS c_arr
         |  FROM $prev GROUP BY label
         |), cc$it AS (
         |  SELECT label, c_arr, ${dotSql("c_arr", "c_arr")} AS c2
         |  FROM carr$it
         |), scored$it AS (
         |  SELECT e.vec_id AS _vid, c.label,
         |    c.c2 - 2.0 * ${dotSql("e.embedding", "c.c_arr")} AS score
         |  FROM $src e CROSS JOIN cc$it c
         |), asg$it AS (
         |  SELECT _vid, label FROM (
         |    SELECT _vid, label,
         |      row_number() OVER (PARTITION BY _vid
         |        ORDER BY score ASC, label ASC) AS rn
         |    FROM scored$it) t
         |  WHERE rn = 1
         |), $centSelect""".stripMargin
    }.mkString(", ")
    s"""ex AS (
       |  SELECT vec_id AS _vid, CAST(i AS BIGINT) AS dim,
       |    CAST(embedding[i] AS DOUBLE) AS x
       |  FROM (SELECT vec_id, embedding,
       |          unnest(generate_series(1, len(embedding))) AS i
       |        FROM $src) p
       |), seeds AS (
       |  SELECT vec_id AS _vid, CAST(rn - 1 AS BIGINT) AS label
       |  FROM (SELECT vec_id,
       |          row_number() OVER (ORDER BY $seedHash, vec_id) AS rn
       |        FROM $src) s
       |  WHERE rn <= $kExpr
       |), cent0 AS (
       |  SELECT label, dim, x AS centroid FROM seeds JOIN ex USING (_vid)
       |), $iterCtes""".stripMargin
  }

  /** dd5's DuckDB twin: the shared k-means chain with a corpus-derived
    * k, one more assignment round against the FINAL centroids (per-row
    * list_reduce folds against per-label centroid arrays — the exact
    * fold the Spark side runs), then the within-cluster smaller-id
    * max-cosine and the ≥ τ drop rule. */
  private def dd5Sql(kMin: Int, iters: Int, tau: Double): String = {
    s"""WITH params AS (
       |  SELECT greatest($kMin, CAST(round(sqrt(count(*)))
       |    AS BIGINT)) AS kk FROM embeddings
       |), ${kmeansCtes("(SELECT kk FROM params)", iters)},
       |centf AS (SELECT label, dim, centroid FROM cent$iters),
       |carr AS (
       |  SELECT label, list(centroid ORDER BY dim) AS c_arr
       |  FROM centf GROUP BY label
       |), cc AS (
       |  SELECT label, c_arr, ${dotSql("c_arr", "c_arr")} AS c2 FROM carr
       |), scored AS (
       |  SELECT e.vec_id AS _vid, c.label,
       |    c.c2 - 2.0 * ${dotSql("e.embedding", "c.c_arr")} AS score
       |  FROM embeddings e CROSS JOIN cc c
       |), asgf AS (
       |  SELECT _vid, label FROM (
       |    SELECT _vid, label,
       |      row_number() OVER (PARTITION BY _vid
       |        ORDER BY score ASC, label ASC) AS rn
       |    FROM scored) t
       |  WHERE rn = 1
       |), mv AS (
       |  SELECT a._vid, a.label, e.embedding,
       |    sqrt(${dotSql("e.embedding", "e.embedding")}) AS nrm
       |  FROM asgf a JOIN embeddings e ON e.vec_id = a._vid
       |), prior AS (
       |  SELECT b.label, b._vid,
       |    max(${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm))
       |      AS max_sim_prior
       |  FROM mv a JOIN mv b ON a.label = b.label AND a._vid < b._vid
       |  GROUP BY b.label, b._vid
       |)
       |SELECT m._vid AS vec_id, m.label,
       |  coalesce(p.max_sim_prior >= $tau, false) AS dropped,
       |  p.max_sim_prior
       |FROM mv m LEFT JOIN prior p
       |  ON p.label = m.label AND p._vid = m._vid""".stripMargin
  }

  /** sim6/sim8's DuckDB twin: same two-stage IVF (exact-decimal centroid
    * dots → top-`nprobe` cluster assignment → exact cosine top-k over
    * the probed union). */
  private def ivfSql(nprobe: Int): String =
      s"""WITH cent AS (
         |  SELECT label, CAST(i AS BIGINT) AS dim,
         |    ${sumExactSql("CAST(embedding[i] AS DOUBLE)")} / count(embedding[i]) AS centroid
         |  FROM (SELECT label, embedding,
         |          unnest(generate_series(1, len(embedding))) AS i
         |        FROM embeddings) p
         |  GROUP BY label, i
         |), qv AS (
         |  SELECT vec_id AS query_id, embedding,
         |    sqrt(${dotSql("embedding", "embedding")}) AS q_norm
         |  FROM embeddings WHERE vec_id < 40
         |), qe AS (
         |  SELECT query_id, CAST(i AS BIGINT) AS dim,
         |    CAST(embedding[i] AS DOUBLE) AS qv
         |  FROM (SELECT query_id, embedding,
         |          unnest(generate_series(1, len(embedding))) AS i
         |        FROM qv) p
         |), assign AS (
         |  SELECT query_id, label FROM (
         |    SELECT query_id, label,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY ${sumExactSql("qv * centroid")} DESC, label) AS rn
         |    FROM qe JOIN cent USING (dim)
         |    GROUP BY query_id, label) WHERE rn <= $nprobe
         |), nc AS (
         |  SELECT label, vec_id AS neighbor_id, embedding AS c_vec,
         |    sqrt(${dotSql("embedding", "embedding")}) AS c_norm
         |  FROM embeddings
         |)
         |SELECT query_id, label, neighbor_id, cos_sim, rank FROM (
         |  SELECT a.query_id, a.label, nc.neighbor_id,
         |    ${dotSql("qv.embedding", "nc.c_vec")} / (qv.q_norm * nc.c_norm)
         |      AS cos_sim,
         |    row_number() OVER (PARTITION BY a.query_id
         |      ORDER BY ${dotSql("qv.embedding", "nc.c_vec")} / (qv.q_norm * nc.c_norm) DESC,
         |        nc.neighbor_id) AS rank
         |  FROM assign a
         |  JOIN qv ON qv.query_id = a.query_id
         |  JOIN nc ON nc.label = a.label AND nc.neighbor_id <> a.query_id)
         |WHERE rank <= 5""".stripMargin
}
