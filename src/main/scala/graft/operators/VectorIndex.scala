package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.FixtureCache

/** Durable, incrementally-appendable IVF-PQ index — [[DedupIndex]]'s
  * persisted-index pattern applied to vectors. The deployment story the
  * JVM-local model memos cannot give: "train once / serve many" must
  * survive process exit, and a daily embedding ingest must encode only
  * the NEW batch against frozen models, never re-reading (or re-scoring)
  * historical floats.
  *
  * Index layout under `root` (all parquet):
  *  - `meta`       one row (dims, m, ks, iters, coarse_k, coarse_iters):
  *                 the parameters the models were trained with. Queries
  *                 and appends read them from the index itself, so a
  *                 caller cannot mix parameterizations.
  *  - `centroids`  (label, dim, centroid): the learned coarse quantizer
  *                 ([[Similarity.kmeansCentroids]]) — k·dims rows.
  *  - `codebooks`  (sub, code, c_arr): the PQ subspace codewords,
  *                 trained over RESIDUALS y − c(y) against the coarse
  *                 cells ([[ProductQuantization.trainResidual]] —
  *                 IVFADC, Jégou 2011 §IV.A) — m·ks rows.
  *  - `cells`      (_vid, label): coarse-cell membership of every
  *                 indexed vector (the IVF inverted lists).
  *  - `codes`      (_vid, codes[m]): the residual-encoded corpus, one
  *                 row per vector with its m codes sub-ordered (the
  *                 contiguous layout a real PQ index keeps) — the only
  *                 per-vector state an ADC query ever touches.
  *  - `vectors`    (_vid, vec): the raw float arrays — [[DedupIndex]]'s
  *                 `shingles` analog: the exact-verification payload.
  *                 ADC queries NEVER scan it (VectorIndexSpec pins
  *                 that); it serves exact re-rank, which needs
  *                 history's floats without re-reading (or depending on
  *                 the existence of) the source corpus.
  *
  * Scale shape: models are KB-scale (k·dims + m·ks·subDim doubles) —
  * driver read + broadcast. [[appendBatch]] costs O(B) encode work for a
  * B-vector batch (two broadcast joins + hash aggs; history untouched).
  * [[query]] is the sim11 plan with the training stages replaced by
  * index scans: probes (Q·nprobe rows) broadcast against the `cells`
  * list, ADC scoring against `codes` through the broadcast LUT — the
  * only corpus-sized inputs are columnar index scans, prunable and
  * append-friendly (VectorIndexSpec pins the plan to index-root-only
  * file scans).
  *
  * Freezing contract: `meta`/`centroids`/`codebooks` are immutable after
  * [[build]] — appended codes must stay comparable to historical codes
  * forever (same Voronoi cells, same codewords). Re-train ⇒ rebuild.
  * Batch ids must be disjoint from ids already indexed (enforce
  * upstream, as in [[DedupIndex]]).
  *
  * Determinism: training, encoding and ADC inherit the sim9/sim10
  * arithmetic (seeded Lloyd's, per-row sequential folds, fixed-order
  * ADC sums), so query results hash-match a DuckDB twin that unrolls
  * training over the HISTORICAL slice and encodes old ∪ new — the
  * honest "index ≡ from-scratch" oracle (sim18 in SimilarityQueries).
  */
object VectorIndex {

  /** Parameters the index was built with (persisted at `root/meta`).
    * `enc` names the code semantics: "residual" (IVFADC — codes quantize
    * y − c(y)) is the only encoding this version builds or serves; a
    * pre-residual root reads back as "raw" and is refused with a
    * rebuild instruction rather than silently decoded against the wrong
    * ball. */
  case class VMeta(dims: Int, m: Int, ks: Int, iters: Int,
                   coarseK: Int, coarseIters: Int,
                   enc: String = "residual") {
    def subDim: Int = dims / m
  }

  def readMeta(spark: SparkSession, root: String): VMeta = {
    val r = spark.read.parquet(s"$root/meta").collect().head
    val enc = if (r.schema.fieldNames.contains("enc"))
      r.getAs[String]("enc") else "raw"
    VMeta(r.getAs[Int]("dims"), r.getAs[Int]("m"), r.getAs[Int]("ks"),
      r.getAs[Int]("iters"), r.getAs[Int]("coarse_k"),
      r.getAs[Int]("coarse_iters"), enc)
  }

  /** The FROZEN per-root artifacts (meta, PQ model, collected centroid
    * rows), served from [[graft.core.FixtureCache.memo]]: every
    * [[query]]/[[health]] call was paying three separate collect jobs +
    * parquet footer reads for models the freezing contract declares
    * IMMUTABLE after build — measured as the bulk of the index query's
    * fixed latency (a ~1.8 s warm query carried ~19 sub-100 ms jobs and
    * driver gaps, no heavy stage).
    *
    * Staleness + aliasing (ADVICE r10): the memo key is the
    * FileSystem-QUALIFIED root (so `/x`, `/x/`, and a relative spelling
    * of the same dir share one entry), and its token is the
    * [[graft.core.FixtureCache.fingerprint]] of the root's `meta` (ONE
    * FS listing, trivial next to any query it fronts). A rebuild — in
    * this JVM or another process — rewrites `meta`, the token changes,
    * and the entry reloads instead of serving the dead build's models;
    * appends/deletes/compact don't touch the frozen tables. */
  private def frozen(spark: SparkSession, root: String)
      : (VMeta, ProductQuantization.PqModel, DataFrame) = {
    val q = FixtureCache.qualify(spark, root)
    val (meta, model, rows, schema) =
      FixtureCache.memo(q, FixtureCache.fingerprint(spark, s"$q/meta")) {
        val meta = readMeta(spark, q)
        val cent = spark.read.parquet(s"$q/centroids")
        (meta, readPqModel(spark, q, meta), cent.collect(), cent.schema)
      }
    (meta, model, Similarity.centroidArrays(
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)))
  }

  /** The freezing contract extended to the CODE SEMANTICS: appends and
    * queries against codes that quantize a different quantity than this
    * version writes would be silently wrong, never slow. */
  private def requireResidual(meta: VMeta, root: String): Unit =
    require(meta.enc == "residual",
      s"index at $root uses '${meta.enc}' codes (pre-IVFADC layout); " +
        "re-run build() to upgrade — frozen codes cannot be converted")

  /** Rebuild the driver-side PQ model from the persisted codebooks. */
  def readPqModel(spark: SparkSession, root: String,
                  meta: VMeta): ProductQuantization.PqModel = {
    val cb = spark.read.parquet(s"$root/codebooks").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toSeq))
      .sortBy(t => (t._1, t._2)).toSeq
    ProductQuantization.PqModel(meta.m, meta.subDim, cb)
  }

  /** Train both models on `vecs` (the historical corpus), persist them,
    * and index the corpus itself. Training is the one-off expensive
    * stage (two seeded Lloyd's runs); everything downstream — appends
    * and queries — reads the frozen artifacts. */
  def build(vecs: DataFrame, idCol: String, vecCol: String, root: String,
            dims: Int, m: Int = 8, ks: Int = 8, iters: Int = 2,
            coarseK: Int = 8, coarseIters: Int = 2): VMeta = {
    require(dims % m == 0)
    val spark = vecs.sparkSession
    import spark.implicits._
    val meta = VMeta(dims, m, ks, iters, coarseK, coarseIters)
    // BOTH trainings run to completion BEFORE anything is deleted: a
    // rebuild whose Lloyd's iterations throw (degenerate input, executor
    // loss) must leave the old serving index untouched. The models are
    // KB-scale, so forcing them to the driver here is free; only after
    // both exist does the destructive phase start. (The remaining
    // crash window is the write phase below — model writes are
    // mode("overwrite") and the append-mode tables are rebuilt from the
    // same call's inputs, so a re-run of build() repairs it.)
    val centDf = Similarity
      .kmeansCentroids(vecs, idCol, vecCol, coarseK, coarseIters)
      .select(col("label"), col("dim"), col("centroid"))
    val centRows = centDf.collect() // training happens HERE
    // PQ trains over RESIDUALS against the just-trained coarse cells
    // (IVFADC): the codebook learned here is only meaningful next to
    // THESE centroids, which is why both freeze together.
    val centLocal = spark.createDataFrame(
      java.util.Arrays.asList(centRows: _*), centDf.schema)
    val model = ProductQuantization.trainResidual(vecs, idCol, vecCol,
      Similarity.centroidArrays(centLocal), dims, m, ks, iters)
    // Rebuild into a previously-used root must not keep the old corpus:
    // appendBatch uses mode("append"), so stale cells/codes/vectors (and
    // tombstones for ids about to be re-indexed) would duplicate every
    // row and mask live ones. Clear the append-mode tables first.
    // (A same-JVM rebuild never serves the PREVIOUS build's memoized
    // models: the meta rewrite below changes the memo token.)
    val fs = FixtureCache.fs(spark, root)
    Seq("cells", "codes", "vectors", "tombstones").foreach { t =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/$t"), true)
    }
    Seq((dims, m, ks, iters, coarseK, coarseIters, "residual"))
      .toDF("dims", "m", "ks", "iters", "coarse_k", "coarse_iters", "enc")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/meta")
    centLocal
      .coalesce(1).write.mode("overwrite").parquet(s"$root/centroids")
    model.cb.toDF("sub", "code", "c_arr")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/codebooks")
    appendBatch(spark, root, vecs, idCol, vecCol)
    meta
  }

  /** Encode a NEW batch against the frozen models and append it to the
    * inverted lists — the daily-ingest step. O(batch) work: history
    * contributes nothing to this plan. */
  def appendBatch(spark: SparkSession, root: String, vecs: DataFrame,
                  idCol: String, vecCol: String): Unit = {
    val (meta, model, centArr) = frozen(spark, root)
    requireResidual(meta, root)
    val members = Similarity.assignToCentroidArrays(vecs, idCol, vecCol,
      centArr)
    // codes quantize the batch's RESIDUALS against the frozen coarse
    // cells — the cell list and the codes must agree on the assignment,
    // which they do by construction (both derive from `members`).
    // Stored PIVOTED (_vid, codes[m]) — the contiguous layout a real PQ
    // index keeps, and the shape the no-explosion scoring join needs.
    ProductQuantization.pivotCodes(
        ProductQuantization.encode(
          ProductQuantization.residualsFor(vecs, idCol, vecCol, members,
            centArr), "_vid", "rvec", model), meta.m)
      .write.mode("append").parquet(s"$root/codes")
    members.write.mode("append").parquet(s"$root/cells")
    vecs.select(col(idCol).as("_vid"), col(vecCol).as("vec"))
      .write.mode("append").parquet(s"$root/vectors")
    graft.core.Frames.invalidate(root)
  }

  /** ANN top-k against the persisted index: probe each query's `nprobe`
    * nearest coarse cells, ADC-score only their members. Identical
    * result to [[ProductQuantization.ivfPqTopKWith]] over the full
    * LIVE (non-deleted) corpus with the frozen models — but the corpus
    * contributes only `cells`/`codes` index scans (no float reships, no
    * re-encode); deleted ids are masked by an anti-join against the
    * tombstone set (see [[deleteIds]]).
    * Output: (query_id, neighbor_id, adc_dist, rank ≤ k). */
  def query(spark: SparkSession, root: String, queries: DataFrame,
            idCol: String, vecCol: String, nprobe: Int,
            k: Int): DataFrame = {
    require(nprobe >= 1 && k >= 1)
    FixtureCache.healSwaps(spark, root, Compacted)
    val (meta, model, centArr) = frozen(spark, root)
    requireResidual(meta, root)
    val probes = Similarity.assignToCentroidArrays(queries, idCol, vecCol,
        centArr, nprobe)
      .select(col("_vid").as("query_id"), col("label"))
    // probes (Q·nprobe rows) broadcast against the N-row cell list — the
    // member side is the one that scales, it must never reshuffle on a
    // k-value key (the sim11 discipline). IVFADC: the LUT is rebuilt
    // from the query's residual against each probed centroid —
    // (query, label)-keyed maps, Q·nprobe rows of m·ks doubles.
    ProductQuantization.adcRankCells(
      graft.core.Frames.parquet(spark, s"$root/codes"),
      ProductQuantization.lutMaps(ProductQuantization.adcLutResidual(
        ProductQuantization.queryResiduals(queries, idCol, vecCol,
          probes, centArr), model)),
      meta.m, k,
      masked(spark, root,
        graft.core.Frames.parquet(spark, s"$root/cells")), probes)
  }

  /** [[query]] + exact re-ranking — the IVFADC+R serving topology
    * (Jégou, Tavenard, Douze & Amsaleg 2011, "Searching in one billion
    * vectors: re-rank with source coding", simplified to source-VECTOR
    * rescoring since this index keeps the floats): retrieve a
    * `shortlist`-deep candidate list by ADC, fetch ONLY those
    * candidates' stored vectors, exact-L2 rescore, return top-`k`.
    * Refinement converts the quantization error that caps pure-ADC
    * recall into a small constant-factor fetch: the corpus still
    * contributes only `cells`/`codes` index scans plus Q·shortlist
    * vector rows moving through one hash equi-join on `_vid` —
    * shortlist is the recall/IO knob (R in the paper, recall@k rises
    * toward recall-of-shortlist as R grows).
    *
    * Ranking uses d² − ‖q‖² = ‖c‖² − 2·q·c (the sim20 discipline:
    * the per-query constant drops, order is unchanged), both dots the
    * shared sequential folds, (score, id) tiebreak — so the output is
    * hash-oracle-able end to end.
    * Output: (query_id, neighbor_id, d2_shifted, rank ≤ k).
    * `d2_shifted` is the SHIFTED score ‖c‖² − 2·q·c — the true squared
    * distance minus the per-query constant ‖q‖², so it can be NEGATIVE
    * and is comparable only within one query_id (ADVICE r11: the former
    * name `d2` invited reading it as the distance itself). */
  def queryRefined(spark: SparkSession, root: String, queries: DataFrame,
                   idCol: String, vecCol: String, nprobe: Int,
                   shortlist: Int, k: Int): DataFrame = {
    require(shortlist >= k && k >= 1)
    val cand = query(spark, root, queries, idCol, vecCol, nprobe,
        shortlist)
      .select(col("query_id"), col("neighbor_id"))
    // candidates are already tombstone-masked by query(); the vector
    // fetch is Q·shortlist rows against the _vid-keyed vectors table
    val cv = graft.core.Frames.parquet(spark, s"$root/vectors")
      .select(col("_vid").as("neighbor_id"), col("vec").as("_cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("d2_shifted").asc, col("neighbor_id").asc)
    cand.join(cv, "neighbor_id")
      .join(broadcast(q), "query_id")
      .withColumn("d2_shifted",
        Similarity.dotSeq(col("_cv"), col("_cv"))
          - lit(2.0) * Similarity.dotSeq(col("_qv"), col("_cv")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("d2_shifted"),
        col("rank"))
  }

  private def tombstonePath(root: String) = s"$root/tombstones"

  /** Filesystem-agnostic existence check (a java.io.File test would
    * silently skip tombstones on HDFS/S3 roots — the 100 TB deployment
    * target — and return deleted vectors). */
  private def hasTombstones(spark: SparkSession, root: String): Boolean =
    FixtureCache.fs(spark, root)
      .exists(new org.apache.hadoop.fs.Path(tombstonePath(root)))

  private def masked(spark: SparkSession, root: String,
                     df: DataFrame): DataFrame =
    if (!hasTombstones(spark, root)) df
    else df.join(graft.core.Frames.parquet(spark, tombstonePath(root)),
      Seq("_vid"), "left_anti")

  /** DELETE by id: append the ids to a tombstone set — O(batch) like
    * [[appendBatch]], no index rewrite. Queries anti-join the tombstones
    * at the candidate stage (deleted vectors stop being returned
    * immediately); the dead rows in `cells`/`codes`/`vectors` are
    * reclaimed by [[compact]]. The GDPR-delete / retraction shape: a
    * daily ingest appends AND deletes without ever touching the frozen
    * models. */
  def deleteIds(spark: SparkSession, root: String, ids: DataFrame,
                idCol: String): Unit = {
    ids.select(col(idCol).as("_vid")).distinct()
      .write.mode("append").parquet(tombstonePath(root))
    graft.core.Frames.invalidate(root)
  }

  /** Index HEALTH / drift profile — the retrain trigger for the frozen
    * models: per coarse cell, the live member count and the mean/max
    * squared distance to the cell centroid (x·x + (c·c − 2x·c), the
    * assignment scores re-derived from one `vectors` index scan +
    * broadcast centroids — history text/floats are already IN the
    * index, nothing external is read). A drifting ingest shows up as
    * growing mean distance and lopsided cell counts: quantization error
    * rises because the Voronoi partition no longer fits the data, and
    * that is the signal to re-train + rebuild. Decimal-exact distance
    * folds, so the frame is deterministic.
    *
    * `recallSample > 0` adds the SERVING-QUALITY gate (VERDICT r8 #7):
    * geometry alone can miss a drift that hurts answers, so health also
    * measures what users get — a deterministic sample of indexed
    * vectors (smallest (hash60(id), id), via TakeOrdered — no global
    * sort shuffle) is queried through the real ADC path and compared to
    * the exact top-`recallK` re-rank over `vectors` (sim20's plan:
    * corpus × broadcast(sample), bounded by the sample size). Each
    * query's recall is attributed to its HOME cell, so a drifted ingest
    * shows up as low `recall_at_k` in exactly the cells it polluted —
    * the retrain trigger becomes quality-based, not only geometric.
    *
    * Output: (label, n_members, mean_sq_dist, max_sq_dist) plus, when
    * sampled, (recall_at_k, n_recall_queries) — null for cells that drew
    * no sampled query. */
  def health(spark: SparkSession, root: String, recallSample: Int = 0,
             recallK: Int = 10, nprobe: Int = 2): DataFrame = {
    FixtureCache.healSwaps(spark, root, Compacted)
    val centArr = frozen(spark, root)._3
    val vecs = masked(spark, root,
      graft.core.Frames.parquet(spark, s"$root/vectors"))
    // membership comes from the STORED cells (what queries actually
    // serve), not a re-assignment — one distance fold per vector
    val base = vecs.join(
      graft.core.Frames.parquet(spark, s"$root/cells"), "_vid")
      .join(broadcast(centArr), "label")
      .select(col("label"),
        (Similarity.dotSeq(col("vec"), col("vec")) + col("c2") -
          lit(2.0) * Similarity.dotSeq(col("vec"), col("c_arr")))
          .as("sq_dist"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_members"),
        graft.functions.ExactNum.avgExact(col("sq_dist"))
          .as("mean_sq_dist"),
        max(col("sq_dist")).as("max_sq_dist"))
    if (recallSample <= 0) return base
    import org.apache.spark.sql.expressions.Window
    val sample = vecs.join(
      graft.core.Frames.parquet(spark, s"$root/cells"), "_vid")
      .orderBy(graft.functions.PortableHash
        .hash60(col("_vid").cast("string")), col("_vid"))
      .limit(recallSample)
      .select(col("_vid").as("query_id"), col("vec").as("qv"),
        col("label").as("home"))
    val probe = sample.select(col("query_id"), col("qv"))
    // self-exclusion must be SYMMETRIC: truth drops the query point, so
    // the ANN side must too — otherwise the query's own near-zero ADC
    // distance occupies one of the k slots and a perfect index caps at
    // (k-1)/k recall, permanently tripping any absolute retrain
    // threshold. Ask for k+1, drop self, leaving k true slots.
    // after dropping self, keep only the top recallK survivors (the
    // rows carry ranks): when a degraded index FAILS to retrieve the
    // query's own vector, all k+1 candidates survive the filter and
    // would score against k truth slots — inflating recall_at_k by up
    // to 1/k exactly for the polluted cells this gate exists to flag
    val wAnn = Window.partitionBy(col("query_id")).orderBy(col("rank").asc)
    val ann = query(spark, root, probe, "query_id", "qv",
        nprobe = nprobe, k = recallK + 1)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("_rk", row_number().over(wAnn))
      .filter(col("_rk") <= recallK)
      .select(col("query_id"), col("neighbor_id"))
    val c = vecs.select(col("_vid").as("neighbor_id"),
      col("vec").as("cv"),
      Similarity.dotSeq(col("vec"), col("vec")).as("c2x"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("d2").asc, col("neighbor_id").asc)
    val truth = c.crossJoin(broadcast(probe))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("d2", col("c2x") -
        lit(2.0) * Similarity.dotSeq(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= recallK)
      .select(col("query_id"), col("neighbor_id"))
    val perQuery = truth
      .join(ann, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
      .join(sample.select(col("query_id"), col("home")),
        Seq("query_id"), "right")
      .select(col("home").as("label"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") /
          lit(recallK.toDouble)).as("q_recall"))
    base.join(
      perQuery.groupBy(col("label"))
        .agg(graft.functions.ExactNum.avgExact(col("q_recall"))
            .as("recall_at_k"),
          count(lit(1)).as("n_recall_queries")),
      Seq("label"), "left")
  }

  /** The tables [[compact]] rewrites in place (healed before every
    * compact/query/health). */
  private val Compacted = Seq("cells", "codes", "vectors")

  /** Rewrite `cells`/`codes`/`vectors` without tombstoned rows and drop
    * the tombstone set — the periodic space-reclaim pass. The frozen
    * models are untouched, so surviving codes stay valid verbatim.
    *
    * Crash-safety is [[graft.core.FixtureCache.swapTables]]'s: all three
    * compacted copies are fully written BEFORE any live table is
    * touched, and a crash mid-swap heals on the next compact/query/health
    * ([[graft.core.FixtureCache.healSwaps]]). Tombstones are dropped
    * only after all three swaps land. */
  def compact(spark: SparkSession, root: String): Unit = {
    FixtureCache.healSwaps(spark, root, Compacted)
    if (!hasTombstones(spark, root)) return
    FixtureCache.swapTables(spark, root, Compacted.map(t =>
      t -> masked(spark, root, spark.read.parquet(s"$root/$t"))))
    FixtureCache.fs(spark, root)
      .delete(new org.apache.hadoop.fs.Path(tombstonePath(root)), true)
    graft.core.Frames.invalidate(root)
  }
}
