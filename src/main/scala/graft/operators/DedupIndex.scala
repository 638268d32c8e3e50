package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.PortableHash

/** Incremental corpus dedup against a PERSISTED MinHash/LSH index — the
  * operation a real 100 TB ingest runs daily: dedup each arriving batch by
  * joining it against a durable band index, without ever re-shingling (or
  * even re-reading the text of) the historical corpus.
  *
  * Index layout under `root` (all parquet):
  *  - `meta`     one row (shingle_k, num_hashes, bands): the parameters
  *               the index was built with. Queries against the index MUST
  *               use these — [[incrementalDedup]] reads them itself, so a
  *               caller cannot mix parameterizations.
  *  - `shingles` (doc, sh_h): each historical doc's distinct 60-bit
  *               shingle hashes — what exact-Jaccard verification joins,
  *               so history is never re-tokenized.
  *  - `sig`      (doc, h0..h{n-1}, n_sh): minhash signatures + set sizes.
  *               Kept (tiny: one row per doc) so the index can be extended
  *               by [[appendBatch]].
  *  - `banded`   (doc, band, bsig): the LSH band table new batches
  *               equi-join against.
  *
  * Scale shape: an incoming batch of B docs against an index of N docs
  * costs O(B) shingle/signature work + one equi-join of B·bands rows
  * against the band index (hash shuffle or broadcast of the NEW side —
  * the index side is a plain columnar scan, prunable to the joined band
  * keys) + verification joins proportional to candidates. Nothing scans,
  * re-reads, or re-hashes historical TEXT; the plan's only old-corpus
  * inputs are index parquet scans (asserted in DedupIndexSpec).
  *
  * Contract: new-batch doc ids must be disjoint from ids already in the
  * index (enforce upstream; ingest pipelines key batches by monotone id
  * ranges). A replayed id would double its shingle rows in the
  * verification union and inflate `common`.
  */
object DedupIndex {

  /** Parameters the index was built with (persisted at `root/meta`). */
  case class IndexMeta(shingle_k: Int, num_hashes: Int, bands: Int)

  def readMeta(spark: SparkSession, root: String): IndexMeta = {
    // memoized meta row (graft.core.Frames): one footer job + one
    // collect job per (session, root) lifetime instead of per call;
    // every mutator below invalidates the root's entries
    val r = graft.core.Frames.headRow(spark, s"$root/meta")
    IndexMeta(r.getAs[Int]("shingle_k"), r.getAs[Int]("num_hashes"),
      r.getAs[Int]("bands"))
  }

  /** Hashed-shingle table (doc, sh_h) for a batch of docs — the narrow
    * per-doc CPU pass (regex tokenize → k-gram shingle → portable hash)
    * that runs exactly once per document's lifetime in the corpus. */
  private def shingleHashes(docs: DataFrame, idCol: String, textCol: String,
                            k: Int): DataFrame =
    Dedup.shingles(docs, idCol, textCol, k, Nil)
      .select(col("doc"), PortableHash.hash60(col("shingle")).as("sh_h"))

  /** Build the durable index from a historical corpus. Rows-per-band is
    * DERIVED from the corpus count ([[Dedup.deriveMinhashRows]]) and
    * frozen into `meta` — incremental batches reuse the stored
    * parameters, NOT a re-derivation (band signatures must be comparable
    * across the index's lifetime; rebuild to re-parameterize). */
  def buildMinhashIndex(docs: DataFrame, idCol: String, textCol: String,
                        root: String, shingleK: Int = 3, bands: Int = 4,
                        targetCollisions: Int = 8, minRows: Int = 2,
                        maxRows: Int = 8): IndexMeta = {
    val spark = docs.sparkSession
    import spark.implicits._
    val r = Dedup.deriveMinhashRows(docs.count(), targetCollisions,
      minRows, maxRows)
    val numHashes = bands * r
    Seq((shingleK, numHashes, bands))
      .toDF("shingle_k", "num_hashes", "bands")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/meta")
    shingleHashes(docs, idCol, textCol, shingleK)
      .write.mode("overwrite").parquet(s"$root/shingles")
    // each downstream stage reads the stage it depends on BACK from the
    // index (not the in-memory lineage): the build is restartable per
    // stage and the expensive shingle pass runs exactly once.
    val sh = spark.read.parquet(s"$root/shingles")
    Dedup.minhashSig(sh, numHashes)
      .write.mode("overwrite").parquet(s"$root/sig")
    val sig = spark.read.parquet(s"$root/sig")
    Dedup.bandedFromSig(sig, numHashes, bands)
      .write.mode("overwrite").parquet(s"$root/banded")
    graft.core.Frames.invalidate(root)
    IndexMeta(shingleK, numHashes, bands)
  }

  /** Dedup a NEW batch against the index: near-dup pairs (doc_a, doc_b,
    * common, jaccard) where at least one side is a new doc — new-vs-OLD
    * pairs come from band-joining the new batch's band rows against the
    * persisted band table; new-vs-NEW from a self-join of the (small)
    * batch band table. Identical output to running [[Dedup.minhashLsh]]
    * over old ∪ new and keeping only pairs touching the new batch
    * (the DuckDB oracle for dd4 does exactly that full recompute) — but
    * the old corpus contributes only index scans. */
  def incrementalDedup(spark: SparkSession, root: String, newDocs: DataFrame,
                       idCol: String, textCol: String,
                       jaccardThreshold: Double): DataFrame = {
    val meta = readMeta(spark, root)
    // the new batch's shingle table is consumed three times (signature
    // build + both sides of verification): persist EAGERLY, same
    // broadcast-race reasoning as minhashLsh.
    val shNew = shingleHashes(newDocs, idCol, textCol, meta.shingle_k)
      .persist(StorageLevel.MEMORY_AND_DISK)
    shNew.count()
    val sigNew = Dedup.minhashSig(shNew, meta.num_hashes)
      .persist(StorageLevel.MEMORY_AND_DISK)
    sigNew.count()
    val bandedNew = Dedup.bandedFromSig(sigNew, meta.num_hashes, meta.bands)
    val bandedOld = graft.core.Frames.parquet(spark, s"$root/banded")
    val newNew = bandedNew.as("a")
      .join(bandedNew.as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
    // new-vs-old joins are unordered (an old doc may have a larger or
    // smaller id than a new one): normalize to doc_a < doc_b.
    val newOld = bandedNew.as("a")
      .join(bandedOld.as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
          col("a.doc") =!= col("b.doc"))
      .select(least(col("a.doc"), col("b.doc")).as("doc_a"),
        greatest(col("a.doc"), col("b.doc")).as("doc_b"))
    val cands = newNew.union(newOld).distinct()
    val shOld = graft.core.Frames.parquet(spark, s"$root/shingles")
    val shAll = shNew.union(shOld)
    val sizesAll = sigNew.select(col("doc"), col("n_sh"))
      .union(graft.core.Frames.parquet(spark, s"$root/sig")
        .select(col("doc"), col("n_sh")))
    val common = cands
      .join(shAll.select(col("doc").as("doc_a"), col("sh_h")), Seq("doc_a"))
      .join(shAll.select(col("doc").as("doc_b"), col("sh_h")),
        Seq("doc_b", "sh_h"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizesAll.select(col("doc").as("doc_a"), col("n_sh").as("n_a")),
        "doc_a")
      .join(sizesAll.select(col("doc").as("doc_b"), col("n_sh").as("n_b")),
        "doc_b")
      .withColumn("jaccard", col("common").cast("double") /
        (col("n_a") + col("n_b") - col("common")).cast("double"))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("doc_a"), col("doc_b"), col("common"), col("jaccard"))
  }

  /** Extend the index with an accepted batch (run AFTER the dedup
    * decision; append the kept docs). Appends to all three tables —
    * `meta` is immutable, so signatures stay comparable forever. The
    * daily-ingest loop is: incrementalDedup(batch) → drop dups →
    * appendBatch(kept). */
  def appendBatch(spark: SparkSession, root: String, newDocs: DataFrame,
                  idCol: String, textCol: String): Unit = {
    val meta = readMeta(spark, root)
    val shNew = shingleHashes(newDocs, idCol, textCol, meta.shingle_k)
      .persist(StorageLevel.MEMORY_AND_DISK)
    shNew.count()
    shNew.write.mode("append").parquet(s"$root/shingles")
    val sigNew = Dedup.minhashSig(shNew, meta.num_hashes)
      .persist(StorageLevel.MEMORY_AND_DISK)
    sigNew.count()
    sigNew.write.mode("append").parquet(s"$root/sig")
    Dedup.bandedFromSig(sigNew, meta.num_hashes, meta.bands)
      .write.mode("append").parquet(s"$root/banded")
    shNew.unpersist()
    sigNew.unpersist()
    graft.core.Frames.invalidate(root)
  }
}
