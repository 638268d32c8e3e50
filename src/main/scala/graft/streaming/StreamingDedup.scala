package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, KeyValueGroupedDataset, SparkSession}
import org.apache.spark.sql.functions.{col, collect_list, concat, concat_ws,
  explode, lit, slice, struct}
import org.apache.spark.sql.streaming.{ListState, OutputMode,
  StatefulProcessorWithInitialState, TTLConfig, TimeMode, TimerValues}
import graft.operators.{Dedup, DedupIndex}
import scala.reflect.runtime.universe.TypeTag

/** Near-duplicate detection on an UNBOUNDED document stream — the
  * production LLM-ingest shape: every arriving document is checked against
  * everything already ingested, without ever re-scanning the corpus.
  *
  * Design: [[Dedup.minhashBands]] computes a per-row MinHash signature
  * (portable permutation family, no shuffle) and explodes it into LSH
  * band buckets; a `transformWithState` processor keyed on the bucket
  * holds each bucket's members in a `ListState` and emits a candidate
  * pair the moment a new arrival lands in a bucket with prior members —
  * across micro-batches, which is the point: state IS the index.
  *
  * State bounding, two mechanisms (both required at 100 TB):
  *  - TTL eviction (`ttl`): members expire after the configured horizon,
  *    so the index holds a sliding working set, not the full history —
  *    the transformWithState-native analog of watermark eviction.
  *  - `maxPerBucket` cap: a degenerate bucket (e.g. the empty-document
  *    signature, or boilerplate-heavy shingles) stops absorbing members
  *    instead of growing a hot key without bound.
  * With the RocksDB provider, per-bucket state lives off-heap/on-disk, so
  * executor memory bounds the working set, not total index size.
  *
  * Output pairs are candidates (same pair can fire in several bands —
  * run `.dropDuplicates("doc_a","doc_b")` downstream, itself a bounded
  * stateful operator under the same TTL reasoning); `sig_agree` is the
  * fraction of agreeing minhash components, an unbiased Jaccard estimate
  * — threshold it or verify exactly against stored shingles downstream.
  */
object StreamingDedup {

  /** Candidate near-dup pair with the minhash Jaccard estimate. */
  case class CandidatePair(doc_a: Long, doc_b: Long, sig_agree: Double)

  /** A bucket member carrying its exact-verification payload `P` (the
    * distinct shingle-hash set for text, the vector for embeddings). */
  case class VMember[P](doc: Long, sig: Seq[Long], payload: P)

  /** A candidate that PASSED exact verification: `sig_agree` is the
    * sketch estimate that generated it, `sim` the exact similarity
    * (Jaccard for text, cosine for embeddings) that confirmed it, and
    * `dup_doc` the member that arrived LATER — under keep-first ingest
    * semantics this is the drop decision, directly consumable by a
    * downstream filter (the stored earlier arrival stays). */
  case class VerifiedPair(doc_a: Long, doc_b: Long, sig_agree: Double,
                          sim: Double, dup_doc: Long)

  /** One bucket's warm-start payload: the HISTORICAL members seeded into
    * the bucket before the first micro-batch (grouped to ONE row per
    * bucket key — the initial-state API hands each key a single value). */
  case class BucketInit[P](members: Seq[VMember[P]])

  /** THE bucket processor — the unverified candidate index is the
    * trivial-payload / always-pass instance of it, so the bucket
    * semantics (dup-skip, cap, TTL, pair emission) exist exactly once.
    *
    * A candidate is emitted ONLY when `exactSim` of the two members'
    * payloads clears `threshold` — with a real verifier, signature
    * agreement alone (a sketch collision) cannot drop or surface a
    * document: the LSH index proposes, the exact check disposes, all
    * inside the keyed state so no second join against the corpus is
    * needed (the payload rides the bucket state; `maxPerBucket` ×
    * payload size bounds it — the trade documented on
    * [[nearDupVerified]]).
    *
    * Cap semantics: an arrival when the bucket is FULL is neither stored
    * NOR compared — the cap closes a degenerate bucket for output as
    * well as state (mirroring the batch annLsh membership cap, where
    * members beyond `maxBucket` don't participate at all). Emitting
    * without storing would also break at-least-once idempotence: a
    * redelivered over-cap doc would re-emit its pairs on every delivery,
    * since only stored docs are recognized as duplicates. */
  class VerifyingBucketProcessor[P](maxPerBucket: Int, ttl: TTLConfig,
      threshold: Double, enc: org.apache.spark.sql.Encoder[VMember[P]],
      exactSim: (P, P) => Double)
      extends StatefulProcessorWithInitialState[String,
        (String, Long, Seq[Long], P), VerifiedPair, BucketInit[P]] {
    @transient private var members: ListState[VMember[P]] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      members = getHandle.getListState[VMember[P]]("vmembers", enc, ttl)

    /** Warm start ([[nearDupVerifiedWarm]]): seed the bucket with its
      * historical members — index docs only OCCUPY state (their mutual
      * pairs were already decided at batch time; re-emitting them would
      * duplicate the batch output), so no pairs are emitted here. Cap
      * semantics match arrival order by doc id: the EARLIEST historical
      * docs hold the slots, the same keep-first rule the live path
      * applies. Extending `StatefulProcessorWithInitialState` costs the
      * cold-start path nothing — without an initial state this class
      * behaves exactly as a plain `StatefulProcessor`. */
    override def handleInitialState(key: String, init: BucketInit[P],
                                    timers: TimerValues): Unit = {
      val seen = scala.collection.mutable.HashSet.empty[Long]
      init.members.sortBy(_.doc)
        .iterator.filter(m => seen.add(m.doc)).take(maxPerBucket)
        .foreach(members.appendValue)
    }

    override def handleInputRows(key: String,
        rows: Iterator[(String, Long, Seq[Long], P)],
        timers: TimerValues): Iterator[VerifiedPair] = {
      val existing = scala.collection.mutable.ArrayBuffer.empty[VMember[P]]
      members.get().foreach(existing += _)
      val out = scala.collection.mutable.ArrayBuffer.empty[VerifiedPair]
      rows.foreach { case (_, doc, sig, payload) =>
        // source-level duplicate delivery of the same doc (Kafka
        // at-least-once, file re-listing) must be a no-op: re-appending
        // would bloat ListState, burn maxPerBucket slots, and re-emit
        // the same candidate pairs every delivery. A full bucket admits
        // nothing (see class doc).
        if (existing.size < maxPerBucket && !existing.exists(_.doc == doc)) {
          existing.foreach { m =>
            val agree = m.sig.iterator.zip(sig.iterator)
              .count { case (x, y) => x == y }.toDouble / sig.length
            val sim = exactSim(m.payload, payload)
            if (sim >= threshold)
              out += VerifiedPair(math.min(m.doc, doc), math.max(m.doc, doc),
                agree, sim, dup_doc = doc)
          }
          val m = VMember(doc, sig, payload)
          members.appendValue(m)
          existing += m
        }
      }
      out.iterator
    }
  }

  /** Pass-through verifier for the unverified candidate index. */
  private val AlwaysPass: (Seq[Long], Seq[Long]) => Double = (_, _) => 1.0

  /** Exact Jaccard over two DISTINCT shingle-hash sets. */
  private[graft] def jaccardSets(a: Seq[Long], b: Seq[Long]): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    val as = a.toSet
    val inter = b.count(as.contains)
    val union = as.size + b.size - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  /** Exact cosine via the same sequential double fold as the batch
    * [[graft.operators.Similarity.dotSeq]]. */
  private[graft] def cosineSeq(a: Seq[Float], b: Seq[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; i += 1
    }
    i = 0
    while (i < a.length) { val x = a(i).toDouble; na += x * x; i += 1 }
    i = 0
    while (i < b.length) { val x = b(i).toDouble; nb += x * x; i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** THE bucket stream every operator below runs: a pre-banded stream
    * (bucket_key, doc, sig, payload) grouped by bucket through
    * [[VerifyingBucketProcessor]], seeded with `init` (one [[BucketInit]]
    * per bucket) on a warm start. TTL state requires the processing-time
    * mode; without a TTL the cheaper no-time mode suffices (bounding then
    * rests on maxPerBucket). */
  private def bucketStream[P: TypeTag](spark: SparkSession, banded: DataFrame,
      maxPerBucket: Int, ttl: TTLConfig, threshold: Double,
      sim: (P, P) => Double,
      init: Option[KeyValueGroupedDataset[String, BucketInit[P]]] = None)
      : Dataset[VerifiedPair] = {
    import spark.implicits._
    val mode =
      if (ttl == TTLConfig.NONE) TimeMode.None() else TimeMode.ProcessingTime()
    val buckets = banded.as[(String, Long, Seq[Long], P)].groupByKey(_._1)
    val proc = new VerifyingBucketProcessor[P](maxPerBucket, ttl, threshold,
      Encoders.product[VMember[P]], sim)
    init match {
      case None => buckets.transformWithState(proc, mode, OutputMode.Append())
      case Some(i) =>
        buckets.transformWithState(proc, mode, OutputMode.Append(), i)
    }
  }

  /** Historical bucket members (bucket_key, doc, sig, payload) grouped to
    * ONE [[BucketInit]] row per bucket key — the initial-state API hands
    * each key a single value. One shuffle (groupBy bucket_key). */
  private def bucketInits[P: TypeTag](spark: SparkSession, banded: DataFrame)
      : KeyValueGroupedDataset[String, BucketInit[P]] = {
    import spark.implicits._
    banded
      .groupBy(col("bucket_key"))
      .agg(collect_list(struct(col("doc"), col("sig"), col("payload")))
        .as("members"))
      .as[(String, Seq[VMember[P]])]
      .map { case (k, ms) => (k, BucketInit(ms)) }
      .groupByKey(_._1).mapValues(_._2)
  }

  /** Verified text variant over a pre-banded stream (bucket_key, doc,
    * sig, shh) — exposed for spec-level fault injection (planted
    * signature collisions); production callers use [[nearDupVerified]]. */
  def verifiedText(spark: SparkSession, banded: DataFrame,
                   maxPerBucket: Int, ttl: TTLConfig,
                   jaccardThreshold: Double,
                   sim: (Seq[Long], Seq[Long]) => Double = jaccardSets)
      : Dataset[VerifiedPair] =
    bucketStream[Seq[Long]](spark, banded, maxPerBucket, ttl,
      jaccardThreshold, sim)

  /** Unverified candidate index = the verifying processor with an empty
    * payload and a pass-through verifier (ONE bucket algorithm; a
    * `sig_agree`-only estimate comes out). */
  private def bucketed(spark: SparkSession, banded: DataFrame,
                       maxPerBucket: Int, ttl: TTLConfig): Dataset[CandidatePair] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, typedLit}
    verifiedText(spark,
        banded.select(col("bucket_key"), col("doc"), col("sig"),
          typedLit(Seq.empty[Long]).as("shh")),
        maxPerBucket, ttl, jaccardThreshold = 0.0, sim = AlwaysPass)
      .map(v => CandidatePair(v.doc_a, v.doc_b, v.sig_agree))
  }

  /** The TEXT stream operator: docs (idCol, textCol) → candidate near-dup
    * pairs, emitted as soon as both members have arrived (any order, any
    * micro-batch gap within the TTL horizon). */
  def nearDupCandidates(spark: SparkSession, docs: DataFrame,
                        idCol: String, textCol: String,
                        shingleK: Int = 3, numHashes: Int = 16,
                        bands: Int = 4, maxPerBucket: Int = 64,
                        ttl: TTLConfig = TTLConfig.NONE): Dataset[CandidatePair] =
    bucketed(spark,
      Dedup.minhashBands(docs, idCol, textCol, shingleK, numHashes, bands),
      maxPerBucket, ttl)

  /** The text ingest GATE: LSH bucket candidates verified with EXACT
    * Jaccard before emission — a signature collision (same band values,
    * dissimilar documents) is rejected inside the processor, so emitted
    * pairs are safe to act on (drop/keep decisions), unlike
    * [[nearDupCandidates]]'s sketch-only estimates.
    *
    * State trade: each bucket member carries its distinct shingle-hash
    * set (~8 bytes/shingle), so state is
    * O(buckets · maxPerBucket · shingles/doc) instead of
    * O(buckets · maxPerBucket · numHashes). The alternative — joining
    * candidates back against a corpus store — needs a second stateful
    * stage over the full corpus; carrying the set keeps verification
    * local to the bucket and is the right trade while
    * maxPerBucket · shingle-set stays executor-sized (RocksDB holds it
    * off-heap). */
  def nearDupVerified(spark: SparkSession, docs: DataFrame,
                      idCol: String, textCol: String,
                      shingleK: Int = 3, numHashes: Int = 16,
                      bands: Int = 4, maxPerBucket: Int = 64,
                      ttl: TTLConfig = TTLConfig.NONE,
                      jaccardThreshold: Double = 0.5): Dataset[VerifiedPair] =
    verifiedText(spark,
      Dedup.minhashBands(docs, idCol, textCol, shingleK, numHashes, bands,
        keepShingles = true),
      maxPerBucket, ttl, jaccardThreshold)

  /** Rebuild the streaming bucket state from a PERSISTED
    * [[graft.operators.DedupIndex]] — the bridge between the daily batch
    * ingest and the live stream: the index's signature table already
    * holds every historical doc's minhash values, so the streaming bucket
    * keys (band prefix + raw band signature values) are reconstructed
    * from index SCANS — history is never re-shingled, the same guarantee
    * the batch incremental path gives. */
  def warmStartTextState(spark: SparkSession, indexRoot: String)
      : KeyValueGroupedDataset[String, BucketInit[Seq[Long]]] = {
    val meta = DedupIndex.readMeta(spark, indexRoot)
    val rows = meta.num_hashes / meta.bands
    val sigArr = org.apache.spark.sql.functions.array(
      (0 until meta.num_hashes).map(i => col(s"h$i")): _*)
    val shSets = spark.read.parquet(s"$indexRoot/shingles")
      .groupBy(col("doc")).agg(collect_list(col("sh_h")).as("payload"))
    val banded = spark.read.parquet(s"$indexRoot/sig")
      .select(col("doc"), sigArr.as("sig"))
      .join(shSets, "doc")
      .select(col("doc"), col("sig"), col("payload"),
        explode(graft.operators.Dedup.bandKeys(col("sig"), meta.bands,
          rows)).as("bucket_key"))
    bucketInits[Seq[Long]](spark, banded)
  }

  /** [[nearDupVerified]] warm-started from a persisted batch index: the
    * FIRST micro-batch already dedups against the full historical corpus
    * (StreamingSpec plants a doc duplicating a pre-existing index doc and
    * asserts it is caught in micro-batch 1). The stream's LSH parameters
    * are READ FROM THE INDEX — band signatures must be comparable across
    * the index's lifetime, so the caller cannot supply conflicting ones.
    * Requires the RocksDB state-store provider (the initial-state path
    * allocates an extra column family, which the HDFS-backed provider
    * does not support). */
  def nearDupVerifiedWarm(spark: SparkSession, docs: DataFrame,
                          idCol: String, textCol: String, indexRoot: String,
                          maxPerBucket: Int = 64,
                          ttl: TTLConfig = TTLConfig.NONE,
                          jaccardThreshold: Double = 0.5): Dataset[VerifiedPair] = {
    val meta = DedupIndex.readMeta(spark, indexRoot)
    bucketStream[Seq[Long]](spark,
      Dedup.minhashBands(docs, idCol, textCol, meta.shingle_k,
        meta.num_hashes, meta.bands, keepShingles = true),
      maxPerBucket, ttl, jaccardThreshold, jaccardSets,
      Some(warmStartTextState(spark, indexRoot)))
  }

  /** The EMBEDDING stream operator: vectors (idCol, vecCol float array) →
    * candidate near-dup pairs via random-hyperplane signatures — the
    * streaming analog of the batch [[graft.operators.Similarity.annLsh]],
    * same LCG plane-sign family so both modes bucket comparably. The
    * per-row signature is computed in `mapPartitions` (no shuffle per
    * micro-batch); `sig` holds one 0/1 sign per plane, so the processor's
    * `sig_agree` is the fraction of agreeing hyperplane sides — a direct
    * monotone estimate of cosine similarity (agree ≈ 1 − θ/π). */
  /** Pre-banded embedding stream (bucket_key, doc, sig, vec): the
    * per-row random-hyperplane signature + band bucket keys, vector
    * carried through for downstream exact verification. */
  private def embeddingBands(spark: SparkSession, vecs: DataFrame,
                             idCol: String, vecCol: String, dims: Int,
                             planes: Int, bands: Int,
                             keepVec: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    require(planes % bands == 0)
    val perBand = planes / bands
    vecs
      .select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Seq[Float])]
      .mapPartitions { it =>
        // the sign table depends only on (planes, dims): build it ONCE per
        // partition, not 1536 hash calls per row. Same deterministic
        // hash60-parity family as Similarity.planeSignJava, so batch and
        // stream bucket identically.
        val signs = Array.tabulate(planes, dims) { (p, d) =>
          graft.operators.Similarity.planeSignJava(p, d)
        }
        it.flatMap { case (id, v) =>
          val bits = Array.tabulate(planes) { p =>
            // fixed-point floor terms, summed as longs — the SAME
            // arithmetic as the batch signatures (a raw double sum can
            // flip the sign bit near zero and bucket the same vector
            // differently in the two modes)
            var s = 0L
            var d = 0
            val n = math.min(dims, v.length)
            while (d < n) {
              s += graft.functions.ExactNum.floorUnits(
                v(d).toDouble * signs(p)(d), graft.operators.Similarity.Scale)
              d += 1
            }
            if (s >= 0L) 1L else 0L
          }
          val sig = bits.toSeq
          // the payload copy happens inside an opaque lambda, so Catalyst
          // cannot prune it away for the candidates-only path — gate it
          // here instead of dropping the column afterwards
          val payload = if (keepVec) v else Seq.empty[Float]
          (0 until bands).map { b =>
            val bucket = (b * perBand until (b + 1) * perBand)
              .map(bits).mkString
            (s"$b:$bucket", id, sig, payload)
          }
        }
      }.toDF("bucket_key", "doc", "sig", "vec")
  }

  def embeddingNearDupCandidates(spark: SparkSession, vecs: DataFrame,
                                 idCol: String, vecCol: String, dims: Int,
                                 planes: Int = 24, bands: Int = 4,
                                 maxPerBucket: Int = 64,
                                 ttl: TTLConfig = TTLConfig.NONE): Dataset[CandidatePair] = {
    import org.apache.spark.sql.functions.col
    bucketed(spark,
      embeddingBands(spark, vecs, idCol, vecCol, dims, planes, bands,
        keepVec = false)
        .select(col("bucket_key"), col("doc"), col("sig")),
      maxPerBucket, ttl)
  }

  /** The embedding ingest GATE: LSH bucket candidates verified with the
    * EXACT cosine (same sequential double fold as the batch
    * [[graft.operators.Similarity.dotSeq]]) before emission — see
    * [[nearDupVerified]] for the state trade (here the payload is the
    * vector itself: dims·4 bytes per member). */
  def embeddingNearDupVerified(spark: SparkSession, vecs: DataFrame,
                               idCol: String, vecCol: String, dims: Int,
                               planes: Int = 24, bands: Int = 4,
                               maxPerBucket: Int = 64,
                               ttl: TTLConfig = TTLConfig.NONE,
                               cosineThreshold: Double = 0.8): Dataset[VerifiedPair] =
    bucketStream[Seq[Float]](spark,
      embeddingBands(spark, vecs, idCol, vecCol, dims, planes, bands,
        keepVec = true),
      maxPerBucket, ttl, cosineThreshold, cosineSeq)

  /** Rebuild the EMBEDDING bucket state from a persisted
    * [[graft.operators.VectorIndex]] — [[warmStartTextState]]'s vector
    * twin: the index's `vectors` table holds every historical float
    * array, so bucket keys + signatures are recomputed from one index
    * SCAN (the hyperplane sign table is derived from (planes, dims)
    * alone, so recomputation is deterministic and parameter-free — no
    * signature table needs persisting). `dims` comes from the index
    * meta. */
  def warmStartVecState(spark: SparkSession, indexRoot: String,
                        planes: Int, bands: Int)
      : KeyValueGroupedDataset[String, BucketInit[Seq[Float]]] = {
    val meta = graft.operators.VectorIndex.readMeta(spark, indexRoot)
    bucketInits[Seq[Float]](spark,
      embeddingBands(spark, spark.read.parquet(s"$indexRoot/vectors"),
          "_vid", "vec", meta.dims, planes, bands, keepVec = true)
        .withColumnRenamed("vec", "payload"))
  }

  /** [[embeddingNearDupVerified]] warm-started from a persisted vector
    * index: the first micro-batch already dedups against the full
    * indexed corpus (StreamingSpec plants a vector duplicating an
    * indexed one and asserts it is caught in micro-batch 1) — the
    * ingest-loop bridge [[nearDupVerifiedWarm]] gives text, for
    * vectors. `dims` is read from the index; `planes`/`bands` must be
    * held constant by the caller across the stream's lifetime (they
    * parameterize the bucket keys, like the text index's frozen meta).
    * Requires the RocksDB state-store provider (initial-state column
    * family). */
  def embeddingNearDupVerifiedWarm(spark: SparkSession, vecs: DataFrame,
                                   idCol: String, vecCol: String,
                                   indexRoot: String,
                                   planes: Int = 24, bands: Int = 4,
                                   maxPerBucket: Int = 64,
                                   ttl: TTLConfig = TTLConfig.NONE,
                                   cosineThreshold: Double = 0.8)
      : Dataset[VerifiedPair] = {
    val meta = graft.operators.VectorIndex.readMeta(spark, indexRoot)
    bucketStream[Seq[Float]](spark,
      embeddingBands(spark, vecs, idCol, vecCol, meta.dims, planes, bands,
        keepVec = true),
      maxPerBucket, ttl, cosineThreshold, cosineSeq,
      Some(warmStartVecState(spark, indexRoot, planes, bands)))
  }
}
