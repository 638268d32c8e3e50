package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.TextFunctions

/** Document deduplication at training-pipeline scale: exact (hash groupBy),
  * n-gram Jaccard (blocked pair verification), MinHash+LSH (shingle →
  * minhash → band → bucket equi-join), and SimHash (bit-sketch hamming).
  *
  * Scale design: nothing here ever compares all N² pairs. Exact dedup is a
  * single hash aggregation; Jaccard runs inside blocking keys; MinHash/LSH
  * turns near-dup candidate generation into an equi-join on (band,
  * band-signature) — the standard 100 TB shape (shuffle is O(N·bands),
  * candidate verification is O(candidates)).
  */
object Dedup {

  /** A materialized shingle base (doc [, blockCols…], shingle) TAGGED with
    * the shingle width it was built with. Consumers that accept a
    * pre-built base require the tag to match their own k — a base built
    * with a different width would silently produce wrong pairs (the
    * blocking/banding math is k-agnostic, so nothing else can catch it). */
  case class ShingleBase(df: DataFrame, k: Int)

  /** Exact dedup on a normalized key: keep the smallest id per key.
    * (Reference has no dedup — north-star extension, BASELINE.json.) */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Word-k-gram shingle ARRAY over a token-array column. */
  def shingleArray(toks: Column, k: Int): Column = {
    val n = size(toks)
    when(n >= k,
      transform(sequence(lit(1), n - (k - 1)), i =>
        concat_ws(" ", (0 until k).map(j => element_at(toks, i + j)): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** Distinct word-k-gram shingles per doc (+ pass-through block columns).
    *
    * The token array is materialized as its own column BEFORE shingling:
    * Catalyst does not hoist expressions out of lambda bodies, so inlining
    * `tokens(text)` into the transform would re-run the regex for every
    * element_at — ~100× per doc (measured 9s → <1s on 5k docs). */
  def shingles(docs: DataFrame, idCol: String, textCol: String, k: Int,
               blockCols: Seq[String]): DataFrame = {
    // repartition spreads the per-doc tokenize/shingle work: a small
    // parquet scan is a single partition, and regex is the CPU-heavy step.
    docs.repartition(col(idCol))
      .withColumn("_toks", TextFunctions.tokens(col(textCol)))
      .select((col(idCol).as("doc") +: blockCols.map(col)) :+
        explode(array_distinct(shingleArray(col("_toks"), k))).as("shingle"): _*)
  }

  /** N-gram Jaccard similarity for all doc pairs sharing a blocking key and
    * at least one shingle. Output: (doc_a, doc_b, common, n_a, n_b,
    * jaccard). Blocking keeps the self-join from going O(N²). */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        k: Int, blockCols: Seq[String],
                        preShingles: Option[ShingleBase] = None): DataFrame = {
    preShingles.foreach(b => require(b.k == k,
      s"preShingles was built with k=${b.k}, caller expects k=$k"))
    // consumed three times (sizes + both self-join sides): persist so the
    // regex shingle pass — the dominant CPU — runs once (cf. minhashLsh).
    // The persist is materialized EAGERLY (count): the three consumers are
    // joined in one plan, and AQE's broadcast-exchange threads otherwise
    // race to materialize the not-yet-cached table concurrently — under
    // background load that ran the regex pass several times at once
    // (measured 1.2 s idle → 6.7 s loaded before the eager count).
    // The self-join compares 8-byte shingle hashes, not strings: the
    // shuffle moves fixed-width keys and equality is one long compare
    // (collision odds ~n²/2⁶⁵ — no effect at any real corpus size).
    // `preShingles` (doc, blockCols…, shingle) lets callers share one
    // materialized shingle base across dd1/tx6/dd3 in a session.
    val base = preShingles.map(_.df)
      .getOrElse(shingles(docs, idCol, textCol, k, blockCols))
    val sh = base
      .withColumn("sh_h", xxhash64(col("shingle"))).drop("shingle")
      .persist(StorageLevel.MEMORY_AND_DISK)
    graft.core.ManagedPersist.materializeOnce(sh)
    val sizes = sh.groupBy(col("doc")).agg(count(lit(1)).as("n_sh"))
    // empty blockCols = unblocked corpus (legitimate for small inputs):
    // the condition list must not reduce over zero block predicates
    val joinCond = (blockCols.map(c => col(s"a.$c") === col(s"b.$c")) :+
      (col("a.sh_h") === col("b.sh_h")) :+
      (col("a.doc") < col("b.doc"))).reduce(_ && _)
    val common = sh.as("a").join(sh.as("b"), joinCond)
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("doc").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(sizes.select(col("doc").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("n_a") + col("n_b") - col("common")).cast("double"))
      .select(col("doc_a"), col("doc_b"), col("common"), col("n_a"),
        col("n_b"), col("jaccard"))
  }

  /** MinHash + LSH near-dup candidates, verified with exact Jaccard.
    * bands·rowsPerBand = numHashes; a pair is a candidate iff some band of
    * the signature matches exactly.
    *
    * Execution shape (the 100 TB contract): shingles are EXPLODED once and
    * every stage is a codegen'd hash-agg or equi-join over narrow rows —
    * the minhash mins are `numHashes` MIN aggregates in one groupBy pass
    * (not per-row interpreted array transforms), candidate generation
    * joins (doc, band, bsig) rows only, and Jaccard verification re-joins
    * the shingle table instead of carrying shingle arrays through the
    * shuffle. Shingle hashing and the permutation family are
    * engine-portable ([[graft.functions.PortableHash]]), so the full
    * operator — candidate generation included — is DuckDB-oracle-checked;
    * only the band signature stays engine-native (equality-only). */
  def minhashLsh(docs: DataFrame, idCol: String, textCol: String,
                 shingleK: Int = 3, numHashes: Int = 16, bands: Int = 4,
                 jaccardThreshold: Double = 0.5,
                 preShingles: Option[ShingleBase] = None): DataFrame = {
    import graft.functions.PortableHash
    require(numHashes % bands == 0)
    preShingles.foreach(b => require(b.k == shingleK,
      s"preShingles was built with k=${b.k}, caller expects k=$shingleK"))
    // hash each shingle to a long once at the source: every downstream
    // shuffle/join moves 8-byte keys instead of strings (collision odds
    // ~n²/2⁶¹ — irrelevant for near-dup detection). The shingle table is
    // consumed three times (signature build + both sides of the Jaccard
    // verification join) — persist it so the regex tokenize/shingle pass,
    // the dominant CPU cost, runs once, and materialize the cache EAGERLY
    // (count): AQE's broadcast-exchange threads otherwise race to compute
    // the not-yet-cached table concurrently, and under background load
    // that ran the regex pass several times at once (measured 1.2 s idle
    // → 6.7 s loaded before the eager count). At cluster scale this is
    // the materialized intermediate you'd checkpoint before the
    // self-join; `preShingles` (doc, …, shingle) lets callers share one
    // on-disk shingle base across the dedup queries of a session.
    val base = preShingles.map(_.df.select(col("doc"), col("shingle")))
      .getOrElse(shingles(docs, idCol, textCol, shingleK, Nil))
    val sh = base
      .select(col("doc"), PortableHash.hash60(col("shingle")).as("sh_h"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    graft.core.ManagedPersist.materializeOnce(sh)
    // one pass computes the minhash signature AND the shingle-set size;
    // persisted eagerly: sizes + banding both branch from it (tiny: 1
    // row/doc) and band self-join sides must not race its materialization.
    val sig = minhashSig(sh, numHashes)
      .persist(StorageLevel.MEMORY_AND_DISK)
    graft.core.ManagedPersist.materializeOnce(sig)
    val sizes = sig.select(col("doc"), col("n_sh"))
    val banded = bandedFromSig(sig, numHashes, bands)
    val cands = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()
    val common = cands
      .join(sh.select(col("doc").as("doc_a"), col("sh_h")), Seq("doc_a"))
      .join(sh.select(col("doc").as("doc_b"), col("sh_h")), Seq("doc_b", "sh_h"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("doc").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(sizes.select(col("doc").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .withColumn("jaccard", col("common").cast("double") /
        (col("n_a") + col("n_b") - col("common")).cast("double"))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("doc_a"), col("doc_b"), col("common"), col("jaccard"))
  }

  /** MinHash signature table over hashed shingles (doc, sh_h): the
    * `numHashes` MIN aggregates + shingle-set size in ONE codegen groupBy
    * pass. Shared by [[minhashLsh]] and [[DedupIndex]]. */
  private[operators] def minhashSig(sh: DataFrame, numHashes: Int): DataFrame = {
    import graft.functions.PortableHash
    val minAggs = (0 until numHashes).map(i =>
      min(PortableHash.minhashPerm(i, col("sh_h"))).as(s"h$i")) :+
      count(lit(1)).as("n_sh")
    sh.groupBy(col("doc")).agg(minAggs.head, minAggs.tail: _*)
  }

  /** LSH band table (doc, band, bsig) from a signature table (doc,
    * h0..h{numHashes-1}): band b's signature is a hash of its `rows`
    * consecutive minhash values — equality-only, so the xxhash64 packing
    * is free to differ from the oracle's string concat. */
  private[operators] def bandedFromSig(sig: DataFrame, numHashes: Int,
                                       bands: Int): DataFrame = {
    val rows = numHashes / bands
    sig.select(col("doc"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          xxhash64((b * rows until (b + 1) * rows).map(i => col(s"h$i")): _*)
            .as("bsig"))
      }: _*)).as("bb"))
      .select(col("doc"), col("bb.band").as("band"), col("bb.bsig").as("bsig"))
  }

  /** Rows-per-band for N docs: the smallest r in [minRows, maxRows] with
    * N ≤ targetCollisions·10^r — the MinHash twin of
    * [[Similarity.deriveBandBits]]'s grow-with-the-corpus discipline.
    *
    * Rationale: a background (non-duplicate) pair with Jaccard j₀
    * collides on one band with probability j₀^r, so expected false
    * candidates per doc ≈ N·bands·j₀^r. Budgeting that at
    * bands·targetCollisions under a conservative background similarity
    * j₀ = 0.1 gives N ≤ targetCollisions·(1/j₀)^r = targetCollisions·10^r
    * — integer-only, so the DuckDB oracle derives the identical r from
    * the same count. The trade (documented, not hidden): growing r
    * tightens the LSH S-curve threshold (1/bands)^(1/r), so recall at a
    * FIXED Jaccard drops as the corpus grows; candidate precision is
    * restored exactly by verification either way. Recall-critical
    * deployments grow `bands` alongside (bands ≈ τ^(−r)) — exposed as a
    * plain parameter on [[minhashLsh]]. */
  def deriveMinhashRows(n: Long, targetCollisions: Int = 8,
                        minRows: Int = 2, maxRows: Int = 8): Int = {
    def pow10(r: Int): Long = (0 until r).foldLeft(1L)((a, _) => a * 10)
    (minRows to maxRows)
      .find(r => n <= targetCollisions.toLong * pow10(r))
      .getOrElse(maxRows)
  }

  /** [[minhashLsh]] with rows-per-band DERIVED from the corpus count via
    * [[deriveMinhashRows]] (numHashes = bands·r): the parameterization
    * that keeps candidate volume per doc ~constant as the corpus scales,
    * fixed at the call site in earlier rounds. count() is a parquet
    * footer read; at cluster scale N comes from table statistics. */
  def minhashLshDerived(docs: DataFrame, idCol: String, textCol: String,
                        shingleK: Int = 3, bands: Int = 4,
                        jaccardThreshold: Double = 0.5,
                        targetCollisions: Int = 8, minRows: Int = 2,
                        maxRows: Int = 8,
                        preShingles: Option[ShingleBase] = None): DataFrame = {
    val r = deriveMinhashRows(docs.count(), targetCollisions, minRows, maxRows)
    minhashLsh(docs, idCol, textCol, shingleK, bands * r, bands,
      jaccardThreshold, preShingles)
  }

  /** SimHash sketch width: 60 bits — every bit of the engine-portable
    * [[graft.functions.PortableHash.hash60]] token hash, which is what
    * makes the sketch VALUES DuckDB-oracle-checkable (xxhash64 would give
    * 64 bits but no SQL twin; 60 vs 64 is immaterial for hamming-distance
    * near-dup detection). */
  val SimhashBits = 60

  /** Distributed 60-bit SimHash sketch table: one row (id, sketch) per
    * document, bit-identical to the per-row [[simhash]] column (property-
    * tested in DedupSpec).
    *
    * Execution shape: tokens are EXPLODED once and all 60 bit-votes are
    * codegen'd SUM aggregates in a single groupBy pass — the per-row HOF
    * form folds the token array 60× interpreted (measured 17.8s → ~1s on
    * 5k docs). Votes are integer sums (associative ⇒ partitioning-
    * invariant); empty documents contribute a null vote, which the sketch
    * assembly maps to bit 0, matching the HOF fold over an empty array. */
  def simhashTable(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = docs.repartition(col(idCol))
      .select(col(idCol).as("_id"),
        explode_outer(TextFunctions.tokens(col(textCol))).as("tok"))
      .select(col("_id"),
        when(col("tok").isNotNull,
          graft.functions.PortableHash.hash60(col("tok"))).as("h"))
    val votes = (0 until SimhashBits).map { i =>
      sum(when(col("h").isNotNull,
        when(shiftright(col("h"), i).bitwiseAND(1L) === 1L, 1L)
          .otherwise(-1L))).as(s"v$i")
    }
    val sketch = (0 until SimhashBits)
      .map(i => when(col(s"v$i") > 0L, lit(1L << i)).otherwise(0L))
      .reduce(_ + _)
    tok.groupBy(col("_id")).agg(votes.head, votes.tail: _*)
      .select(col("_id").as(idCol), sketch.as("sketch"))
  }

  /** 60-bit SimHash over portable token hashes: bit i of the sketch is the
    * sign of Σ_tokens (bit i set ? +1 : -1). Near-dups have small hamming
    * distance between sketches. Per-row column form — use [[simhashTable]]
    * for whole-table sketching (same bits, one codegen agg pass). */
  def simhash(textCol: Column): Column = {
    val hashes = transform(TextFunctions.tokens(textCol),
      t => graft.functions.PortableHash.hash60(t))
    val bits = (0 until SimhashBits).map { i =>
      val vote = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, i).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
      when(vote > 0L, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Hamming distance between two 64-bit sketches. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** All pairs within `maxHamming` bits over sketch rows (id, word…) —
    * the pair stage shared by SimHash text dedup and perceptual image
    * dedup (mm8): never an all-pairs scan. The hash words are cut into
    * `bandBits`-wide bands and candidates equi-join on (band#, band
    * value); by pigeonhole, two sketches within `maxHamming` bits MUST
    * agree on at least one band whenever bands > maxHamming — with that
    * parameterization the banded join is EXACT (full recall, so the
    * DuckDB oracle can be the honest quadratic scan), otherwise it is the
    * standard approximate Hamming-LSH. Exact `hamming ≤ maxHamming`
    * verification runs on candidates only.
    *
    * Scale shape: bands/word · N rows into one hash-shuffled self-join on
    * 16-bit-bounded keys; a degenerate band value (e.g. the all-dark
    * half of near-constant images) concentrates its bucket, which AQE
    * skew-split handles — candidate volume is O(Σ bucket²) on band
    * values, the same economics as the MinHash band join.
    *
    * `wordCols` are non-negative longs holding ≤ 63 significant bits
    * each (32 for the aHash halves, 60 for SimHash); total hamming is the
    * sum over words. */
  def hammingNearDup(hashes: DataFrame, idCol: String,
                     wordCols: Seq[String], wordBits: Int,
                     bandBits: Int, maxHamming: Int): DataFrame = {
    require(wordCols.nonEmpty && bandBits >= 1 && wordBits % bandBits == 0)
    val bandsPerWord = wordBits / bandBits
    val mask = (1L << bandBits) - 1L
    val bands = wordCols.zipWithIndex.flatMap { case (c, wi) =>
      (0 until bandsPerWord).map { b =>
        struct(lit(wi * bandsPerWord + b).as("band"),
          shiftrightunsigned(col(c), b * bandBits).bitwiseAND(mask)
            .as("bval"))
      }
    }
    // persist EAGERLY before the self-join: without it both join sides
    // re-execute the full upstream (for image sketches that is the whole
    // decode+hash pass, twice) — same reasoning as minhashLsh's shingle
    // persist. Tiny table: bands/word rows per doc.
    val banded = hashes.select(
      (col(idCol).as("doc") +: wordCols.map(col)) :+
        explode(array(bands: _*)).as("bb"): _*)
      .select(col("doc") +: col("bb.band").as("band") +:
        col("bb.bval").as("bval") +: wordCols.map(col): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.ManagedPersist.materializeOnce(banded)
    val dist = wordCols
      .map(c => bit_count(col(s"a.$c").bitwiseXOR(col(s"b.$c"))))
      .reduce(_ + _)
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        dist.cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Connected components over a near-dup pair table → (doc, cluster_id):
    * the dedup endgame, turning pairwise matches into transitive duplicate
    * clusters (keep-one-per-cluster follows as a min/groupBy).
    *
    * Two-regime scale design. Generating the pair graph is the distributed
    * heavy part (shingles → LSH/blocked joins → thresholded verification);
    * the SURVIVING graph is orders of magnitude smaller than the corpus by
    * construction (it holds only near-duplicate candidates), so:
    *  - **fits-one-node regime** (≤ `localEdgeLimit` edges): collect the
    *    edge list and run union-find with path compression on the driver —
    *    exact, O(E α(E)), microseconds per million edges. This is what
    *    production dedup pipelines do; a 100 TB corpus at a 1% dup rate
    *    yields a graph in the low GBs.
    *  - **distributed fallback** (pathological dup rates): iterative
    *    min-label propagation, one equi-join + hash agg per round with an
    *    eager localCheckpoint (lineage MUST be truncated every round — a
    *    naive loop compounds it and a fully unrolled plan doubles per
    *    round, both measured fatal). Converges in O(component diameter)
    *    rounds, capped by `maxIter`.
    * Both regimes produce the identical labeling (min node id per
    * component) — DedupSpec pins them against each other. */
  def nearDupClusters(pairs: DataFrame, aCol: String, bCol: String,
                      localEdgeLimit: Long = 50000000L,
                      maxIter: Int = 20): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val e = pairs.select(col(aCol).cast("long").as("src"),
      col(bCol).cast("long").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    if (e.count() <= localEdgeLimit) {
      val edges = e.as[(Long, Long)].collect()
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x // path compression
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edges.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      // roots are min ids already (smaller root always wins the union)
      val out = parent.keys.toSeq.sorted.map(d => (d, find(d)))
      e.unpersist()
      out.toDF("doc", "cluster_id")
    } else {
      val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().localCheckpoint(true)
      var labels = sym.select(col("src").as("doc")).distinct()
        .select(col("doc"), col("doc").as("cluster_id"))
        .localCheckpoint(true)
      var converged = false
      var i = 0
      while (!converged && i < maxIter) {
        val nbrMin = sym.join(labels, sym("dst") === labels("doc"))
          .select(sym("src").as("doc"), col("cluster_id").as("nbr"))
          .groupBy("doc").agg(min(col("nbr")).as("nbr_min"))
        val stepped = labels.withColumnRenamed("cluster_id", "old_id")
          .join(nbrMin, "doc")
          .select(col("doc"),
            least(col("old_id"), col("nbr_min")).as("mid_id"),
            col("old_id"))
        // pointer jumping: also adopt the label OF the current label
        // (label(label(x))) — propagation distance doubles per round, so
        // convergence is O(log diameter) instead of O(diameter) and
        // chain-shaped near-dup clusters can't exhaust maxIter
        val next = stepped
          .join(labels.select(col("doc").as("_rep"),
            col("cluster_id").as("rep_label")),
            stepped("mid_id") === col("_rep"), "left")
          .select(col("doc"),
            least(col("mid_id"), coalesce(col("rep_label"), col("mid_id")))
              .as("cluster_id"),
            col("old_id"))
          .localCheckpoint(true)
        converged = next.filter(col("cluster_id") =!= col("old_id")).isEmpty
        labels = next.select(col("doc"), col("cluster_id"))
        i += 1
      }
      // both regimes promise the exact min-label-per-component labeling; a
      // silent early exit (component diameter > maxIter) would break that
      // contract with wrong labels, so fail loudly instead.
      if (!converged) throw new IllegalStateException(
        s"nearDupClusters: min-label propagation did not converge in " +
          s"$maxIter rounds (component diameter exceeds maxIter); raise " +
          s"maxIter or localEdgeLimit")
      labels
    }
  }

  /** Sorted-neighborhood near-dup pairs (Hernández & Stolfo 1995, the
    * merge/purge method): sort the corpus by a blocking sort key (prefix
    * of the normalized text), assign a GLOBAL sequence number, and
    * compare each record only to its `window` successors in sort order.
    * O(N·window) candidate pairs by construction — a different blocking
    * family from shingle/LSH blocking (adjacency in sort order vs shared
    * content fragments), the classic choice when near-dups share a
    * prefix (crawl re-fetches, boilerplate-led pages, versioned docs).
    *
    * Scale shape: the global sequence needs NO single-partition sort —
    * `repartitionByRange` gives contiguous key ranges, `row_number`
    * ranks within each range, and per-range offsets (one count per
    * partition, collected to the driver — bounded by the partition
    * count, never the data) lift the ranks to a global sequence. The
    * result is invariant to where the range sampler draws boundaries:
    * (sk, doc) is a total order, so the global rank is unique. The
    * neighbor pairing is a plain equi-join on `seq + i` (i ≤ window),
    * never a range join. Pairs are scored by exact token-set Jaccard;
    * docs whose normalized text is empty cannot be token-set near-dups
    * and are excluded up front.
    *
    * Output: (doc_a, doc_b, gap, common, n_a, n_b, jaccard), doc_a
    * earlier in sort order, gap = seq distance, jaccard ≥ `threshold`. */
  /** Global sequence number in (sk, doc) sort order WITHOUT a
    * single-partition sort: `repartitionByRange` gives contiguous key
    * ranges, `row_number` ranks within each range, and per-range
    * offsets (one count per partition, collected to the driver —
    * bounded by the partition count, never the data) lift the ranks to
    * a global sequence. Invariant to where the range sampler draws
    * boundaries: (sk, doc) is a total order, so the global rank is
    * unique. Input must carry (doc, sk); output adds `seq` and is
    * persisted (both the count pass and the caller's joins read it). */
  private def withGlobalSeq(keyed: DataFrame): DataFrame = {
    val spark = keyed.sparkSession
    val nPart = spark.sessionState.conf.numShufflePartitions
    val ranged = keyed.repartitionByRange(nPart, col("sk"), col("doc"))
      .withColumn("_pid", spark_partition_id())
      .persist(StorageLevel.MEMORY_AND_DISK)
    val rn = row_number().over(org.apache.spark.sql.expressions.Window
      .partitionBy(col("_pid")).orderBy(col("sk"), col("doc")))
    val counts = ranged.groupBy(col("_pid")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offs = counts.map { case (p, c) => val o = (p, acc); acc += c; o }
    import spark.implicits._
    val offDf = offs.toSeq.toDF("_pid", "_off")
    ranged.withColumn("_rn", rn)
      .join(broadcast(offDf), "_pid")
      .withColumn("seq", col("_off") + col("_rn"))
      .drop("_pid", "_rn", "_off")
  }

  def sortedNeighborhoodPairs(docs: DataFrame, idCol: String,
                              textCol: String, window: Int = 4,
                              keyLen: Int = 24,
                              threshold: Double = 0.5): DataFrame = {
    val nt = TextFunctions.normalizeText(col(textCol))
    val keyed = docs.select(col(idCol).as("doc"),
        substring(nt, 1, keyLen).as("sk"),
        array_distinct(array_remove(split(nt, " "), "")).as("toks"))
      .filter(size(col("toks")) > 0)
    val seqd = withGlobalSeq(keyed).select(col("doc"), col("toks"),
      col("seq"))
    val probes = seqd.select(col("doc").as("doc_a"),
      col("toks").as("toks_a"), col("seq").as("seq_a"),
      explode(sequence(col("seq") + 1, col("seq") + window)).as("seq"))
    probes.join(seqd.select(col("doc").as("doc_b"),
        col("toks").as("toks_b"), col("seq")), "seq")
      .select(col("doc_a"), col("doc_b"),
        (col("seq") - col("seq_a")).cast("long").as("gap"),
        size(array_intersect(col("toks_a"), col("toks_b"))).cast("long")
          .as("common"),
        size(col("toks_a")).cast("long").as("n_a"),
        size(col("toks_b")).cast("long").as("n_b"))
      .withColumn("jaccard", col("common").cast("double") /
        (col("n_a") + col("n_b") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
  }

  /** Edit-distance verified near-dup pairs — the character-level dedup
    * family (the RETSim/ReLiK-style verification metric next to the
    * token-set Jaccard of [[sortedNeighborhoodPairs]]): candidates come
    * from the same sorted-neighborhood blocking (O(N·window) pairs by
    * construction), and each pair is verified by EXACT Levenshtein
    * distance over the normalized text truncated to `maxLen` chars —
    * the truncation bounds the per-pair DP at O(maxLen²) regardless of
    * document length, making total work O(N·window·maxLen²), every
    * knob explicit. Catches the near-dup class token-set Jaccard is
    * blind to: character-level edits inside tokens (OCR noise, typo
    * farms, template fills), where token sets diverge but the edit
    * distance stays small.
    *
    * Determinism/oracle: Spark's `levenshtein` and DuckDB's
    * `levenshtein` are the identical unit-cost DP (no transposition) on
    * the identical normalized strings; distance and lengths are
    * integers and `sim = 1 − dist/max(len)` is one IEEE division —
    * fully hash-oracle-able.
    *
    * Output: (doc_a, doc_b, gap, dist, len_a, len_b, sim), doc_a
    * earlier in sort order, kept when dist ≤ `maxDist`. */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
                        window: Int = 4, keyLen: Int = 24,
                        maxLen: Int = 128, maxDist: Int = 32): DataFrame = {
    val nt = TextFunctions.normalizeText(col(textCol))
    val keyed = docs.select(col(idCol).as("doc"),
        substring(nt, 1, keyLen).as("sk"),
        substring(nt, 1, maxLen).as("nt"))
      .filter(length(col("nt")) > 0)
    val seqd = withGlobalSeq(keyed).select(col("doc"), col("nt"),
      col("seq"))
    val nPart = docs.sparkSession.sessionState.conf.numShufflePartitions
    // the O(maxLen²) DP runs INSIDE the join stage (the dist ≤ maxDist
    // predicate is pushed below any later exchange), so the join stage
    // itself must be wide: USER-specified hash repartitions on the join
    // key — which AQE never coalesces and the join consumes directly —
    // keep it at nPart tasks (a post-join spread measured 2.9 s of DP
    // on ONE task at sf0.1: AQE had coalesced the small candidate
    // shuffle and the pushed-down filter dragged levenshtein with it)
    val probes = seqd.select(col("doc").as("doc_a"),
        col("nt").as("nt_a"), col("seq").as("seq_a"),
        explode(sequence(col("seq") + 1, col("seq") + window)).as("seq"))
      .repartition(nPart, col("seq"))
    probes.join(seqd.select(col("doc").as("doc_b"),
        col("nt").as("nt_b"), col("seq"))
        .repartition(nPart, col("seq")), "seq")
      .select(col("doc_a"), col("doc_b"),
        (col("seq") - col("seq_a")).cast("long").as("gap"),
        levenshtein(col("nt_a"), col("nt_b")).cast("long").as("dist"),
        length(col("nt_a")).cast("long").as("len_a"),
        length(col("nt_b")).cast("long").as("len_b"))
      .withColumn("sim", lit(1.0) - col("dist").cast("double") /
        greatest(col("len_a"), col("len_b")).cast("double"))
      .filter(col("dist") <= maxDist)
  }

  /** Repeated-span (exact-substring) duplication profile — the n-gram
    * approximation of suffix-array substring dedup (Lee et al. 2022,
    * arXiv:2107.06499: repeated ≥L-token spans in the corpus are the
    * memorization drivers). A span = `spanLen` consecutive tokens; a span
    * is DUPLICATED iff it occurs ≥2 times corpus-wide (across docs or
    * repeated within one). Per doc: total tokens, duplicated-span
    * occurrence count, the number of token positions covered by at least
    * one duplicated span, and the covered fraction — the signal a
    * pipeline thresholds to drop or trim repetitive docs.
    *
    * Scale shape: one narrow explode (~n_tokens rows/doc), a hash agg on
    * the span key, one equi-join back, and two per-doc aggs — never
    * O(N²). The span GROUP BY key is the engine-portable hash60 of the
    * span string (the [[crossDocDupSpans]] discipline, optimization
    * r15): the duplicate-decision shuffle carries an 8-byte key instead
    * of a ~50-byte 8-token string, and the DuckDB twin folds the
    * IDENTICAL hash, so even collisions (odds ~n²/2⁶⁰) are
    * bit-identical across engines. Coverage counts via the same run
    * merge as [[crossDocDupSpans]] — duplicated starts at gap ≤ spanLen
    * fuse into one interval, so dup_tokens = Σ(en−st+1) equals the
    * distinct-covered-position count the former O(hits·spanLen)
    * explode+distinct produced, row for row.
    *
    * Output: (idCol, n_tokens, n_dup_spans, dup_tokens, dup_fraction). */
  def repeatedSpanProfile(docs: DataFrame, idCol: String, textCol: String,
                          spanLen: Int): DataFrame = {
    require(spanLen >= 2)
    import graft.functions.PortableHash
    val toks = docs.select(col(idCol).as("doc"),
      TextFunctions.tokens(col(textCol)).as("_toks"))
    val sizes = toks.select(col("doc"),
      size(col("_toks")).cast("long").as("n_tokens"))
    val spans = toks.select(col("doc"),
        posexplode(shingleArray(col("_toks"), spanLen))
          .as(Seq("pos0", "span")))
      .select(col("doc"), (col("pos0") + 1).cast("long").as("pos"),
        PortableHash.hash60(col("span")).as("h"))
    val dup = spans.groupBy(col("h")).agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2).select(col("h"))
    val hits = spans.join(dup, "h").select(col("doc"), col("pos"))
    val nDup = hits.groupBy(col("doc"))
      .agg(count(lit(1)).as("n_dup_spans"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc")).orderBy(col("pos"))
    val covered = hits
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(wDoc) > spanLen, 1L)
          .otherwise(0L))
      .withColumn("g", sum(col("brk")).over(wDoc))
      .groupBy(col("doc"), col("g"))
      .agg(min(col("pos")).as("st"),
        (max(col("pos")) + (spanLen - 1)).as("en"))
      .groupBy(col("doc"))
      .agg(sum(col("en") - col("st") + 1).as("dup_tokens"))
    sizes.join(nDup, Seq("doc"), "left").join(covered, Seq("doc"), "left")
      .na.fill(0L, Seq("n_dup_spans", "dup_tokens"))
      .withColumn("dup_fraction",
        when(col("n_tokens") > 0,
          col("dup_tokens").cast("double") / col("n_tokens").cast("double"))
          .otherwise(lit(0.0)))
      .select(col("doc").as(idCol), col("n_tokens"), col("n_dup_spans"),
        col("dup_tokens"), col("dup_fraction"))
  }

  /** CROSS-document exact-substring duplicate spans — the ExactSubstr
    * dedup signal of Lee, Ippolito et al. 2021 ("Deduplicating Training
    * Data Makes Language Models Better"): per document, the maximal
    * token runs covered by some verbatim substring of ≥ `k` tokens that
    * also appears in ANOTHER document. Their implementation is a corpus
    * suffix array; the distributed formulation rests on the k-gram
    * cover identity (PLANS_r12 gate): a position lies in a duplicated
    * substring of length ≥ k iff some length-k window covering it is
    * duplicated, so the paper's dup region is exactly the union of
    * [i, i+k−1] over shared k-gram starts i. Differs from
    * [[repeatedSpanProfile]] (tx12) on all three axes that matter at
    * scale: cross-doc only (shared = min(doc) ≠ max(doc) over the
    * k-gram's rows — exact, no count-distinct), k-grams grouped by the
    * engine-portable hash60 of the space-joined k-gram (fixed-width
    * shuffle key; the DuckDB twin folds the identical hash, so even
    * collisions — odds ~n²/2⁶⁰ — are bit-identical), and coverage via
    * per-doc RUN MERGE of start positions (starts fuse while the gap is
    * ≤ k, i.e. their covered windows overlap or touch) instead of
    * exploding k covered positions per hit — O(hits) rows, not
    * O(hits·k), and dup_tokens = Σ(en−st+1) is an exact covered-token
    * count with no double counting.
    *
    * Scale shape: one in-row positional shingle explode (corpus-token-
    * sized), one map-side-combinable min/max hash agg on the 8-byte
    * key, one equi-join back, then windows PARTITIONED BY doc (frames
    * bounded by document length) and two per-doc aggs. Never O(N²);
    * no corpus-sized single-task stage.
    *
    * Output: (idCol, n_tokens, n_spans, dup_tokens, max_span,
    * dup_frac), one row per input document (docs without spans carry
    * zeros). */
  def crossDocDupSpans(docs: DataFrame, idCol: String, textCol: String,
                       k: Int): DataFrame = {
    require(k >= 2, "a span threshold needs k >= 2")
    import org.apache.spark.sql.expressions.Window
    import graft.functions.PortableHash
    val toks = docs.repartition(col(idCol))
      .select(col(idCol).as("doc"), TextFunctions.tokens(col(textCol)).as("_toks"))
    val pos = toks.select(col("doc"),
        posexplode(shingleArray(col("_toks"), k)).as(Seq("p0", "sh")))
      .select(col("doc"), (col("p0") + 1).cast("long").as("i"),
        PortableHash.hash60(col("sh")).as("h"))
    val shared = pos.groupBy(col("h"))
      .agg(min(col("doc")).as("mn"), max(col("doc")).as("mx"))
      .filter(col("mn") =!= col("mx")).select(col("h"))
    val hits = pos.join(shared, "h").select(col("doc"), col("i"))
    val wDoc = Window.partitionBy(col("doc")).orderBy(col("i"))
    val spans = hits
      .withColumn("brk",
        when(col("i") - lag(col("i"), 1).over(wDoc) > k, 1L).otherwise(0L))
      .withColumn("g", sum(col("brk")).over(wDoc))
      .groupBy(col("doc"), col("g"))
      .agg(min(col("i")).as("st"), (max(col("i")) + (k - 1)).as("en"))
    val per = spans.groupBy(col("doc"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("en") - col("st") + 1).as("dup_tokens"),
        max(col("en") - col("st") + 1).as("max_span"))
    docs.select(col(idCol).as("doc"),
        TextFunctions.tokenCount(col(textCol)).as("n_tokens"))
      .join(per, Seq("doc"), "left")
      .na.fill(0L, Seq("n_spans", "dup_tokens", "max_span"))
      .withColumn("dup_frac",
        when(col("n_tokens") > 0,
          col("dup_tokens").cast("double") / col("n_tokens").cast("double")))
      .select(col("doc").as(idCol), col("n_tokens"), col("n_spans"),
        col("dup_tokens"), col("max_span"), col("dup_frac"))
  }
}
