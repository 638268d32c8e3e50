package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.ExactNum._
import graft.functions.TextFunctions

/** Training-data pipeline build steps beyond dedup/similarity: embedding
  * quantization, TF-DF vocabulary statistics, deterministic stratified
  * sampling, document-length histograms, and the typed Dataset path. All
  * pure arithmetic / counting — engine-portable and DuckDB-oracled.
  */
object PipelineQueries extends QueryPack {

  /** Typed row for the Dataset[T] path (SURVEY §1.3: typed core). */
  case class EventRow(event_id: Long, user_id: Long, event_type: String,
                      value: Double)

  /** Packing shard count for pl7/pl8/pl30 (VERDICT r13 #5): the packing
    * windows hash-shard their stream BEFORE the per-group sort, so the
    * largest group bounds a task at corpus/PackShards instead of the
    * whole group (pl19's epoch×shard, composed into the keys). Fixed —
    * both engines must derive identical shards; a deployment scales it
    * with corpus/executor count. */
  private val PackShards = 8L

  /** The shard of a doc: portable hash of the "sh:"-prefixed id (the
    * prefix decorrelates shard bits from every other doc_id hash in the
    * suite — pl19's epoch-prefix discipline). Shared verbatim with the
    * DuckDB twins via [[packShardSql]]. */
  private def packShard(docId: org.apache.spark.sql.Column) =
    pmod(graft.functions.PortableHash.hash60(
      concat(lit("sh:"), docId.cast("string"))), lit(PackShards))

  private def packShardSql(docIdExpr: String): String =
    s"${graft.functions.PortableHash.hash60Sql(
      s"'sh:' || CAST($docIdExpr AS VARCHAR)")} % $PackShards"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // int8 symmetric quantization per vector (scale = max |x|); the
    // compression pass before ANN index build. floor(x+0.5) rounding is
    // portable (round() tie semantics differ across engines). The vector
    // is emitted CSV-packed: the oracle harness compares scalar cells, so
    // array-typed result columns are rendered as one deterministic string.
    "pl1_quantize_int8" -> ((s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "embeddings")
        .withColumn("max_abs",
          aggregate(col("embedding"), lit(0.0),
            (acc, x) => greatest(acc, abs(x.cast("double")))))
        .select($"vec_id", $"max_abs",
          concat_ws(",", transform($"embedding", x =>
            floor(x.cast("double") / $"max_abs" * 127.0 + 0.5).cast("int")))
            .as("q8_csv"))
    }),

    // TF-DF build table: per (doc, token) term frequency + per-token
    // document frequency — the exact-count core of TF-IDF (the idf log is
    // libm-dependent, so the oracle stops at the counts).
    "pl2_tf_df" -> ((s, dir) => {
      import s.implicits._
      val tf = TermFreqBase.tf(s, dir)
        .select($"doc_id", $"term".as("token"), $"tf")
      val df_ = tf.groupBy($"token")
        .agg(count(lit(1)).as("df"))
      tf.join(df_, "token")
        .filter($"df" >= 50)
        .select($"doc_id", $"token", $"tf", $"df")
    }),

    // WEIGHTED sampling without replacement (Efraimidis–Spirakis 2006):
    // each doc races an exponential clock key = −ln(u)/w (u from the
    // portable hash, w = length+1); the k smallest keys are a true
    // weight-proportional sample — the curation pass that samples "by
    // importance" instead of pl3's uniform strata, deterministic and
    // retry-safe like every sampler here (no rand()). −ln(u) takes the
    // DECIMAL(28,6) round-trip; u's construction (hash+1)/2^60 and the
    // /w are single correctly-rounded operations on identical operands,
    // so keys are bit-identical cross-engine. Top-k via orderBy+limit
    // (TakeOrdered — never a global single-partition sort); the rank
    // window runs on the k surviving rows only.
    "pl24_weighted_sample" -> ((s, dir) => {
      import s.implicits._
      import graft.functions.PortableHash
      val k = 100
      val keyed = Tables.load(s, dir, "documents")
        .select($"doc_id",
          (length($"text") + 1).cast("double").as("w"),
          ((PortableHash.hash60($"doc_id".cast("string")) + 1L)
            .cast("double") / lit(1.152921504606846976e18)).as("u"))
        .withColumn("k", quantize(-log($"u")) / $"w")
      keyed.orderBy($"k".asc, $"doc_id".asc).limit(k)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy($"k".asc, $"doc_id".asc)).cast("long"))
        .select($"doc_id", $"w", $"k", $"rank")
    }),

    // deterministic stratified sampling: ~20% per lang via an arithmetic
    // hash on the id (engine-portable, retry-safe — no rand()).
    "pl3_stratified_sample" -> ((s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "documents")
        .filter(pmod($"doc_id" * 2654435761L, lit(100L)) < 20L)
        .groupBy($"lang")
        .agg(count(lit(1)).as("sampled"),
          concat_ws(",", sort_array(collect_list($"doc_id"))).as("ids_csv"))
    }),

    // typed Dataset path: case-class Encoder + typed filter/map feeding a
    // grouped count — proves Dataset[T] transformations hold the same
    // oracle contract as the untyped combinators.
    "pl5_typed_map" -> ((s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "events")
        .select($"event_id", $"user_id", $"event_type", $"value")
        .as[EventRow]
        .filter(_.event_type != "error")
        .map(e => (e.user_id, if (e.value > 100.0) "hi" else "lo"))
        .toDF("user_id", "band")
        .groupBy($"user_id", $"band")
        .agg(count(lit(1)).as("cnt"))
    }),

    // document-length histogram (100-char buckets) per lang.
    "pl4_length_histogram" -> ((s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "documents")
        .groupBy($"lang",
          (floor(length($"text") / 100L) * 100L).cast("long").as("bucket"))
        .agg(count(lit(1)).as("cnt"))
    }),

    // deterministic train/val/test split (80/10/10) by id hash — the
    // retry-safe dataset partitioning pass (no rand(): re-runs and
    // incremental appends land every doc in the same split forever).
    "pl6_train_split" -> ((s, dir) => {
      import s.implicits._
      val h = pmod($"doc_id" * 2654435761L, lit(100L))
      Tables.load(s, dir, "documents")
        .groupBy($"lang",
          when(h < 80, "train").when(h < 90, "val").otherwise("test")
            .as("split"))
        .agg(count(lit(1)).as("cnt"),
          sum(length($"text")).cast("long").as("total_chars"))
    }),

    // sequence packing: running token cumsum per (lang, shard) in doc_id
    // order assigns each doc to a ~512-token context-window bin — the
    // greedy fill pass that turns documents into fixed-budget training
    // sequences. SHARDED (r14, VERDICT r13 #5): the packing stream
    // hash-shards BEFORE the window (pl19's epoch×shard composed into
    // the key), so no task ever sorts more than corpus/shards rows even
    // when one group dominates — the per-(group, shard) bin is the
    // training-sequence file key a sharded loader writes independently.
    // The shard hash is decorrelated from doc ids by the "sh:" prefix
    // (pl19's epoch-prefix discipline) and shared verbatim with the
    // oracle. One window sort per (lang, shard) partition + a hash agg;
    // integer sums only.
    "pl7_pack_sequences" -> ((s, dir) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"lang", $"shard").orderBy($"doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      Tables.load(s, dir, "documents")
        .select($"doc_id", $"lang",
          TextFunctions.tokenCount($"text").as("n_tok"),
          packShard($"doc_id").as("shard"))
        .withColumn("cum", sum($"n_tok").over(w))
        // floor division, not `div`: div truncates toward zero, so a
        // zero-token head doc ((cum-1) = -1) would bin to 0 in Spark but
        // -1 under the oracle's floor semantics. floor() matches both.
        .groupBy($"lang", $"shard",
          floor(($"cum" - 1) / 512.0).cast("long").as("bin"))
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("bin_tokens"))
    }),

    // PL8 — the composed ingest pipeline, end to end in ONE query:
    // normalize (tx7) → quality-score filter (tx2) → exact dedup on the
    // normalized text (tx5, keep min id) → per-lang sequence packing
    // (pl7). What a real training-data ingest run looks like; every stage
    // is the already-oracled operator, and the composition is oracled as
    // a whole (stage chaining is where column/alias bugs hide).
    // PL25 — the composed CRAWL-ingest chain, one oracled query: URL
    // canonicalization + keep-first (tx25's operator) → HTML render +
    // block-level boilerplate extraction (tx24's) on the URL survivors
    // → content-length/quality gate → exact content dedup on the
    // EXTRACTED text (tx5's md5 keep-first). pl8's composed-chain
    // discipline applied to the crawl path: every stage is the
    // production operator, the oracle replays the identical chain, and
    // a drift in ANY stage breaks the end-to-end hash. Shuffle budget:
    // two keyed windows (canonical key, content hash) + the narrow
    // render/extract projections.
    "pl25_crawl_pipeline" -> ((s, dir) => {
      import s.implicits._
      import graft.operators.{HtmlExtract, UrlCanon}
      val d = Tables.spread(Tables.load(s, dir, "documents"))
      val pages = d.agg(greatest(lit(50L),
        expr("count(1) div 10")).as("npages"))
      val withUrl = d.crossJoin(broadcast(pages))
        .select($"doc_id", $"text",
          UrlCanon.renderUrl($"doc_id", $"npages").as("url"))
      val urlKept = UrlCanon.dedupByUrl(withUrl, "doc_id", "url")
        .filter(!$"is_dup")
        .select($"doc_id", $"canonical_url")
      val surv = urlKept.join(d.select($"doc_id", $"text"), "doc_id")
      // canonical_url rides THROUGH the extraction (r15): the former
      // post-extract `q.join(urlKept)` recomputed the entire URL-dedup
      // subtree (scan + count-agg + window) a second time — urlKept is
      // unique per doc_id, so the carry is row-identical to the join.
      val ex = HtmlExtract.extract(
        surv.select($"doc_id", $"canonical_url",
          HtmlExtract.renderHtml($"doc_id", $"text").as("html")),
        "doc_id", "html", carry = Seq("canonical_url"))
      val q = ex.filter($"content_chars" >= 40 && $"n_kept" >= 1)
      q.withColumn("keeper", min($"doc_id").over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(md5($"extracted_text"))))
        .select($"doc_id", $"canonical_url", $"n_blocks", $"n_kept",
          $"content_chars", ($"doc_id" =!= $"keeper").as("is_content_dup"))
    }),

    // PL26 — hive-style partition pruning: the timed query reads ONE
    // language subtree of the durable lang-partitioned parquet layout
    // (graft.sources.FileSources; built in prewarm like every
    // corpus-snapshot artifact). At 100 TB, partitioning by a coarse
    // low-cardinality key is the MANIFEST-level pruning lever — the
    // filter eliminates whole directories before any file is opened,
    // where the flat layout lists every file and prunes row groups at
    // best (pl14's Z-order works the intra-file level; this is the
    // level above). FileSourcesSpec pins PartitionFilters in the
    // executed plan AND row-identity with the flat-table filter.
    "pl26_partition_prune" -> ((s, dir) => {
      import s.implicits._
      graft.core.Frames.parquet(s,
          graft.sources.FileSources.langPartitionedDocsDir(s, dir))
        .filter($"lang" === "en")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_chars").as("sum_chars"),
          sum(TextFunctions.tokenCount($"text")).as("n_tokens"))
    }),

    // S4 — the JSONL batch file source (the interchange format LLM
    // corpora ship in): `documents` round-tripped once per generation
    // through a durable JSONL artifact (prewarm), then read with the
    // PINNED schema — schema inference is a full extra pass over the
    // data at scale, so the timed path never pays it. The aggregate
    // includes a token count over the round-tripped text, so the
    // oracle (same aggregate over the parquet fixture) proves the
    // JSON codec lossless on the text payload, not just the numerics.
    // The corrupt-line PERMISSIVE contract (P1's stream-JSON policy,
    // batch twin) is pinned in FileSourcesSpec.
    "s4_jsonl_docs" -> ((s, dir) => {
      import s.implicits._
      graft.sources.FileSources.readJsonl(s,
          graft.sources.FileSources.jsonlDocsDir(s, dir))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_chars").as("sum_chars"),
          sum(TextFunctions.tokenCount($"text")).as("n_tokens"),
          min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"))
    }),

    // PL27 — model-based quality filtering, TRAINING step: a linear
    // classifier fit IN-ENGINE by 16 rounds of full-batch gradient
    // descent (the fastText/DCLM-style filter's training loop as a
    // dataflow; tx19/tx27/tx28/tx33 cover scoring, calibration,
    // thresholding and evaluation of an already-trained model — this
    // key trains one). Numeric portability (PLANS_r12 gate §pl27):
    // the link is the FAST sigmoid σ(m) = 0.5 + 0.5·m/(1+|m|) — the
    // logistic exp() is not bit-portable across engines, while +,×,/,
    // abs are IEEE-exact; a documented deviation, not smuggled
    // approximation. Gradient components fold through q72's
    // floor(·1e6) fixed-point sum (the rounding decimal cast resolves
    // half-way digits differently per engine), so every round's weights
    // are bit-identical in both engines regardless of partitioning and
    // the twin replays the whole trajectory through 1-row CTEs (sim9's
    // unroll). Labels come from a deterministic TEACHER rule
    // (y = 1 iff 3·x1 − 2·x3 + 0.3 ≥ 0, measured 68.8% positive at
    // sf0.01) — the fixture text carries no organic label signal
    // (probed: marker counts are lang-invariant), so the planted
    // boundary is what makes the emitted accuracy trajectory
    // demonstrate real learning above the majority baseline. Scale
    // shape: the feature projection is one narrow corpus pass
    // (persisted); each round is one map-side-combined aggregation
    // producing a 4-value model + one accuracy count — model-sized
    // state, rounds = corpus passes, the textbook full-batch GD shape.
    // S5 — the ORC batch file source (the Hive/Trino-estate columnar
    // format, Spark-native vectorized reader): `documents` round-
    // tripped once per generation through a durable ORC artifact
    // (prewarm), then read back with a selective numeric predicate so
    // the scan exercises ORC's min/max predicate pushdown (pinned as
    // PushedFilters in the executed plan by FileSourcesSpec — the
    // format-parity twin of pl26's parquet PartitionFilters pin). The
    // aggregate includes a token count over the round-tripped text, so
    // the oracle (the same aggregate over the parquet fixture) proves
    // the ORC codec lossless on the text payload, not just numerics.
    "s5_orc_docs" -> ((s, dir) => {
      import s.implicits._
      graft.core.Frames.orc(s, graft.sources.FileSources.orcDocsDir(s, dir))
        .filter($"n_chars" >= 200L)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_chars").as("sum_chars"),
          sum(TextFunctions.tokenCount($"text")).as("n_tokens"),
          min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"))
    }),

    // feature projection, GD loop, and SQL twin live in [[LrBase]]
    // (r13: shared verbatim with pl28, which serves the trained model —
    // the two keys can never drift).
    "pl27_lr_train" -> ((s, dir) => {
      import s.implicits._
      val feats = LrBase.feats(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val (ws, ncs) = LrBase.train(feats, finalNc = true)
      feats.unpersist()
      (1 to LrBase.Rounds).map { t =>
        val wt = ws(t - 1)
        (t.toLong, wt(0), wt(1), wt(2), wt(3), ncs(t))
      }.toDF("step", "w0", "w1", "w2", "w3", "n_correct")
    }),

    // PL28 — the train→serve composition (VERDICT r12 #1): pl27's
    // round-16 weights score every document, tx28's F1-argmax picks the
    // keep threshold on the (centi-margin, n, k) histogram against the
    // SAME teacher label the model was trained on, and tx27's Platt
    // machinery calibrates the margin into p_cal — one oracled chain
    // closing the model-based-filtering story (train, calibrate,
    // threshold, serve were separate keys until now). Gate: PLANS_r13
    // §pl28 (probed pre-oracle: |mb| 244/465 distinct, threshold
    // interior at mb*≈42/51, keep rate ≈0.71, accuracy at the tuned
    // point 0.97/0.99 vs the raw 0-threshold 0.804 — the sweep does
    // real work; Platt det ≠ 0 all rounds).
    //
    // Scale shape: 16 GD rounds = 16 map-side-combined corpus aggs over
    // the persisted feature frame (pl27's shape); scoring/serving is a
    // narrow projection + ONE histogram agg; the sweep and the Platt
    // fit run over the score-domain histogram (centi-quantized margins
    // — the tx19/tx27 bounded-score-domain discipline); per-doc p_cal
    // arrives through a broadcast join on the score key and the
    // threshold through a 1-row broadcast. No corpus shuffle anywhere.
    // The feature persist is registered with ManagedPersist — released
    // once the returned frame is dropped.
    "pl28_train_apply" -> ((s, dir) => {
      import s.implicits._
      val feats = LrBase.feats(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val (ws, _) = LrBase.train(feats, finalNc = false)
      val scored = feats.select($"doc_id",
        LrBase.margin(ws.last).as("margin"), $"y")
      val withMb = scored
        .withColumn("mb", floor($"margin" * 100.0).cast("long"))
      val hist = withMb.groupBy($"mb")
        .agg(count(lit(1)).as("n"), sum($"y".cast("long")).as("k"))
      val cal = graft.operators.Calibration.plattCalibrate(
        hist, "mb", "n", "k", iters = 3)
      // tx28's sweep over the calibrated histogram (aggregate-sized —
      // the windows here run over the score domain, never the corpus)
      val wCum = Window.orderBy($"mb".desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy()
      val curve = cal
        .withColumn("tp", sum($"k").over(wCum))
        .withColumn("fp", sum($"n" - $"k").over(wCum))
        .withColumn("pos", sum($"k").over(wAll))
        .withColumn("f1", (lit(2.0) * $"tp".cast("double")) /
          (lit(2L) * $"tp" + $"fp" + ($"pos" - $"tp")).cast("double"))
      val wBest = Window.orderBy($"f1".desc, $"mb".desc)
      val thr = curve.withColumn("rk", row_number().over(wBest))
        .filter($"rk" === 1).select($"mb".as("thr"))
      val out = withMb
        .join(broadcast(cal.select($"mb", $"p_cal")), Seq("mb"))
        .crossJoin(broadcast(thr))
        .select($"doc_id", $"margin", $"p_cal", ($"mb" >= $"thr").as("keep"))
      graft.core.ManagedPersist.register(feats, out)
      out
    }),

    // PL29 — cross-snapshot URL recrawl-delta accounting (VERDICT r12
    // #6): per crawl round × change-period class, how many CANONICAL
    // pages were re-fetched, first seen, changed content, kept content,
    // or missed — the freshness table recrawl schedulers budget from
    // (Cho & Garcia-Molina's freshness/age work; every crawler's
    // "did the page change since last time" ledger). Gate: PLANS_r13
    // §pl29 — the organic alternatives were falsified pre-oracle
    // (own-text content ⇒ change_rate ≡ 1.0; dd12's gen = doc_id % 4 is
    // degenerate when npages % 4 == 0; n is an exact npages multiple at
    // both sfs ⇒ the missing leg would be a structural zero), so the
    // fixture mapping PLANTS a deterministic change schedule and a
    // ~7.7% fetch-failure sample from doc_id arithmetic shared with the
    // twin (the q82/tx11/dd13 discipline).
    //
    // Fixture mapping: fetch = one documents row; page = doc_id mod
    // npages (tx25's corpus-derived page universe), crawl round r =
    // doc_id div npages (exactly 10 rounds at every sf); fetches with
    // doc_id % 13 == 7 FAILED (dropped). Page p refreshes its content
    // every period(p) = 1 + p%4 rounds, serving the text of its base
    // fetch (doc_id = p + (r − r%period)·npages — "the page keeps
    // serving its last-changed content"); content key = hash60(text).
    // Each observed fetch is keyed by its CANONICALIZED url (UrlCanon —
    // the raw render varies scheme case / default port / tracking
    // params by fetch, so the per-page history only assembles because
    // canonicalization collapses the variants) and compared against the
    // page's previous OBSERVED fetch via one page-partitioned lag
    // window.
    //
    // Scale shape: one corpus scan renders+canonicalizes the fetch
    // table; one equi-join on the derived base doc_id fetches content
    // (corpus-sized equi-shuffle, partial-agg'd downstream); the lag
    // window partitions on canonical_url (npages groups × ~10 rows —
    // never data-sized); the final agg is (round, period)-keyed with a
    // 4-row class-size grid joined in. Output: rounds×4 rows. A
    // round×class cell with ALL fetches dropped would vanish rather
    // than report missing=class_size — probed impossible at these
    // fixtures (residues mod 13 spread within every class); stated as
    // the accounting's edge.
    "pl29_recrawl_delta" -> ((s, dir) => {
      import s.implicits._
      val seen = RecrawlBase.classified(s, dir)
        .groupBy($"r".as("round"), $"period")
        .agg(count(lit(1)).as("n_seen"),
          sum(when($"chg" === "new", 1L).otherwise(0L)).as("n_new"),
          sum(when($"chg" === "changed", 1L).otherwise(0L)).as("n_changed"),
          sum(when($"chg" === "unchanged", 1L).otherwise(0L))
            .as("n_unchanged"))
      // class sizes from pure arithmetic (pages p in [0, npages) with
      // p%4 == c number (npages − c + 3) div 4) — no corpus pass
      seen.join(broadcast(RecrawlBase.classSizes(s, dir)), Seq("period"))
        .select($"round", $"period", $"n_seen", $"n_new", $"n_changed",
          $"n_unchanged", ($"class_size" - $"n_seen").as("n_missing"),
          ($"n_changed".cast("double") / $"n_seen".cast("double"))
            .as("change_rate"))
    }),

    // PL31 — recrawl SCHEDULING policy, closing the pl29 recrawl-ledger
    // loop with the decision the ledger exists to drive (VERDICT r14
    // #5): per page, the Poisson change-rate estimate λ̂ from the
    // observed change history — Cho & Garcia-Molina 2003's
    // incomplete-observation-corrected estimator
    // λ̂ = −ln((n − X + 0.5)/(n + 0.5)) / Ī (n comparisons, X detected
    // changes, Ī = mean observed inter-fetch gap: the planted ~7.7%
    // fetch failures make polling irregular, which is the regime the
    // correction exists for) — and the next-fetch interval 1/λ̂. The
    // scheduler consumes λ̂ as its priority sort key (a distributed
    // sort at scale, deliberately NOT a global rank window here).
    //
    // READ THE NUMBER RIGHT (PLANS_r15 §pl31 probe): period-p pages'
    // true rate is 1/p; periods 2-4 track it (0.57/0.38/0.24). Period
    // 1 is RIGHT-CENSORED — every access sees a change (X ≡ n), so the
    // +0.5 correction caps λ̂ ≈ ln(2n+1)/Ī instead of diverging: the
    // paper's documented limit for pages changing at or above the
    // polling rate. The λ̂ ORDERING, which the probe shows separates
    // the period bands page-wise, is what drives the schedule.
    //
    // Scale shape: RecrawlBase's fetch derivation (one corpus scan +
    // one content equi-join), the page-partitioned lag window (npages
    // groups × ~rounds rows), and a per-page agg — pages-sized output.
    // Cold pages (<2 observed fetches) carry no estimate by
    // construction and are a scheduler default outside this frame.
    // λ̂ is the one ln-bearing term: DECIMAL(28,6)-quantized, and
    // next_interval derives from the QUANTIZED λ̂ (re-quantized), so
    // the key carries a full hash oracle.
    "pl31_recrawl_schedule" -> ((s, dir) => {
      import s.implicits._
      RecrawlBase.comparisons(s, dir)
        .groupBy($"canonical_url", $"period")
        .agg(count(lit(1)).as("n_cmp"),
          sum($"chg").as("n_chg"),
          sum($"gap").as("t_span"))
        .withColumn("lambda_hat", quantize(
          -log((($"n_cmp" - $"n_chg").cast("double") + lit(0.5)) /
               ($"n_cmp".cast("double") + lit(0.5))) /
          ($"t_span".cast("double") / $"n_cmp".cast("double"))))
        .withColumn("next_interval", quantize(lit(1.0) / $"lambda_hat"))
    }),

    // PL30 — quality-weighted temperature mix → token packing, the
    // pl7×pl15 seam closed as ONE oracled chain (VERDICT r12 #6's
    // alternative): per-source weight w_s = √n_s · q̄_s (mT5's
    // α-sampling, α=0.5, with a DoReMi-adjacent quality factor), a
    // half-corpus TOKEN budget, rate_s = min(1, budget·share_s /
    // tokens_s), deterministic hash selection, then the SELECTED stream
    // packs into 512-token bins per source (pl7's packer) — the mix
    // decides WHAT enters, the packer lays it out. Gate: PLANS_r13
    // §pl30 — the fixture's organic `source` column is round-robin
    // (shares a structural ≈1/20, probed and discarded), so sources
    // are re-binned GEOMETRICALLY from doc_id arithmetic shared with
    // the twin: src = 's'||(length(bin(doc_id+2))−1), size-2^k bins —
    // the skewed-corpus regime α-sampling exists for (probed: shares
    // 0.007-0.31, small sources kept whole at rate 1.0, large ones
    // downsampled to 0.30). length-of-binary, NOT floor(log2(·)):
    // double log2 floors disagree between engines at exact powers of
    // two; the string form is integer-exact in both.
    //
    // Scale shape: mix statistics are one per-source agg (+ quality
    // fold) and a 1-row totals broadcast; selection is a narrow
    // broadcast-rate filter; packing is pl7's SHARDED per-(source,
    // shard) window (r14, VERDICT r13 #5). Weight sums cross sources in
    // DECIMAL (pl15's discipline), quality sums as floor·1e6 folds.
    "pl30_quality_mix_pack" -> ((s, dir) => {
      import s.implicits._
      import graft.functions.PortableHash
      val d = Tables.spread(Tables.load(s, dir, "documents"))
        .select($"doc_id",
          concat(lit("s"), (length(bin($"doc_id" + 2)) - 1)
            .cast("string")).as("src"),
          TextFunctions.tokenCount($"text").as("n_tok"),
          TextFunctions.qualityScore($"text").as("q"))
      val stats = d.groupBy($"src").agg(
        count(lit(1)).as("n_docs"),
        sum($"n_tok").as("src_tok"),
        sumFloor($"q").as("sum_q"))
      val ws = stats.withColumn("w", toExact(sqrt($"n_docs".cast("double")) *
        ($"sum_q" / $"n_docs".cast("double"))))
      val tot = ws.agg(sum($"w").cast("double").as("w_tot"),
        expr("sum(src_tok) div 2").as("budget"))
      val rates = ws.crossJoin(broadcast(tot)).select($"src",
        ($"w".cast("double") / $"w_tot").as("share"),
        least(lit(1.0),
          ($"budget".cast("double") * ($"w".cast("double") / $"w_tot")) /
            $"src_tok".cast("double")).as("rate"))
      val sel = d.join(broadcast(rates), Seq("src"))
        .filter(PortableHash.hash60($"doc_id".cast("string"))
          .cast("double") < $"rate" * lit(graft.operators.Sketches.Pow60))
        .withColumn("shard", packShard($"doc_id"))
      // packing is sharded (VERDICT r13 #5): pl30's geometric bins make
      // the largest source ~half the corpus BY CONSTRUCTION — exactly
      // the regime where an un-sharded per-source window serializes.
      // The selection hash (bare doc_id) and the shard hash ("sh:"
      // prefix) are decorrelated by the prefix.
      val wPack = Window.partitionBy($"src", $"shard").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      sel.withColumn("cum", sum($"n_tok").over(wPack))
        .groupBy($"src".as("source"), $"shard",
          floor(($"cum" - 1) / 512.0).cast("long").as("bin"))
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("bin_tokens"),
          max($"share").as("share"), max($"rate").as("rate"))
    }),

    "pl8_ingest_pipeline" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.spread(Tables.load(s, dir, "documents"))
        .withColumn("norm_text", TextFunctions.normalizeText($"text"))
        .withColumn("quality", TextFunctions.qualityScore($"text"))
        .filter($"quality" > 0.0 && $"norm_text" =!= "")
      // keep-min-per-hash as a window keep-first, NOT groupBy+self-join:
      // the join form recomputes the regex normalize/quality chain on both
      // sides (the dominant CPU) and shuffles the docs twice
      val wDedup = org.apache.spark.sql.expressions.Window
        .partitionBy(md5($"norm_text")).orderBy($"doc_id")
      val surviving = docs
        .withColumn("rn", row_number().over(wDedup))
        .filter($"rn" === 1)
        .select($"doc_id", $"lang",
          TextFunctions.tokenCount($"norm_text").as("n_tok"),
          packShard($"doc_id").as("shard"))
      // packing is sharded (VERDICT r13 #5) — see pl7
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"lang", $"shard").orderBy($"doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      surviving.withColumn("cum", sum($"n_tok").over(w))
        .groupBy($"lang", $"shard",
          floor(($"cum" - 1) / 512.0).cast("long").as("bin"))
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("bin_tokens"))
    }),

    // sliding-window document chunking with overlap (size 32, stride 24 —
    // the RAG / pretraining context chunker): chunk k covers token
    // positions [24k+1, 24k+32]; the chunk count ceil-covers the tail so
    // no token is dropped. Narrow per-row work (one token array, one
    // explode ~n_tok/24 rows per doc) — no shuffle; the integer chunk
    // arithmetic is engine-portable.
    "pl9_chunk_overlap" -> ((s, dir) => {
      import s.implicits._
      val base = Tables.spread(Tables.load(s, dir, "documents"))
        .withColumn("_toks", TextFunctions.tokens($"text"))
        .select($"doc_id", $"_toks",
          size($"_toks").cast("long").as("n_tok"))
        .filter($"n_tok" > 0)
      base
        .withColumn("n_chunks",
          (floor((greatest($"n_tok" - 32L, lit(0L)) + 23L) / 24.0) + 1L)
            .cast("long"))
        .select($"doc_id", $"_toks", $"n_tok",
          explode(sequence(lit(0L), $"n_chunks" - 1L)).as("chunk_id"))
        .select($"doc_id", $"chunk_id",
          least(lit(32L), $"n_tok" - $"chunk_id" * 24L).as("n_chunk_tok"),
          concat_ws(" ",
            slice($"_toks", ($"chunk_id" * 24L + 1L).cast("int"), lit(32)))
            .as("chunk_text"))
    }),

    // weighted dataset mixing by source (the Dolma/SlimPajama composition
    // pass): each source gets a target weight in {0.5, 1.0, 1.5, 2.0}
    // (derived from its id); every doc is emitted floor(w) times plus one
    // more for a deterministic hash-fraction of docs — i.e. up/downsampling
    // with EPOCH numbers, retry-safe (no rand()). The mixed set is actually
    // materialized (explode over the copy count) then audited per source.
    // Integer-only arithmetic (w2 = 2w avoids double weights); narrow
    // explode ≤2× then one partial-agg'd shuffle on source.
    "pl10_source_mix" -> ((s, dir) => {
      import s.implicits._
      val w2 = substring($"source", 4, 10).cast("int") % 4 + 1 // 2×weight
      val h = pmod($"doc_id" * 2654435761L, lit(100L))
      val copies = (w2.cast("long") / lit(2L)).cast("long") +
        when(h < (w2.cast("long") % 2L) * 50L, 1L).otherwise(0L)
      val mixed = Tables.load(s, dir, "documents")
        .withColumn("copies", copies)
        .select($"doc_id", $"source", $"copies",
          // sequence(1, 0) is DESCENDING — guard the zero-copy case and
          // keep dropped docs visible through explode_outer's null epoch
          explode_outer(when($"copies" > 0L,
            sequence(lit(1L), $"copies"))).as("epoch"))
      mixed.groupBy($"source")
        .agg(
          countDistinct($"doc_id").as("n_docs"),
          count($"epoch").as("n_emitted"),
          countDistinct(when($"epoch".isNotNull, $"doc_id")).as("n_kept"))
    }),

    // curriculum construction: quality-quartile phase per language
    // (easy→hard ordering for curriculum training; ntile over the
    // deterministic quality score with doc_id tiebreak is exact in
    // both engines). Window is partitioned by lang — never global.
    "pl12_curriculum" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"lang")
        .orderBy($"quality".asc, $"doc_id".asc)
      graft.core.Tables.spread(Tables.load(s, dir, "documents"))
        .select($"doc_id", $"lang",
          TextFunctions.qualityScore($"text").as("quality"))
        .withColumn("phase", ntile(4).over(w).cast("long"))
    }),

    // DSIR importance resampling: hashed-bigram log-likelihood ratio of
    // target (en docs) vs raw corpus, top-25% kept per source. Full hash
    // oracle: ln-bearing terms are decimal-quantized pre-fold (sumExact),
    // making the weights bit-portable. Fixture genuinely selects:
    // en-heavy docs outrank.
    //
    // Served shape (VERDICT r14 #4): the doc features and BOTH Laplace
    // bucket models are corpus-deterministic and were rebuilt (one
    // corpus gram explode + three aggs) on every run — they now live in
    // the durable FixtureCache (built once per generation with the
    // identical ASTs; counts round-trip parquet exactly, hash
    // unchanged). The timed region reads the artifact scans + a narrow
    // 2-column documents scan for the (doc, source) base
    // (PlanQualitySpec pins both), pays the broadcast model join, the
    // per-doc decimal fold and the per-source rank window — the
    // selection pass a deployment runs against its frozen DSIR model.
    "pl11_dsir_select" -> ((s, dir) => {
      import s.implicits._
      graft.operators.ImportanceSampling.dsirSelectServed(
        dsirDocBuckets(s, dir).select($"doc", $"b", $"c"),
        dsirTModel(s, dir), dsirRModel(s, dir),
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"source"),
        "doc_id", "source", buckets = 4096, keepFraction = 0.25)
    }),

    // SCD2 merge (see operators.Scd2): orders as the dimension snapshot,
    // a derived CDC batch exercising all four paths — pass-through closed
    // rows (k%10), no-op updates (k%6), real changes (k%3 minus k%6),
    // and brand-new keys (k%100==7, offset out of the key range).
    "pl13_scd2_merge" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val hist = o.select($"o_orderkey", $"o_orderstatus", $"o_totalprice",
          $"o_orderdate".as("valid_from"),
          lit(null).cast("timestamp").as("valid_to"),
          lit(true).as("is_current"))
        .unionByName(o.filter($"o_orderkey" % 10 === 0)
          .select($"o_orderkey", lit("P").as("o_orderstatus"),
            ($"o_totalprice" - 50.0).as("o_totalprice"),
            ($"o_orderdate" - expr("INTERVAL 90 DAYS")).as("valid_from"),
            $"o_orderdate".as("valid_to"), lit(false).as("is_current")))
      val upd = o.filter($"o_orderkey" % 3 === 0)
        .select($"o_orderkey",
          when($"o_orderkey" % 6 === 0, $"o_orderstatus")
            .otherwise(lit("U")).as("o_orderstatus"),
          when($"o_orderkey" % 6 === 0, $"o_totalprice")
            .otherwise($"o_totalprice" + 100.0).as("o_totalprice"),
          ($"o_orderdate" + expr("INTERVAL 30 DAYS")).as("eff"))
        .unionByName(o.filter($"o_orderkey" % 100 === 7)
          .select(($"o_orderkey" + 100000000L).as("o_orderkey"),
            $"o_orderstatus", $"o_totalprice", $"o_orderdate".as("eff")))
      graft.operators.Scd2.merge(hist, upd, Seq("o_orderkey"),
        Seq("o_orderstatus", "o_totalprice"), "eff")
    }),

    // z-order clustering witness (see operators.ZOrder): per-bucket
    // bounding boxes over (custkey, order day) under the interleaved key
    // — the file-stats table a pruning reader consults. Dimensions are
    // range-normalized to 6 bits first (integer DIV against the global
    // min/max — one broadcast stats row, the pass a zorder write runs
    // anyway): raw values never reach the code's top bits, and rank-space
    // interleaving is what lakehouse OPTIMIZE implementations actually
    // cluster on, at any scale factor.
    "pl14_zorder_stats" -> ((s, dir) => {
      import s.implicits._
      import graft.operators.ZOrder
      val o = Tables.load(s, dir, "orders").select(
        $"o_custkey".as("cust"),
        datediff($"o_orderdate", lit("1970-01-01")).cast("long").as("day"))
      val mm = o.agg(max($"cust").as("cx"), min($"day").as("mind"),
        max($"day").as("maxd"))
      val scaled = o.crossJoin(broadcast(mm)).select($"cust", $"day",
        expr("cust * 64 DIV (cx + 1)").as("sx"),
        expr("(day - mind) * 64 DIV (maxd - mind + 1)").as("sy"))
      scaled
        .groupBy(shiftright(ZOrder.zValue(Seq($"sx", $"sy"), 6), 8)
          .as("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          min($"cust").as("min_cust"), max($"cust").as("max_cust"),
          min($"day").as("min_day"), max($"day").as("max_day"))
    }),

    // temperature-scaled source mixing (Arivazhagan et al. 2019 §4;
    // mT5's α-sampling, Xue et al. 2021): sample source s with
    // probability ∝ n_s^α, α=0.5, downsampling to a half-corpus budget.
    // Unlike pl10 (fixed integer weights, upsampling) the rates DERIVE
    // from corpus statistics. α=0.5 keeps it exactly oracle-able:
    // IEEE-754 sqrt is correctly rounded, the cross-source weight sum
    // runs in DECIMAL, and every division is spelled in the same double
    // AST in both engines. Selection is the deterministic hash
    // threshold, so n_selected is exact, not expected-value.
    //
    // Scale shape: two tiny aggregates (per-source counts, one totals
    // row), a broadcast rate join, and one narrow filtered count —
    // nothing corpus-scale shuffles except the per-source count.
    "pl15_temperature_mix" -> ((s, dir) => {
      import s.implicits._
      import graft.functions.PortableHash
      val docs = Tables.load(s, dir, "documents")
      val counts = docs.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"))
      val ws = counts.withColumn("w", toExact(sqrt($"n_docs".cast("double"))))
      val tot = ws.agg(sum($"w").cast("double").as("w_tot"),
        expr("sum(n_docs) div 2").as("budget"))
      val rates = ws.crossJoin(broadcast(tot)).select(
        $"source", $"n_docs", $"budget",
        ($"w".cast("double") / $"w_tot").as("share"))
        .withColumn("rate", least(lit(1.0),
          ($"budget".cast("double") * $"share") /
            $"n_docs".cast("double")))
      val rated = rates.select($"source", $"n_docs", $"share", $"rate")
      docs.select($"doc_id", $"source")
        .join(broadcast(rated), Seq("source"))
        .withColumn("sel",
          PortableHash.hash60($"doc_id".cast("string")).cast("double") <
            $"rate" * lit(graft.operators.Sketches.Pow60))
        .groupBy($"source")
        .agg(max($"n_docs").as("n_docs"), max($"share").as("share"),
          max($"rate").as("rate"),
          sum(when($"sel", 1L).otherwise(0L)).as("n_selected"))
    }),

    // pl16 — cluster-balanced (diversity) sampling: every cluster's
    // contribution capped at [[ClusterCap]] members, picked in portable-
    // hash order (deterministic pseudo-random — retry-safe, engine-
    // portable, no rand()). The post-clustering companion to pl3's
    // fraction-stratified sampler: a FRACTION per stratum preserves the
    // corpus's imbalance, a CAP flattens it — how curation suppresses
    // over-represented modes (boilerplate clusters) without touching
    // rare ones. The fixture's label column stands in for any cluster
    // assignment (dd5/sim9 produce the learned one). Scale: one exchange
    // on the cluster id + a per-cluster top-m window — WindowGroupLimit
    // prunes each map task to ≤ cap rows before the shuffle, so the
    // exchange carries O(k·cap), not the corpus.
    "pl16_cluster_cap_sample" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      import graft.functions.PortableHash
      val w = Window.partitionBy($"label").orderBy($"pick", $"vec_id")
      Tables.load(s, dir, "embeddings")
        .select($"vec_id", $"label",
          PortableHash.hash60($"vec_id".cast("string")).as("pick"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter($"rn" <= ClusterCap)
        .select($"vec_id", $"label", $"rn")
    }),

    // per-group winsorization at exact [p05, p95] — the outlier-clipping
    // pass before loss/length statistics feed a curriculum. The quantiles
    // are EXACT rank order statistics, but no corpus-scale sort happens:
    // a (group, value) hash agg collapses the fact table to its value
    // HISTOGRAM — which over a continuous price column is ~60% of ROWS,
    // not a small domain (the r11 comment overstated "domain-bounded"),
    // so the cumulative runs through BucketedCdf's probe-bucketed
    // PARTITIONED windows rather than one task per 3-value group (a raw
    // per-group row sort here would put 33 TB through 3 tasks at target
    // scale; the un-bucketed histogram window put ~60% of that through
    // the same 3 tasks). Bound value v(k) = min v with cum(v) ≥ k, and
    // the tiny bounds frame broadcasts back for the clip pass. Clipped
    // values are untouched doubles (least/greatest only) and the sum
    // folds in decimal — full hash oracle.
    "pl17_winsorize" -> ((s, dir) => {
      import s.implicits._
      val li = Tables.load(s, dir, "lineitem")
        .select($"l_returnflag".as("g"), $"l_extendedprice".as("v"))
      val hist = li.groupBy($"g", $"v").agg(count(lit(1)).as("c"))
      // rank-restricted cumulative (r16, guide §2.3): the bounds read
      // exactly TWO ranks per group, so the cumulative window and the
      // read-off agg below run over only the ≤2 buckets containing
      // them (~2/32 of the histogram) instead of all of it — cum on
      // retained rows is byte-identical (BucketedCdf scaladoc + spec).
      // The rank exprs MUST mirror loR/hiR below; ng (per-group totals)
      // comes off the helper's offset fold, not a histogram re-scan.
      def loRof(n: Column) =
        greatest(lit(1L), ceil(n.cast("double") * 0.05))
      def hiRof(n: Column) = ceil(n.cast("double") * 0.95)
      val (cum0, hck, ng) = graft.operators.BucketedCdf.withCumAtRanks(
        hist, Seq("g"), "v", "c", n => Seq(loRof(n), hiRof(n)))
      val cum = cum0.join(broadcast(ng), "g")
      val loR = loRof($"n")
      val hiR = hiRof($"n")
      val bounds = cum.groupBy($"g").agg(
        min(when($"cum" >= loR, $"v")).as("p05"),
        min(when($"cum" >= hiR, $"v")).as("p95"))
      val res = li.join(broadcast(bounds), "g")
        .groupBy($"g".as("l_returnflag"))
        .agg(count(lit(1)).as("cnt"),
          max($"p05").as("p05"), max($"p95").as("p95"),
          sum(when($"v" < $"p05", 1L).otherwise(0L)).as("clipped_lo"),
          sum(when($"v" > $"p95", 1L).otherwise(0L)).as("clipped_hi"),
          sumExact(least(greatest($"v", $"p05"), $"p95"))
            .as("sum_winsorized"))
      // tie the helper's persist to the frame actually returned
      // (ADVICE r13)
      graft.core.ManagedPersist.extendHandles(hck, res)
      res
    }),

    // per-source distribution drift: Pearson χ² of each source's language
    // mix against the corpus-wide mix — the mixture-monitoring gate that
    // catches a crawl source going off-distribution between snapshots.
    // χ² = Σ_b (obs·N − n_s·n_b)² / (N·n_s·n_b) (the obs−exp form scaled
    // through by N to keep every operand an exact count). ONE corpus-
    // scale hash agg produces the (source, bucket) counts; everything
    // after runs on the sources×buckets grid (the cross join is that
    // grid — two aggregate-sized sides, never the corpus), completed
    // with zero-observation cells because a source MISSING a bucket is
    // maximal drift evidence, not absence of data. Per-cell arithmetic
    // is IEEE double over exact counts (deterministic in any engine; no
    // overflow at any corpus size) and the final fold is decimal-exact.
    "pl18_source_drift" -> ((s, dir) => {
      import s.implicits._
      val d = Tables.load(s, dir, "documents")
      val obs = d.groupBy($"source", $"lang").agg(count(lit(1)).as("obs"))
      val bySrc = obs.groupBy($"source").agg(sum($"obs").as("n_s"))
      val byLang = obs.groupBy($"lang").agg(sum($"obs").as("n_b"))
      val total = d.agg(count(lit(1)).as("n_total"))
      val grid = bySrc.crossJoin(byLang)
        .join(obs, Seq("source", "lang"), "left")
        .withColumn("obs", coalesce($"obs", lit(0L)))
        .crossJoin(broadcast(total))
      val dev = $"obs".cast("double") * $"n_total".cast("double") -
        $"n_s".cast("double") * $"n_b".cast("double")
      val denom = $"n_total".cast("double") * $"n_s".cast("double") *
        $"n_b".cast("double")
      grid.withColumn("term", dev * dev / denom)
        .groupBy($"source")
        .agg(max($"n_s").as("n_docs"),
          sumExact($"term").as("chi2"))
    }),

    // deterministic sharded epoch shuffle: the training-order permutation
    // between epochs. Each (epoch, doc) hashes to a shard and a rank
    // within the shard — the SHAPE real loaders use (a shard is a
    // worker's file; pos is the read order within it), and the reason
    // this scales: the rank window keys on (epoch, shard), so no task
    // ever sorts more than corpus/shards rows, where a single global
    // per-epoch permutation rank would serialize the corpus through one
    // sort. Retry-safe and seedless-RNG-free: the permutation is pure
    // hash arithmetic, so epoch 0 reproduces bit-identically on any
    // cluster and epochs decorrelate via the epoch-prefixed hash.
    "pl19_epoch_shuffle" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      import graft.functions.PortableHash
      val d = Tables.load(s, dir, "documents").select($"doc_id")
      val epochs = s.range(0, 2).toDF("epoch")
      val keyed = d.crossJoin(broadcast(epochs))
        .withColumn("h", PortableHash.hash60(
          concat($"epoch".cast("string"), lit(":"),
            $"doc_id".cast("string"))))
        .withColumn("shard", pmod($"h", lit(8L)))
      keyed.withColumn("pos", row_number().over(
          Window.partitionBy($"epoch", $"shard")
            .orderBy($"h", $"doc_id")).cast("long"))
        .select($"epoch", $"doc_id", $"shard", $"pos")
    }),

    // snapshot diff (CDC without a log): two ingest snapshots compared by
    // primary key in ONE co-partitioned FULL OUTER join — the change feed
    // (added / deleted / changed) a pipeline derives when the upstream
    // can only hand over full dumps. Emits only the delta; at 100 TB the
    // output is delta-sized while the join is the unavoidable one
    // pk-shuffle of each snapshot (bucketed layouts drop even that). The
    // "tomorrow" snapshot is derived deterministically from today's
    // (every 97th key deleted, every 89th price restated ×1.1, every
    // 101st re-ingested under a shifted key) so both engines rebuild
    // identical inputs.
    "pl20_snapshot_diff" -> ((s, dir) => {
      import s.implicits._
      val a = Tables.load(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey", $"o_orderstatus",
          $"o_totalprice")
      val b = a.filter($"o_orderkey" % 97 =!= 0)
        .withColumn("o_totalprice",
          when($"o_orderkey" % 89 === 0, $"o_totalprice" * 1.1)
            .otherwise($"o_totalprice"))
        // offset 1e8, not 1e7: TPC-H orderkeys reach ~6M·sf, so a 1e7
        // shift collides re-ingested keys with genuine ones at sf ≥ 2
        // (duplicate PKs → full-outer fan-out, wrong classification;
        // ADVICE r7)
        .unionAll(a.filter($"o_orderkey" % 101 === 0)
          .select(($"o_orderkey" + 100000000L).as("o_orderkey"),
            $"o_custkey", lit("N").as("o_orderstatus"),
            lit(100.0).as("o_totalprice")))
      val an = a.select($"o_orderkey", $"o_orderstatus".as("status_old"),
        $"o_totalprice".as("price_old"))
      val bn = b.select($"o_orderkey", $"o_orderstatus".as("status_new"),
        $"o_totalprice".as("price_new"))
      an.join(bn, Seq("o_orderkey"), "full_outer")
        .withColumn("change",
          when($"status_old".isNull, "added")
            .when($"status_new".isNull, "deleted")
            .when($"status_old" =!= $"status_new" ||
              $"price_old" =!= $"price_new", "changed")
            .otherwise("unchanged"))
        .filter($"change" =!= "unchanged")
        .select($"o_orderkey", $"change", $"status_old", $"price_old",
          $"status_new", $"price_new")
    }))

  /** pl16's per-cluster keep budget. */
  private val ClusterCap = 25

  /** pl8's DuckDB twin: the same four stages as the Spark side, chained
    * as CTEs from the already-proven per-stage SQL (tx7 normalize, tx2
    * quality, tx5 dedup, pl7 packing). */
  private def pl8Sql: String = {
    s"""WITH norm AS (
       |  SELECT doc_id, lang, text,
       |    ${TextFunctions.normalizeTextSql("text")} AS norm_text,
       |    ${TextFunctions.qualityScoreSql("text")} AS quality
       |  FROM documents
       |), kept AS (
       |  SELECT * FROM norm WHERE quality > 0.0 AND norm_text <> ''
       |), dedup AS (
       |  SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(norm_text)
       |), surviving AS (
       |  SELECT k.doc_id, k.lang,
       |    ${TextFunctions.tokenCountSql("k.norm_text")} AS n_tok,
       |    ${packShardSql("k.doc_id")} AS shard
       |  FROM kept k JOIN dedup d ON d.doc_id = k.doc_id
       |), c AS (
       |  SELECT doc_id, lang, shard, n_tok,
       |    sum(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM surviving
       |)
       |SELECT lang, shard, CAST(floor((cum - 1) / 512.0) AS BIGINT) AS bin,
       |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS bin_tokens
       |FROM c GROUP BY lang, shard, bin""".stripMargin
  }

  /** Materialize the file-layout artifacts (lang-partitioned copy,
    * JSONL copy) outside any timed region — the write is the once-per-
    * corpus-snapshot cost, the queries measure serving. */
  /** pl11's durable doc-feature artifact: (doc, is_tgt, b, c) — the
    * hashed-gram bucket counts per document, with the doc-level target
    * flag carried so both models derive from THIS table (one gram pass
    * per generation, not three). Counts are corpus-deterministic under
    * the frozen (isTarget, buckets) parameterization the key pins. */
  private def dsirDocBuckets(s: SparkSession, dir: String): DataFrame =
    graft.core.FixtureCache.tableFor(s, dir, "dsirdb1") {
      import s.implicits._
      graft.operators.ImportanceSampling.dsirGrams(
          Tables.spread(Tables.load(s, dir, "documents")),
          "doc_id", "text", $"lang" === "en", buckets = 4096)
        .groupBy($"doc", $"is_tgt", $"b")
        .agg(count(lit(1)).as("c"))
    }

  /** The target Laplace bucket model (b, ct): gram-occurrence counts
    * over target docs — Σ c over the is_tgt slice of the doc-feature
    * artifact (≡ the in-query grams.filter(is_tgt).groupBy(b).count). */
  private def dsirTModel(s: SparkSession, dir: String): DataFrame =
    graft.core.FixtureCache.tableFor(s, dir, "dsirtm1") {
      dsirDocBuckets(s, dir).filter(col("is_tgt"))
        .groupBy(col("b")).agg(sum(col("c")).as("ct"))
    }

  /** The raw-corpus Laplace bucket model (b, cr). */
  private def dsirRModel(s: SparkSession, dir: String): DataFrame =
    graft.core.FixtureCache.tableFor(s, dir, "dsirrm1") {
      dsirDocBuckets(s, dir)
        .groupBy(col("b")).agg(sum(col("c")).as("cr"))
    }

  override def prewarm(s: SparkSession, dir: String): Unit = {
    graft.sources.FileSources.langPartitionedDocsDir(s, dir)
    graft.sources.FileSources.jsonlDocsDir(s, dir)
    graft.sources.FileSources.orcDocsDir(s, dir)
    dsirDocBuckets(s, dir)
    dsirTModel(s, dir)
    dsirRModel(s, dir)
    ()
  }

  /** The shared recrawl fetch-chain CTEs (par → u → f → c): the pl29
    * twin's derivation verbatim, reused by pl31's twin so the two
    * oracles cannot drift from one definition — the SQL mirror of
    * RecrawlBase. */
  private def recrawlFetchCtesSql: String = {
    import graft.functions.PortableHash
    s"""par AS (
       |  SELECT greatest(50, count(*) // 10) AS npages FROM documents
       |), u AS (
       |  SELECT doc_id, npages,
       |    ${graft.operators.UrlCanon.renderUrlSql("doc_id", "npages")}
       |      AS url,
       |    doc_id % npages AS p, doc_id // npages AS r,
       |    1 + (doc_id % npages) % 4 AS period
       |  FROM documents CROSS JOIN par
       |  WHERE doc_id % 13 <> 7
       |), f AS (
       |  SELECT doc_id, npages, p, r, period,
       |    ${graft.operators.UrlCanon.canonicalizeSql("url")}
       |      AS canonical_url,
       |    p + (r - r % period) * npages AS base_id
       |  FROM u
       |), c AS (
       |  SELECT f.canonical_url, f.r, f.period,
       |    ${PortableHash.hash60Sql("d.text")} AS ck
       |  FROM f JOIN documents d ON d.doc_id = f.base_id
       |)""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    // pl31's twin: the shared fetch chain, BOTH lags (content key and
    // round), the per-page (n, X, T) fold and the Cho & Garcia-Molina
    // estimator with explicit double casts (a bare 0.5 in DuckDB is
    // DECIMAL and would run the ratio in decimal arithmetic);
    // λ̂ DECIMAL(28,6)-quantized, next_interval from the quantized λ̂.
    "pl31_recrawl_schedule" -> {
      val lambda = "-ln((CAST(n_cmp - n_chg AS DOUBLE) + 0.5) /" +
        " (CAST(n_cmp AS DOUBLE) + 0.5)) /" +
        " (CAST(t_span AS DOUBLE) / CAST(n_cmp AS DOUBLE))"
      s"""WITH $recrawlFetchCtesSql, lagd AS (
         |  SELECT canonical_url, r, period, ck,
         |    lag(ck) OVER (PARTITION BY canonical_url ORDER BY r)
         |      AS prev_ck,
         |    lag(r) OVER (PARTITION BY canonical_url ORDER BY r)
         |      AS prev_r
         |  FROM c
         |), comp AS (
         |  SELECT canonical_url, period,
         |    CASE WHEN ck <> prev_ck THEN 1 ELSE 0 END AS chg,
         |    r - prev_r AS gap
         |  FROM lagd WHERE prev_ck IS NOT NULL
         |), pp AS (
         |  SELECT canonical_url, period,
         |    CAST(count(*) AS BIGINT) AS n_cmp,
         |    CAST(sum(chg) AS BIGINT) AS n_chg,
         |    CAST(sum(gap) AS BIGINT) AS t_span
         |  FROM comp GROUP BY 1, 2
         |), lam AS (
         |  SELECT canonical_url, period, n_cmp, n_chg, t_span,
         |    ${quantizeSql(lambda)} AS lambda_hat
         |  FROM pp
         |)
         |SELECT canonical_url, period, n_cmp, n_chg, t_span, lambda_hat,
         |  ${quantizeSql("CAST(1.0 AS DOUBLE) / lambda_hat")} AS next_interval
         |FROM lam""".stripMargin
    },
    // pl26's twin: the same aggregate over the flat table — the key's
    // content is the LAYOUT (pruned scan, spec-pinned), not the math.
    "pl26_partition_prune" ->
      s"""SELECT source, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(sum(${TextFunctions.tokenCountSql("text")}) AS BIGINT)
         |    AS n_tokens
         |FROM documents WHERE lang = 'en'
         |GROUP BY source""".stripMargin,
    // s4's twin: the same aggregate over the parquet fixture — equality
    // proves the JSONL round trip lossless on text and numerics.
    // s5's twin: the same filtered aggregate over the parquet fixture —
    // equality proves the ORC round trip lossless on text and numerics.
    "s5_orc_docs" ->
      s"""SELECT source, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(sum(${TextFunctions.tokenCountSql("text")}) AS BIGINT)
         |    AS n_tokens,
         |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
         |FROM documents WHERE n_chars >= 200
         |GROUP BY source""".stripMargin,
    "s4_jsonl_docs" ->
      s"""SELECT lang, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(sum(${TextFunctions.tokenCountSql("text")}) AS BIGINT)
         |    AS n_tokens,
         |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
         |FROM documents GROUP BY lang""".stripMargin,
    // pl27's twin: the SAME 8-round GD trajectory, unrolled as 1-row
    // CTE stages (sim9's discipline). Every per-row double op (+, ×, /,
    // abs, the fast-sigmoid link) is IEEE-exact; the gradient sums are
    // q72's floor(·1e6) fixed-point fold; the weight updates are scalar
    // double arithmetic on those exact folds — so the whole trajectory
    // (weights AND accuracy counts) hash-matches bit-for-bit.
    // pl27's twin: the shared LrBase CTE chain (feats → wt16 with the
    // per-round nc accuracy CTEs), one SELECT per round.
    "pl27_lr_train" -> {
      "WITH " + LrBase.chainSql(withNc = true) + "\n" +
        (1 to LrBase.Rounds).map(t =>
          s"SELECT CAST($t AS BIGINT) AS step, w.w0, w.w1, w.w2, w.w3, " +
            s"nc.nc AS n_correct FROM wt$t w, nc$t nc")
          .mkString("\nUNION ALL\n")
    },
    // pl28's twin: the SAME chain to wt16 (no nc CTEs), then score →
    // centi-margin histogram → Platt calibration (Calibration.plattSql,
    // tx27's machinery — its internal `hist` CTE resolves inside the
    // derived-table subquery; the outer histogram is named mhist so the
    // names can never collide) → tx28-style cumulative F1 sweep with
    // the (f1 DESC, mb DESC) argmax → per-doc serve via the score-key
    // join and the 1-row threshold cross.
    "pl28_train_apply" -> {
      val platt = graft.operators.Calibration.plattSql(
        "SELECT mb AS m, n, k FROM mhist", iters = 3)
      "WITH " + LrBase.chainSql(withNc = false) + s""",
         |scored AS MATERIALIZED (
         |  SELECT doc_id, (w.w0 + w.w1 * x1 + w.w2 * x2 + w.w3 * x3)
         |      AS margin, y
         |  FROM feats, wt${LrBase.Rounds} w
         |), mhist AS MATERIALIZED (
         |  SELECT CAST(floor(margin * 100) AS BIGINT) AS mb,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CAST(y AS BIGINT)) AS BIGINT) AS k
         |  FROM scored GROUP BY 1
         |), cal AS MATERIALIZED (
         |  SELECT * FROM (
         |$platt
         |  ) pc
         |), curve AS (
         |  SELECT m AS mb, n, k,
         |    sum(k) OVER (ORDER BY m DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
         |    sum(n - k) OVER (ORDER BY m DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp,
         |    sum(k) OVER () AS pos
         |  FROM cal
         |), thr AS (
         |  SELECT mb AS thr FROM (
         |    SELECT mb, (2.0 * tp) /
         |      CAST(2 * tp + fp + (pos - tp) AS DOUBLE) AS f1
         |    FROM curve) f
         |  ORDER BY f1 DESC, mb DESC LIMIT 1
         |)
         |SELECT s.doc_id, s.margin, c.p_cal,
         |  (CAST(floor(s.margin * 100) AS BIGINT) >= t.thr) AS keep
         |FROM scored s
         |JOIN cal c ON CAST(floor(s.margin * 100) AS BIGINT) = c.m
         |CROSS JOIN thr t""".stripMargin
    },
    // pl29's twin: same render/canonicalize pair, same planted
    // fetch-failure and change-schedule arithmetic, same lag
    // comparison and class-size grid. The fetch-chain CTEs are shared
    // with pl31's twin via recrawlFetchCtesSql.
    "pl29_recrawl_delta" -> {
      s"""WITH $recrawlFetchCtesSql, lagd AS (
         |  SELECT canonical_url, r, period, ck,
         |    lag(ck) OVER (PARTITION BY canonical_url ORDER BY r) AS prev
         |  FROM c
         |), cls AS (
         |  SELECT r, period,
         |    CASE WHEN prev IS NULL THEN 'new'
         |         WHEN ck <> prev THEN 'changed'
         |         ELSE 'unchanged' END AS chg
         |  FROM lagd
         |), seen AS (
         |  SELECT r AS round, period,
         |    CAST(count(*) AS BIGINT) AS n_seen,
         |    CAST(sum(CASE WHEN chg = 'new' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_new,
         |    CAST(sum(CASE WHEN chg = 'changed' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_changed,
         |    CAST(sum(CASE WHEN chg = 'unchanged' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_unchanged
         |  FROM cls GROUP BY 1, 2
         |), classes AS (
         |  SELECT CAST(1 + c AS BIGINT) AS period,
         |    (npages - c + 3) // 4 AS class_size
         |  FROM (SELECT unnest(generate_series(0, 3)) AS c) g
         |  CROSS JOIN par
         |)
         |SELECT s.round, s.period, s.n_seen, s.n_new, s.n_changed,
         |  s.n_unchanged, cl.class_size - s.n_seen AS n_missing,
         |  CAST(s.n_changed AS DOUBLE) / CAST(s.n_seen AS DOUBLE)
         |    AS change_rate
         |FROM seen s JOIN classes cl ON cl.period = s.period""".stripMargin
    },
    // pl30's twin: same geometric source binning (length-of-binary),
    // same decimal weight fold and rate arithmetic (pl15's twin
    // discipline), same hash selection and pl7 packing window.
    "pl30_quality_mix_pack" -> {
      import graft.functions.PortableHash
      s"""WITH dd AS (
         |  SELECT doc_id,
         |    's' || CAST(length(bin(doc_id + 2)) - 1 AS VARCHAR) AS src,
         |    CAST(${TextFunctions.tokenCountSql("text")} AS BIGINT)
         |      AS n_tok,
         |    ${TextFunctions.qualityScoreSql("text")} AS q
         |  FROM documents
         |), c AS (
         |  SELECT src, count(*) AS n_docs,
         |    CAST(sum(n_tok) AS BIGINT) AS src_tok,
         |    ${sumFloorSql("q")} AS sum_q
         |  FROM dd GROUP BY src
         |), w AS (
         |  SELECT src, n_docs, src_tok,
         |    ${toExactSql("sqrt(CAST(n_docs AS DOUBLE)) *" +
              " (sum_q / CAST(n_docs AS DOUBLE))")} AS w
         |  FROM c
         |), t AS (
         |  SELECT CAST(sum(w) AS DOUBLE) AS w_tot,
         |    sum(src_tok) // 2 AS budget FROM w
         |), r AS (
         |  SELECT src, CAST(w AS DOUBLE) / w_tot AS share,
         |    least(1.0, (CAST(budget AS DOUBLE) *
         |        (CAST(w AS DOUBLE) / w_tot)) / CAST(src_tok AS DOUBLE))
         |      AS rate
         |  FROM w, t
         |), sel AS (
         |  SELECT dd.src, dd.doc_id, dd.n_tok, r.share, r.rate,
         |    ${packShardSql("dd.doc_id")} AS shard
         |  FROM dd JOIN r ON r.src = dd.src
         |  WHERE ${PortableHash.hash60Sql("CAST(dd.doc_id AS VARCHAR)")}
         |    < r.rate * 1152921504606846976.0
         |), cumd AS (
         |  SELECT src, doc_id, shard, n_tok, share, rate,
         |    sum(n_tok) OVER (PARTITION BY src, shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM sel
         |)
         |SELECT src AS source, shard,
         |  CAST(floor((cum - 1) / 512.0) AS BIGINT) AS bin,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS bin_tokens,
         |  max(share) AS share, max(rate) AS rate
         |FROM cumd GROUP BY source, shard, bin""".stripMargin
    },
    // pl16's twin: identical (hash, vec_id) pick order per label.
    "pl16_cluster_cap_sample" -> {
      import graft.functions.PortableHash
      s"""SELECT vec_id, label, CAST(rn AS BIGINT) AS rn FROM (
         |  SELECT vec_id, label, row_number() OVER (PARTITION BY label
         |    ORDER BY ${PortableHash.hash60Sql("CAST(vec_id AS VARCHAR)")},
         |      vec_id) AS rn
         |  FROM embeddings) q
         |WHERE rn <= 25""".stripMargin
    },
    // pl19's twin: identical epoch-prefixed hash, shard, and in-shard
    // rank.
    // pl24's twin: same exponential-clock arithmetic, same top-k cut.
    "pl24_weighted_sample" -> {
      import graft.functions.PortableHash
      val h = PortableHash.hash60Sql("CAST(doc_id AS VARCHAR)")
      s"""WITH keyed AS (
         |  SELECT doc_id,
         |    CAST(length(text) + 1 AS DOUBLE) AS w,
         |    ${quantizeSql(s"-ln(CAST($h + 1 AS DOUBLE) /" +
              " 1152921504606846976.0)")}
         |      / CAST(length(text) + 1 AS DOUBLE) AS k
         |  FROM documents
         |)
         |SELECT doc_id, w, k, rank FROM (
         |  SELECT doc_id, w, k,
         |    row_number() OVER (ORDER BY k, doc_id) AS rank
         |  FROM keyed) r
         |WHERE rank <= 100""".stripMargin
    },
    // pl20's twin: same derived snapshots, same full-outer diff.
    "pl20_snapshot_diff" ->
      """WITH a AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |  FROM orders
        |), b AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 89 = 0
        |         THEN o_totalprice * CAST(1.1 AS DOUBLE)
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM a WHERE o_orderkey % 97 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_custkey, 'N',
        |    CAST(100.0 AS DOUBLE)
        |  FROM a WHERE o_orderkey % 101 = 0
        |), j AS (
        |  SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
        |    a.o_orderstatus AS status_old, a.o_totalprice AS price_old,
        |    b.o_orderstatus AS status_new, b.o_totalprice AS price_new
        |  FROM a FULL OUTER JOIN b USING (o_orderkey)
        |)
        |SELECT o_orderkey,
        |  CASE WHEN status_old IS NULL THEN 'added'
        |       WHEN status_new IS NULL THEN 'deleted'
        |       WHEN status_old <> status_new
        |         OR price_old <> price_new THEN 'changed'
        |       ELSE 'unchanged' END AS change,
        |  status_old, price_old, status_new, price_new
        |FROM j
        |WHERE NOT (status_old IS NOT NULL AND status_new IS NOT NULL
        |  AND status_old = status_new AND price_old = price_new)""".stripMargin,
    "pl19_epoch_shuffle" -> {
      import graft.functions.PortableHash
      val h = PortableHash.hash60Sql(
        "CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)")
      s"""WITH e AS (
         |  SELECT doc_id, epoch, $h AS h
         |  FROM documents
         |  CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS epoch) ep
         |)
         |SELECT epoch, doc_id, h % 8 AS shard,
         |  row_number() OVER (PARTITION BY epoch, h % 8
         |    ORDER BY h, doc_id) AS pos
         |FROM e""".stripMargin
    },
    // pl17's twin: identical histogram-cumulative rank extraction (value
    // at rank k = min v with cum(v) ≥ k), identical clip + decimal fold.
    "pl17_winsorize" ->
      s"""WITH hist AS (
        |  SELECT l_returnflag AS g, l_extendedprice AS v, count(*) AS c
        |  FROM lineitem GROUP BY 1, 2
        |), cum AS (
        |  SELECT g, v,
        |    CAST(sum(c) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS cum,
        |    CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS n
        |  FROM hist
        |), bounds AS (
        |  SELECT g,
        |    min(CASE WHEN cum >= greatest(1,
        |      CAST(ceil(CAST(n AS DOUBLE) * 0.05) AS BIGINT)) THEN v END)
        |      AS p05,
        |    min(CASE WHEN cum >=
        |      CAST(ceil(CAST(n AS DOUBLE) * 0.95) AS BIGINT) THEN v END)
        |      AS p95
        |  FROM cum GROUP BY g
        |)
        |SELECT li.l_returnflag, count(*) AS cnt,
        |  max(p05) AS p05, max(p95) AS p95,
        |  CAST(sum(CASE WHEN l_extendedprice < p05 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS clipped_lo,
        |  CAST(sum(CASE WHEN l_extendedprice > p95 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS clipped_hi,
        |  ${sumExactSql("least(greatest(l_extendedprice, p05), p95)")}
        |    AS sum_winsorized
        |FROM lineitem li JOIN bounds ON li.l_returnflag = bounds.g
        |GROUP BY li.l_returnflag""".stripMargin,
    // pl18's twin: the same grid completion and the same double AST
    // ((obs·N − n_s·n_b)² / ((N·n_s)·n_b)) so the IEEE results match
    // bit-for-bit before the decimal fold.
    "pl18_source_drift" ->
      s"""WITH obs AS (
        |  SELECT source, lang, count(*) AS obs
        |  FROM documents GROUP BY source, lang
        |), s AS (
        |  SELECT source, CAST(sum(obs) AS BIGINT) AS n_s
        |  FROM obs GROUP BY source
        |), b AS (
        |  SELECT lang, CAST(sum(obs) AS BIGINT) AS n_b
        |  FROM obs GROUP BY lang
        |), t AS (SELECT count(*) AS n_total FROM documents),
        |grid AS (
        |  SELECT s.source, s.n_s, b.lang, b.n_b,
        |    COALESCE(obs.obs, 0) AS obs, n_total
        |  FROM s CROSS JOIN b
        |  LEFT JOIN obs ON s.source = obs.source AND b.lang = obs.lang
        |  CROSS JOIN t
        |), terms AS (
        |  SELECT source, n_s,
        |    (CAST(obs AS DOUBLE) * CAST(n_total AS DOUBLE) -
        |     CAST(n_s AS DOUBLE) * CAST(n_b AS DOUBLE)) AS dev,
        |    (CAST(n_total AS DOUBLE) * CAST(n_s AS DOUBLE) *
        |     CAST(n_b AS DOUBLE)) AS denom
        |  FROM grid
        |)
        |SELECT source, max(n_s) AS n_docs,
        |  ${sumExactSql("dev * dev / denom")} AS chi2
        |FROM terms GROUP BY source""".stripMargin,
    // pl15's twin replays the α=0.5 rate derivation with the identical
    // numeric AST: IEEE sqrt → DECIMAL(28,6) weight sum → double
    // divisions in the same order → portable-hash threshold.
    "pl15_temperature_mix" -> {
      import graft.functions.PortableHash
      s"""WITH c AS (
         |  SELECT source, count(*) AS n_docs FROM documents GROUP BY source
         |), w AS (
         |  SELECT source, n_docs,
         |    ${toExactSql("sqrt(CAST(n_docs AS DOUBLE))")} AS w
         |  FROM c
         |), t AS (
         |  SELECT CAST(sum(w) AS DOUBLE) AS w_tot,
         |    sum(n_docs) // 2 AS budget FROM w
         |), r AS (
         |  SELECT source, n_docs,
         |    CAST(w AS DOUBLE) / w_tot AS share,
         |    least(1.0, (CAST(budget AS DOUBLE) *
         |        (CAST(w AS DOUBLE) / w_tot)) / CAST(n_docs AS DOUBLE))
         |      AS rate
         |  FROM w, t
         |)
         |SELECT d.source, max(r.n_docs) AS n_docs, max(r.share) AS share,
         |  max(r.rate) AS rate,
         |  CAST(sum(CASE WHEN
         |      ${PortableHash.hash60Sql("CAST(d.doc_id AS VARCHAR)")}
         |        < r.rate * 1152921504606846976.0
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_selected
         |FROM documents d JOIN r ON d.source = r.source
         |GROUP BY d.source""".stripMargin
    },
    // pl14's twin inlines the identical shift-mask-or interleave over the
    // same integer-DIV range normalization (// is DuckDB's integer DIV).
    "pl14_zorder_stats" -> {
      val z = graft.operators.ZOrder.zValueSql(Seq("sx", "sy"), 6)
      s"""WITH base AS (
         |  SELECT o_custkey AS c,
         |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
         |      AS day
         |  FROM orders
         |), mm AS (
         |  SELECT max(c) AS cx, min(day) AS mind, max(day) AS maxd
         |  FROM base
         |), scaled AS (
         |  SELECT c, day,
         |    CAST(c * 64 // (cx + 1) AS BIGINT) AS sx,
         |    CAST((day - mind) * 64 // (maxd - mind + 1) AS BIGINT) AS sy
         |  FROM base CROSS JOIN mm
         |)
         |SELECT ($z >> 8) AS bucket, count(*) AS n_rows,
         |  min(c) AS min_cust, max(c) AS max_cust,
         |  min(day) AS min_day, max(day) AS max_day
         |FROM scaled GROUP BY bucket""".stripMargin
    },
    // pl13's twin spells the merge as four UNION ALL branches over the
    // same derived history/batch CTEs; attrs are non-null so plain
    // equality matches the Spark side's null-safe <=>.
    "pl13_scd2_merge" ->
      """WITH hist AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS status,
        |    o_totalprice AS price, o_orderdate AS valid_from,
        |    CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, 'P', o_totalprice - 50.0,
        |    o_orderdate - INTERVAL 90 DAY, o_orderdate, FALSE
        |  FROM orders WHERE o_orderkey % 10 = 0
        |), upd AS (
        |  SELECT o_orderkey AS k,
        |    CASE WHEN o_orderkey % 6 = 0 THEN o_orderstatus
        |         ELSE 'U' END AS status,
        |    CASE WHEN o_orderkey % 6 = 0 THEN o_totalprice
        |         ELSE o_totalprice + 100.0 END AS price,
        |    o_orderdate + INTERVAL 30 DAY AS eff
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_orderstatus, o_totalprice,
        |    o_orderdate
        |  FROM orders WHERE o_orderkey % 100 = 7
        |), cur AS (SELECT * FROM hist WHERE is_current)
        |SELECT k AS o_orderkey, status AS o_orderstatus,
        |  price AS o_totalprice, valid_from, valid_to, is_current
        |FROM hist WHERE NOT is_current
        |UNION ALL
        |SELECT c.k, c.status, c.price, c.valid_from, c.valid_to,
        |  c.is_current
        |FROM cur c LEFT JOIN upd u ON c.k = u.k
        |WHERE u.k IS NULL OR (c.status = u.status AND c.price = u.price)
        |UNION ALL
        |SELECT c.k, c.status, c.price, c.valid_from, u.eff, FALSE
        |FROM cur c JOIN upd u ON c.k = u.k
        |WHERE NOT (c.status = u.status AND c.price = u.price)
        |UNION ALL
        |SELECT u.k, u.status, u.price, u.eff, CAST(NULL AS TIMESTAMP),
        |  TRUE
        |FROM upd u LEFT JOIN cur c ON c.k = u.k
        |WHERE c.k IS NULL
        |   OR NOT (c.status = u.status AND c.price = u.price)""".stripMargin,
    "pl12_curriculum" -> {
      val q = TextFunctions.qualityScoreSql("text")
      s"""SELECT doc_id, lang, $q AS quality,
         |  CAST(ntile(4) OVER (PARTITION BY lang
         |    ORDER BY $q ASC, doc_id ASC) AS BIGINT) AS phase
         |FROM documents""".stripMargin
    },
    "pl9_chunk_overlap" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS ts FROM documents
        |), base AS (
        |  SELECT doc_id, ts, CAST(len(ts) AS BIGINT) AS n_tok
        |  FROM tok WHERE len(ts) > 0
        |), ch AS (
        |  SELECT doc_id, ts, n_tok,
        |    unnest(generate_series(0,
        |      CAST(floor((greatest(n_tok - 32, 0) + 23) / 24.0) AS BIGINT)))
        |      AS chunk_id
        |  FROM base
        |)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  least(32, n_tok - chunk_id * 24) AS n_chunk_tok,
        |  array_to_string(ts[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' ')
        |    AS chunk_text
        |FROM ch""".stripMargin,
    "pl10_source_mix" ->
      """WITH c AS (
        |  SELECT doc_id, source,
        |    (CAST(substr(source, 4) AS INTEGER) % 4 + 1) // 2
        |      + CASE WHEN (doc_id * 2654435761) % 100 <
        |               ((CAST(substr(source, 4) AS INTEGER) % 4 + 1) % 2) * 50
        |             THEN 1 ELSE 0 END AS copies
        |  FROM documents
        |), mixed AS (
        |  SELECT doc_id, source,
        |    unnest(CASE WHEN copies > 0 THEN generate_series(1, copies)
        |                ELSE [NULL] END) AS epoch
        |  FROM c
        |)
        |SELECT source,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(epoch) AS BIGINT) AS n_emitted,
        |  CAST(count(DISTINCT CASE WHEN epoch IS NOT NULL THEN doc_id END)
        |    AS BIGINT) AS n_kept
        |FROM mixed GROUP BY source""".stripMargin,
    "pl8_ingest_pipeline" -> pl8Sql,
    "pl25_crawl_pipeline" -> {
      import graft.operators.{HtmlExtract, UrlCanon}
      s"""WITH par AS (
         |  SELECT greatest(50, count(*) // 10) AS npages FROM documents
         |), u AS (
         |  SELECT doc_id, text,
         |    ${UrlCanon.renderUrlSql("doc_id", "npages")} AS url
         |  FROM documents CROSS JOIN par
         |), c AS (
         |  SELECT doc_id, text,
         |    ${UrlCanon.canonicalizeSql("url")} AS canonical_url
         |  FROM u
         |), keep AS (
         |  SELECT *, min(doc_id) OVER (PARTITION BY canonical_url)
         |    AS keeper FROM c
         |), surv AS (
         |  SELECT doc_id, text, canonical_url FROM keep
         |  WHERE doc_id = keeper
         |), ex0 AS (
         |${HtmlExtract.extractSql("doc_id",
            "(SELECT doc_id, " + HtmlExtract.renderHtmlSql("doc_id", "text") +
              " AS html FROM surv) rr")}
         |), q AS (
         |  SELECT ex0.*, surv.canonical_url FROM ex0
         |  JOIN surv USING (doc_id)
         |  WHERE content_chars >= 40 AND n_kept >= 1
         |)
         |SELECT doc_id, canonical_url, n_blocks, n_kept, content_chars,
         |  doc_id <> min(doc_id) OVER (PARTITION BY md5(extracted_text))
         |    AS is_content_dup
         |FROM q""".stripMargin
    },
    "pl1_quantize_int8" ->
      """SELECT vec_id,
        |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
        |    (acc, x) -> greatest(acc, x)) AS max_abs,
        |  array_to_string(
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) /
        |      list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))),
        |        (acc, y) -> greatest(acc, y)) * 127.0 + 0.5) AS INT)),
        |    ',') AS q8_csv
        |FROM embeddings""".stripMargin,
    "pl2_tf_df" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS token
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token
        |), df AS (
        |  SELECT token, count(*) AS df FROM tf GROUP BY token
        |)
        |SELECT doc_id, tf.token AS token, tf, df
        |FROM tf JOIN df ON tf.token = df.token
        |WHERE df >= 50""".stripMargin,
    "pl3_stratified_sample" ->
      """SELECT lang, count(*) AS sampled,
        |  array_to_string(list_sort(list(doc_id)), ',') AS ids_csv
        |FROM documents
        |WHERE (doc_id * 2654435761) % 100 < 20
        |GROUP BY lang""".stripMargin,
    "pl4_length_histogram" ->
      """SELECT lang, CAST(length(text) // 100 * 100 AS BIGINT) AS bucket,
        |  count(*) AS cnt
        |FROM documents GROUP BY lang, bucket""".stripMargin,
    "pl6_train_split" ->
      """SELECT lang,
        |  CASE WHEN (doc_id * 2654435761) % 100 < 80 THEN 'train'
        |       WHEN (doc_id * 2654435761) % 100 < 90 THEN 'val'
        |       ELSE 'test' END AS split,
        |  count(*) AS cnt,
        |  CAST(sum(length(text)) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang, split""".stripMargin,
    "pl7_pack_sequences" ->
      s"""WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tok,
        |    ${packShardSql("doc_id")} AS shard
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, lang, shard, n_tok,
        |    sum(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t
        |)
        |SELECT lang, shard, CAST(floor((cum - 1) / 512.0) AS BIGINT) AS bin,
        |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS bin_tokens
        |FROM c GROUP BY lang, shard, bin""".stripMargin,
    "pl5_typed_map" ->
      """SELECT user_id,
        |  CASE WHEN value > 100.0 THEN 'hi' ELSE 'lo' END AS band,
        |  count(*) AS cnt
        |FROM events WHERE event_type <> 'error'
        |GROUP BY user_id, band""".stripMargin) ++ dsirTwinSql

  /** pl11's exact-value DuckDB twin — a FULL hash oracle: every ln-bearing
    * term is decimal-quantized before the fold ([[graft.functions.ExactNum
    * .sumExact]] on both sides), so the weight doubles are bit-identical
    * across engines (ln's last-ulp drift ≈2e-16 relative is 10 orders
    * below the 1e-6 quantum); integer/boolean columns were always exact,
    * and the rank rule ties on (weight DESC, doc ASC) identically. */
  private lazy val dsirTwinSql: Map[String, String] = {
    import graft.functions.PortableHash.hash60Sql
    val B = 4096
    val sql =
      s"""WITH toks AS (
         |  SELECT doc_id AS doc, source AS grp, (lang = 'en') AS is_tgt,
         |    regexp_extract_all(text, '\\S+') AS t
         |  FROM documents
         |), gb AS (
         |  -- g is materialized a level below: hash60Sql's fold binds a
         |  -- lambda variable i, which would capture the unnest column i
         |  -- inside t[i] and hash corrupted grams per row. Features are
         |  -- unigrams UNION ALL bigrams (the DSIR paper's space).
         |  SELECT doc, grp, is_tgt, ${hash60Sql("g")} % $B AS b
         |  FROM (SELECT doc, grp, is_tgt, t[i] AS g
         |        FROM (SELECT doc, grp, is_tgt, t,
         |                unnest(generate_series(1, len(t))) AS i
         |              FROM toks) y1
         |        UNION ALL
         |        SELECT doc, grp, is_tgt, t[i] || ' ' || t[i+1] AS g
         |        FROM (SELECT doc, grp, is_tgt, t,
         |                unnest(generate_series(1, len(t) - 1)) AS i
         |              FROM toks) y2) x
         |), docb AS (
         |  SELECT doc, b, count(*) AS c FROM gb GROUP BY doc, b
         |), tmodel AS (
         |  SELECT b, count(*) AS ct FROM gb WHERE is_tgt GROUP BY b
         |), ttotal AS (SELECT count(*) AS nt FROM gb WHERE is_tgt),
         |rmodel AS (SELECT b, count(*) AS cr FROM gb GROUP BY b),
         |rtotal AS (SELECT count(*) AS nr FROM gb),
         |w AS (
         |  SELECT doc, ${sumExactSql("term")} AS weight FROM (
         |    SELECT d.doc, CAST(d.c AS DOUBLE) *
         |      (ln(CAST(coalesce(tm.ct, 0) + 1 AS DOUBLE)
         |         / CAST(tt.nt + $B AS DOUBLE))
         |       - ln(CAST(rm.cr + 1 AS DOUBLE)
         |         / CAST(rt.nr + $B AS DOUBLE))) AS term
         |    FROM docb d
         |    JOIN rmodel rm USING (b)
         |    LEFT JOIN tmodel tm USING (b)
         |    CROSS JOIN ttotal tt CROSS JOIN rtotal rt) z
         |  GROUP BY doc
         |), base AS (
         |  -- coalesce mirrors the Spark side's zero-fill: a NULL text
         |  -- row must profile as 0 grams, not NULL (greatest propagates
         |  -- NULL and would hard-fail the exact-column compare)
         |  -- unigrams + bigrams: len + max(len-1, 0) grams per doc
         |  SELECT doc, grp,
         |    coalesce(CAST(len(t) AS BIGINT), 0)
         |      + greatest(coalesce(CAST(len(t) AS BIGINT), 0) - 1, 0)
         |      AS n_grams
         |  FROM toks
         |), ranked AS (
         |  SELECT b2.doc, b2.grp, b2.n_grams,
         |    coalesce(w.weight, CAST(0 AS DOUBLE)) AS weight,
         |    row_number() OVER (PARTITION BY b2.grp
         |      ORDER BY coalesce(w.weight, CAST(0 AS DOUBLE)) DESC,
         |        b2.doc ASC) AS rnk,
         |    count(*) OVER (PARTITION BY b2.grp) AS n_grp
         |  FROM base b2 LEFT JOIN w USING (doc)
         |)
         |SELECT doc AS doc_id, grp AS source, n_grams, weight,
         |  (rnk <= CAST(ceil(n_grp * 0.25) AS BIGINT)) AS selected
         |FROM ranked""".stripMargin
    Map("pl11_dsir_select" -> sql)
  }
}
