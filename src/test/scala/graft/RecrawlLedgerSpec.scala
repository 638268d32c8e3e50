package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.RecrawlBase
import graft.streaming.RecrawlLedger

/** Stream ≡ batch for the live recrawl ledger (VERDICT r13 #4): the
  * transformWithState ledger, fed the SAME fetch table as the batch
  * pl29 classification but split into OUT-OF-ORDER micro-batches, must
  * emit exactly the batch lag-window classification — per row, not just
  * per cell. Out-of-order plan: a deterministic third of each round's
  * fetches (hash-picked) is deferred one micro-batch, so pages see
  * round k arrive AFTER round k+1 entered the stream; the watermark
  * horizon (2 rounds) covers the disorder, and a far-future sentinel
  * closes every buffer at the end.
  */
class RecrawlLedgerSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private val RoundMs = 60000L

  test("out-of-order stream converges to the batch pl29 classification; " +
      "buffers drain at watermark close") {
    implicit val sc = spark.sqlContext
    // the batch side: fetches + the lag-window classification, both from
    // the SHARED RecrawlBase derivation the pl29 key uses
    val fetches = RecrawlBase.fetches(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    val expected = RecrawlBase.classified(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    assert(fetches.nonEmpty && expected.size == fetches.size)
    val rounds = fetches.map(_._2).max.toInt
    // arrival plan: round k's fetches whose ck % 3 == 0 defer to the
    // NEXT micro-batch — deterministic, and out of order per page
    // (batch k+1 carries deferred round-k rows alongside round-k+1 rows)
    def tsOf(r: Long) = new java.sql.Timestamp(r * RoundMs)
    val batches: Seq[Seq[(String, java.sql.Timestamp, Long, Long, Long)]] =
      (0 to rounds + 1).map { k =>
        val onTime = fetches.filter(f => f._2 == k && f._4 % 3 != 0)
        val deferred = fetches.filter(f => f._2 == k - 1 && f._4 % 3 == 0)
        (onTime ++ deferred).map(f => (f._1, tsOf(f._2), f._2, f._3, f._4))
      }
    val mem = MemoryStream[(String, java.sql.Timestamp, Long, Long, Long)]
    val classified = RecrawlLedger.classify(spark,
      mem.toDF().toDF("canonical_url", "ts", "r", "period", "ck"),
      delay = "2 minutes")
    TestSession.withConf(TestSession.RocksDb) {
      val q = classified.toDF()
        .writeStream.outputMode("append").format("memory")
        .queryName("recrawl_ledger").start()
      try {
        batches.foreach { b => if (b.nonEmpty) {
          mem.addData(b); q.processAllAvailable() } }
        // sentinel page far in the future: advances the watermark past
        // every real fetch so all buffers close and drain
        mem.addData(Seq(("flush", tsOf(1000000L), 1000000L, 1L, 0L)))
        q.processAllAvailable()
        mem.addData(Seq(("flush", tsOf(1000001L), 1000001L, 1L, 1L)))
        q.processAllAvailable()
      } finally q.stop()
    }
    val got = spark.table("recrawl_ledger")
      .filter($"canonical_url" =!= "flush")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
    // every fetch classified EXACTLY once (buffers drained — no row
    // stuck in state, none emitted twice despite duplicate timers), and
    // each classification equals the batch lag window's
    assert(got.length == fetches.size,
      s"emitted ${got.length} classifications for ${fetches.size} fetches")
    assert(got.toSet == expected,
      "stream classification diverged from the batch ledger: " +
        s"stream-only=${(got.toSet -- expected).take(3)} " +
        s"batch-only=${(expected -- got.toSet).take(3)}")
  }

  test("(ts, r) contract violation: a smaller-r fetch closing after a " +
      "larger-r fetch is flagged 'late' and does not regress the ledger") {
    implicit val sc = spark.sqlContext
    def ts(m: Long) = new java.sql.Timestamp(m * RoundMs)
    // page "pg": rounds 0 and 2 carry honest event times; round 1's ts
    // VIOLATES monotonicity (10 rounds in the future), so it closes
    // after round 2 was carried. Round 3 then proves the carried state
    // was not regressed: its ck equals round 2's, so it must classify
    // "unchanged" (a regressed ledger would say "changed" vs round 1).
    val rows = Seq(
      ("pg", ts(0), 0L, 1L, 10L),
      ("pg", ts(2), 2L, 1L, 30L),
      ("pg", ts(10), 1L, 1L, 20L), // the violator
      ("pg", ts(11), 3L, 1L, 30L))
    val mem = MemoryStream[(String, java.sql.Timestamp, Long, Long, Long)]
    val classified = RecrawlLedger.classify(spark,
      mem.toDF().toDF("canonical_url", "ts", "r", "period", "ck"),
      delay = "2 minutes")
    TestSession.withConf(TestSession.RocksDb) {
      val q = classified.toDF()
        .writeStream.outputMode("append").format("memory")
        .queryName("recrawl_late").start()
      try {
        mem.addData(rows.take(2)); q.processAllAvailable()
        mem.addData(rows.slice(2, 3)); q.processAllAvailable() // wm → 8
        mem.addData(rows.slice(3, 4)); q.processAllAvailable()
        mem.addData(Seq(("flush", ts(1000000L), 1000000L, 1L, 0L)))
        q.processAllAvailable()
        mem.addData(Seq(("flush", ts(1000001L), 1000001L, 1L, 1L)))
        q.processAllAvailable()
      } finally q.stop()
    }
    val got = spark.table("recrawl_late")
      .filter($"canonical_url" === "pg")
      .collect().map(r => (r.getLong(1), r.getString(3))).toMap
    assert(got == Map(0L -> "new", 2L -> "changed", 1L -> "late",
      3L -> "unchanged"),
      s"violation handling diverged: $got")
  }

  test("cellUpdates aggregates to the batch pl29 seen-cells") {
    implicit val sc = spark.sqlContext
    val fetches = RecrawlBase.fetches(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    val mem = MemoryStream[(String, java.sql.Timestamp, Long, Long, Long)]
    val classified = RecrawlLedger.classify(spark,
      mem.toDF().toDF("canonical_url", "ts", "r", "period", "ck"),
      delay = "2 minutes")
    val cells = RecrawlLedger.cellUpdates(classified)
    TestSession.withConf(TestSession.RocksDb) {
      val q = cells.writeStream.outputMode("complete").format("memory")
        .queryName("recrawl_cells").start()
      try {
        mem.addData(fetches.map(f =>
          (f._1, new java.sql.Timestamp(f._2 * RoundMs), f._2, f._3, f._4)))
        q.processAllAvailable()
        mem.addData(Seq(("flush", new java.sql.Timestamp(1000000L * RoundMs),
          1000000L, 1L, 0L)))
        q.processAllAvailable()
        mem.addData(Seq(("flush", new java.sql.Timestamp(1000001L * RoundMs),
          1000001L, 1L, 1L)))
        q.processAllAvailable()
      } finally q.stop()
    }
    val got = spark.table("recrawl_cells")
      .filter($"round" < 1000000L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val batch = SparkEntry.queries("pl29_recrawl_delta")(spark, dir)
      .collect().map(r => ((r.getAs[Long]("round"), r.getAs[Long]("period")),
        (r.getAs[Long]("n_seen"), r.getAs[Long]("n_new"),
          r.getAs[Long]("n_changed"), r.getAs[Long]("n_unchanged")))).toMap
    assert(got == batch,
      s"cells diverged: stream-only=${(got.toSet -- batch.toSet).take(2)} " +
        s"batch-only=${(batch.toSet -- got.toSet).take(2)}")
  }
}
