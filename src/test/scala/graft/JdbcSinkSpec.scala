package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Sources
import graft.streaming.Generator

/** K2 idempotency (SURVEY.md §7 phase 4): the JDBC sink lands each
  * micro-batch as ONE transaction that deletes-then-reinserts the batch's
  * window keys, so at-least-once foreachBatch delivery still yields
  * exactly-once OUTPUT. Tested against embedded Derby — in the Spark
  * distribution already, no new dependency. */
class JdbcSinkSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private def cfgFor(table: String) = Sources.JdbcConfig(
    url = "jdbc:derby:memory:graftJdbc;create=true",
    user = "app", password = "app", table = table)

  private def rows(table: String): Seq[(Long, Long)] = {
    val cfg = cfgFor(table)
    val conn = java.sql.DriverManager.getConnection(
      cfg.url, cfg.user, cfg.password)
    try {
      val rs = conn.createStatement().executeQuery(
        s"SELECT window_start, cnt FROM $table ORDER BY window_start")
      val buf = scala.collection.mutable.Buffer.empty[(Long, Long)]
      while (rs.next()) buf += ((rs.getLong(1), rs.getLong(2)))
      buf.toSeq
    } finally conn.close()
  }

  test("upsertBatch: replaying the identical batch does not duplicate rows") {
    val t = "m_replay"
    val df = Seq((1000L, 5L, "a"), (2000L, 7L, "b"))
      .toDF("window_start", "cnt", "line")
    Sources.upsertBatch(df, cfgFor(t))
    Sources.upsertBatch(df, cfgFor(t)) // simulated post-failure replay
    assert(rows(t) == Seq((1000L, 5L), (2000L, 7L)))
  }

  test("upsertBatch: a re-emitted window overwrites, new windows append") {
    val t = "m_update"
    Sources.upsertBatch(
      Seq((1000L, 5L, "a"), (2000L, 7L, "b"))
        .toDF("window_start", "cnt", "line"), cfgFor(t))
    Sources.upsertBatch(
      Seq((2000L, 9L, "b2"), (3000L, 1L, "c"))
        .toDF("window_start", "cnt", "line"), cfgFor(t))
    assert(rows(t) == Seq((1000L, 5L), (2000L, 9L), (3000L, 1L)))
  }

  test("upsertBatch: a batch whose INSERT fails after its DELETE leaves " +
      "the previous rows in place") {
    val t = "m_rollback"
    Sources.upsertBatch(
      Seq((1000L, 5L, "a"), (2000L, 7L, "b"))
        .toDF("window_start", "cnt", "line"), cfgFor(t))
    // the table has no `extra` column: window 1000's DELETE runs, then
    // the INSERT fails — the one transaction must undo the DELETE
    intercept[java.sql.SQLException] {
      Sources.upsertBatch(
        Seq((1000L, 9L, "a2", 1L)).toDF("window_start", "cnt", "line", "extra"),
        cfgFor(t))
    }
    assert(rows(t) == Seq((1000L, 5L), (2000L, 7L)))
  }

  test("upsertBatch: leaves an index over its window_start key") {
    val cfg = cfgFor("m_ix")
    Sources.upsertBatch(Seq((1000L, 5L)).toDF("window_start", "cnt"), cfg)
    val conn = java.sql.DriverManager.getConnection(
      cfg.url, cfg.user, cfg.password)
    try {
      val rs = conn.getMetaData.getIndexInfo(null, "APP", "M_IX", false, false)
      val cols = scala.collection.mutable.Buffer.empty[(String, String)]
      while (rs.next()) cols += ((rs.getString("INDEX_NAME"),
        rs.getString("COLUMN_NAME")))
      assert(cols.groupBy(_._1).values.exists(_.map(_._2) == Seq("WINDOW_START")))
    } finally conn.close()
  }

  test("upsertBatch: rejects a batch whose key does not identify rows") {
    // a keyed output (two rows per window) would have its sibling rows
    // silently destroyed on replay — must fail fast
    val df = Seq((1000L, "a", 5L), (1000L, "b", 7L))
      .toDF("window_start", "k", "cnt")
    val e = intercept[IllegalArgumentException] {
      Sources.upsertBatch(df, cfgFor("m_reject"))
    }
    assert(e.getMessage.contains("duplicate values"))
  }

  test("streaming metrics → jdbc: a full from-scratch replay yields identical rows") {
    implicit val sc = spark.sqlContext
    val cfg = cfgFor("m_stream")
    val wire = Generator.toWire(Generator.batch(spark, 200))
      .as[String].collect().toSeq

    def runOnce(run: String): Unit = {
      val (rMem, mMem) = (MemoryStream[String], MemoryStream[String])
      mMem.addData(wire)
      val job = JobHarness.start(java.nio.file.Files
        .createTempDirectory(s"graft-jdbc-$run").toString, rMem, mMem, cfg, run)
      try job.metrics.processAllAvailable() finally job.stop()
    }

    runOnce("ck1")
    val first = JobHarness.stored(cfg)
    assert(first.nonEmpty && first == JobHarness.closedWindows(spark, wire))
    // fresh checkpoint = every micro-batch replays from the beginning; the
    // keyed upsert must leave the table byte-identical, not doubled.
    runOnce("ck2")
    assert(JobHarness.stored(cfg) == first)
  }

  test("trigger cadence knob (T3): ProcessingTime drives repeated micro-batches") {
    implicit val sc = spark.sqlContext
    val cfg = cfgFor("m_cadence")
    val (rMem, mMem) = (MemoryStream[String], MemoryStream[String])
    val job = JobHarness.start(java.nio.file.Files
      .createTempDirectory("graft-jdbc-ck3").toString, rMem, mMem, cfg, "cadence")
    try {
      mMem.addData(Generator.toWire(Generator.batch(spark, 50))
        .as[String].collect().toSeq)
      // nothing here asks for a batch: the job's 500 ms trigger runs the
      // data batch, then the no-data batch that emits the closed windows
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (job.metrics.recentProgress.map(_.batchId).distinct.length < 2 &&
          System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(job.metrics.recentProgress.map(_.batchId).distinct.length >= 2)
      assert(rows("m_cadence").nonEmpty)
    } finally job.stop()
  }
}
