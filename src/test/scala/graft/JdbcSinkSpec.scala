package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Sources
import graft.streaming.{Generator, Pipelines}

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

  test("upsertBatch: composite keys upsert per (window, key) tuple") {
    val t = "m_composite"
    Sources.upsertBatch(
      Seq((1000L, "a", 5L, "x"), (1000L, "b", 7L, "y"))
        .toDF("window_start", "k", "cnt", "line"),
      cfgFor(t), keyCols = Seq("window_start", "k"))
    // re-emit only (1000,"a") — (1000,"b") must survive
    Sources.upsertBatch(
      Seq((1000L, "a", 9L, "x2"))
        .toDF("window_start", "k", "cnt", "line"),
      cfgFor(t), keyCols = Seq("window_start", "k"))
    val cfg = cfgFor(t)
    val conn = java.sql.DriverManager.getConnection(
      cfg.url, cfg.user, cfg.password)
    try {
      val rs = conn.createStatement().executeQuery(
        s"SELECT k, cnt FROM $t ORDER BY k")
      val buf = scala.collection.mutable.Buffer.empty[(String, Long)]
      while (rs.next()) buf += ((rs.getString(1), rs.getLong(2)))
      assert(buf.toSeq == Seq(("a", 9L), ("b", 7L)))
    } finally conn.close()
  }

  test("upsertBatch: leaves an index over all key columns (single and composite)") {
    def indexes(table: String): Seq[Seq[String]] = {
      val cfg = cfgFor(table)
      val conn = java.sql.DriverManager.getConnection(
        cfg.url, cfg.user, cfg.password)
      try {
        val rs = conn.getMetaData.getIndexInfo(null, "APP", table.toUpperCase,
          false, false)
        val cols = scala.collection.mutable.Buffer.empty[(String, Int, String)]
        while (rs.next()) cols += ((rs.getString("INDEX_NAME"),
          rs.getInt("ORDINAL_POSITION"), rs.getString("COLUMN_NAME")))
        cols.groupBy(_._1).values.map(_.sortBy(_._2).map(_._3).toSeq).toSeq
      } finally conn.close()
    }
    Sources.upsertBatch(Seq((1000L, 5L)).toDF("window_start", "cnt"),
      cfgFor("m_ix1"))
    assert(indexes("m_ix1").contains(Seq("WINDOW_START")))
    Sources.upsertBatch(Seq((1000L, "a", 5L)).toDF("window_start", "k", "cnt"),
      cfgFor("m_ix2"), keyCols = Seq("window_start", "k"))
    assert(indexes("m_ix2").contains(Seq("WINDOW_START", "K")))
  }

  test("upsertBatch: rejects a batch whose key does not identify rows") {
    // a composite-keyed output sunk with too few key columns would have
    // its sibling rows silently destroyed on replay — must fail fast
    val df = Seq((1000L, "a", 5L), (1000L, "b", 7L))
      .toDF("window_start", "k", "cnt")
    val e = intercept[IllegalArgumentException] {
      Sources.upsertBatch(df, cfgFor("m_reject"),
        keyCols = Seq("window_start"))
    }
    assert(e.getMessage.contains("duplicate values"))
  }

  test("streaming metrics → jdbc: a full from-scratch replay yields identical rows") {
    implicit val sc = spark.sqlContext
    val t = "m_stream"
    val wire = Generator.toWire(Generator.batch(spark, 200))
      .as[String].collect().toSeq

    def runOnce(ckpt: String): Unit = {
      val mem = MemoryStream[String]
      mem.addData(wire)
      val out = Pipelines.metricsPipeline(mem.toDF())
        .select($"window_start", $"cnt", $"line")
      val q = Sources.jdbcSink(out, cfgFor(t), ckpt,
          trigger = Trigger.AvailableNow())
        .outputMode("update")
        .queryName(s"jdbc_$ckpt").start()
      assert(q.awaitTermination(120000))
    }

    runOnce(java.nio.file.Files
      .createTempDirectory("graft-jdbc-ck1").toString)
    val first = rows(t)
    assert(first.nonEmpty)
    // fresh checkpoint = every micro-batch replays from the beginning; the
    // keyed upsert must leave the table byte-identical, not doubled.
    runOnce(java.nio.file.Files
      .createTempDirectory("graft-jdbc-ck2").toString)
    assert(rows(t) == first)
  }

  test("keyed windows → jdbc: composite keys survive a full from-scratch replay") {
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val t = "m_keyed"
    val wire = Generator.toWire(Generator.batch(spark, 200))
      .as[String].collect().toSeq

    def runOnce(ckpt: String, n: Int): Unit = {
      val mem = MemoryStream[String]
      mem.addData(wire)
      val parsed = graft.functions.JsonCodec
        .parseTransactions(mem.toDF(), col("value"))
        .filter(!col("_corrupt"))
        .withColumn("event_time", Pipelines.eventTime)
        .withWatermark("event_time", "0 seconds")
      val out = graft.operators.WindowMetrics.tumbling(parsed,
          col("event_time"), col("exchangeRate") =!= 0.0, col("amount"),
          col("exchangeRate"), "10 seconds", Seq(col("currency")))
        .select(col("window_start"), col("currency"), col("cnt"))
      val q = Sources.jdbcSink(out, cfgFor(t), ckpt,
          keyCols = Seq("window_start", "currency"),
          trigger = Trigger.AvailableNow())
        .outputMode("update")
        .queryName(s"jdbc_keyed_$n").start()
      assert(q.awaitTermination(120000))
    }

    def keyedRows: Seq[(Long, String, Long)] = {
      val cfg = cfgFor(t)
      val conn = java.sql.DriverManager.getConnection(
        cfg.url, cfg.user, cfg.password)
      try {
        val rs = conn.createStatement().executeQuery(
          s"SELECT window_start, currency, cnt FROM $t " +
            "ORDER BY window_start, currency")
        val buf = scala.collection.mutable.Buffer.empty[(Long, String, Long)]
        while (rs.next()) buf += ((rs.getLong(1), rs.getString(2),
          rs.getLong(3)))
        buf.toSeq
      } finally conn.close()
    }

    runOnce(java.nio.file.Files
      .createTempDirectory("graft-jdbc-kck1").toString, 1)
    val first = keyedRows
    assert(first.nonEmpty)
    // the fixture genuinely exercises the composite path: several
    // currencies share a window, so keyCols = [window_start] alone would
    // trip upsertBatch's fail-fast — this is its passing counterpart
    assert(first.groupBy(_._1).exists(_._2.size > 1),
      "fixture must put multiple currencies in one window")
    // fresh checkpoint = full replay; per-(window, currency) upsert must
    // leave the table identical, not doubled
    runOnce(java.nio.file.Files
      .createTempDirectory("graft-jdbc-kck2").toString, 2)
    assert(keyedRows == first)
  }

  test("trigger cadence knob (T3): ProcessingTime drives repeated micro-batches") {
    implicit val sc = spark.sqlContext
    val t = "m_cadence"
    val mem = MemoryStream[String]
    val out = Pipelines.metricsPipeline(mem.toDF())
      .select($"window_start", $"cnt", $"line")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-jdbc-ck3").toString
    // the default trigger is the reference's 500 ms cadence; use a faster
    // one so the test observes >1 triggered batch quickly
    val q = Sources.jdbcSink(out, cfgFor(t), ckpt,
        trigger = Trigger.ProcessingTime("50 milliseconds"))
      .outputMode("update")
      .queryName("jdbc_cadence").start()
    try {
      mem.addData(Generator.toWire(Generator.batch(spark, 50))
        .as[String].collect().toSeq)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (q.recentProgress.length < 2 && System.nanoTime() < deadline)
        Thread.sleep(100)
      // ≥2 progress events: the timed trigger fired repeatedly on its own
      assert(q.recentProgress.length >= 2)
      assert(rows(t).nonEmpty)
    } finally q.stop()
  }
}
