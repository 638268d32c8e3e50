package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import graft.streaming.{Generator, Pipelines}

/** Streaming ≡ batch: the same combinators produce the same rows under
  * MemoryStream + watermark as in batch, late rows behind the watermark are
  * dropped, and append-mode windows are final (SURVEY.md §5.2). */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  /** Added after a reporter to the same listener bus: a progress this
    * probe has seen, the reporter has seen too. */
  private class ProgressProbe extends StreamingQueryListener {
    private val seen = ConcurrentHashMap.newKeySet[(UUID, Long, String)]()
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      seen.add((e.progress.id, e.progress.batchId, e.progress.timestamp))
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    def delivered(p: StreamingQueryProgress): Boolean =
      p != null && seen.contains((p.id, p.batchId, p.timestamp))
  }

  /** No idle progress reports, so a query's last progress stays its last
    * micro-batch for the length of a test. */
  private val NoIdleProgress =
    "spark.sql.streaming.noDataProgressEventInterval" -> "1h"

  /** The reporter series computed over live queries only. */
  private val PerQuery = Seq("avg_latency", "checkpoint_duration",
    "checkpoint_size", "records_in_rate", "records_out_rate")

  private val MB = 1048576.0

  private def values(rep: graft.streaming.MetricsReporter) =
    rep.series.map(s => s.id -> s.value).toMap

  private def stateBytes(p: StreamingQueryProgress) =
    p.stateOperators.map(_.memoryUsedBytes).sum.toDouble

  private def runStream(jsonRows: Seq[String], queryName: String,
                        pipeline: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                        outputMode: String): org.apache.spark.sql.DataFrame = {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[String]
    val q = pipeline(mem.toDF().withColumnRenamed("value", "value"))
      .writeStream.outputMode(outputMode).format("memory")
      .queryName(queryName).start()
    try {
      mem.addData(jsonRows)
      q.processAllAvailable()
      // a far-future sentinel advances the watermark so all real windows close
      mem.addData(Seq("""{"transactionId":"sentinel","senderId":"s","receiverId":"r","amount":0.0,"currency":"USD","exchangeRate":1.0,"timestamp":99999999999999}"""))
      q.processAllAvailable()
      // one more batch so windows closed by the sentinel's watermark emit
      mem.addData(Seq("""{"transactionId":"sentinel2","senderId":"s","receiverId":"r","amount":0.0,"currency":"USD","exchangeRate":1.0,"timestamp":99999999999999}"""))
      q.processAllAvailable()
    } finally q.stop()
    spark.table(queryName)
  }

  test("windowed metrics: streaming (append, watermark-closed) equals batch") {
    val wire = Generator.toWire(Generator.batch(spark, 300))
      .as[String].collect().toSeq
    val streamed = runStream(wire, "stream_metrics",
      df => Pipelines.metricsPipeline(df), "append")
      .filter($"window_start" < 90000000000000L)
    val batch = Pipelines.metricsPipeline(
      wire.toDF("value"))
    val s = streamed.orderBy("window_start").collect().toSeq
    val b = batch.orderBy("window_start").collect().toSeq
    assert(s.nonEmpty && s == b)
  }

  test("late rows behind the watermark are dropped from closed windows (T4)") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[String]
    def tx(id: String, ts: Long) =
      s"""{"transactionId":"$id","senderId":"s","receiverId":"r","amount":1.0,"currency":"USD","exchangeRate":1.0,"timestamp":$ts}"""
    val q = Pipelines.metricsPipeline(mem.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("late_drop").start()
    try {
      mem.addData(Seq(tx("a", 5000L), tx("b", 15000L)))
      q.processAllAvailable()
      mem.addData(Seq(tx("future", 1000000L))) // watermark -> 1000s; closes [0,10s)
      q.processAllAvailable()
      mem.addData(Seq(tx("late", 6000L))) // behind watermark: must be dropped
      q.processAllAvailable()
      mem.addData(Seq(tx("future2", 2000000L)))
      q.processAllAvailable()
      val rows = spark.table("late_drop")
        .select("window_start", "cnt").as[(Long, Long)].collect().toMap
      assert(rows(0L) == 1L) // the late "6000" row did NOT reopen/raise it
      val dropped = q.lastProgress // progress of the final batch
      assert(rows.nonEmpty)
    } finally q.stop()
  }

  test("risk pipeline: streaming equals batch on deterministic columns") {
    implicit val sc = spark.sqlContext
    val wire = Generator.toWire(Generator.batch(spark, 100))
      .as[String].collect().toSeq
    val mem = MemoryStream[String]
    val q = Pipelines.riskPipelineDeterministic(mem.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_risk").start()
    try {
      mem.addData(wire)
      q.processAllAvailable()
    } finally q.stop()
    val s = spark.table("stream_risk").orderBy("transactionId").collect().toSeq
    val b = Pipelines.riskPipelineDeterministic(wire.toDF("value"))
      .orderBy("transactionId").collect().toSeq
    assert(s.nonEmpty && s == b)
  }

  test("metrics reporter captures progress with the reference metric ids") {
    implicit val sc = spark.sqlContext
    val rep = new graft.streaming.MetricsReporter
    val probe = new ProgressProbe
    spark.streams.addListener(rep)
    spark.streams.addListener(probe)
    try TestSession.withConf(NoIdleProgress) {
      val mem = MemoryStream[String]
      val q = Pipelines.metricsPipeline(mem.toDF())
        .writeStream.outputMode("append").format("memory")
        .queryName("rep_q").start()
      try {
        mem.addData(Generator.toWire(Generator.batch(spark, 20))
          .as[String].collect().toSeq)
        q.processAllAvailable()
        eventually(timeout(30.seconds)) {
          val p = q.lastProgress
          assert(probe.delivered(p))
          val v = values(rep)
          assert(v("avg_latency") == p.durationMs.get("triggerExecution").doubleValue, v)
          assert(v("checkpoint_size") == stateBytes(p) / MB, v)
          assert(v("records_in_rate") == p.inputRowsPerSecond, v)
          assert(v("records_out_rate") == p.processedRowsPerSecond, v)
        }
        // values only a progress report can set
        val v = values(rep)
        assert(v("avg_latency") > 0 && v("checkpoint_size") > 0, v)
      } finally q.stop()
      // a terminated query leaves every series computed over live queries
      eventually(timeout(30.seconds)) {
        val v = values(rep)
        PerQuery.foreach(id => assert(v(id) == 0.0, s"$id: $v"))
      }
    } finally {
      spark.streams.removeListener(probe)
      spark.streams.removeListener(rep)
    }
    val ids = Seq("records_in_rate", "records_out_rate", "avg_latency",
      "checkpoint_size", "heap_used", "dropped_late_rows")
    val listed = rep.series.map(_.id).toSet
    ids.foreach(id => assert(listed.contains(id), s"missing $id"))
    // no series Spark cannot back: no max-latency copy, no constant 0
    Seq("max_latency", "backpressure").foreach(id =>
      assert(!listed.contains(id), s"unbacked series $id"))
    assert(rep.snapshotJson.startsWith("{"))
  }

  test("prometheus endpoint serves reporter gauges in exposition format") {
    implicit val sc = spark.sqlContext
    val rep = new graft.streaming.MetricsReporter
    spark.streams.addListener(rep)
    val mem = MemoryStream[String]
    val q = Pipelines.metricsPipeline(mem.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("prom_q").start()
    val ep = new graft.streaming.PrometheusEndpoint(rep, port = 0)
    val port = ep.start()
    try {
      mem.addData(Generator.toWire(Generator.batch(spark, 20))
        .as[String].collect().toSeq)
      q.processAllAvailable()
      val conn = new java.net.URL(s"http://127.0.0.1:$port/metrics")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(conn.getResponseCode == 200)
      assert(conn.getContentType.startsWith("text/plain"))
      val body = scala.io.Source.fromInputStream(conn.getInputStream,
        "UTF-8").mkString
      conn.disconnect()
      // every non-comment line is `name value` with a Prometheus-legal
      // name and a parseable double — i.e. a scraper accepts the page
      val lines = body.split("\n").filter(_.nonEmpty)
      assert(lines.nonEmpty)
      lines.filterNot(_.startsWith("#")).foreach { l =>
        val Array(name, value) = l.split(" ", 2)
        assert(name.matches("[a-zA-Z_:][a-zA-Z0-9_:]*"), l)
        assert(!value.toDouble.isNaN, l)
      }
      Seq("records_in_rate" -> "gauge", "records_out_rate" -> "gauge",
        "avg_latency" -> "gauge", "checkpoint_size" -> "gauge",
        "dropped_late_rows" -> "counter").foreach { case (id, kind) =>
        assert(body.contains(s"# TYPE graft_$id $kind"), s"missing $id")
        assert(lines.exists(_.startsWith(s"graft_$id ")), s"missing $id value")
      }
    } finally {
      ep.stop(); q.stop(); spark.streams.removeListener(rep)
    }
  }

  test("one reporter over two live queries: a stateless query's report " +
      "resets none of the stateful query's drops, state memory or rates") {
    implicit val sc = spark.sqlContext
    val rep = new graft.streaming.MetricsReporter
    val probe = new ProgressProbe
    def tx(id: String, ts: Long) =
      s"""{"transactionId":"$id","senderId":"s","receiverId":"r","amount":1.0,"currency":"USD","exchangeRate":1.0,"timestamp":$ts}"""
    spark.streams.addListener(rep)
    spark.streams.addListener(probe)
    try TestSession.withConf(NoIdleProgress) {
      val mMem = MemoryStream[String]
      val rMem = MemoryStream[String]
      val mq = Pipelines.metricsPipeline(mMem.toDF())
        .writeStream.outputMode("append").format("memory")
        .queryName("rep2_metrics").start()
      val rq = Pipelines.riskPipeline(rMem.toDF())
        .writeStream.format("memory").queryName("rep2_risk").start()
      try {
        mMem.addData(Seq(tx("a", 5000L), tx("b", 15000L)))
        mq.processAllAvailable()
        mMem.addData(Seq(tx("future", 1000000L))) // watermark -> 1000 s
        mq.processAllAvailable()
        mMem.addData(Seq(tx("late", 6000L))) // behind the watermark: dropped
        mq.processAllAvailable()
        eventually(timeout(30.seconds)) { assert(probe.delivered(mq.lastProgress)) }
        val m = mq.lastProgress
        val before = values(rep)
        assert(before("dropped_late_rows") == 1.0, before)
        assert(before("checkpoint_size") == stateBytes(m) / MB, before)
        assert(before("records_in_rate") == m.inputRowsPerSecond, before)
        assert(before("checkpoint_size") > 0 && before("records_in_rate") > 0 &&
          before("records_out_rate") > 0, before)
        // the stateless query reports after the late row
        rMem.addData(Seq(tx("r1", 1000L), tx("r2", 2000L)))
        rq.processAllAvailable()
        eventually(timeout(30.seconds)) { assert(probe.delivered(rq.lastProgress)) }
        val r = rq.lastProgress
        assert(mq.lastProgress eq m, "the metrics query reported again")
        assert(stateBytes(r) == 0 && r.processedRowsPerSecond > 0)
        val v = values(rep)
        assert(rep.series.find(_.id == "dropped_late_rows").get.text == "1")
        assert(v("dropped_late_rows") == 1.0, v)
        assert(v("checkpoint_size") == before("checkpoint_size"), v)
        assert(v("records_in_rate") == m.inputRowsPerSecond + r.inputRowsPerSecond, v)
        assert(v("records_out_rate") ==
          m.processedRowsPerSecond + r.processedRowsPerSecond, v)
        assert(v("avg_latency") == Seq(m, r)
          .map(_.durationMs.get("triggerExecution").doubleValue).max, v)
        // the stopped query's state memory and rates leave the sums; its
        // drops stay in the running total
        mq.stop()
        eventually(timeout(30.seconds)) {
          val v = values(rep)
          assert(v("checkpoint_size") == 0.0, v)
          assert(v("records_in_rate") == r.inputRowsPerSecond, v)
          assert(v("records_out_rate") == r.processedRowsPerSecond, v)
          assert(v("dropped_late_rows") == 1.0, v)
        }
      } finally { mq.stop(); rq.stop() }
    } finally {
      spark.streams.removeListener(probe)
      spark.streams.removeListener(rep)
    }
  }

  test("metrics reporter counts a source that two queries read once") {
    val rep = new graft.streaming.MetricsReporter
    val probe = new ProgressProbe
    val dir = java.nio.file.Files.createTempDirectory("graft-two-readers-")
      .toString
    def write(from: Long) =
      spark.range(from, from + 50).toDF("i").coalesce(1)
        .write.mode("append").parquet(dir)
    write(0)
    spark.streams.addListener(rep)
    spark.streams.addListener(probe)
    try TestSession.withConf(NoIdleProgress) {
      val src = graft.sources.Sources.fileStream(spark, dir,
        spark.read.parquet(dir).schema)
      val qs = Seq("two_readers_a", "two_readers_b")
        .map(n => src.writeStream.format("memory").queryName(n).start())
      try {
        qs.foreach(_.processAllAvailable())
        write(50) // each query's second batch: a finite, positive input rate
        qs.foreach(_.processAllAvailable())
        eventually(timeout(30.seconds)) {
          qs.foreach(q => assert(probe.delivered(q.lastProgress)))
        }
        val ps = qs.map(_.lastProgress)
        assert(ps.map(_.sources.map(_.description).toSeq).distinct.size == 1)
        assert(ps.forall(_.inputRowsPerSecond > 0), ps.map(_.inputRowsPerSecond))
        val v = values(rep)
        assert(v("records_in_rate") == ps.map(_.inputRowsPerSecond).max, v)
        assert(v("records_out_rate") == ps.map(_.processedRowsPerSecond).sum, v)
      } finally qs.foreach(_.stop())
    } finally {
      spark.streams.removeListener(probe)
      spark.streams.removeListener(rep)
    }
  }

  test("rate-source generator: each row equals the batch generator's row " +
      "for its transactionId, timestamp aside") {
    val q = Generator.stream(spark, rowsPerSecond = 200)
      .writeStream.format("memory").queryName("gen_stream").start()
    try eventually(timeout(60.seconds)) {
      assert(spark.table("gen_stream").count() >= 20)
    } finally q.stop()
    val streamed = spark.table("gen_stream").drop("timestamp").collect()
    // the rate source numbers its rows 0, 1, 2, ... with no gap
    val batch = Generator.batch(spark, streamed.length).drop("timestamp")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(streamed.length >= 20 && batch.size == streamed.length)
    streamed.foreach(r => assert(batch.get(r.getString(0)).contains(r), r))
  }

  test("flatMapGroupsWithState: per-sender running totals with alerts") {
    implicit val sc = spark.sqlContext
    import graft.core.Schemas.RemittanceTransaction
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[RemittanceTransaction]
    val out = graft.streaming.StatefulOps
      .senderRunningTotals(spark, mem.toDS(), alertThreshold = 1.5)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("sender_stats").start()
    def tx(s: String, amt: Double, ts: Long) = RemittanceTransaction(
      s"t$ts", s, "r", amt, "USD", 1.0, ts)
    try {
      mem.addData(tx("A", 1.0, 1), tx("B", 0.2, 2))
      q.processAllAvailable()
      mem.addData(tx("A", 1.0, 3)) // A crosses 1.5 -> alert, state persisted
      q.processAllAvailable()
    } finally q.stop()
    import spark.implicits._
    val rows = spark.table("sender_stats")
      .as[graft.streaming.StatefulOps.SenderStats].collect()
    val a2 = rows.filter(r => r.senderId == "A" && r.txCount == 2L)
    assert(a2.length == 1 && a2.head.alert && a2.head.totalAmount == 2.0)
    assert(rows.filter(_.senderId == "B").forall(!_.alert))
  }

  test("update-mode keyed windows emit refined results per micro-batch") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[String]
    def tx(id: String, amt: Double, ts: Long) =
      s"""{"transactionId":"$id","senderId":"s","receiverId":"r","amount":$amt,"currency":"USD","exchangeRate":1.0,"timestamp":$ts}"""
    val q = Pipelines.metricsPipeline(mem.toDF())
      .writeStream.outputMode("update").format("memory")
      .queryName("upd_metrics").start()
    try {
      mem.addData(Seq(tx("a", 1.0, 1000L)))
      q.processAllAvailable()
      mem.addData(Seq(tx("b", 3.0, 2000L))) // same window, refined row
      q.processAllAvailable()
    } finally q.stop()
    import spark.implicits._
    val emitted = spark.table("upd_metrics")
      .select("window_start", "cnt").as[(Long, Long)].collect().toSeq
    // update mode re-emits the [0,10s) window: once with cnt=1, then cnt=2
    assert(emitted.sorted == Seq((0L, 1L), (0L, 2L)))
  }

  test("metric JSON line round-trips through from_json (K2 re-parse path)") {
    import graft.functions.JsonCodec
    val m = Pipelines.metricsPipeline(
      Generator.toWire(Generator.batch(spark, 100)).as[String].toDF("value"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("windowStart", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("count", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("successCount", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("avgAmount", org.apache.spark.sql.types.DoubleType)))
    val back = m.select(from_json($"line", schema).as("p"), $"window_start", $"cnt", $"success_cnt")
    val bad = back.filter($"p.windowStart" =!= $"window_start" ||
      $"p.count" =!= $"cnt" || $"p.successCount" =!= $"success_cnt")
    assert(bad.count() == 0)
  }

  test("streaming equals batch regardless of micro-batch boundaries") {
    implicit val sc = spark.sqlContext
    val wire = Generator.toWire(Generator.batch(spark, 240))
      .as[String].collect().toSeq
    val rnd = new scala.util.Random(3)
    // split the stream into 7 uneven chunks -> 7 micro-batches
    val chunks = wire.grouped(wire.size / 7 + 1).toSeq
    val mem = MemoryStream[String]
    val q = Pipelines.metricsPipeline(mem.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("chunked_metrics").start()
    try {
      chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
      val sentinel = """{"transactionId":"s","senderId":"s","receiverId":"r","amount":0.0,"currency":"USD","exchangeRate":1.0,"timestamp":99999999999999}"""
      mem.addData(Seq(sentinel)); q.processAllAvailable()
      mem.addData(Seq(sentinel)); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("chunked_metrics")
      .filter($"window_start" < 90000000000000L)
      .orderBy("window_start").collect().toSeq
    val batch = Pipelines.metricsPipeline(wire.toDF("value"))
      .orderBy("window_start").collect().toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming session windows (gap 10s) equal batch on the same rows") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[String]
    def tx(id: String, ts: Long) =
      s"""{"transactionId":"$id","senderId":"s","receiverId":"r","amount":1.0,"currency":"USD","exchangeRate":1.0,"timestamp":$ts}"""
    val wire = Seq(
      tx("a", 1000L), tx("b", 5000L),   // session 1: [1s, 15s)
      tx("c", 30000L),                   // session 2: [30s, 40s)
      tx("d", 31000L), tx("e", 60000L))  // d joins s2; e: session 3
    def sessions(df: org.apache.spark.sql.DataFrame) =
      graft.functions.JsonCodec.parseTransactions(df, col("value"))
        .filter(!col("_corrupt"))
        .withColumn("event_time", timestamp_millis(col("timestamp")))
        .withWatermark("event_time", "0 seconds")
        .groupBy(session_window(col("event_time"), "10 seconds"),
          col("senderId"))
        .agg(count(lit(1)).as("cnt"))
        .select(unix_millis(col("session_window.start")).as("s"),
          unix_millis(col("session_window.end")).as("e"), col("cnt"))
    val q = sessions(mem.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_stream").start()
    try {
      mem.addData(wire)
      q.processAllAvailable()
      mem.addData(Seq(tx("z", 99999999999L)))
      q.processAllAvailable()
      mem.addData(Seq(tx("z2", 99999999999L)))
      q.processAllAvailable()
    } finally q.stop()
    import spark.implicits._
    val streamed = spark.table("sess_stream").filter($"s" < 90000000L)
      .orderBy("s").as[(Long, Long, Long)].collect().toSeq
    val batch = sessions(wire.toDF("value"))
      .orderBy("s").as[(Long, Long, Long)].collect().toSeq
    assert(streamed == Seq((1000L, 15000L, 2L), (30000L, 41000L, 2L),
      (60000L, 70000L, 1L)))
    assert(streamed == batch)
  }

  test("stream-stream interval join equals batch join on the same rows") {
    implicit val sc = spark.sqlContext
    // (event_id, user_id, epoch-sec); pairs within 60 s forward per user.
    val rowsA = Seq((1L, 7L, 100L), (2L, 7L, 130L), (3L, 8L, 100L),
      (4L, 9L, 500L))
    val rowsB = Seq((11L, 7L, 150L), (12L, 7L, 190L), (13L, 8L, 160L),
      (14L, 9L, 505L))
    def prep(df: org.apache.spark.sql.DataFrame) =
      df.toDF("event_id", "user_id", "sec")
        .withColumn("ts", timestamp_seconds($"sec")).drop("sec")
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select(col("l.event_id").as("eid_a"), col("r.event_id").as("eid_b"))
    val memA = MemoryStream[(Long, Long, Long)]
    val memB = MemoryStream[(Long, Long, Long)]
    val q = pairs(Pipelines.intervalJoin(prep(memA.toDF()), prep(memB.toDF()),
        "user_id", "ts", "10 seconds", 60))
      .writeStream.outputMode("append").format("memory")
      .queryName("ssj").start()
    try {
      // split across micro-batches to exercise buffered-state matching;
      // batch-2 rows stay ahead of the batch-1 watermark (150 - 10 s =
      // 140) — anything older would be dropped as late, by design.
      memA.addData(rowsA.take(3)); memB.addData(rowsB.take(1))
      q.processAllAvailable()
      memA.addData(rowsA.drop(3)); memB.addData(rowsB.drop(1))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("ssj").as[(Long, Long)].collect().toSet
    val batch = pairs(Pipelines.intervalJoin(
        prep(rowsA.toDF()), prep(rowsB.toDF()), "user_id", "ts",
        "10 seconds", 60)).as[(Long, Long)].collect().toSet
    // expected: user 7 -> (1,11), (2,11), (2,12 @190<=130+60); user 8 ->
    // (3,13 @160<=100+60, the inclusive upper bound); user 9 -> (4,14).
    // (1,12) excluded: 190 > 100+60.
    assert(batch == Set((1L, 11L), (2L, 11L), (2L, 12L), (3L, 13L), (4L, 14L)))
    assert(streamed == batch)
  }

  test("stream-stream LEFT OUTER interval join emits null-padded rows after watermark") {
    implicit val sc = spark.sqlContext
    val memA = MemoryStream[(Long, Long, Long)]
    val memB = MemoryStream[(Long, Long, Long)]
    def prep(df: org.apache.spark.sql.DataFrame) =
      df.toDF("event_id", "user_id", "sec")
        .withColumn("ts", timestamp_seconds($"sec")).drop("sec")
    val q = Pipelines.intervalJoin(prep(memA.toDF()), prep(memB.toDF()),
        "user_id", "ts", "5 seconds", 60, "leftOuter")
      .select(col("l.event_id").as("eid_a"), col("r.event_id").as("eid_b"))
      .writeStream.outputMode("append").format("memory")
      .queryName("ssoj").start()
    try {
      // user 7 matches; user 8's left row never gets a right match
      memA.addData(Seq((1L, 7L, 100L), (2L, 8L, 100L)))
      memB.addData(Seq((11L, 7L, 120L)))
      q.processAllAvailable()
      // push both watermarks far past 100+60 so the unmatched left row
      // can be finalized and emitted with nulls
      memA.addData(Seq((99L, 1L, 5000L))); memB.addData(Seq((98L, 1L, 5000L)))
      q.processAllAvailable()
      memA.addData(Seq((97L, 1L, 9000L))); memB.addData(Seq((96L, 1L, 9000L)))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("ssoj").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(out.contains((1L, 11L)))   // matched pair
    assert(out.contains((2L, -1L)))   // unmatched left, null-padded
  }

  test("event-time timeout closes idle sessions and drops their state") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(String, Long, Double)]
    val events = mem.toDF().toDF("key", "sec", "value")
      .withColumn("ts", timestamp_seconds($"sec")).drop("sec")
      .withWatermark("ts", "0 seconds")
    val q = graft.streaming.StatefulOps
      .sessionsWithTimeout(spark, events, gapMs = 30000L)
      .toDF().writeStream.outputMode("append").format("memory")
      .queryName("etimeout").start()
    try {
      // key a: two rows 10 s apart; key b: one row. Then advance the
      // watermark far past both last+gap bounds via a sentinel key.
      mem.addData(Seq(("a", 100L, 1.0), ("a", 110L, 2.0), ("b", 100L, 5.0)))
      q.processAllAvailable()
      mem.addData(Seq(("zz", 10000L, 0.0)))
      q.processAllAvailable()
      mem.addData(Seq(("zz", 20000L, 0.0)))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("etimeout").collect()
      .map(r => r.getAs[String]("key") ->
        (r.getAs[Long]("n"), r.getAs[Double]("total"),
          r.getAs[Long]("last_ms"), r.getAs[Boolean]("closed_by_timeout")))
      .toMap
    assert(out("a") == ((2L, 3.0, 110000L, true)))
    assert(out("b") == ((1L, 5.0, 100000L, true)))
  }

  test("streaming funnel: out-of-order micro-batches finalize to the " +
      "batch q63 stages on timeout") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    val events = mem.toDF().toDF("user_id", "event_type", "sec")
      .withColumn("ts", timestamp_seconds($"sec")).drop("sec")
      .withWatermark("ts", "1 hour")
    val q = graft.streaming.StatefulOps
      .funnelStages(spark, events, horizonMs = 30000L)
      .toDF().writeStream.outputMode("append").format("memory")
      .queryName("funnel_stream").start()
    try {
      // the SAME planted users as EventAnalyticsSpec's q63 test, arriving
      // maximally out of order across micro-batches: purchases first,
      // user 2's pre-view click early, user 1's view LAST
      mem.addData(Seq((1L, "purchase", 30L), (2L, "click", 10L),
        (3L, "view", 10L), (4L, "click", 10L)))
      q.processAllAvailable()
      mem.addData(Seq((1L, "click", 20L), (2L, "view", 20L),
        (3L, "purchase", 5L), (4L, "click", 20L)))
      q.processAllAvailable()
      mem.addData(Seq((1L, "view", 10L), (2L, "click", 30L)))
      q.processAllAvailable()
      // advance the watermark far past every user's maxTs + horizon
      mem.addData(Seq((99L, "view", 20000L)))
      q.processAllAvailable()
      mem.addData(Seq((99L, "view", 30000L)))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("funnel_stream").collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Int]("stage"), Option(r.getAs[Any]("t_click_ms"))))
      .toMap
    // user 1: view@10 click@20 purchase@30 despite arrival order ⇒ 3;
    // user 2: the click@10 BEFORE view@20 must not count, click@30
    // does ⇒ 2; user 3: purchase precedes the view ⇒ 1; user 4: clicks
    // without any view ⇒ 0
    assert(out(1L) == ((3, Some(20000L))))
    assert(out(2L) == ((2, Some(30000L))))
    assert(out(3L) == ((1, None)))
    assert(out(4L) == ((0, None)))
  }

  test("chained windowed aggregations: 10s counts roll up to 1min in one stream") {
    // Spark 4 allows multiple stateful operators in append mode when the
    // second aggregation windows over the FIRST's `window` struct (the
    // event-time lineage rides the struct — re-deriving a timestamp
    // column would drop the watermark tag and the chain never emits).
    // This is the metrics-rollup topology without an intermediate sink.
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    def chain(df: org.apache.spark.sql.DataFrame) = {
      val fine = df
        .withColumn("ts", timestamp_millis($"ts_ms"))
        .withWatermark("ts", "0 seconds")
        .groupBy($"k", window($"ts", "10 seconds"))
        .agg(count(lit(1)).as("cnt"))
      fine
        .groupBy(window($"window", "60 seconds"))
        .agg(sum($"cnt").as("cnt_1m"))
        .select($"window.start".as("minute_start"), $"cnt_1m")
    }
    val q = chain(mem.toDF().toDF("k", "ts_ms"))
      .writeStream.outputMode("append").format("memory")
      .queryName("rollup").start()
    // 4 minutes of events: 3 per 10s window for key a, 1 per 20s for b
    val events = (0 until 240).flatMap { s =>
      Seq(("a", s * 1000L)) ++ (if (s % 20 == 0) Seq(("b", s * 1000L)) else Nil)
    }
    try {
      mem.addData(events)
      q.processAllAvailable()
      // far-future sentinels, strictly increasing: each closes the prior
      // sentinel's 10s window, whose row advances the rollup's watermark
      // one batch later — the chain needs extra batches to fully drain
      (1 to 4).foreach { i =>
        mem.addData(Seq((s"s$i", 99999999000L + i * 600000L)))
        q.processAllAvailable()
      }
    } finally q.stop()
    val rolled = spark.table("rollup")
      .filter($"minute_start" < timestamp_millis(lit(90000000000L)))
      .collect().map(r => (r.getTimestamp(0).getTime, r.getLong(1))).sorted
    assert(rolled.nonEmpty, "no 1min windows emitted")
    // batch truth: the same double-windowing over the same rows
    val batchRolled = chain(events.toDF("k", "ts_ms"))
      .filter($"minute_start" < timestamp_millis(lit(90000000000L)))
      .collect().map(r => (r.getTimestamp(0).getTime, r.getLong(1))).sorted
    assert(rolled.toSeq == batchRolled.toSeq)
  }

  test("streaming ingest pipeline: quality filter + cross-batch content dedup") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    val stream = graft.streaming.Pipelines.ingestStream(
      mem.toDF().toDF("doc_id", "text", "ts_ms")
        .withColumn("ts", timestamp_millis($"ts_ms")).drop("ts_ms"),
      "doc_id", "text", "ts")
    val q = stream.writeStream.outputMode("append").format("memory")
      .queryName("ingest").start()
    val good = "the quick brown fox and the lazy dog in a quiet town"
    // same content modulo case/punctuation — normalizes identically
    val dupOfGood = "The quick brown fox, and the lazy dog — in a quiet town!"
    val junk = "!!! ??? ;;; ..." // quality filter drops punctuation soup
    try {
      mem.addData(Seq((1L, good, 1000L), (2L, junk, 2000L)))
      q.processAllAvailable()
      // the normalized duplicate arrives in a LATER micro-batch — the
      // content-hash state must span batches
      mem.addData(Seq((3L, dupOfGood, 3000L),
        (4L, "an entirely different document about parquet readers", 4000L)))
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("ingest").collect().map(_.getAs[Long]("doc_id")).sorted
    assert(ids.toSeq == Seq(1L, 4L),
      s"expected only first copy + distinct doc, got ${ids.toSeq}")
    // per-doc values agree with the batch operators on the same rows
    val row = spark.table("ingest").filter($"doc_id" === 1L).collect().head
    assert(row.getAs[Long]("n_tok") == 12L)
  }

  test("file-stream source: incremental parquet ingest picks up late-arriving files") {
    // the batch-incremental ingest shape: a directory that keeps receiving
    // parquet drops, consumed as a stream with per-file batching — the
    // same combinators as the Kafka path, different source class
    val dir = java.nio.file.Files.createTempDirectory("graft-filestream")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-filestream-ck")
    val schema = "doc_id LONG, lang STRING"
    Seq((1L, "en"), (2L, "de")).toDF("doc_id", "lang")
      .write.mode("append").parquet(dir.toString)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
      .groupBy($"lang").count()
    val q = stream.writeStream.outputMode("complete").format("memory")
      .option("checkpointLocation", ckpt.toString)
      .queryName("fstream").start()
    try {
      q.processAllAvailable()
      val first = spark.table("fstream").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(first == Map("en" -> 1L, "de" -> 1L))
      // a file that arrives AFTER the stream started must be discovered
      Seq((3L, "en"), (4L, "fr")).toDF("doc_id", "lang")
        .write.mode("append").parquet(dir.toString)
      q.processAllAvailable()
      val second = spark.table("fstream").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(second == Map("en" -> 2L, "de" -> 1L, "fr" -> 1L))
    } finally q.stop()
  }

  test("streaming embedding near-dup: perturbed vector found across micro-batches") {
    implicit val sc = spark.sqlContext
    TestSession.withConf(TestSession.RocksDb) {
      val dims = 16
      val rnd = new scala.util.Random(7)
      val base = Array.fill(dims)(rnd.nextFloat() - 0.5f)
      val nearDup = base.map(x => x + 0.001f) // tiny perturbation, cos ≈ 1
      val unrelated = Array.fill(dims)(rnd.nextFloat() - 0.5f)
      val mem = MemoryStream[(Long, Seq[Float])]
      val q = graft.streaming.StreamingDedup.embeddingNearDupCandidates(spark,
          mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
          dims = dims, planes = 16, bands = 8, maxPerBucket = 8)
        .toDF()
        .writeStream.outputMode("append").format("memory")
        .queryName("stream_emb_dedup").start()
      try {
        mem.addData(Seq((1L, base.toSeq), (3L, unrelated.toSeq)))
        q.processAllAvailable()
        mem.addData(Seq((2L, nearDup.toSeq)))
        q.processAllAvailable()
      } finally q.stop()
      val pairs = spark.table("stream_emb_dedup").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(pairs.contains((1L, 2L)), s"cross-batch embedding dup missed: $pairs")
      assert(pairs((1L, 2L)) >= 0.9) // near-identical vectors agree on ~all planes
    }
  }

  test("exact streaming dedup: dropDuplicatesWithinWatermark drops cross-batch repeats") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    val df = mem.toDF().toDF("id", "ts_ms")
      .withColumn("ts", timestamp_millis($"ts_ms"))
      .withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark("id")
    val q = df.writeStream.outputMode("append").format("memory")
      .queryName("sdedup").start()
    try {
      mem.addData(Seq(("a", 1000L), ("b", 2000L)))
      q.processAllAvailable()
      // 'a' repeats in a LATER micro-batch, within the watermark horizon —
      // the state store must remember it and drop the duplicate
      mem.addData(Seq(("a", 3000L), ("c", 4000L)))
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("sdedup").collect().map(_.getString(0))
    assert(ids.sorted.toSeq == Seq("a", "b", "c"))
  }

  test("streaming near-dup dedup: planted dups across micro-batches detected, bucket capped") {
    implicit val sc = spark.sqlContext
    TestSession.withConf(TestSession.RocksDb) {
      val base = "the quick brown fox jumps over the lazy dog while rain " +
        "falls gently on the quiet harbor town at dusk"
      // a LAST-word edit changes exactly one k=3 shingle → J = 17/19; with
      // 8 bands of 2 the planted pair shares 5 buckets (verified) — the
      // collision is deterministic for these fixed strings, not luck
      val nearDup = base.replace("dusk", "dawn")
      val unrelated = "completely different content about spark shuffles " +
        "partitions aggregation codegen and columnar parquet readers at scale"
      val mem = MemoryStream[(Long, String)]
      val q = graft.streaming.StreamingDedup.nearDupCandidates(spark,
          mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
          bands = 8, maxPerBucket = 8)
        .toDF()
        .writeStream.outputMode("append").format("memory")
        .queryName("stream_dedup").start()
      try {
        // the near-dups arrive in DIFFERENT micro-batches: detection relies
        // on bucket state surviving across batches (state IS the index)
        mem.addData(Seq((1L, base), (3L, unrelated)))
        q.processAllAvailable()
        mem.addData(Seq((2L, nearDup)))
        q.processAllAvailable()
      } finally q.stop()
      val pairs = spark.table("stream_dedup").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(pairs.contains((1L, 2L)), s"cross-batch near-dup missed: $pairs")
      assert(pairs((1L, 2L)) >= 0.8) // one shingle changed → most mins agree
      assert(!pairs.keys.exists { case (a, b) => a == 3L || b == 3L },
        "unrelated doc must not pair")
    }
  }

  test("bounded ingest: maxFilesPerTrigger caps every micro-batch of a backlog") {
    // 6-file backlog, cap 2 files/trigger: the catch-up run must split
    // into ≥3 micro-batches of ≤2 files' rows each — without the bound,
    // batch 0 would swallow the whole backlog and any state/shuffle
    // sizing that held at steady state dies on restart. This pins the
    // knob end-to-end through the ingest pipeline (normalize → quality
    // filter → dedup), not just the option string.
    val dir = java.nio.file.Files.createTempDirectory("graft-bounded-")
      .toString
    (0 until 6).foreach { i =>
      (0 until 10).map { j =>
        (i * 10L + j, s"document number $i $j with unique token payload",
          new java.sql.Timestamp(1700000000000L + 1000L * (i * 10 + j)))
      }.toDF("doc_id", "text", "ts").coalesce(1)
        .write.mode("append").parquet(dir)
    }
    val schema = spark.read.parquet(dir).schema
    val src = graft.sources.Sources.fileStream(spark, dir, schema,
      maxFilesPerTrigger = Some(2))
    val q = graft.streaming.Pipelines.ingestStream(src, "doc_id", "text", "ts")
      .writeStream.outputMode("append").format("memory")
      .queryName("bounded_ingest").start()
    try {
      q.processAllAvailable()
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length >= 3,
        s"backlog must split into ≥3 micro-batches, got ${batches.length}")
      assert(batches.forall(_.numInputRows <= 20),
        s"a micro-batch exceeded the 2-file cap: " +
          batches.map(_.numInputRows).mkString(","))
      // nothing lost to the bounding: every unique doc arrives
      assert(spark.table("bounded_ingest").count() == 60L)
    } finally q.stop()
  }

  test("verified streaming near-dup: signature collision with low true similarity rejected") {
    implicit val sc = spark.sqlContext
    TestSession.withConf(TestSession.RocksDb) {
      // hand-crafted banded rows force the failure mode that is nearly
      // impossible to plant end-to-end: docs 1 and 2 share a bucket with
      // IDENTICAL signatures (sig_agree = 1.0, the strongest possible
      // sketch evidence) but their true shingle sets are disjoint — a pure
      // LSH/sketch collision. Doc 3 is a genuine near-dup of doc 1.
      val sig = Seq(7L, 8L, 9L, 10L)
      val sh1 = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L, 10L)
      val sh2 = Seq(101L, 102L, 103L, 104L, 105L, 106L, 107L, 108L, 109L, 110L)
      val sh3 = sh1.take(9) :+ 999L // J(sh1, sh3) = 9/11 ≈ 0.818
      val mem = MemoryStream[(String, Long, Seq[Long], Seq[Long])]
      val q = graft.streaming.StreamingDedup.verifiedText(spark,
          mem.toDF().toDF("bucket_key", "doc", "sig", "shh"),
          maxPerBucket = 8, ttl = org.apache.spark.sql.streaming.TTLConfig.NONE,
          jaccardThreshold = 0.5)
        .toDF()
        .writeStream.outputMode("append").format("memory")
        .queryName("stream_verified").start()
      try {
        mem.addData(Seq(("0:b", 1L, sig, sh1)))
        q.processAllAvailable()
        // the collision and the true dup arrive in LATER micro-batches
        mem.addData(Seq(("0:b", 2L, sig, sh2)))
        q.processAllAvailable()
        mem.addData(Seq(("0:b", 3L, sig, sh3)))
        q.processAllAvailable()
      } finally q.stop()
      val pairs = spark.table("stream_verified").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
      assert(!pairs.contains((1L, 2L)),
        s"sketch collision must be rejected by exact Jaccard: $pairs")
      assert(pairs.contains((1L, 3L)), s"true near-dup missed: $pairs")
      assert(math.abs(pairs((1L, 3L)) - 9.0 / 11.0) < 1e-12)
      assert(!pairs.contains((2L, 3L)), "disjoint pair must be rejected")
      // keep-first drop decision: the LATER arrival is the duplicate
      val dup = spark.table("stream_verified").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(4)).toMap
      assert(dup((1L, 3L)) == 3L, "dup_doc must be the later arrival")
    }
  }

  test("bucket cap closes the bucket: over-cap arrivals emit nothing, redelivery idempotent") {
    implicit val sc = spark.sqlContext
    TestSession.withConf(TestSession.RocksDb) {
      // cap=1: doc 1 fills the bucket; doc 2 (a perfect match on both
      // signature AND content) must emit NOTHING — an at-cap arrival is
      // neither stored nor compared (the batch annLsh membership-cap
      // semantics). Emitting without storing would also re-emit the same
      // pairs on every at-least-once redelivery, which the repeated
      // delivery of doc 2 below would expose.
      val sig = Seq(7L, 8L)
      val sh = Seq(1L, 2L, 3L)
      val mem = MemoryStream[(String, Long, Seq[Long], Seq[Long])]
      val q = graft.streaming.StreamingDedup.verifiedText(spark,
          mem.toDF().toDF("bucket_key", "doc", "sig", "shh"),
          maxPerBucket = 1, ttl = org.apache.spark.sql.streaming.TTLConfig.NONE,
          jaccardThreshold = 0.5)
        .toDF()
        .writeStream.outputMode("append").format("memory")
        .queryName("stream_capped").start()
      try {
        mem.addData(Seq(("0:b", 1L, sig, sh)))
        q.processAllAvailable()
        mem.addData(Seq(("0:b", 2L, sig, sh)))
        q.processAllAvailable()
        mem.addData(Seq(("0:b", 2L, sig, sh))) // redelivery of the over-cap doc
        q.processAllAvailable()
      } finally q.stop()
      assert(spark.table("stream_capped").count() == 0L,
        "a full bucket must admit and emit nothing")
    }
  }

  test("verified streaming embedding near-dup: exact cosine gates emission end-to-end") {
    implicit val sc = spark.sqlContext
    TestSession.withConf(TestSession.RocksDb) {
      val dims = 16
      val rnd = new scala.util.Random(7)
      val base = Array.fill(dims)(rnd.nextFloat() - 0.5f)
      val nearDup = base.map(x => x + 0.001f)
      val unrelated = Array.fill(dims)(rnd.nextFloat() - 0.5f)
      val mem = MemoryStream[(Long, Seq[Float])]
      val q = graft.streaming.StreamingDedup.embeddingNearDupVerified(spark,
          mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
          dims = dims, planes = 16, bands = 8, maxPerBucket = 8,
          cosineThreshold = 0.9)
        .toDF()
        .writeStream.outputMode("append").format("memory")
        .queryName("stream_emb_verified").start()
      try {
        mem.addData(Seq((1L, base.toSeq), (3L, unrelated.toSeq)))
        q.processAllAvailable()
        mem.addData(Seq((2L, nearDup.toSeq)))
        q.processAllAvailable()
      } finally q.stop()
      val rows = spark.table("stream_emb_verified").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
      assert(rows.contains((1L, 2L)), s"cross-batch embedding dup missed: $rows")
      // emitted sim is the EXACT cosine, not the plane-agreement estimate
      val expect = graft.streaming.StreamingDedup.cosineSeq(
        base.toSeq, nearDup.toSeq)
      assert(rows((1L, 2L)) == expect)
      assert(rows((1L, 2L)) >= 0.9)
      // any bucket the unrelated vector shares is verified away by cosine
      assert(!rows.keys.exists { case (a, b) => a == 3L || b == 3L },
        s"unrelated vector must not survive exact verification: $rows")
    }
  }

  test("transformWithState: typed ValueState running max on RocksDB provider") {
    implicit val sc = spark.sqlContext
    TestSession.withConf(TestSession.RocksDb) {
      val mem = MemoryStream[(String, Double)]
      val q = graft.streaming.StatefulOps.runningMax(spark, mem.toDS())
        .toDF("key", "running_max")
        .writeStream.outputMode("update").format("memory")
        .queryName("tws").start()
      try {
        mem.addData(Seq(("a", 1.0), ("a", 5.0), ("b", 2.0)))
        q.processAllAvailable()
        mem.addData(Seq(("a", 3.0), ("b", 7.0)))
        q.processAllAvailable()
      } finally q.stop()
      // latest update per key reflects state carried across micro-batches:
      // a's max stays 5.0 (3.0 doesn't raise it), b's rises to 7.0
      val rows = spark.table("tws").collect()
        .map(r => (r.getString(0), r.getDouble(1)))
      assert(rows.contains(("a", 5.0)) && rows.count(_ == ("a", 5.0)) == 2)
      assert(rows.contains(("b", 2.0)) && rows.contains(("b", 7.0)))
    }
  }

  test("transformWithState: streaming anomaly flags ≡ q67 batch, bit-for-bit") {
    implicit val sc = spark.sqlContext
    TestSession.withConf(TestSession.RocksDb) {
      // user 1: ten alternating 9/11 priors, then 1000 (flagged), then 10;
      // user 2: stays in warmup. In-order ingest split MID-HISTORY across
      // micro-batches — the flag decision in batch 2 depends on state
      // accumulated in batch 1.
      val alt = Seq.tabulate(10)(i => if (i % 2 == 0) 9.0 else 11.0)
      val rows = (alt ++ Seq(1000.0, 10.0)).zipWithIndex.map { case (v, i) =>
        (1L, 100L + i, new java.sql.Timestamp(10000L * (i + 1)), v) } ++
        Seq.tabulate(5)(i =>
          (2L, 200L + i, new java.sql.Timestamp(10000L * (i + 1)), 500.0))
      val mem = MemoryStream[(Long, Long, java.sql.Timestamp, Double)]
      val q = graft.streaming.StatefulOps.userAnomalies(spark,
          mem.toDS().toDF("user_id", "event_id", "ts", "value"))
        .writeStream.outputMode("append").format("memory")
        .queryName("anom").start()
      try {
        val (b1, b2) = rows.splitAt(6)
        mem.addData(b1); q.processAllAvailable()
        mem.addData(b2); q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("anom").collect().map(r =>
        (r.getAs[Long]("event_id"), r.getAs[Long]("n_prior"),
          r.getAs[Double]("mean_prior"), r.getAs[Double]("z"))).toSet
      // batch twin over the identical rows written as an events fixture
      val dir = java.nio.file.Files.createTempDirectory("graft-anom").toString
      rows.toDF("user_id", "event_id", "ts", "value")
        .select(col("event_id"), col("ts"), col("user_id"),
          lit("view").as("event_type"), col("value"), lit("{}").as("props"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
      val want = SparkEntry.queries("q67_user_anomaly")(spark, dir)
        .collect().map(r =>
          (r.getAs[Long]("event_id"), r.getAs[Long]("n_prior"),
            r.getAs[Double]("mean_prior"), r.getAs[Double]("z"))).toSet
      assert(want.nonEmpty && got == want,
        s"stream $got must equal batch $want EXACTLY (decimal-quantized state)")
    }
  }

  test("transformWithState: online attribution ≡ q80 batch under in-order ingest") {
    implicit val sc = spark.sqlContext
    TestSession.withConf(TestSession.RocksDb) {
      def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
      // user 1: click→purchase (attributed), then a view whose credit
      // EXPIRES (gap 3700 s > 3600); user 2: purchase with no prior
      // marketing (direct), then view→purchase. Split MID-STREAM so the
      // decisive click state crosses micro-batches.
      val rows = Seq(
        (1L, 100L, ts(100), "click", 10.0),
        (2L, 201L, ts(150), "purchase", 70.0),
        (1L, 101L, ts(200), "purchase", 50.0),
        (1L, 102L, ts(300), "view", 0.0),
        (2L, 202L, ts(350), "view", 0.0),
        (2L, 203L, ts(360), "purchase", 30.0),
        (1L, 103L, ts(4000), "purchase", 20.0))
      val mem = MemoryStream[(Long, Long, java.sql.Timestamp, String, Double)]
      val q = graft.streaming.StatefulOps.attributePurchases(spark,
          mem.toDS().toDF("user_id", "event_id", "ts", "event_type", "value"))
        .writeStream.outputMode("append").format("memory")
        .queryName("attr_q").start()
      try {
        val (b1, b2) = rows.splitAt(3)
        mem.addData(b1); q.processAllAvailable()
        mem.addData(b2); q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("attr_q").collect().map(r =>
        r.getAs[Long]("event_id") -> r.getAs[String]("attr")).toMap
      assert(got == Map(101L -> "click", 103L -> "direct",
        201L -> "direct", 203L -> "view"))
      // batch twin over the identical rows written as an events fixture:
      // aggregate counts/revenue must agree with the online credits
      val dir = java.nio.file.Files.createTempDirectory("graft-attr").toString
      rows.toDF("user_id", "event_id", "ts", "event_type", "value")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"), lit("{}").as("props"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
      val want = SparkEntry.queries("q80_attribution")(spark, dir)
        .collect().map(r => r.getAs[String]("attr") ->
          ((r.getAs[Long]("n_purchases"), r.getAs[Double]("revenue")))).toMap
      assert(want == Map("click" -> ((1L, 50.0)), "view" -> ((1L, 30.0)),
        "direct" -> ((2L, 90.0))))
    }
  }

  test("Trigger.AvailableNow processes the backlog then terminates on its own") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[String]
    val wire = Generator.toWire(Generator.batch(spark, 120)).as[String].collect()
    mem.addData(wire.toSeq)
    val q = Pipelines.riskPipelineDeterministic(mem.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("avail_now")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    // AvailableNow drains what exists and STOPS — the batch-shaped run of
    // a streaming pipeline (backfill / catch-up mode).
    assert(q.awaitTermination(60000L), "query did not self-terminate")
    assert(spark.table("avail_now").count() == 120L)
  }

  test("streaming parquet sink: checkpointed append, readable output") {
    implicit val sc = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft-psink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-pckpt").toString
    val mem = MemoryStream[String]
    val wire = Generator.toWire(Generator.batch(spark, 80)).as[String].collect()
    val q = Pipelines.riskPipelineDeterministic(mem.toDF())
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckpt).start()
    try {
      mem.addData(wire.toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val back = spark.read.parquet(out)
    assert(back.count() == 80L)
    assert(back.columns.toSet ==
      Set("transactionId", "amount", "risk_type", "line"))
  }

  test("warm-started streaming dedup: duplicate of an INDEXED doc caught in micro-batch 1") {
    implicit val sc = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-warmidx-")
      .resolve("idx").toString
    // historical corpus: docs 1 and 2 duplicate each other (their pair was
    // decided at batch time and must NOT re-emit), doc 3 distinct
    val dupText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val hist = Seq((1L, dupText), (2L, dupText),
      (3L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    graft.operators.DedupIndex.buildMinhashIndex(hist, "doc_id", "text", root)
    // the initial-state path allocates extra column families — RocksDB
    // provider required (same as every transformWithState operator here)
    TestSession.withConf(TestSession.RocksDb) {
      val mem = MemoryStream[(Long, String)]
      val q = graft.streaming.StreamingDedup.nearDupVerifiedWarm(spark,
          mem.toDF().toDF("doc_id", "text"), "doc_id", "text", root,
          jaccardThreshold = 0.5)
        .toDF()
        .writeStream.outputMode("append").format("memory")
        .queryName("stream_warm").start()
      try {
        // the VERY FIRST micro-batch: doc 100 duplicates indexed doc 1,
        // doc 101 is fresh content
        mem.addData(Seq((100L, dupText),
          (101L, "unrelated fresh words about stone bridges and winter rain")))
        q.processAllAvailable()
      } finally q.stop()
      val rows = spark.table("stream_warm").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3), r.getLong(4)))
      // caught against BOTH historical copies without re-shingling history,
      // with exact Jaccard 1.0 and the keep-first drop decision on the
      // NEW arrival
      assert(rows.exists(t => t == ((1L, 100L, 1.0, 100L))), s"${rows.toSeq}")
      assert(rows.exists(t => t == ((2L, 100L, 1.0, 100L))), s"${rows.toSeq}")
      // history-vs-history pairs are not re-emitted; fresh content matches
      // nothing
      assert(!rows.exists(t => t._1 == 1L && t._2 == 2L), s"${rows.toSeq}")
      assert(!rows.exists(t => t._1 == 101L || t._2 == 101L), s"${rows.toSeq}")
    }
  }
}

