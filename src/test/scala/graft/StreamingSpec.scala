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
        "cpu_load" -> "gauge",
        "dropped_late_rows" -> "counter").foreach { case (id, kind) =>
        assert(body.contains(s"# TYPE graft_$id $kind"), s"missing $id")
        assert(lines.exists(_.startsWith(s"graft_$id ")), s"missing $id value")
      }
      // the load average is the host's, not this process's
      assert(lines.exists(l => l.startsWith("# HELP graft_cpu_load ") &&
        l.contains("Host-wide")), "cpu_load help must say host-wide")
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
      val src = spark.readStream.schema(spark.read.parquet(dir).schema)
        .parquet(dir)
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
}

