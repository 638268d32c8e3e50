package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, Trigger}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Sessions
import graft.sources.Sources
import graft.streaming.{Generator, Pipelines}

/** Restart from a checkpoint into the JDBC sink: the metrics pipeline is
  * stopped (or fails) mid-stream, restarts from the SAME checkpoint, and
  * the stored windows still equal batch `metricsPipeline` over all the
  * input — no loss, no duplicates. Plus the overwrite guarantee of the
  * checkpoint file manager graft sessions use ([[Sessions.CheckpointManagerConf]]).
  */
class CheckpointRestartSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private def cfgFor(table: String) = Sources.JdbcConfig(
    url = "jdbc:derby:memory:graftRestart;create=true",
    user = "app", password = "app", table = table)

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def stored(table: String): Seq[(Long, Long, String)] = {
    val cfg = cfgFor(table)
    val conn = java.sql.DriverManager.getConnection(
      cfg.url, cfg.user, cfg.password)
    try {
      val rs = conn.createStatement().executeQuery(
        s"SELECT window_start, cnt, line FROM $table ORDER BY window_start")
      val buf = scala.collection.mutable.Buffer.empty[(Long, Long, String)]
      while (rs.next()) buf += ((rs.getLong(1), rs.getLong(2), rs.getString(3)))
      buf.toSeq
    } finally conn.close()
  }

  // 300 events 2 s apart: 60 ten-second windows, fed as 7 micro-batches of
  // up to 47 events (not a multiple of the 5 events per window), so windows
  // straddle batches and are emitted again
  private lazy val chunks: Seq[Seq[String]] =
    Generator.toWire(Generator.batch(spark, 300)).as[String].collect()
      .toSeq.grouped(47).toSeq

  private lazy val expected: Seq[(Long, Long, String)] =
    Pipelines.metricsPipeline(chunks.flatten.toDF("value"))
      .select($"window_start", $"cnt", $"line")
      .as[(Long, Long, String)].collect().toSeq.sortBy(_._1)

  private def metrics(mem: MemoryStream[String]): DataFrame =
    Pipelines.metricsPipeline(mem.toDF()).select($"window_start", $"cnt", $"line")

  private val fast = Trigger.ProcessingTime("100 milliseconds")

  /** Add each chunk and wait for it; returns how many were added before
    * the query stopped or failed. */
  private def feed(q: StreamingQuery, mem: MemoryStream[String],
                   cs: Seq[Seq[String]]): Int = {
    var added = 0
    try cs.foreach { c => mem.addData(c); added += 1; q.processAllAvailable() }
    catch { case _: StreamingQueryException => () }
    added
  }

  test("jdbcSink: stop after k triggers, restart from the same checkpoint," +
      " stored windows ≡ batch metricsPipeline") {
    implicit val sc = spark.sqlContext
    val t = "r_stop"
    val ckpt = tempDir("graft-restart-stop")
    val mem = MemoryStream[String]
    val k = 3
    def start(): StreamingQuery =
      Sources.jdbcSink(metrics(mem), cfgFor(t), ckpt, trigger = fast)
        .outputMode("update").queryName("restart_stop").start()

    val q1 = start()
    try assert(feed(q1, mem, chunks.take(k)) == k) finally q1.stop()
    assert(q1.exception.isEmpty)
    val mid = stored(t)
    assert(mid.nonEmpty && mid.size < expected.size)

    val q2 = start()
    try assert(feed(q2, mem, chunks.drop(k)) == chunks.size - k) finally q2.stop()
    assert(q2.exception.isEmpty)
    // the restart resumed at the checkpoint: it read only the new chunks
    assert(q2.recentProgress.map(_.batchId).min > 0)
    assert(q2.recentProgress.map(_.numInputRows).sum == chunks.drop(k).flatten.size)
    val out = stored(t)
    assert(out.map(_._1).distinct.size == out.size)
    assert(out == expected)
  }

  test("jdbcSink: a failure after the upsert and before the commit log" +
      " replays the batch on restart, stored windows ≡ batch metricsPipeline") {
    implicit val sc = spark.sqlContext
    val t = "r_fail"
    val cfg = cfgFor(t)
    val ckpt = tempDir("graft-restart-fail")
    val mem = MemoryStream[String]
    val k = 2L
    val fault = new AtomicBoolean(false)
    val calls = scala.collection.mutable.Buffer.empty[(Long, Long)]
    def start(): StreamingQuery = metrics(mem).writeStream
      .option("checkpointLocation", ckpt).trigger(fast).outputMode("update")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // persisted so the row count below does not run the stateful plan again
        val b = batch.persist()
        try {
          Sources.upsertBatch(b, cfg)
          val n = b.count()
          calls.synchronized(calls += ((id, n)))
          // fail once, on the first batch from k on that wrote rows
          if (id >= k && n > 0 && fault.compareAndSet(false, true))
            throw new IllegalStateException(s"injected failure after batch $id")
        } finally b.unpersist()
      }
      .queryName("restart_fail").start()

    val q1 = start()
    val added = try feed(q1, mem, chunks) finally q1.stop()
    assert(fault.get && q1.exception.isDefined)
    val q2 = start()
    try {
      feed(q2, mem, chunks.drop(added))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(q2.exception.isEmpty)

    // the failed batch ran twice, with the same rows
    val seen = calls.synchronized(calls.toList)
    val failedId = seen.find { case (id, n) => id >= k && n > 0 }.get._1
    val runs = seen.filter(_._1 == failedId)
    assert(runs.size == 2 && runs.map(_._2).distinct.size == 1)
    val out = stored(t)
    assert(out.map(_._1).distinct.size == out.size)
    assert(out == expected)
  }

  test("graft sessions use the FileSystem checkpoint manager; a no-overwrite" +
      " create over an existing file fails and keeps the original bytes") {
    val (key, cls) = Sessions.CheckpointManagerConf
    assert(spark.conf.get(key) == cls)
    val dir = new Path(tempDir("graft-ckpt-fm"))
    val fm = CheckpointFileManager.create(dir, spark.sessionState.newHadoopConf())
    assert(fm.isInstanceOf[FileSystemBasedCheckpointFileManager])

    val f = new Path(dir, "0")
    val first = fm.createAtomic(f, overwriteIfPossible = false)
    first.write("original".getBytes(UTF_8))
    first.close()
    val second = fm.createAtomic(f, overwriteIfPossible = false)
    second.write("replaced".getBytes(UTF_8))
    intercept[FileAlreadyExistsException](second.close())

    val in = fm.open(f)
    val bytes = try in.readAllBytes() finally in.close()
    assert(new String(bytes, UTF_8) == "original")
  }
}
