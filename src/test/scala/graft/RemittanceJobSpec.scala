package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import graft.sources.Sources
import graft.streaming.{Generator, Pipelines}

/** The assembled job end to end: two MemoryStreams → [[graft.streaming.RemittanceJob]]
  * → embedded Derby, a collecting risk writer and a live Prometheus
  * scrape; then the Watermarks paper's late-event rule (VLDB'21) through
  * the same assembly. */
class RemittanceJobSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private def cfgFor(table: String) = Sources.JdbcConfig(
    url = "jdbc:derby:memory:graftJob;create=true",
    user = "app", password = "app", table = table)

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def scrape(port: Int): String = {
    val conn = new java.net.URL(s"http://127.0.0.1:$port/metrics")
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    try scala.io.Source.fromInputStream(conn.getInputStream, "UTF-8").mkString
    finally conn.disconnect()
  }

  test("start: two MemoryStreams → Derby, a ForeachWriter and a live scrape;" +
      " stop() ends both queries, the endpoint and the listener") {
    implicit val sc = spark.sqlContext
    val cfg = cfgFor("j_e2e")
    val wire = Generator.toWire(Generator.batch(spark, 120)).as[String]
      .collect().toSeq
    val (rMem, mMem) = (MemoryStream[String], MemoryStream[String])
    val job = JobHarness.start(tempDir("graft-job-e2e"), rMem, mMem, cfg, "e2e")
    try {
      rMem.addData(wire)
      mMem.addData(wire)
      job.risk.processAllAvailable()
      job.metrics.processAllAvailable()

      assert(JobHarness.stored(cfg) == JobHarness.closedWindows(spark, wire))
      val risk = Pipelines.riskPipelineDeterministic(wire.toDF("value"))
        .as[JobHarness.RiskRow].collect().toSeq
      assert(risk.nonEmpty && JobHarness.riskRows("e2e").sortBy(_._1) == risk.sortBy(_._1))

      eventually(timeout(30.seconds)) {
        val lines = scrape(job.port).split("\n")
        job.reporter.series.foreach(s => assert(
          lines.exists(_.startsWith(s"graft_${s.id} ")), s"missing ${s.id}"))
      }
    } finally job.stop()

    assert(!job.risk.isActive && !job.metrics.isActive)
    intercept[java.net.ConnectException](new java.net.Socket("127.0.0.1", job.port))
    assert(!spark.streams.listListeners().contains(job.reporter))
  }

  test("a late event behind the metrics watermark is dropped: no Derby row," +
      " counted by the scrape's graft_dropped_late_rows") {
    implicit val sc = spark.sqlContext
    val cfg = cfgFor("j_late")
    val onTime = Generator.toWire(Generator.batch(spark, 40)).as[String]
      .collect().toSeq
    // 6 s before the first on-time event: a window that holds no on-time
    // event, behind the watermark once the on-time batch has run
    val late = Generator.toWire(Generator.batch(spark, 1,
      baseTsMillis = 1700000000000L - 6000L)).as[String].collect().toSeq
    val (rMem, mMem) = (MemoryStream[String], MemoryStream[String])
    val job = JobHarness.start(tempDir("graft-job-late"), rMem, mMem, cfg, "late")
    try {
      mMem.addData(onTime)
      job.metrics.processAllAvailable()
      val before = JobHarness.stored(cfg)
      assert(before.nonEmpty && before == JobHarness.closedWindows(spark, onTime))
      mMem.addData(late)
      job.metrics.processAllAvailable()
      assert(job.metrics.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum == 1)
      assert(JobHarness.stored(cfg) == before)
      eventually(timeout(30.seconds)) {
        assert(scrape(job.port).split("\n").contains("graft_dropped_late_rows 1"))
      }
    } finally job.stop()
  }
}
