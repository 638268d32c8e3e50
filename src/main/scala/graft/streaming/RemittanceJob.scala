package graft.streaming

import org.apache.spark.sql.{DataFrame, ForeachWriter, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.core.Sessions
import graft.sources.Sources
import graft.sources.Sources.JdbcConfig

/** The reference job (StreamJob.java:29-221) assembled once: the risk
  * branch into a ForeachWriter, the 10 s metrics branch into JDBC, and one
  * [[MetricsReporter]] over both, scraped at `GET /metrics`. Specs run
  * [[start]] on MemoryStreams and Derby; [[main]] deploys it on Kafka.
  *
  * Each branch reads its own wire frame, as the reference's two consumers
  * do: one MemoryStream cannot serve two queries, since a commit trims
  * it. Both queries run on [[Sources.DefaultTrigger]] and checkpoint at
  * `<spark.sql.streaming.checkpointLocation>/{risk,metrics}`.
  */
object RemittanceJob {

  /** The started job; [[stop]] stops both queries and the endpoint and
    * removes the reporter. */
  final class Running private[RemittanceJob] (val risk: StreamingQuery,
      val metrics: StreamingQuery, val reporter: MetricsReporter,
      endpoint: PrometheusEndpoint) {
    val port: Int = endpoint.boundPort

    def stop(): Unit =
      try { risk.stop(); metrics.stop() }
      finally {
        endpoint.stop()
        risk.sparkSession.streams.removeListener(reporter)
      }
  }

  /** The metrics query runs in append mode: a window is upserted once,
    * when the watermark passes it. Port 0 binds a free one. */
  def start(riskWire: DataFrame, metricsWire: DataFrame, jdbc: JdbcConfig,
            riskOut: ForeachWriter[Row], port: Int): Running = {
    val reporter = new MetricsReporter
    riskWire.sparkSession.streams.addListener(reporter)
    val endpoint = new PrometheusEndpoint(reporter, port)
    endpoint.start()
    val risk = Pipelines.riskPipeline(riskWire).writeStream.queryName("risk")
      .trigger(Sources.DefaultTrigger).foreach(riskOut).start()
    val metrics = Pipelines.metricsPipeline(metricsWire).writeStream
      .queryName("metrics").trigger(Sources.DefaultTrigger).outputMode("append")
      .foreachBatch((batch: DataFrame, _: Long) => Sources.upsertBatch(batch, jdbc))
      .start()
    new Running(risk, metrics, reporter, endpoint)
  }

  /** Two readers of the reference's broker (StreamJob.java:36-46), each
    * risk line printed (its `print()`), the scrape on its jobmanager
    * reporter port (prometheus.yaml:2-11). Master and checkpoint location
    * come from spark-submit. */
  def main(args: Array[String]): Unit = {
    val (k, v) = Sessions.CheckpointManagerConf
    val spark = SparkSession.builder().appName("remittance-job").config(k, v)
      .getOrCreate()
    def wire = Sources.kafkaStream(spark, "kafka:9093")
    start(wire, wire, JdbcConfig.fromEnv(), new LinePrinter, 9251)
    spark.streams.awaitAnyTermination()
  }

  private class LinePrinter extends ForeachWriter[Row] {
    def open(partitionId: Long, epochId: Long): Boolean = true
    def process(row: Row): Unit = println(row.getAs[String]("line"))
    def close(errorCause: Throwable): Unit = ()
  }
}
