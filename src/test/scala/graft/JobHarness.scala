package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{ForeachWriter, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, get_json_object}
import graft.sources.Sources.JdbcConfig
import graft.streaming.{Pipelines, RemittanceJob}

/** Runs [[RemittanceJob.start]] the way the specs need it: on two
  * MemoryStreams, checkpointed under a given directory, with an
  * ephemeral scrape port and a risk writer that keeps what it saw. */
object JobHarness {

  /** The deterministic risk columns, as `riskPipelineDeterministic`
    * selects them. */
  type RiskRow = (String, Double, String, String)

  /** Spark runs a deserialized copy of each writer, so the rows each
    * writer sees are kept here, under the writer's key. */
  private val seen = new ConcurrentHashMap[String, ConcurrentLinkedQueue[RiskRow]]()

  private def queue(key: String) =
    seen.computeIfAbsent(key, _ => new ConcurrentLinkedQueue[RiskRow]())

  /** Every risk row the writer under `key` processed, in arrival order. */
  def riskRows(key: String): Seq[RiskRow] = queue(key).asScala.toSeq

  final class RiskCollector(key: String) extends ForeachWriter[Row] {
    def open(partitionId: Long, epochId: Long): Boolean = true
    def process(r: Row): Unit = queue(key).add((r.getAs[String]("transactionId"),
      r.getAs[Double]("amount"), r.getAs[String]("risk_type"), r.getAs[String]("line")))
    def close(errorCause: Throwable): Unit = ()
  }

  /** Starts the job with checkpoints at `<ckpt>/risk` and `<ckpt>/metrics`
    * and its risk rows kept under `key`. */
  def start(ckpt: String, risk: MemoryStream[String],
            metrics: MemoryStream[String], jdbc: JdbcConfig,
            key: String): RemittanceJob.Running =
    TestSession.withConf("spark.sql.streaming.checkpointLocation" -> ckpt) {
      RemittanceJob.start(risk.toDF(), metrics.toDF(), jdbc,
        new RiskCollector(key), 0)
    }

  /** The stored (window_start, cnt, line) rows of `jdbc`'s table. */
  def stored(jdbc: JdbcConfig): Seq[(Long, Long, String)] = {
    val conn = java.sql.DriverManager.getConnection(jdbc.url, jdbc.user,
      jdbc.password)
    try {
      val rs = conn.createStatement().executeQuery(
        s"SELECT window_start, cnt, line FROM ${jdbc.table} ORDER BY window_start")
      val buf = scala.collection.mutable.Buffer.empty[(Long, Long, String)]
      while (rs.next()) buf += ((rs.getLong(1), rs.getLong(2), rs.getString(3)))
      buf.toSeq
    } finally conn.close()
  }

  /** Batch `metricsPipeline` over `wire` as (window_start, cnt, line),
    * restricted to the windows that a 0 s watermark at the latest event
    * time has closed: what the job's append-mode metrics query has stored
    * once it has drained `wire`. */
  def closedWindows(spark: SparkSession, wire: Seq[String]): Seq[(Long, Long, String)] = {
    import spark.implicits._
    val df = wire.toDF("value")
    val watermark = df.select(get_json_object(col("value"), "$.timestamp")
      .cast("long")).as[Long].collect().max
    Pipelines.metricsPipeline(df).filter(col("window_end") <= watermark)
      .select(col("window_start"), col("cnt"), col("line"))
      .as[(Long, Long, String)].collect().toSeq.sortBy(_._1)
  }
}
