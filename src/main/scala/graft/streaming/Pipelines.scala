package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.JsonCodec
import graft.operators.{RiskLabeler, WindowMetrics}

/** The reference's two dataflow pipelines (StreamJob.java:29-221),
  * re-expressed as source-agnostic `DataFrame => DataFrame` combinators —
  * the same column expressions run in batch (fixture parquet) and under
  * Structured Streaming (Kafka or MemoryStream, wired by [[RemittanceJob]]).
  * That single definition executing in both modes is the core Spark-native
  * design win (SURVEY.md §7 phase 0.4).
  *
  * Input contract: a DataFrame with a string `value` column holding the
  * JSON wire shape (Kafka value).
  */
object Pipelines {

  /** Event-time column derived from the epoch-millis `timestamp` field. */
  val eventTime: Column = timestamp_millis(col("timestamp"))

  /** The wire parse all three reference pipelines start from: the JSON
    * `value` column → transaction columns, corrupt rows dropped. */
  private def parseWire(raw: DataFrame): DataFrame =
    JsonCodec.parseTransactions(raw, col("value")).filter(!col("_corrupt"))

  /** The metrics branch's watermark delay: the reference's
    * `forMonotonousTimestamps()` (StreamJob.java:102-105), whose watermark
    * is the largest event time seen — allowed lateness 0 (SURVEY.md §2.4
    * T2). */
  private val MetricsWatermark = "0 seconds"

  /** The metrics branch's tumbling window:
    * `TumblingEventTimeWindows.of(Time.seconds(10))` (StreamJob.java:108-109). */
  private val MetricsWindow = "10 seconds"

  /** Pipeline B ("Metrics", StreamJob.java:94-218): parse →
    * [[MetricsWatermark]] → [[MetricsWindow]] tumbling window → conditional
    * aggregate → metric JSON line. */
  def metricsPipeline(raw: DataFrame): DataFrame = {
    val parsed = parseWire(raw)
      .withColumn("event_time", eventTime)
      .withWatermark("event_time", MetricsWatermark)
    val m = WindowMetrics.tumbling(parsed, col("event_time"),
      col("exchangeRate") =!= 0.0, col("amount"), col("exchangeRate"),
      MetricsWindow)
    m.withColumn("line", JsonCodec.metricJson(
      col("window_start"), col("window_end"), col("cnt"),
      col("success_cnt"), col("failure_cnt"), col("avg_amount"),
      col("avg_rate"), col("min_amount"), col("max_amount")))
  }

  /** Pipeline A ("Risk", StreamJob.java:55-90): parse → label at
    * [[RiskLabeler.Threshold]] → latency stamp → printf line. Stateless,
    * and it sets no watermark: the reference assigns one on this branch
    * too (T1), but nothing here reads it — no window, no state, no join. */
  def riskPipeline(raw: DataFrame): DataFrame = {
    val parsed = parseWire(raw)
    val labeled = RiskLabeler.labelWithLatency(
      parsed, col("amount"), col("timestamp"))
    RiskLabeler.formatted(labeled, col("transactionId"), col("amount"))
  }

  /** Deterministic part of pipeline A (no wall-clock columns) — used by the
    * streaming-equals-batch equivalence tests. */
  def riskPipelineDeterministic(raw: DataFrame): DataFrame = {
    val parsed = parseWire(raw)
    RiskLabeler.formatted(
      RiskLabeler.label(parsed, col("amount")),
      col("transactionId"), col("amount"))
      .select(col("transactionId"), col("amount"), col("risk_type"), col("line"))
  }
}
