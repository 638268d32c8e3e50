package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.ExactNum._
import graft.functions.JsonCodec
import graft.operators.{RiskLabeler, WindowMetrics}

/** Reference-parity queries: the operator surface of the Flink job
  * (SURVEY.md §2), exercised in batch over the `events` fixture (the
  * remittance-stream stand-in: `ts` = event time, `event_type = 'error'` =
  * the exchangeRate==0 poison population, `value` = amount, `props.k` =
  * the secondary averaged measure). The same column expressions run
  * unchanged under Structured Streaming (graft.streaming.Pipelines) — that
  * equivalence is covered by StreamingSpec.
  */
object ReferenceQueries extends QueryPack {

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")

  private val okPred = "event_type <> 'error'"
  private val kDouble = "CAST(json_extract_string(props, '$.k') AS DOUBLE)"

  /** The p2/p3 threshold: the reference's 1000 scaled to the fixture's
    * `value` range, so both labels occur. */
  private val RiskThreshold = 100.0

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // W1/W2: 10 s tumbling all-window metrics (StreamJob.java:108-173)
    "w2_metrics_10s" -> ((s, dir) => {
      import s.implicits._
      WindowMetrics.tumbling(events(s, dir), $"ts",
        $"event_type" =!= "error", $"value",
        get_json_object($"props", "$.k").cast("double"), "10 seconds")
    }),
    // the 100 TB-scale generalization: keyed tumbling window (SURVEY §7 ph4)
    "w2_metrics_keyed_1h" -> ((s, dir) => {
      import s.implicits._
      WindowMetrics.tumbling(events(s, dir), $"ts",
        $"event_type" =!= "error", $"value",
        get_json_object($"props", "$.k").cast("double"), "1 hour",
        Seq($"event_type"))
    }),
    // P1: JSON field extraction (StreamJob.java:61,:101 Jackson parse);
    // spread: per-row JSON parse on a single-task scan (Tables.spread).
    "p1_json_parse" -> ((s, dir) => {
      import s.implicits._
      Tables.spread(events(s, dir)).select(
        $"event_id",
        get_json_object($"props", "$.k").as("k_str"),
        get_json_object($"props", "$.k").cast("long").as("k_num"))
    }),
    // P2: risk labeling (StreamJob.java:67-78)
    "p2_risk_label" -> ((s, dir) => {
      import s.implicits._
      RiskLabeler.label(events(s, dir), $"value", RiskThreshold)
        .select($"event_id", $"user_id", $"value", $"risk_type")
    }),
    // P3: printf console line (StreamJob.java:82-89)
    "p3_risk_format" -> ((s, dir) => {
      import s.implicits._
      RiskLabeler.formatted(
        RiskLabeler.label(events(s, dir), $"value", RiskThreshold),
        $"event_id", $"value")
        .select($"event_id", $"line")
    }),
    // P4: metric JSON serialization (StreamJob.java:150-169)
    "p4_metric_json" -> ((s, dir) => {
      import s.implicits._
      // spread: per-row JSON extraction is the CPU here, and the fixture
      // scans as one task (single row group) — see Tables.spread.
      val m = WindowMetrics.tumbling(Tables.spread(events(s, dir)), $"ts",
        $"event_type" =!= "error", $"value",
        get_json_object($"props", "$.k").cast("double"), "10 seconds")
      // +1e-9 on the averaged values: Java's %.2f rounds the double's
      // shortest decimal representation (8.305 -> 8.31) while C-family
      // printf rounds the exact binary value (8.3049999... -> 8.30); the
      // epsilon pushes exact 2dp/4dp ties decisively above the boundary in
      // BOTH engines and cannot move any non-tie (those sit >= 5e-5 away).
      m.select($"window_start", JsonCodec.metricJson(
        $"window_start", $"window_end", $"cnt", $"success_cnt",
        $"failure_cnt", $"avg_amount" + 1e-9, $"avg_rate" + 1e-9,
        $"min_amount", $"max_amount").as("line"))
    }),
    // S3: the synthetic generator, made deterministic via an LCG so batch
    // results are oracle-able (RemittanceGenerator.java:31-63; rand() and
    // uuid() are nondeterministic, so we derive every field from a
    // minstd LCG over the row index — same arithmetic in any engine).
    "s3_generator" -> ((s, dir) => {
      import s.implicits._
      graft.streaming.Generator.batch(s, 5000).select(
        $"transactionId".as("transaction_id"),
        $"senderId".as("sender_id"),
        $"receiverId".as("receiver_id"),
        $"amount", $"currency",
        $"exchangeRate".as("exchange_rate"),
        $"timestamp".as("ts_ms"))
    }),
    // T1-generalization: sliding window (1 h / 30 min) — the reference has
    // only tumbling; sliding is the SURVEY §7 phase-2 extension.
    "t1_sliding_1h_30m" -> ((s, dir) => {
      import s.implicits._
      events(s, dir)
        .groupBy(window($"ts", "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("cnt"), sumExact($"value").as("sum_value"))
        .withColumn("window_start", unix_millis(col("window.start")))
        .withColumn("window_end", unix_millis(col("window.end")))
        .drop("window")
    }),
    // Session windows per key (SURVEY §7 phase-2 extension; Spark
    // session_window, gap 30 min).
    "t2_session_30m" -> ((s, dir) => {
      import s.implicits._
      events(s, dir)
        .groupBy(session_window($"ts", "30 minutes"), $"user_id")
        .agg(count(lit(1)).as("cnt"), sumExact($"value").as("sum_value"))
        .withColumn("session_start", unix_micros(col("session_window.start")))
        .withColumn("session_end", unix_micros(col("session_window.end")))
        .drop("session_window")
    }))

  def oracles: Map[String, String] = Map(
    "w2_metrics_10s" -> WindowMetrics.tumblingSql(
      "events", "ts", okPred, "value", kDouble, 10000L),
    "w2_metrics_keyed_1h" -> WindowMetrics.tumblingSql(
      "events", "ts", okPred, "value", kDouble, 3600000L, Seq("event_type")),
    "p1_json_parse" ->
      """SELECT event_id, json_extract_string(props, '$.k') AS k_str,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num
        |FROM events""".stripMargin,
    "p2_risk_label" ->
      s"""SELECT event_id, user_id, value,
         |  ${RiskLabeler.labelSql("value", RiskThreshold)} AS risk_type
         |FROM events""".stripMargin,
    "p3_risk_format" ->
      s"""SELECT event_id, printf('${RiskLabeler.LineFormat}',
         |  CAST(event_id AS VARCHAR), value,
         |  ${RiskLabeler.labelSql("value", RiskThreshold)}) AS line
         |FROM events""".stripMargin,
    "p4_metric_json" -> {
      val inner = WindowMetrics.tumblingSql(
        "events", "ts", okPred, "value", kDouble, 10000L)
      s"""SELECT window_start, printf('${JsonCodec.MetricJsonFormat}',
         |  window_start, window_end, cnt, success_cnt, failure_cnt,
         |  avg_amount + 1e-9, avg_rate + 1e-9, min_amount, max_amount) AS line
         |FROM ($inner) m""".stripMargin
    },
    "s3_generator" ->
      """WITH g AS (
        |  SELECT i, (i * 48271 + 11) % 2147483647 AS x1 FROM range(0, 5000) t(i)
        |), g2 AS (
        |  SELECT i, x1, (x1 * 48271 + 11) % 2147483647 AS x2 FROM g
        |), g3 AS (
        |  SELECT i, x1, x2, (x2 * 48271 + 11) % 2147483647 AS x3 FROM g2
        |), g4 AS (
        |  SELECT i, x1, x2, x3, (x3 * 48271 + 11) % 2147483647 AS x4 FROM g3
        |)
        |SELECT md5(CAST(i AS VARCHAR)) AS transaction_id,
        |  'SENDER-' || CAST(x4 % 100000 AS VARCHAR) AS sender_id,
        |  'RECEIVER-' || CAST((x4 // 7) % 100000 AS VARCHAR) AS receiver_id,
        |  CAST(x2 AS DOUBLE) / 2147483647.0 AS amount,
        |  (['USD','NPR','INR','CNY','AUD','EUR'])[CAST(x3 % 6 AS INT) + 1] AS currency,
        |  CAST(CASE (['USD','NPR','INR','CNY','AUD','EUR'])[CAST(x3 % 6 AS INT) + 1]
        |    WHEN 'USD' THEN 1.0 WHEN 'NPR' THEN 133.5 WHEN 'INR' THEN 133.0
        |    WHEN 'CNY' THEN 0.0 WHEN 'AUD' THEN 1.54 WHEN 'EUR' THEN 0.92
        |  END AS DOUBLE) AS exchange_rate,
        |  1700000000000 + i * 2000 AS ts_ms
        |FROM g4""".stripMargin,
    "t1_sliding_1h_30m" ->
      s"""SELECT
         |  (epoch_ms(ts) // 1800000) * 1800000 - k.k * 1800000 AS window_start,
         |  (epoch_ms(ts) // 1800000) * 1800000 - k.k * 1800000 + 3600000 AS window_end,
         |  count(*) AS cnt, ${sumExactSql("value")} AS sum_value
         |FROM events CROSS JOIN (VALUES (0), (1)) k(k)
         |GROUP BY 1, 2""".stripMargin,
    "t2_session_30m" ->
      s"""WITH s AS (
         |  SELECT user_id, ts, value,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
         |         THEN 1 ELSE 0 END AS new_s
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
         |), g AS (
         |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
         |    ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM s
         |)
         |SELECT user_id, count(*) AS cnt, ${sumExactSql("value")} AS sum_value,
         |  min(epoch_us(ts)) AS session_start,
         |  max(epoch_us(ts)) + 1800000000 AS session_end
         |FROM g GROUP BY user_id, sid""".stripMargin)
}
