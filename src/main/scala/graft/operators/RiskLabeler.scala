package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** P2/P3 — stateless per-event risk labeling + latency stamping + printf
  * formatting (StreamJob.java:67-89).
  *
  * Reference semantics: riskType = amount > threshold ? "RISK" : "SAFE";
  * processingTime = wall-clock millis; latency = processingTime - event ts.
  *
  * Unlike the reference (which leaves transactionId/amount unset in the
  * output POJO — RiskLabel.java quirk, SURVEY.md §1.2) we carry the full
  * input row. Wall-clock columns are nondeterministic by nature and are
  * excluded from oracle hash-matching (structural tests assert latency ≥ 0).
  */
object RiskLabeler {

  /** The reference job's risk threshold, hard-coded at StreamJob.java:76.
    * The live generator's amounts ∈ [0,1) make every event SAFE under it;
    * the batch keys p2/p3 label the `events` fixture at their own 100. */
  val Threshold = 1000.0

  /** P3 — the console line's format (StreamJob.java:82-89). Spark's
    * `format_string` ([[formatted]]) and DuckDB's `printf` (the p3 oracle)
    * both read it. */
  val LineFormat = "TxId=%s, Amount=%.2f, Risk=%s"

  /** Deterministic part: the label. */
  def label(df: DataFrame, amount: Column, threshold: Double = Threshold): DataFrame =
    df.withColumn("risk_type",
      when(amount > threshold, "RISK").otherwise("SAFE"))

  /** The DuckDB-oracle SQL twin of [[label]]'s rule. */
  def labelSql(amountCol: String, threshold: Double): String =
    s"CASE WHEN $amountCol > $threshold THEN 'RISK' ELSE 'SAFE' END"

  /** Wall-clock millis read per row, as StreamJob.java's per-event
    * `System.currentTimeMillis()`. Not `current_timestamp()`: Spark folds
    * that into a per-query literal that is inlined into generated code, so
    * every micro-batch and every batch job would compile new classes. */
  private val wallClockMs =
    udf(() => System.currentTimeMillis()).asNondeterministic()

  /** Full reference-parity enrichment incl. wall-clock latency stamping.
    * One stamp per row feeds both columns, so
    * `latency == processing_time - eventTimeMillis` on every row (a
    * nondeterministic column is never inlined twice by the optimizer). */
  def labelWithLatency(df: DataFrame, amount: Column,
                       eventTimeMillis: Column): DataFrame =
    label(df, amount)
      .withColumn("processing_time", wallClockMs())
      .withColumn("latency",
        (col("processing_time") - eventTimeMillis).cast("string"))
      .withColumn("processing_time", col("processing_time").cast("string"))

  /** P3 — the console line ([[LineFormat]]). */
  def formatted(df: DataFrame, txId: Column, amount: Column): DataFrame =
    df.withColumn("line", format_string(LineFormat, txId, amount, col("risk_type")))
}
