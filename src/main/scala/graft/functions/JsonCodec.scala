package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Schemas

/** P1/P4 — JSON wire codec for the remittance stream.
  *
  * The reference parses each Kafka value with Jackson per event
  * (StreamJob.java:61,:101,:186-188) and re-serializes window metrics with
  * printf (StreamJob.java:150-169). Spark-native equivalents: `from_json`
  * (codegen'd, no per-row closure) and `format_string`/`to_json`.
  *
  * Corrupt records: the reference would crash the job on malformed JSON
  * (SURVEY.md §2.2 P1). We do better — `from_json` yields null structs,
  * which callers can count or route; `parseTransactions` keeps a
  * `_corrupt` flag column.
  */
object JsonCodec {

  /** Parse a DataFrame with a string `value` column (Kafka wire shape) into
    * typed transaction columns + `_corrupt` flag (PERMISSIVE mode maps
    * unparseable records to the corrupt-record column rather than a null
    * struct, so both are checked). */
  def parseTransactions(df: DataFrame, value: Column): DataFrame = {
    val schema = Schemas.transactionSchema
      .add("_corrupt_record", org.apache.spark.sql.types.StringType)
    df.withColumn("_parsed", from_json(value, schema,
        Map("columnNameOfCorruptRecord" -> "_corrupt_record")))
      .withColumn("_corrupt",
        col("_parsed").isNull || col("_parsed._corrupt_record").isNotNull)
      .select(Schemas.transactionSchema.fieldNames.toSeq
        .map(f => col(s"_parsed.$f")) :+ col("_corrupt"): _*)
  }

  /** P4 — the metrics JSON line's format, byte-identical to the
    * reference's printf (StreamJob.java:150-169: %d for longs/counts, %.2f
    * amounts, %.4f rate). Spark's `format_string` ([[metricJson]]) and
    * DuckDB's `printf` (the p4 oracle) both read it. */
  val MetricJsonFormat: String =
    "{\"windowStart\": %d, \"windowEnd\": %d, \"count\": %d, " +
      "\"successCount\": %d, \"failureCount\": %d, \"avgAmount\": %.2f, " +
      "\"avgExchangeRate\": %.4f, \"minAmount\": %.2f, \"maxAmount\": %.2f}"

  /** P4 — the metrics JSON line ([[MetricJsonFormat]]). */
  def metricJson(windowStart: Column, windowEnd: Column, cnt: Column,
                 successCnt: Column, failureCnt: Column, avgAmount: Column,
                 avgRate: Column, minAmount: Column, maxAmount: Column): Column =
    format_string(MetricJsonFormat, windowStart, windowEnd, cnt, successCnt,
      failureCnt, avgAmount, avgRate, minAmount, maxAmount)
}
