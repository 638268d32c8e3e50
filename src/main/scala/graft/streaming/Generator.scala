package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Schemas

/** S3 — the synthetic remittance generator (RemittanceGenerator.java:31-63)
  * as a Spark source: a deterministic seeded batch variant (LCG over the
  * row index — oracle-able, see ReferenceQueries."s3_generator") and a
  * streaming variant over the rate source (`rowsPerSecond`).
  *
  * The FX table carries the reference's deliberate CNY→0.0 poison
  * (RemittanceGenerator.java:65-74) that feeds the failure-count path.
  */
object Generator {

  private val a = 48271L
  private val m = 2147483647L

  /** Columns derived deterministically from a long `i` column. x1 is the
    * raw seed state (poorly mixed for small i — `i*a` only wraps the
    * modulus beyond i≈44k), so user-visible fields use the later states. */
  private def derive(df: DataFrame): DataFrame =
    df.withColumn("x1", (col("i") * a + 11L) % m)
      .withColumn("x2", (col("x1") * a + 11L) % m)
      .withColumn("x3", (col("x2") * a + 11L) % m)
      .withColumn("x4", (col("x3") * a + 11L) % m)
      .withColumn("transactionId", md5(col("i").cast("string")))
      .withColumn("senderId",
        concat(lit("SENDER-"), (col("x4") % 100000L).cast("string")))
      .withColumn("receiverId",
        concat(lit("RECEIVER-"), (expr("x4 div 7") % 100000L).cast("string")))
      .withColumn("amount", col("x2").cast("double") / m.toDouble)
      .withColumn("currency", element_at(
        array(Schemas.currencies.map(lit): _*),
        (col("x3") % 6L + 1L).cast("int")))
      .withColumn("exchangeRate",
        Schemas.fxRates.foldLeft(lit(null).cast("double")) {
          case (acc, (cur, rate)) =>
            when(col("currency") === cur, lit(rate)).otherwise(acc)
        })

  /** The wire fields, in wire order (Schemas.transactionSchema). */
  private val wireCols = Schemas.transactionSchema.fieldNames.toSeq.map(col)

  /** The producer's send period, `@Scheduled(fixedRate = 2000)`
    * (RemittanceGenerator.java:31). */
  private val IntervalMs = 2000L

  /** Deterministic batch generator: `n` transactions, 1 per
    * [[IntervalMs]] starting at `baseTsMillis`. */
  def batch(spark: SparkSession, n: Long,
            baseTsMillis: Long = 1700000000000L): DataFrame =
    derive(spark.range(0, n).toDF("i"))
      .withColumn("timestamp", lit(baseTsMillis) + col("i") * IntervalMs)
      .select(wireCols: _*)

  /** Streaming generator over the rate source; same derivation, event time
    * = source timestamp: the broker-free live form of the reference
    * producer. No job starts it; StreamingSpec pins it against [[batch]]. */
  def stream(spark: SparkSession, rowsPerSecond: Int): DataFrame =
    derive(spark.readStream.format("rate")
        .option("rowsPerSecond", rowsPerSecond).load()
        .withColumnRenamed("value", "i"))
      .withColumn("timestamp", unix_millis(col("timestamp")))
      .select(wireCols: _*)

  /** The JSON wire form (K3 producer side, RemittanceGenerator.java:43-58):
    * one string `value` column, shaped like the Kafka payload. */
  def toWire(df: DataFrame): DataFrame =
    df.select(to_json(struct(wireCols: _*)).as("value"))
}
