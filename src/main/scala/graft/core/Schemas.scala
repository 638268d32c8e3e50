package graft.core

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.types._

/** The input record of the reference engine, re-expressed as a Spark case
  * class and its wire schema.
  *
  * Source of truth (reference, read-only):
  *   flink-app/src/main/java/com/swift/flink_app/dto/RemittanceTransaction.java:10-18
  */
object Schemas {

  /** Input event. `timestamp` is event time in epoch millis (assigned by the
    * producer, RemittanceGenerator.java:41). */
  case class RemittanceTransaction(
      transactionId: String,
      senderId: String,
      receiverId: String,
      amount: Double,
      currency: String,
      exchangeRate: Double,
      timestamp: Long)

  /** Wire schema of the Kafka JSON payload (RemittanceGenerator.java:43-58):
    * [[RemittanceTransaction]]'s fields, every one nullable — a JSON
    * payload may omit any field, and `from_json` then yields null. */
  val transactionSchema: StructType = StructType(
    Encoders.product[RemittanceTransaction].schema.map(_.copy(nullable = true)))

  /** The fixed FX table of the generator (RemittanceGenerator.java:65-74).
    * CNY -> 0.0 is the deliberate poison value: rows with exchangeRate == 0
    * are the "failure" population counted by the window aggregate. */
  val fxRates: Seq[(String, Double)] = Seq(
    "USD" -> 1.0, "NPR" -> 133.5, "INR" -> 133.0,
    "CNY" -> 0.0, "AUD" -> 1.54, "EUR" -> 0.92)

  val currencies: Seq[String] = fxRates.map(_._1)
}
