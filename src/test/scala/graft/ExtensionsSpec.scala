package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Generator

/** Extension-point surfaces: the scala UDF registry and streaming dedup
  * over the wire codec. (The typed-`Aggregator` surface is
  * `TopKNeighbors`, pinned through key sim7 by the oracle gate.) */
class ExtensionsSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  test("scala UDF registry surface") {
    spark.udf.register("risk_label_udf",
      (amount: Double) => if (amount > 1000.0) "RISK" else "SAFE")
    val out = spark.sql("SELECT risk_label_udf(1500.0) AS r").head().getString(0)
    assert(out == "RISK")
  }

  test("streaming dropDuplicatesWithinWatermark dedups the wire stream") {
    implicit val sc = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    val wire = Generator.toWire(Generator.batch(spark, 50)).as[String].collect()
    val parsed = graft.functions.JsonCodec
      .parseTransactions(mem.toDF(), $"value")
      .filter(!$"_corrupt")
      .withColumn("event_time", timestamp_millis($"timestamp"))
      .withWatermark("event_time", "10 seconds")
      .dropDuplicatesWithinWatermark("transactionId")
    val q = parsed.writeStream.outputMode("append").format("memory")
      .queryName("dedup_stream").start()
    try {
      mem.addData(wire.toSeq ++ wire.take(10).toSeq) // re-deliver 10 dups
      q.processAllAvailable()
    } finally q.stop()
    val n = spark.table("dedup_stream").count()
    assert(n == 50L) // duplicates within the watermark horizon removed
  }
}
