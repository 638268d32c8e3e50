package graft

import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.JsonCodec
import graft.operators.RiskLabeler
import graft.streaming.Generator

/** P1-P4 semantics: JSON wire codec, corrupt-row handling, risk labeling
  * (threshold strictness, latency ≥ 0), printf golden formats
  * (StreamJob.java:82-89, :150-169). */
class CodecAndRiskSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  test("parseTransactions round-trips the generator wire format") {
    val wire = Generator.toWire(Generator.batch(spark, 50))
    val parsed = JsonCodec.parseTransactions(wire, $"value")
    assert(parsed.filter($"_corrupt").count() == 0)
    val r = parsed.orderBy("timestamp").head()
    assert(r.getAs[String]("senderId").startsWith("SENDER-"))
    assert(r.getAs[Long]("timestamp") == 1700000000000L)
  }

  test("wire schema: RemittanceTransaction's fields in order, every one nullable") {
    import org.apache.spark.sql.types._
    assert(graft.core.Schemas.transactionSchema == StructType(Seq(
      StructField("transactionId", StringType),
      StructField("senderId", StringType),
      StructField("receiverId", StringType),
      StructField("amount", DoubleType),
      StructField("currency", StringType),
      StructField("exchangeRate", DoubleType),
      StructField("timestamp", LongType))))
    assert(graft.core.Schemas.transactionSchema.forall(_.nullable))
  }

  test("corrupt rows are flagged, not fatal (better than the reference's crash)") {
    val df = Seq("""{"transactionId":"t1","amount":1.0,"timestamp":5}""",
      "not json at all", "").toDF("value")
    val parsed = JsonCodec.parseTransactions(df, $"value")
    assert(parsed.filter($"_corrupt").count() == 2)
    assert(parsed.filter(!$"_corrupt").count() == 1)
  }

  test("risk threshold is strictly greater-than (StreamJob.java:76)") {
    val df = Seq(999.99, 1000.0, 1000.01).toDF("amount")
    val out = RiskLabeler.label(df, $"amount").orderBy("amount")
      .select("risk_type").as[String].collect().toSeq
    assert(out == Seq("SAFE", "SAFE", "RISK"))
  }

  test("latency stamping is non-negative for past events") {
    val df = Seq((42.0, System.currentTimeMillis() - 1000L))
      .toDF("amount", "timestamp")
    val out = RiskLabeler.labelWithLatency(df, $"amount", $"timestamp").head()
    assert(out.getAs[String]("latency").toLong >= 0L)
    assert(out.getAs[String]("processing_time").toLong > 0L)
    // one wall-clock read per row feeds both columns: the optimized plan
    // holds the stamp once, so latency == processing_time - timestamp
    val many = RiskLabeler.labelWithLatency(
      Generator.batch(spark, 2000).repartition(4), $"amount", $"timestamp")
    val udfs = many.queryExecution.optimizedPlan
      .flatMap(_.expressions.flatMap(_.collect { case u: ScalaUDF => u }))
    assert(udfs.size == 1)
    val rows = many.select($"timestamp", $"processing_time".cast("long"),
      $"latency".cast("long")).as[(Long, Long, Long)].collect()
    assert(rows.length == 2000)
    assert(rows.forall { case (ts, pt, lat) => lat == pt - ts })
  }

  test("a streaming risk query compiles no new class after its first trigger") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[String]
    // the input is built up front: its own batch job compiles classes too
    val chunks = Generator.toWire(Generator.batch(spark, 200))
      .as[String].collect().toSeq.grouped(50).toSeq
    val q = graft.streaming.Pipelines.riskPipeline(mem.toDF())
      .writeStream.format("noop").queryName("risk_codegen").start()
    def feed(c: Seq[String]): Unit = { mem.addData(c); q.processAllAvailable() }
    try {
      feed(chunks.head)
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      chunks.tail.foreach(feed)
      assert(q.recentProgress.count(_.numInputRows > 0) == 4)
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled == 0)
    } finally q.stop()
  }

  test("risk line golden format") {
    val df = Seq(("tx-1", 0.4567)).toDF("transactionId", "amount")
    val out = RiskLabeler.formatted(
      RiskLabeler.label(df, $"amount"), $"transactionId", $"amount")
      .select("line").as[String].head()
    assert(out == "TxId=tx-1, Amount=0.46, Risk=SAFE")
  }

  test("metric JSON golden format (reference printf shape, StreamJob.java:150-169)") {
    val df = Seq((0L, 10000L, 3L, 2L, 1L, 15.0, 1.25, 10.0, 20.0))
      .toDF("ws", "we", "cnt", "s", "f", "avg", "rate", "mn", "mx")
    val line = df.select(JsonCodec.metricJson($"ws", $"we", $"cnt", $"s",
      $"f", $"avg", $"rate", $"mn", $"mx").as("l")).as[String].head()
    assert(line == """{"windowStart": 0, "windowEnd": 10000, "count": 3, """ +
      """"successCount": 2, "failureCount": 1, "avgAmount": 15.00, """ +
      """"avgExchangeRate": 1.2500, "minAmount": 10.00, "maxAmount": 20.00}""")
  }

  test("generator FX table carries the CNY poison and only CNY fails") {
    val g = Generator.batch(spark, 2000)
    assert(g.filter($"exchangeRate" === 0.0 && $"currency" =!= "CNY").count() == 0)
    assert(g.filter($"currency" === "CNY").count() > 0)
    assert(g.filter($"currency" === "CNY" && $"exchangeRate" =!= 0.0).count() == 0)
    assert(g.select("transactionId").distinct().count() == 2000)
  }
}
