package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingHeavyHitters

/** Sharded Misra–Gries heavy hitters: exactness below capacity,
  * cross-batch accumulation, and the est ≤ true ≤ est + err interval
  * guarantee under eviction pressure. */
class StreamingHeavyHittersSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  test("below capacity: exact counts (err 0) accumulate across batches") {
    TestSession.withConf(TestSession.RocksDb) {
      implicit val sc = spark.sqlContext
      val mem = MemoryStream[String]
      val q = StreamingHeavyHitters.heavyHitters(spark,
          mem.toDF().toDF("text"), "text", groups = 4, capacity = 64,
          emitThreshold = 2L)
        .toDF()
        .writeStream.outputMode("append").format("memory")
        .queryName("hh_exact").start()
      try {
        mem.addData(Seq("hot hot hot warm warm cold"))
        q.processAllAvailable()
        mem.addData(Seq("hot hot hot warm"))
        q.processAllAvailable()
      } finally q.stop()
      val rows = spark.table("hh_exact").collect()
        .map(r => (r.getAs[String]("token"), r.getAs[Long]("est"),
          r.getAs[Long]("err")))
      assert(rows.forall(_._3 == 0L), s"${rows.toSeq}")
      // batch-1 emission: hot=3; batch-2 emission: state carried → hot=6
      assert(rows.contains(("hot", 3L, 0L)) && rows.contains(("hot", 6L, 0L)),
        s"${rows.toSeq}")
      assert(rows.contains(("warm", 3L, 0L)))
      // singleton never crosses the emit threshold
      assert(!rows.exists(_._1 == "cold"))
    }
  }

  test("over capacity: Misra–Gries interval est ≤ true ≤ est + err holds") {
    TestSession.withConf(TestSession.RocksDb) {
      implicit val sc = spark.sqlContext
      val mem = MemoryStream[String]
      // one shard so every token contends for the same 2 slots
      val q = StreamingHeavyHitters.heavyHitters(spark,
          mem.toDF().toDF("text"), "text", groups = 1, capacity = 2,
          emitThreshold = 1L)
        .toDF()
        .writeStream.outputMode("append").format("memory")
        .queryName("hh_mg").start()
      val trueCounts = Map("aa" -> 10L, "bb" -> 5L) ++
        (1 to 6).map(i => s"one$i" -> 1L).toMap
      try {
        val text = trueCounts.toSeq.sortBy(_._1)
          .flatMap { case (t, c) => Seq.fill(c.toInt)(t) }.mkString(" ")
        mem.addData(Seq(text))
        q.processAllAvailable()
      } finally q.stop()
      val rows = spark.table("hh_mg").collect()
        .map(r => (r.getAs[String]("token"), r.getAs[Long]("est"),
          r.getAs[Long]("err")))
      assert(rows.nonEmpty)
      rows.foreach { case (t, est, err) =>
        val truth = trueCounts(t)
        assert(est <= truth && truth <= est + err,
          s"$t: est=$est err=$err true=$truth")
        assert(err > 0L, "eviction pressure must be visible in the bound")
      }
      // the dominant token survives the summary
      assert(rows.exists(_._1 == "aa"), s"${rows.toSeq}")
    }
  }

  test("decrement-emptied map keeps its error bound across batches " +
      "(TTL NONE interval contract)") {
    TestSession.withConf(TestSession.RocksDb) {
      implicit val sc = spark.sqlContext
      val mem = MemoryStream[String]
      // capacity 1, one shard: batch 1 [aa bb] inserts aa, bb overflows
      // and the decrement-all EMPTIES the map (one decrement). If that
      // emptiness were misread as a TTL eviction and the decrement
      // total reset, batch 2's [aa aa] would emit (est 2, err 0)
      // claiming true == 2 exactly — but true(aa) = 3.
      val q = StreamingHeavyHitters.heavyHitters(spark,
          mem.toDF().toDF("text"), "text", groups = 1, capacity = 1,
          emitThreshold = 1L)
        .toDF()
        .writeStream.outputMode("append").format("memory")
        .queryName("hh_emptied").start()
      try {
        mem.addData(Seq("aa bb"))
        q.processAllAvailable()
        mem.addData(Seq("aa aa"))
        q.processAllAvailable()
      } finally q.stop()
      val rows = spark.table("hh_emptied").collect()
        .map(r => (r.getAs[String]("token"), r.getAs[Long]("est"),
          r.getAs[Long]("err")))
      val aa = rows.filter(t => t._1 == "aa" && t._2 == 2L)
      assert(aa.nonEmpty, s"batch-2 aa emission missing: ${rows.toSeq}")
      aa.foreach { case (_, est, err) =>
        assert(est <= 3L && 3L <= est + err,
          s"true(aa)=3 outside [est, est+err] = [$est, ${est + err}]")
      }
    }
  }
}
