package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingCrawlFunnel
import graft.streaming.StreamingCrawlFunnel.CrawlDoc

/** The incremental crawl funnel ≡ batch tx29 (VERDICT r8 #5): the same
  * corpus replayed as doc-id-ordered micro-batches through the three
  * streaming stages must reproduce the batch cascade's stage counts
  * exactly — URL keepers, exact-hash keepers, and the near-dup drop set. */
class StreamingCrawlFunnelSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("replayed micro-batches reproduce batch tx29 stage counts") {
    implicit val sc = spark.sqlContext
    TestSession.withConf(TestSession.RocksDb) {
      val docsDf = graft.core.Tables.load(spark, dir, "documents")
        .select($"doc_id", $"text")
      val n = docsDf.count()
      // the tx29 fixture: ~2 fetches per page, rendered + canonicalized
      // through the same UrlCanon pair the batch funnel uses
      val npages = math.max(50L, n / 2)
      val corpus = docsDf
        .select($"doc_id",
          graft.operators.UrlCanon.renderUrl($"doc_id", lit(npages))
            .as("url"),
          $"text")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .sortBy(_._1).toSeq
      // batch truth: stage → (n_docs, n_tokens)
      val truth = SparkEntry.queries("tx29_dedup_funnel")(spark, dir)
        .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3)))
        .toMap
      assert(truth(0)._1 == n)
      // replay in three doc-id-ordered micro-batches (a crawler's
      // monotone ingest ids), remembering each doc's batch so later
      // stages replay survivors through the SAME batch boundaries
      val batchSize = corpus.length / 3 + 1
      val batchOf = corpus.zipWithIndex
        .map { case (d, i) => d._1 -> i / batchSize }.toMap
      val nBatches = batchOf.values.max + 1

      def replay[A](name: String, feed: Int => Seq[A],
                    start: MemoryStream[A] => org.apache.spark.sql.streaming.StreamingQuery)
                   (implicit enc: org.apache.spark.sql.Encoder[A]): Unit = {
        val mem = MemoryStream[A]
        val q = start(mem)
        try (0 until nBatches).foreach { b =>
          val rows = feed(b)
          if (rows.nonEmpty) mem.addData(rows)
          q.processAllAvailable()
        } finally q.stop()
      }

      // stage 1 — canonical-URL keep-first
      replay[(Long, String, String)]("cf_url",
        b => corpus.filter(d => batchOf(d._1) == b),
        mem => StreamingCrawlFunnel.urlDedupStream(spark,
            mem.toDF().toDF("doc_id", "url", "text"),
            "doc_id", "url", "text").toDF()
          .writeStream.outputMode("append").format("memory")
          .queryName("cf_url").start())
      val s1 = spark.table("cf_url").as[CrawlDoc].collect().toSeq
      assert((s1.size.toLong, s1.map(_.ntok).sum) == truth(1),
        s"url stage: ${(s1.size, s1.map(_.ntok).sum)} vs ${truth(1)}")

      // stage 2 — exact md5 keep-first over stage-1 survivors
      replay[CrawlDoc]("cf_exact",
        b => s1.filter(d => batchOf(d.doc_id) == b),
        mem => StreamingCrawlFunnel.exactDedupStream(spark, mem.toDS())
          .toDF().writeStream.outputMode("append").format("memory")
          .queryName("cf_exact").start())
      val s2 = spark.table("cf_exact").as[CrawlDoc].collect().toSeq
      assert((s2.size.toLong, s2.map(_.ntok).sum) == truth(2),
        s"exact stage: ${(s2.size, s2.map(_.ntok).sum)} vs ${truth(2)}")

      // stage 3 — near-dup decisions with the corpus-derived band width
      // (the batch funnel derives rows from the FULL corpus count)
      val numHashes =
        4 * graft.operators.Dedup.deriveMinhashRows(n, 8, 2, 8)
      replay[CrawlDoc]("cf_near",
        b => s2.filter(d => batchOf(d.doc_id) == b),
        mem => StreamingCrawlFunnel.nearDupStream(spark, mem.toDS(),
            numHashes = numHashes, bands = 4, jaccardThreshold = 0.3)
          .toDF().writeStream.outputMode("append").format("memory")
          .queryName("cf_near").start())
      // batch drops the larger partner (doc_b); survivors = s2 − drops
      val dropped = spark.table("cf_near").select($"doc_b")
        .distinct().as[Long].collect().toSet
      val s3 = s2.filterNot(d => dropped.contains(d.doc_id))
      assert((s3.size.toLong, s3.map(_.ntok).sum) == truth(3),
        s"near stage: ${(s3.size, s3.map(_.ntok).sum)} vs ${truth(3)}; " +
          s"dropped=$dropped")
      // the funnel genuinely fired: each stage strictly below stage 0
      assert(s1.size < n && s2.size <= s1.size && s3.size <= s2.size)
    }
  }
}
