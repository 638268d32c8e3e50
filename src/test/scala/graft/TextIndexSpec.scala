package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TextIndex

/** Pins for the incrementally-maintained text index (VERDICT r14 #2):
  * appended ≡ from-scratch at the TABLE level, appendBatch's
  * independence from historical postings (proved FUNCTIONALLY: the
  * history tf/dl data files are stashed away during the append — a
  * plan that scanned them would fail), the batchId replay guard and
  * the swap-crash recovery.
  */
class TextIndexSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private def tmpRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"txidx-$tag").toString

  private val hist = Seq(
    (1L, "alpha beta gamma"), (2L, "beta gamma delta"),
    (3L, "gamma delta epsilon"), (4L, ""), (5L, "alpha alpha beta"))
  private val batch = Seq(
    (10L, "zulu alpha"), (11L, "delta zulu zulu"))

  private def df(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("doc_id", "text")

  private def tableSet(root: String, t: String): Set[Seq[Any]] =
    spark.read.parquet(s"$root/$t").collect()
      .map(_.toSeq).toSet

  test("appendBatch folds a batch without touching historical " +
      "postings, and the result equals a from-scratch build") {
    val inc = tmpRoot("inc"); val full = tmpRoot("full")
    TextIndex.build(df(hist), "doc_id", "text", inc)
    // stash history's tf/dl data files: an append plan that reads them
    // fails loudly — this is the O(batch) claim, proved functionally
    val stash = java.nio.file.Files.createTempDirectory("txidx-stash")
    val moved = Seq("tf", "dl").flatMap { t =>
      val d = java.nio.file.Paths.get(inc, t)
      val listing = java.nio.file.Files.list(d).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => p.getFileName.toString.startsWith("part-"))
      listing.map { p =>
        val dst = stash.resolve(s"$t-${p.getFileName}")
        java.nio.file.Files.move(p, dst); (dst, p)
      }
    }
    TextIndex.appendBatch(spark, inc, df(batch), "doc_id", "text")
    moved.foreach { case (dst, orig) =>
      java.nio.file.Files.move(dst, orig) }
    TextIndex.build(df(hist ++ batch), "doc_id", "text", full)
    Seq("tf", "dl", "docfreq").foreach { t =>
      assert(tableSet(inc, t) == tableSet(full, t),
        s"appended '$t' diverged from the from-scratch build")
    }
    // stats: n_docs, the exact-decimal dl sum, and avgdl must all be
    // bit-equal — the associative-merge claim
    assert(tableSet(inc, "stats") == tableSet(full, "stats"),
      "appended stats row diverged from the from-scratch build")
    val st = spark.read.parquet(s"$inc/stats").collect().head
    assert(st.getAs[Long]("n_docs") == 7L) // zero-token doc counted
  }

  test("replay guard: an already-applied batchId is a no-op") {
    val root = tmpRoot("replay")
    TextIndex.build(df(hist), "doc_id", "text", root)
    TextIndex.appendBatch(spark, root, df(batch), "doc_id", "text",
      batchId = 7L)
    val after1 = spark.read.parquet(s"$root/tf").count()
    val stats1 = tableSet(root, "stats")
    TextIndex.appendBatch(spark, root, df(batch), "doc_id", "text",
      batchId = 7L)
    assert(spark.read.parquet(s"$root/tf").count() == after1,
      "replayed batch double-appended postings")
    assert(tableSet(root, "stats") == stats1,
      "replayed batch re-merged the stats row")
  }

  test("recover heals a crash between a swap's delete and rename") {
    val root = tmpRoot("crash")
    TextIndex.build(df(hist), "doc_id", "text", root)
    val before = tableSet(root, "docfreq")
    // simulate the crash window: live copy gone, full _swap_ copy left
    val live = java.nio.file.Paths.get(root, "docfreq")
    val tmp = java.nio.file.Paths.get(root, "_swap_docfreq")
    java.nio.file.Files.move(live, tmp)
    TextIndex.recover(spark, root)
    assert(tableSet(root, "docfreq") == before,
      "recover did not restore the swapped table")
  }
}
