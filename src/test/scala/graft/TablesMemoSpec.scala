package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Frames, Tables}

/** Lifecycle pins for the one frame memo (`Frames`) that `Tables.load`,
  * `Frames.parquet` and `Frames.headRow` all read through:
  *  - the memo must not pin a STOPPED session's analyzed plans for the
  *    JVM lifetime (ADVICE r14), across both its frame and row maps;
  *  - `invalidate` is separator-bounded (ADVICE r15: /idx must not evict
  *    /idx2) and drops rows together with frames;
  *  - loader tags keep an adapted fixture frame apart from a raw read of
  *    the same file, and headRow's nested frame read does not recurse
  *    into its own map.
  * The stopped-session sweep is exercised through the predicate seam
  * (sweepWhere) because the suite JVM shares ONE SparkContext — actually
  * stopping it would kill every other suite; the production predicate on
  * top of the seam is the one-line `sparkContext.isStopped` read.
  * Collectability follows the ManagedPersistSpec pattern: weak ref +
  * advisory GC retries.
  */
class TablesMemoSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private val dirA = "/root/testdata/sf0.001"
  private val dirB = "/root/testdata/sf0.01"

  private def tableKeys(dir: String) =
    Frames.memoKeys.filter(_._2.startsWith(s"t:$dir/"))

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("load memoizes per (session, dir, table) and serves the same " +
      "lazy frame") {
    val a = Tables.load(spark, dirA, "region")
    val b = Tables.load(spark, dirA, "region")
    assert(a eq b, "second load rebuilt the frame instead of memo-hit")
    assert(Tables.load(spark, dirB, "region") ne a,
      "frames for different fixture dirs must not share a memo entry")
  }

  test("invalidate(dir) drops exactly that dir's entries (the in-JVM " +
      "fixture-regeneration hook)") {
    val a = Tables.load(spark, dirA, "nation")
    Tables.load(spark, dirB, "nation")
    Tables.invalidate(dirA)
    assert(tableKeys(dirA).isEmpty, "dirA entries survived invalidate")
    assert(tableKeys(dirB).nonEmpty, "invalidate evicted the OTHER dir")
    assert(Tables.load(spark, dirA, "nation") ne a,
      "post-invalidate load must rebuild, not serve the dropped frame")
  }

  /** Build the doomed session + its memo entries in a helper frame so
    * no local survives on this test's stack. */
  private def doomedSession(meta: String): java.lang.ref.WeakReference[AnyRef] = {
    val s2 = spark.newSession()
    Tables.load(s2, dirA, "region")
    Tables.load(s2, dirB, "supplier")
    Frames.headRow(s2, meta)
    assert(Frames.memoKeys.count(_._1 eq s2) == 4,
      "expected two table frames, the meta frame and its row")
    val ref = new java.lang.ref.WeakReference[AnyRef](s2)
    // the predicate stands in for `isStopped` (see class scaladoc)
    Frames.sweepWhere(_ eq s2)
    assert(!Frames.memoKeys.exists(_._1 eq s2),
      "sweep left entries for the dead session")
    ref
  }

  test("sweep evicts a dead session's entries and releases the session " +
      "itself (ADVICE r14)") {
    val meta = tempDir("memo-sweep") + "/meta"
    Seq(1).toDF("a").write.parquet(meta)
    val before = Frames.memoKeys.size
    val ref = doomedSession(meta)
    assert(Frames.memoKeys.size == before,
      "sweep left (or over-evicted) entries for the dead session")
    var tries = 0
    while (ref.get() != null && tries < 40) {
      System.gc(); Thread.sleep(50); tries += 1
    }
    assert(ref.get() == null,
      "the swept session is still strongly reachable — the memo (or a " +
        "memoized frame) is pinning it")
  }

  test("invalidate(root) drops the root and its subtree, not a " +
      "string-prefix sibling") {
    val base = tempDir("frames-inv")
    val idx = s"$base/idx"
    val idxSib = s"$base/idx2"
    val idxSub = s"$idx/part"
    Seq(1, 2).toDF("a").write.parquet(idx + "/t")
    Seq(3).toDF("a").write.parquet(idxSib)
    Seq(4).toDF("a").write.parquet(idxSub + "/u")

    val fRoot = Frames.parquet(spark, idx + "/t")
    val fSib = Frames.parquet(spark, idxSib)
    val fSub = Frames.parquet(spark, idxSub + "/u")

    Frames.invalidate(idx)
    assert(Frames.parquet(spark, idxSib) eq fSib,
      "sibling /idx2 was evicted by invalidate(/idx) — prefix match " +
        "lost its path-separator boundary")
    assert(Frames.parquet(spark, idx + "/t") ne fRoot,
      "the mutated root's own entry survived invalidate")
    assert(Frames.parquet(spark, idxSub + "/u") ne fSub,
      "a subtree entry under the mutated root survived invalidate")

    // trailing-slash caller spelling hits the same boundary logic
    val fSib2 = Frames.parquet(spark, idxSib)
    Frames.invalidate(idx + "/")
    assert(Frames.parquet(spark, idxSib) eq fSib2,
      "trailing-slash invalidate evicted the prefix sibling")
  }

  test("an adapted Tables.load frame and a raw Frames.parquet read of " +
      "the same file are distinct entries") {
    val adapted = Tables.load(spark, dirA, "events")
    val raw = Frames.parquet(spark, s"$dirA/events.parquet")
    assert(adapted ne raw,
      "Tables.load served the raw parquet frame (or the reverse)")
    assert(Tables.load(spark, dirA, "events") eq adapted)
    assert(Frames.parquet(spark, s"$dirA/events.parquet") eq raw)
  }

  test("invalidate(root) drops a headRow together with its frame") {
    val root = tempDir("memo-row")
    val meta = s"$root/meta"
    Seq(1).toDF("a").write.parquet(meta)
    assert(Frames.headRow(spark, meta).getInt(0) == 1)
    val frame = Frames.parquet(spark, meta)
    Seq(2).toDF("a").write.mode("overwrite").parquet(meta)
    assert(Frames.headRow(spark, meta).getInt(0) == 1,
      "headRow is memoized until invalidated")
    Frames.invalidate(root)
    assert(Frames.headRow(spark, meta).getInt(0) == 2,
      "invalidate kept the stale memoized row")
    assert(Frames.parquet(spark, meta) ne frame,
      "invalidate kept the meta table's frame")
  }

  test("a headRow miss reads its frame through the memo without a " +
      "recursive map update") {
    val root = tempDir("memo-nest")
    Seq(7).toDF("a").write.parquet(s"$root/m1")
    Seq(8).toDF("a").write.parquet(s"$root/m2")
    // frame miss inside the row miss, then a frame hit
    assert(Frames.headRow(spark, s"$root/m1").getInt(0) == 7)
    val f1 = Frames.parquet(spark, s"$root/m1")
    assert(Frames.parquet(spark, s"$root/m1") eq f1)
    // frame hit inside the row miss
    val f2 = Frames.parquet(spark, s"$root/m2")
    assert(Frames.headRow(spark, s"$root/m2").getInt(0) == 8)
    assert(Frames.parquet(spark, s"$root/m2") eq f2)
  }

  test("Tables.invalidate(dirA) leaves dirB and a string-prefix sibling " +
      "of dirA") {
    val base = tempDir("memo-tables")
    val (fx, fxSib) = (s"$base/fx", s"$base/fx2")
    Seq(fx, fxSib).foreach(d =>
      Seq(1).toDF("r_regionkey").write.parquet(s"$d/region.parquet"))
    val a = Tables.load(spark, fx, "region")
    val sib = Tables.load(spark, fxSib, "region")
    val b = Tables.load(spark, dirB, "region")
    Tables.invalidate(fx)
    assert(Tables.load(spark, fx, "region") ne a,
      "the invalidated dir's frame survived")
    assert(Tables.load(spark, fxSib, "region") eq sib,
      "invalidate(fx) evicted the string-prefix sibling fx2")
    assert(Tables.load(spark, dirB, "region") eq b,
      "invalidate(fx) evicted an unrelated fixture dir")
  }
}
