package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.FixtureCache

/** The durable fixture-fingerprint cache (VERDICT r8 #3): build-once
  * semantics, structural invalidation when a fixture regenerates
  * mid-session, stale-generation pruning, and the crash/race protocol. */
class FixtureCacheSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  /** A throwaway "fixture dir" holding one parquet table. */
  private def withFixture[T](f: (String, String) => T): T = {
    val fx = java.nio.file.Files.createTempDirectory("graft-fxc-fx-")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.mode("overwrite").parquet(fx.resolve("t.parquet").toString)
    f(fx.toString, fx.toString)
  }

  /** The cache root is process-wide (env-keyed), so isolation comes from
    * a unique ARTIFACT NAME per test run rather than a scoped root —
    * this exercises the exact code path production callers use. Names
    * are registered for deletion so spec artifacts don't accrete in the
    * durable root across test runs. */
  private val specNames = scala.collection.mutable.ArrayBuffer.empty[String]

  private def uniqueName(tag: String): String = {
    val n = s"spec-$tag-${java.util.UUID.randomUUID().toString.take(8)}"
    specNames.synchronized { specNames += n }
    n
  }

  override def withFixture(test: NoArgTest): org.scalatest.Outcome =
    try super.withFixture(test)
    finally specNames.synchronized {
      specNames.foreach { n =>
        val d = java.nio.file.Paths.get(FixtureCache.cacheRoot, n)
        try
          if (java.nio.file.Files.exists(d))
            java.nio.file.Files.walk(d)
              .sorted(java.util.Comparator.reverseOrder())
              .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
        catch { case _: Exception => () }
      }
      specNames.clear()
    }

  test("tableFor builds once, then serves reads; regenerating the " +
      "fixture invalidates structurally and prunes the old generation") {
    withFixture { (fx, _) =>
      val name = uniqueName("tbl")
      var builds = 0
      def get() = FixtureCache.tableFor(spark, fx, name) {
        builds += 1
        spark.read.parquet(s"$fx/t.parquet").withColumn("w", col("id") * 2)
      }
      assert(get().count() == 2 && builds == 1)
      assert(get().count() == 2 && builds == 1, "second hit must be a read")
      val fp1 = FixtureCache.fingerprint(spark, fx)
      // regenerate the fixture with DIFFERENT content (length changes,
      // so the fingerprint flips even under coarse mtime granularity)
      Seq((1L, "a"), (2L, "b"), (3L, "cc"), (4L, "dd")).toDF("id", "v")
        .write.mode("overwrite").parquet(s"$fx/t.parquet")
      val fp2 = FixtureCache.fingerprint(spark, fx)
      assert(fp1 != fp2, "fingerprint must track fixture content")
      assert(get().count() == 4 && builds == 2,
        "regenerated fixture must rebuild, not serve stale rows")
      assert(get().count() == 4 && builds == 2)
      // the superseded generation is pruned: exactly one completed dir
      val parent = new java.io.File(FixtureCache.generationParent(fx, name))
      val gens = parent.listFiles().filter(_.getName == fp1)
      assert(gens.isEmpty, "stale generation must be pruned")
      assert(new java.io.File(parent, fp2).exists())
    }
  }

  test("dirFor: a crashed build (temp dir without the completeness " +
      "marker) is invisible — the next call rebuilds and succeeds") {
    withFixture { (fx, _) =>
      val name = uniqueName("dir")
      val fp = FixtureCache.fingerprint(spark, fx)
      // simulate a builder that died mid-write: orphan temp, no marker
      val orphan = new java.io.File(
        s"${FixtureCache.generationParent(fx, name)}/_build_${fp}_deadbeef")
      orphan.mkdirs()
      new java.io.File(orphan, "partial.parquet").createNewFile()
      var builds = 0
      val p = FixtureCache.dirFor(spark, fx, name) { tmp =>
        builds += 1
        Seq(Tuple1(1)).toDF("x").write.parquet(s"$tmp/data")
      }
      assert(builds == 1)
      assert(spark.read.parquet(s"$p/data").count() == 1)
      // the orphan now shares the live fingerprint — swept by prune
      assert(!orphan.exists(), "crashed temp of the live generation is swept")
      // and a second call is a pure hit
      val p2 = FixtureCache.dirFor(spark, fx, name)(_ =>
        fail("complete generation must not rebuild"))
      assert(p2 == p)
    }
  }

  test("generations of DIFFERENT fixtures never prune each other — " +
      "alternating sf dirs must not thrash the cache") {
    withFixture { (fx1, _) =>
      val fx2 = java.nio.file.Files.createTempDirectory("graft-fxc-fx2-")
        .toString
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
        .write.mode("overwrite").parquet(s"$fx2/t.parquet")
      val name = uniqueName("multi")
      var b1 = 0; var b2 = 0
      def g1() = FixtureCache.tableFor(spark, fx1, name) {
        b1 += 1; spark.read.parquet(s"$fx1/t.parquet")
      }
      def g2() = FixtureCache.tableFor(spark, fx2, name) {
        b2 += 1; spark.read.parquet(s"$fx2/t.parquet")
      }
      assert(g1().count() == 2 && g2().count() == 3)
      assert(g1().count() == 2 && g2().count() == 3)
      assert(b1 == 1 && b2 == 1,
        s"alternating fixtures rebuilt: b1=$b1 b2=$b2")
      // clean the second fixture's namespace too
      val d = java.nio.file.Paths.get(
        FixtureCache.generationParent(fx2, name))
      java.nio.file.Files.walk(d.getParent)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
    }
  }

  test("memo: one load per (key, token), a reload when the token " +
      "changes, and /x and /x/ resolve to one entry") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fxc-memo-")
    val file = dir.resolve("part-0")
    java.nio.file.Files.write(file, Array[Byte](1, 2, 3))
    var loads = 0
    def get(d: String): String = FixtureCache.memo(
        FixtureCache.qualify(spark, d), FixtureCache.fingerprint(spark, d)) {
      loads += 1
      s"value-$loads"
    }
    val first = get(dir.toString)
    assert(get(dir.toString) eq first)
    assert(get(dir.toString + "/") eq first, "/x and /x/ must share an entry")
    assert(loads == 1)
    // a rewritten file changes the token: the entry reloads, once
    java.nio.file.Files.write(file, Array[Byte](1, 2, 3, 4))
    val second = get(dir.toString + "/")
    assert(second == "value-2" && loads == 2)
    assert(get(dir.toString) eq second)
    assert(loads == 2)
  }

  test("fingerprint ignores hidden/marker/crc files") {
    withFixture { (fx, _) =>
      val fp1 = FixtureCache.fingerprint(spark, fx)
      new java.io.File(fx, "_SOME_MARKER").createNewFile()
      new java.io.File(fx, ".hidden").createNewFile()
      assert(FixtureCache.fingerprint(spark, fx) == fp1)
    }
  }

  test("NIO fast-path fingerprint is byte-compatible with the Hadoop " +
      "FileSystem listing it replaced — generations written before the " +
      "switch must stay valid") {
    withFixture { (fx, _) =>
      // nest a subdir + a hidden sibling to exercise recursion + filters
      val sub = java.nio.file.Paths.get(fx, "nested")
      java.nio.file.Files.createDirectories(sub)
      java.nio.file.Files.write(sub.resolve("data.bin"),
        Array[Byte](1, 2, 3))
      new java.io.File(fx, "_marker").createNewFile()
      // replicate the pre-r9 Hadoop-API computation verbatim
      val p = new org.apache.hadoop.fs.Path(fx)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val entries = scala.collection.mutable.ArrayBuffer.empty[String]
      val it = fs.listFiles(p, true)
      val prefix = fs.makeQualified(p).toString
      while (it.hasNext) {
        val st = it.next()
        val rel = st.getPath.toString.stripPrefix(prefix)
        val base = st.getPath.getName
        if (!base.startsWith("_") && !base.startsWith(".") &&
            !base.endsWith(".crc"))
          entries += s"$rel|${st.getLen}|${st.getModificationTime}"
      }
      var h = 0xcbf29ce484222325L
      entries.sorted.foreach { e =>
        e.getBytes("UTF-8").foreach { b =>
          h ^= (b & 0xffL); h *= 0x100000001b3L
        }
      }
      assert(FixtureCache.fingerprint(spark, fx) ==
        java.lang.Long.toHexString(h),
        "NIO and Hadoop listings must fold to the same key")
    }
  }
}
