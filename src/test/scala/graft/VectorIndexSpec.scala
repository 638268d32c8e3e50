package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{ProductQuantization, Similarity, VectorIndex}

/** The durable IVF-PQ index: equivalence to from-scratch IVF-PQ with the
  * same frozen models, the index-scan-only plan contract and the daily
  * append loop. */
class VectorIndexSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private val Dims = 8
  /** Deterministic, pairwise-distinct, nonzero vectors (997 is prime and
    * exceeds every id·31 + d·17 residue class used here). */
  private def vec(id: Long): Seq[Float] =
    (0 until Dims).map(d => (((id * 31 + d * 17) % 997) % 13 - 6).toFloat + 0.5f)

  private val oldIds = (1L to 24L)
  private def oldVecs = oldIds.map(i => (i, vec(i))).toDF("vec_id", "embedding")
  // 101 exactly duplicates OLD vector 16: the cross-batch near-dup the
  // find-ability asserts rely on
  private def newVecs = Seq((101L, vec(16L)), (102L, vec(102L)),
    (103L, vec(103L))).toDF("vec_id", "embedding")

  private def withIndex[T](f: String => T): T = {
    val root = java.nio.file.Files
      .createTempDirectory("graft-vidx-spec-").resolve("idx").toString
    VectorIndex.build(oldVecs, "vec_id", "embedding", root, dims = Dims,
      m = 4, ks = 4, iters = 2, coarseK = 2, coarseIters = 2)
    f(root)
  }

  test("index query ≡ from-scratch IVF-PQ with the frozen models") {
    withIndex { root =>
      VectorIndex.appendBatch(spark, root, newVecs, "vec_id", "embedding")
      val all = oldVecs.union(newVecs)
      val queries = all.filter($"vec_id" % 5 === 1)
      // k=8: this adversarial pseudo-random fixture quantizes to a
      // 4-way ADC tie around old 16's exact duplicate (ks=4 codewords
      // per 2-dim subspace collapse many members to shared codes), and
      // the deterministic id tie-break ranks 101 fourth — the
      // equivalence AND find-ability asserts both need the cut wider
      // than the tie group
      val fromIndex = VectorIndex.query(spark, root, queries, "vec_id",
          "embedding", nprobe = 2, k = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).toSet
      // from scratch, with models trained on the SAME historical slice
      // the index froze (coarse cells, then the RESIDUAL codebook
      // against them — IVFADC) — the incremental path must agree
      // bit-for-bit
      val centArr = Similarity.centroidArrays(
        Similarity.kmeansCentroids(oldVecs, "vec_id", "embedding", 2, 2))
      val model = ProductQuantization.trainResidual(oldVecs, "vec_id",
        "embedding", centArr, Dims, m = 4, ks = 4, iters = 2)
      val scratch = ProductQuantization.ivfPqTopKWith(all, queries,
          "vec_id", "embedding", model, centArr, m = 4, nprobe = 2, k = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).toSet
      assert(fromIndex == scratch)
      assert(fromIndex.nonEmpty)
      // appended vectors are both query-able (101 is in the query set)
      // and find-able (old query 16's exact duplicate IS appended 101)
      assert(fromIndex.exists(_._1 == 101L), s"$fromIndex")
      assert(fromIndex.exists(t => t._1 == 16L && t._2 == 101L),
        s"$fromIndex")
    }
  }

  test("queryRefined: with the shortlist probing the whole probed set, " +
      "refined top-k equals exact L2 over the probed cells") {
    // exactness property of the rescore stage: once every ADC candidate
    // is in the shortlist, quantization cannot influence the output —
    // the refine must return the exact-L2 top-k of the candidate set
    withIndex { root =>
      val queries = oldVecs.filter($"vec_id" % 5 === 1)
      val refined = VectorIndex.queryRefined(spark, root, queries,
          "vec_id", "embedding", nprobe = 2, shortlist = 24, k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
        .toSet
      // candidate set = members of each query's 2 probed cells (what
      // query() with k=corpus returns), exact-rescored driver-side
      val cand = VectorIndex.query(spark, root, queries, "vec_id",
          "embedding", nprobe = 2, k = 24)
        .select($"query_id", $"neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      def d2(a: Seq[Float], b: Seq[Float]): Double =
        a.zip(b).map { case (x, y) =>
          (x.toDouble - y.toDouble) * (x.toDouble - y.toDouble) }.sum
      val byId = oldIds.map(i => i -> vec(i)).toMap
      val want = cand.groupBy(_._1).toSeq.flatMap { case (q, rs) =>
        rs.map(_._2).distinct.toSeq
          .map(n => (d2(byId(q), byId(n)), n))
          .sorted.take(3).zipWithIndex
          .map { case ((_, n), i) => (q, n, (i + 1).toLong) }
      }.toSet
      assert(refined === want)
    }
  }

  test("plan contract: the corpus contributes ONLY cells/codes index scans") {
    withIndex { root =>
      // queries are an in-memory DataFrame, so EVERY file scan must read
      // from under the index root — and never the `vectors` float table,
      // which exists for exact re-rank, not the ADC path.
      val queries = Seq((1L, vec(1L))).toDF("vec_id", "embedding")
      val plan = VectorIndex.query(spark, root, queries, "vec_id",
        "embedding", nprobe = 2, k = 3).queryExecution.executedPlan.toString
      val scanned = "file:[^\\s\\],]+".r.findAllIn(plan).toList
      assert(scanned.nonEmpty, "expected index file scans in the plan")
      val rootNorm = root.stripPrefix("file:")
      scanned.foreach(p => assert(p.contains(rootNorm),
        s"non-index file scan in query plan: $p"))
      Seq("cells", "codes").foreach(t =>
        assert(scanned.exists(_.contains(s"$rootNorm/$t")),
          s"expected an index scan of $t"))
      assert(!scanned.exists(_.contains(s"$rootNorm/vectors")),
        s"ADC query must not scan the raw float table: $scanned")
    }
  }

  test("append loop: batch-2 queries find batch-1 neighbors") {
    withIndex { root =>
      VectorIndex.appendBatch(spark, root, newVecs, "vec_id", "embedding")
      // batch 2 duplicates batch-1 vector 101's position exactly
      val batch2 = Seq((201L, vec(16L))).toDF("vec_id", "embedding")
      VectorIndex.appendBatch(spark, root, batch2, "vec_id", "embedding")
      val hits = VectorIndex.query(spark, root, batch2, "vec_id",
          "embedding", nprobe = 2, k = 6)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // batch-1's 101 is find-able by batch 2 — and the STRUCTURAL
      // residual-encoding guarantee holds: 101 and old 16 are the same
      // point, so they share a cell, share codes, and their ADC
      // distances to 201 tie EXACTLY (k=6 is wide enough that the
      // adversarial pseudo-random fixture's quantization noise — this
      // is PQ's worst case, ks=4 over structureless vectors — cannot
      // push the tied pair out of the cut)
      val d101 = hits.collectFirst { case (201L, 101L, d) => d }
      val d16 = hits.collectFirst { case (201L, 16L, d) => d }
      assert(d101.nonEmpty, s"${hits.toSeq}")
      assert(d16.nonEmpty, s"${hits.toSeq}")
      assert(d101 == d16,
        s"identical vectors must tie exactly: $d101 vs $d16")
    }
  }

  test("delete masks immediately; compact reclaims and drops tombstones") {
    withIndex { root =>
      VectorIndex.appendBatch(spark, root, newVecs, "vec_id", "embedding")
      val probe = Seq((999L, vec(16L))).toDF("vec_id", "embedding")
      def hits() = VectorIndex.query(spark, root, probe, "vec_id",
          "embedding", nprobe = 2, k = 5)
        .collect().map(_.getLong(1)).toSet
      // 16's exact duplicate 101 is in the index pre-delete
      assert(hits().contains(101L) && hits().contains(16L))
      VectorIndex.deleteIds(spark, root,
        Seq(Tuple1(101L)).toDF("vec_id"), "vec_id")
      val afterDelete = hits()
      assert(!afterDelete.contains(101L), s"$afterDelete")
      assert(afterDelete.contains(16L), s"$afterDelete")
      // equivalence still holds vs from-scratch over the LIVE corpus
      val live = oldVecs.union(newVecs).filter($"vec_id" =!= 101L)
      val centArr = Similarity.centroidArrays(
        Similarity.kmeansCentroids(oldVecs, "vec_id", "embedding", 2, 2))
      val model = ProductQuantization.trainResidual(oldVecs, "vec_id",
        "embedding", centArr, Dims, m = 4, ks = 4, iters = 2)
      val scratch = ProductQuantization.ivfPqTopKWith(live, probe,
          "vec_id", "embedding", model, centArr, m = 4, nprobe = 2, k = 5)
        .collect().map(_.getLong(1)).toSet
      assert(afterDelete == scratch, s"index=$afterDelete scratch=$scratch")
      // compact: tombstones gone, dead rows reclaimed, results unchanged
      VectorIndex.compact(spark, root)
      assert(!new java.io.File(s"$root/tombstones").exists())
      assert(spark.read.parquet(s"$root/vectors")
        .filter(col("_vid") === 101L).count() == 0)
      assert(spark.read.parquet(s"$root/codes")
        .filter(col("_vid") === 101L).count() == 0)
      assert(hits() == afterDelete)
    }
  }

  test("compact crash mid-swap heals on first touch: live table missing " +
      "+ full _compact_ copy present is renamed into place") {
    withIndex { root =>
      val probe = Seq((999L, vec(16L))).toDF("vec_id", "embedding")
      def hits() = VectorIndex.query(spark, root, probe, "vec_id",
          "embedding", nprobe = 2, k = 5)
        .collect().map(_.getLong(1)).toSet
      val before = hits()
      // fabricate the exact crash state: the swap's delete landed but
      // the rename didn't — live `cells` is gone, the full compacted
      // copy sits at the swap temp
      val tmp = graft.core.FixtureCache.SwapPrefix
      val fs = graft.core.FixtureCache.fs(spark, root)
      assert(fs.rename(new org.apache.hadoop.fs.Path(s"$root/cells"),
        new org.apache.hadoop.fs.Path(s"$root/${tmp}cells")))
      // first read-path touch recovers and serves identically
      assert(hits() == before)
      assert(new java.io.File(s"$root/cells").exists())
      assert(!new java.io.File(s"$root/${tmp}cells").exists())
      // compact() itself also recovers (and then has nothing to reclaim)
      assert(fs.rename(new org.apache.hadoop.fs.Path(s"$root/vectors"),
        new org.apache.hadoop.fs.Path(s"$root/${tmp}vectors")))
      VectorIndex.compact(spark, root)
      assert(new java.io.File(s"$root/vectors").exists())
      assert(hits() == before)
    }
  }

  test("rebuild into a used root replaces the old index — no duplicated " +
      "rows, no surviving tombstones") {
    withIndex { root =>
      VectorIndex.appendBatch(spark, root, newVecs, "vec_id", "embedding")
      VectorIndex.deleteIds(spark, root,
        Seq(Tuple1(102L)).toDF("vec_id"), "vec_id")
      // re-train + re-index the SAME root over a different corpus slice:
      // build() must clear cells/codes/vectors/tombstones first, or every
      // surviving old row double-counts and deleted ids stay masked
      val rebuilt = oldVecs.union(newVecs.filter($"vec_id" =!= 103L))
      VectorIndex.build(rebuilt, "vec_id", "embedding", root, dims = Dims,
        m = 4, ks = 4, iters = 2, coarseK = 2, coarseIters = 2)
      val n = rebuilt.count()
      assert(spark.read.parquet(s"$root/vectors").count() == n)
      assert(spark.read.parquet(s"$root/cells").count() == n)
      // pivoted layout: one codes row per vector, m codes inside it
      assert(spark.read.parquet(s"$root/codes").count() == n)
      assert(spark.read.parquet(s"$root/vectors")
        .groupBy(col("_vid")).count().filter(col("count") > 1).count() == 0,
        "a rebuilt root must hold each id exactly once")
      assert(!new java.io.File(s"$root/tombstones").exists(),
        "stale tombstones must not mask ids re-indexed by the rebuild")
      // 102 was tombstoned pre-rebuild but is IN the rebuilt corpus —
      // it must be served again (k wide enough that PQ quantization
      // noise cannot push the match out of the cut)
      val probe = Seq((999L, vec(102L))).toDF("vec_id", "embedding")
      val hits = VectorIndex.query(spark, root, probe, "vec_id",
          "embedding", nprobe = 2, k = 26)
        .collect().map(_.getLong(1)).toSet
      assert(hits.contains(102L), s"$hits")
      // dropped 103 is gone
      assert(spark.read.parquet(s"$root/vectors")
        .filter(col("_vid") === 103L).count() == 0)
    }
  }

  test("health: drifted appends raise their cells' mean distance") {
    withIndex { root =>
      val before = VectorIndex.health(spark, root).collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(before.nonEmpty)
      // append a batch far outside the trained distribution (all
      // coordinates shifted by +50): quantization error must surface
      val drifted = (301L to 310L)
        .map(i => (i, vec(i).map(_ + 50.0f)))
        .toDF("vec_id", "embedding")
      VectorIndex.appendBatch(spark, root, drifted, "vec_id", "embedding")
      val after = VectorIndex.health(spark, root).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3)))
      // total members grew by the batch; some cell's mean distance
      // strictly exceeds every pre-drift mean (the retrain signal)
      assert(after.map(_._2).sum == oldIds.size + 10)
      assert(after.exists(_._3 > before.values.max * 5),
        s"before=$before after=${after.toSeq}")
      // deleting the drifted batch restores the profile
      VectorIndex.deleteIds(spark, root,
        (301L to 310L).map(Tuple1(_)).toDF("vec_id"), "vec_id")
      val healed = VectorIndex.health(spark, root).collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(healed == before, s"$healed vs $before")
    }
  }

  test("health recall gate: a drifted append degrades sampled recall@k " +
      "in the cells it pollutes — the quality-based retrain trigger") {
    withIndex { root =>
      def worstRecall(): Double = {
        val rows = VectorIndex.health(spark, root, recallSample = 12,
            recallK = 3, nprobe = 2).collect()
        val sampled = rows.filter(!_.isNullAt(4))
        assert(sampled.nonEmpty, "sample must land in at least one cell")
        // schema: label, n_members, mean_sq_dist, max_sq_dist,
        //         recall_at_k, n_recall_queries
        sampled.map(_.getDouble(4)).min
      }
      val before = worstRecall()
      // a batch far outside the trained distribution: frozen codebooks
      // can't represent it, so ADC misranks exactly these vectors and
      // the exact re-rank disagrees — recall must drop somewhere
      val drifted = (301L to 312L)
        .map(i => (i, vec(i).map(v => v * 40.0f + 200.0f)))
        .toDF("vec_id", "embedding")
      VectorIndex.appendBatch(spark, root, drifted, "vec_id", "embedding")
      val after = worstRecall()
      assert(after < before,
        s"drift must flip the quality trigger: before=$before after=$after")
      // recallSample=0 keeps the original 4-column geometric profile
      assert(VectorIndex.health(spark, root).columns.toSeq ==
        Seq("label", "n_members", "mean_sq_dist", "max_sq_dist"))
    }
  }
}
