package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity

/** Similarity-search properties: exact dot/norm numerics, brute-force
  * top-k ordering, LSH ANN recall on planted near-identical vectors. */
class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private val dims = 16
  private val rnd = new scala.util.Random(7)
  private def randVec(): Seq[Float] = Seq.fill(dims)(rnd.nextGaussian().toFloat)
  private val v0 = randVec()
  private val v1 = v0.map(x => x + (rnd.nextGaussian() * 0.01).toFloat) // cos ≈ 1
  private val vecs = Seq((0L, v0), (1L, v1)) ++
    (2L to 19L).map(i => (i, randVec()))
  private val df = vecs.toDF("vec_id", "embedding")
    .withColumn("embedding", $"embedding".cast("array<float>"))

  test("seedSelect picks the k smallest (hash60(id), id) with ordinal " +
      "labels — the former global-window rule, now distributed top-k") {
    // expected set computed OUTSIDE Spark: the driver MD5 mirror sorts
    // the same (hash, id) key the query-side expression sorts
    val ids = (0L to 37L).map(i => (i, Seq.fill(dims)(0.1f)))
      .toDF("vec_id", "embedding")
    val expected = (0L to 37L)
      .sortBy(i => (graft.functions.PortableHash.hash60Java(
        i.toString.getBytes("UTF-8")), i))
      .take(7).zipWithIndex.map { case (id, ord) => (id, ord.toLong) }
    val got = Similarity.seedSelect(ids, "vec_id", 7, "label")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      .sortBy(_._2)
    assert(got === expected)
  }

  test("sim23: mean recall@5 on the derived clustered fixture stays " +
      "≥ 0.4 — the IVFADC gain must remain demonstrated, not structural") {
    // the oracled key pins the exact per-query hits; THIS pins the
    // headline number so a fixture/params drift that silently degraded
    // recall to flat-spectrum levels (≈0.17) fails loudly
    val out = graft.queries.SimilarityQueries
      .queries("sim23_clustered_recall")(spark, "/root/testdata/sf0.001")
      .agg(avg($"recall")).head.getDouble(0)
    assert(out >= 0.4, f"sim23 mean recall $out%.3f fell below 0.4")
  }

  test("sim24: exact refinement lifts recall over pure-ADC ranking " +
      "(IVFADC+R) — >= 0.7 and strictly above sim23 on the same fixture") {
    // measured at pinning time: ADC-ranked (sim23) 0.615, refined 0.79
    // with shortlist 20 — the lift is the whole point of the topology;
    // a refactor that silently broke the rescore join would collapse
    // refined recall back to the ADC number
    val dir = "/root/testdata/sf0.001"
    val refined = graft.queries.SimilarityQueries
      .queries("sim24_adc_refine")(spark, dir)
      .select($"query_id", $"neighbor_id")
    val e = graft.queries.SimilarityQueries
      .queries("sim23_clustered_recall")(spark, dir) // per-query ADC recall
    val adcMean = e.agg(avg($"recall")).head.getDouble(0)
    // refined recall vs exact truth, computed with the independent
    // driver-side MD5 mirror (a third engine next to Spark and DuckDB)
    val ids = graft.core.Tables.load(spark, dir, "embeddings")
      .select($"vec_id").as[Long].collect().sorted
    def h60(sv: String): Long =
      graft.functions.PortableHash.hash60Java(sv.getBytes("UTF-8"))
    def vec(i: Long): Array[Double] = (1 to 64).map { d =>
      val block = ((d - 1) * 3) / 64
      val c = if (i % 3 == block) 20.0 else 0.0
      val p = (h60(s"${i % 3}:${i / 12}:$d") % 1024L).toDouble /
        1024.0 * 4.0 - 2.0
      val j = (h60(s"$i:$d") % 1024L).toDouble / 1024.0 * 0.25 - 0.125
      c + p + j
    }.toArray
    val vs = ids.map(i => i -> vec(i)).toMap
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((s, k) =>
        s + (a(k) - b(k)) * (a(k) - b(k)))
    val got = refined.collect()
      .groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.map(_.getLong(1)).toSet }
    val qids = ids.filter(_ < 40)
    val refMean = qids.map { q =>
      val truth = ids.filter(_ != q)
        .map(i => (d2(vs(q), vs(i)), i)).sorted.take(5).map(_._2).toSet
      truth.intersect(got.getOrElse(q, Set.empty)).size.toDouble / 5.0
    }.sum / qids.length
    info(f"recall@5: ADC-ranked $adcMean%.3f, refined $refMean%.3f")
    assert(refMean >= 0.7, f"refined recall $refMean%.3f below 0.7")
    assert(refMean > adcMean,
      f"refinement must lift recall: refined $refMean%.3f vs ADC $adcMean%.3f")
  }

  test("dotSeq matches a driver-side left-fold computation exactly") {
    val got = df.filter($"vec_id" === 0L)
      .select(Similarity.dotSeq($"embedding", $"embedding").as("d"))
      .as[Double].head()
    val want = v0.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble)
    assert(got == want)
  }

  test("brute-force top-k: planted near-identical vector ranks first") {
    val out = Similarity.cosineTopK(df, df.filter($"vec_id" < 2), "vec_id",
      "embedding", 3).collect()
    val top = out.filter(_.getAs[Long]("rank") == 1L)
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    assert(top(0L) == 1L && top(1L) == 0L)
    val cos01 = out.find(r => r.getAs[Long]("query_id") == 0L &&
      r.getAs[Long]("neighbor_id") == 1L).get.getAs[Double]("cos_sim")
    assert(cos01 > 0.99)
  }

  test("topK aggregator ≡ window form, including a NaN-cosine vector") {
    // a NaN component propagates to a NaN norm and NaN cosine for every
    // pair involving the vector (under ANSI a ZERO norm errors instead —
    // NaN is the divisor path that flows through). The aggregator's total
    // order must handle it exactly like the window form's ORDER BY (NaN
    // sorts greatest), or the two silently diverge
    val withNaN = (vecs :+
        (99L, Seq.fill(dims - 1)(1.0f) :+ Float.NaN))
      .toDF("vec_id", "embedding")
      .withColumn("embedding", $"embedding".cast("array<float>"))
    val queries = withNaN.filter($"vec_id" < 3)
    def rows(out: org.apache.spark.sql.DataFrame) =
      out.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getLong(3))).sortBy(t => (t._1, t._4)).toSeq
    val win = rows(Similarity.cosineTopK(withNaN, queries, "vec_id",
      "embedding", 5))
    val agg = rows(Similarity.cosineTopKAgg(withNaN, queries, "vec_id",
      "embedding", 5))
    // NaN != NaN under ==, so compare on the doubles' bit patterns
    def bits(s: Seq[(Long, Long, Double, Long)]) =
      s.map(t => (t._1, t._2, java.lang.Double.doubleToLongBits(t._3), t._4))
    assert(bits(agg) == bits(win))
    assert(win.exists(t => t._3.isNaN), "fixture must exercise the NaN path")
  }

  test("LSH hyperplane family is non-degenerate: planes are pairwise " +
      "distinct and no plane is constant or another's negation") {
    // Regression guard for the r9 claims-audit find: the old LCG-parity
    // sign was parity(p·dims+d) for every reachable seed, so with an
    // even dims EVERY plane was the same alternating vector and all
    // signatures collapsed into two buckets — while batch and the
    // DuckDB twin agreed (the oracle is blind to a bug both twins
    // share). This pins the family's actual randomness per (planes,
    // dims) configuration used by sim5.
    // configs actually shipped (sim5: dims=64; spec fixtures:
    // dims=16 with 16 planes). dims=16 with MANY planes is excluded by
    // design: 48 draws from the 2^16 sign space have a ~2 % birthday
    // collision chance — a random-family property, not degeneracy (the
    // bug this guards against was ALL planes identical, not two).
    for ((dims, planes) <- Seq((16, 16), (64, 16), (64, 48))) {
      val tbl = Array.tabulate(planes, dims)((p, d) =>
        Similarity.planeSignJava(p, d))
      val rows = tbl.map(_.toSeq)
      assert(rows.distinct.size == planes,
        s"duplicate hyperplanes at dims=$dims planes=$planes")
      assert(rows.map(_.map(-_)).toSet.intersect(rows.toSet).isEmpty,
        s"negated-duplicate hyperplanes at dims=$dims planes=$planes")
      rows.zipWithIndex.foreach { case (r, p) =>
        assert(r.distinct.size == 2,
          s"plane $p is constant at dims=$dims (signs ${r.distinct})")
      }
      // balance sanity: hash parity should not skew a plane heavily
      rows.foreach { r =>
        val pos = r.count(_ > 0)
        assert(pos >= dims / 5 && pos <= dims - dims / 5,
          s"heavily skewed plane (pos=$pos of $dims)")
      }
    }
  }

  test("LSH ANN recalls the planted near-dup pair and verifies with exact cosine") {
    val out = Similarity.annLsh(df, "vec_id", "embedding", dims = dims,
      planes = 16, bands = 8, threshold = 0.9)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("cos_sim")))
    assert(out.exists { case (a, b, c) => a == 0L && b == 1L && c > 0.99 })
    // verification step keeps precision: nothing below the threshold leaks
    assert(out.forall(_._3 >= 0.9))
  }

  test("annLsh: band width derives from corpus size, degenerate buckets are capped") {
    // integer-only derivation — the DuckDB oracle mirrors these exact values
    assert(Similarity.deriveBandBits(50, 8, 12) == 3)
    assert(Similarity.deriveBandBits(500, 8, 12) == 6)
    assert(Similarity.deriveBandBits(5000, 8, 12) == 10)
    assert(Similarity.deriveBandBits(1L << 40, 8, 12) == 12) // capped by planes
    // planted degenerate bucket: 40 byte-identical vectors share every band
    // bucket. With maxBucket=4 only the first 4 members (by id) join, so
    // identical-pair candidates are bounded by C(4,2)=6 instead of
    // C(40,2)=780 — the O(bucket²) blowup a hot bucket would cause. The
    // genuinely-near pair (0,1) lives in its own bucket and must survive.
    // hot ids are the low ones: the cap keeps the first members BY ID, so
    // degenerate members must not be evicted by lower-id bystanders
    // sharing the (coarse, bb=3) bucket space.
    val hot = randVec()
    val degen = Seq((0L, v0), (1L, v1)).toDF("vec_id", "embedding")
      .union((2L to 41L).map(i => (i, hot)).toDF("vec_id", "embedding"))
      .union((100L to 117L).map(i => (i, randVec())).toDF("vec_id", "embedding"))
      .withColumn("embedding", $"embedding".cast("array<float>"))
    val out = Similarity.annLsh(degen, "vec_id", "embedding", dims = dims,
      planes = 16, bands = 4, threshold = 0.9, maxBucket = 4)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    val hotPairs = out.filter { case (a, b) => a >= 2L && b >= 2L && b <= 41L }
    assert(hotPairs.nonEmpty && hotPairs.length <= 6,
      s"capped hot bucket emitted ${hotPairs.length} pairs")
    assert(out.contains((0L, 1L)), "planted near-dup pair must survive the cap")
  }

  test("ivfProbe nprobe=2 recovers the true neighbor across a Voronoi boundary") {
    // query q sits in cluster A's Voronoi cell (A's centroid is tight on
    // axis0; B's centroid is diluted by spread members), but its TRUE
    // nearest neighbor is a B member — the canonical nprobe=1 miss.
    val labeled = Seq(
      (0L, 0, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, 0, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, 1, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, 1, Seq(0.9f, 0.43f, 0.0f, 0.0f)))
      .toDF("vec_id", "label", "embedding")
      .withColumn("embedding", $"embedding".cast("array<float>"))
    val q = Seq((99L, Seq(0.95f, 0.31f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
      .withColumn("embedding", $"embedding".cast("array<float>"))
    def top1(nprobe: Int): Long =
      Similarity.ivfProbe(labeled, q, "vec_id", "embedding", "label", 2,
          nprobe = nprobe)
        .filter(col("rank") === 1).collect().head.getAs[Long]("neighbor_id")
    assert(top1(1) != 3L, "fixture must make nprobe=1 miss the true NN")
    assert(top1(2) == 3L, "nprobe=2 must recover the cross-boundary NN")
  }

  test("ivfProbe assigns the nearest centroid and ranks within the cluster") {
    // two well-separated clusters along orthogonal axes; the planted
    // near-dup pair (0,1) sits in cluster A.
    val axis = (i: Int, s: Double) =>
      Seq.tabulate(4)(d => if (d == i) s.toFloat else 0.0f)
    val labeled = Seq(
      (0L, 0, axis(0, 1.0)), (1L, 0, axis(0, 0.9)), (2L, 0, axis(0, -1.0)),
      (3L, 1, axis(1, 1.0)), (4L, 1, axis(1, 1.1)), (5L, 1, axis(1, -0.5)))
      .toDF("vec_id", "label", "embedding")
      .withColumn("embedding", $"embedding".cast("array<float>"))
    val out = Similarity.ivfProbe(labeled,
        labeled.filter($"vec_id" === 0L || $"vec_id" === 3L),
        "vec_id", "embedding", "label", 2)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) ->
        (r.getAs[Int]("label"), r.getAs[Long]("neighbor_id"))).toMap
    // query 0: centroid dots — cluster0 = (0.3,0,..)·(1,0..) = 0.3 >
    // cluster1 ≈ 0.0*(…) → probes cluster 0; nearest = 1 (cos 1.0).
    assert(out((0L, 1L)) == (0, 1L))
    // query 3 probes its own cluster 1; nearest = 4 (same direction).
    assert(out((3L, 1L)) == (1, 4L))
    // everything returned comes from the assigned cluster only
    assert(out.values.groupBy(_._1).forall { case (lbl, vs) =>
      vs.forall(_._1 == lbl) })
  }

  test("label centroids: exact mean per dimension") {
    val tiny = Seq((0, Seq(1.0f, 3.0f)), (0, Seq(3.0f, 5.0f)),
      (1, Seq(10.0f, 20.0f))).toDF("label", "embedding")
      .withColumn("embedding", $"embedding".cast("array<float>"))
    val out = Similarity.labelCentroids(tiny, "label", "embedding")
      .collect().map(r => (r.getAs[Int]("label"), r.getAs[Long]("dim")) ->
        r.getAs[Double]("centroid")).toMap
    assert(out((0, 1L)) == 2.0 && out((0, 2L)) == 4.0)
    assert(out((1, 1L)) == 10.0 && out((1, 2L)) == 20.0)
  }

  test("learned k-means IVF: probe recall on geometric clusters ≥ label-derived") {
    // three well-separated geometric clusters, but labels assigned at
    // RANDOM — the label-derived quantizer (sim3/sim6's limitation) gets
    // centroids near the global mean and probes a scattered third of the
    // corpus; the learned quantizer must recover the geometry
    val rnd2 = new scala.util.Random(11)
    val centers = Seq(
      Seq.tabulate(dims)(d => if (d < 5) 10.0f else 0.0f),
      Seq.tabulate(dims)(d => if (d >= 5 && d < 10) 10.0f else 0.0f),
      Seq.tabulate(dims)(d => if (d >= 10) 10.0f else 0.0f))
    val pts = (0 until 60).map { i =>
      (i.toLong,
        centers(i % 3).map(x => x + rnd2.nextGaussian().toFloat * 0.5f),
        rnd2.nextInt(3))
    }
    val cdf = pts.toDF("vec_id", "embedding", "label")
      .withColumn("embedding", $"embedding".cast("array<float>"))
    val queries = cdf.filter($"vec_id" % 10 === 3)
      .select($"vec_id", $"embedding")
    val truth = Similarity.cosineTopK(cdf, queries, "vec_id", "embedding", 5)
      .collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id"))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recall(out: Array[org.apache.spark.sql.Row]): Double = {
      val got = out
        .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id"))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      truth.map { case (q, t) => (got.getOrElse(q, Set.empty[Long]) & t).size }
        .sum.toDouble / truth.map(_._2.size).sum
    }
    val cent = Similarity.kmeansCentroids(cdf, "vec_id", "embedding",
      k = 3, iters = 3)
    // every point lands in a cluster, none dropped
    assert(cent.filter($"dim" === 1L).agg(sum($"cnt")).as[Long].head() == 60L)
    val learned = recall(Similarity.ivfProbeCentroids(cdf, queries,
      "vec_id", "embedding", cent, k = 5).collect())
    val labeled = recall(Similarity.ivfProbe(cdf, queries, "vec_id",
      "embedding", "label", 5).collect())
    assert(learned >= labeled, s"learned=$learned labeled=$labeled")
    assert(learned >= 0.9,
      s"learned quantizer should recover the geometric clusters: $learned")
    // determinism: the whole seeded Lloyd's loop replays bit-identically
    val again = Similarity.kmeansCentroids(cdf, "vec_id", "embedding",
      k = 3, iters = 3)
    assert(cent.orderBy("label", "dim").collect().toSeq ==
      again.orderBy("label", "dim").collect().toSeq)
  }

  test("PQ-ADC: planted near-copy is the top neighbor; codes compress, distances rank") {
    import graft.operators.ProductQuantization
    // geometric clusters (dims=16, m=4 subspaces of 4): PQ must place a
    // near-copy at rank 1 — subspace codebooks quantize both copies to
    // the same codes, so their ADC distance is minimal
    val rnd4 = new scala.util.Random(17)
    val centers = Seq(
      Seq.tabulate(dims)(d => if (d < 8) 8.0f else 0.0f),
      Seq.tabulate(dims)(d => if (d >= 8) 8.0f else 0.0f))
    val pts = (0 until 40).map { i =>
      (i.toLong, centers(i % 2).map(x => x + rnd4.nextGaussian().toFloat))
    }
    val dup = (99L, pts(6)._2.map(x => x + rnd4.nextGaussian().toFloat * 0.01f))
    val cdf = (pts :+ dup).toDF("vec_id", "embedding")
      .withColumn("embedding", $"embedding".cast("array<float>"))
    val out = ProductQuantization.pqTopK(cdf,
        cdf.filter($"vec_id" === 99L), "vec_id", "embedding",
        dims = dims, m = 4, ks = 4, iters = 2, k = 3)
      .collect().map(r => r.getAs[Long]("rank") ->
        (r.getAs[Long]("neighbor_id"), r.getAs[Double]("adc_dist"))).toMap
    assert(out(1L)._1 == 6L,
      s"ADC must rank the near-copy first, got ${out(1L)}")
    // ADC distances are non-decreasing in rank and non-negative up to
    // quantization (d = |q-c|^2 per subspace, summed)
    assert(out(1L)._2 <= out(2L)._2 && out(2L)._2 <= out(3L)._2)
    // replay determinism: the whole train/encode/score path is seeded
    val again = ProductQuantization.pqTopK(cdf,
        cdf.filter($"vec_id" === 99L), "vec_id", "embedding",
        dims = dims, m = 4, ks = 4, iters = 2, k = 3)
      .collect().map(r => r.getAs[Long]("rank") ->
        (r.getAs[Long]("neighbor_id"), r.getAs[Double]("adc_dist"))).toMap
    assert(out == again)
  }

  test("IVF-PQ prunes to probed cells and still finds the planted near-copy") {
    import graft.operators.ProductQuantization
    val rnd5 = new scala.util.Random(19)
    val centers = Seq(
      Seq.tabulate(dims)(d => if (d < 8) 8.0f else 0.0f),
      Seq.tabulate(dims)(d => if (d >= 8) 8.0f else 0.0f))
    val pts = (0 until 40).map { i =>
      (i.toLong, centers(i % 2).map(x => x + rnd5.nextGaussian().toFloat))
    }
    val dup = (99L, pts(6)._2.map(x => x + rnd5.nextGaussian().toFloat * 0.01f))
    val cdf = (pts :+ dup).toDF("vec_id", "embedding")
      .withColumn("embedding", $"embedding".cast("array<float>"))
    val out = ProductQuantization.ivfPqTopK(cdf,
        cdf.filter($"vec_id" === 99L), "vec_id", "embedding",
        dims = dims, m = 4, ks = 4, iters = 2,
        coarseK = 2, coarseIters = 2, nprobe = 1, k = 5)
      .collect().map(r => r.getAs[Long]("rank") ->
        r.getAs[Long]("neighbor_id")).toMap
    assert(out(1L) == 6L,
      s"IVF-PQ must still rank the near-copy first, got $out")
    // nprobe=1 pruning: every returned neighbor lives in the query's
    // coarse cell — the geometric cluster of even ids (centers(0))
    assert(out.values.forall(id => id % 2 == 0),
      s"neighbors must come only from the probed cell: $out")
    // and the candidate set was genuinely pruned: k=5 from ~20 members
    assert(out.size == 5)
  }

  test("IVFADC residual codes quantize tighter than raw codes on " +
      "clustered data (Jégou 2011 §IV.A) — pruning eliminated, so the " +
      "gap is pure code quality") {
    import graft.operators.ProductQuantization
    // three well-separated gaussian clusters: a RAW codebook must spend
    // its 4 codewords per subspace spanning all three cluster centers,
    // while the RESIDUAL codebook only has to cover the within-cluster
    // spread — the paper's core argument for encoding y − c(y)
    val rndC = new scala.util.Random(23)
    val centersC = Seq(
      Seq.tabulate(dims)(d => if (d < 5) 20.0 else 0.0),
      Seq.tabulate(dims)(d => if (d >= 5 && d < 10) 20.0 else 0.0),
      Seq.tabulate(dims)(d => if (d >= 10) 20.0 else 0.0))
    val pts = (0 until 90).map { i =>
      (i.toLong,
        centersC(i % 3).map(x => (x + rndC.nextGaussian()).toFloat))
    }
    val cdf = pts.toDF("vec_id", "embedding")
      .withColumn("embedding", $"embedding".cast("array<float>"))
    val queries = cdf.filter($"vec_id" < 9)
    val k = 5
    // exact L2 truth, driver-side (the fixture is tiny)
    def l2(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) =>
        (x.toDouble - y.toDouble) * (x.toDouble - y.toDouble) }.sum
    val byId = pts.toMap
    val truth = (0L until 9L).map { q =>
      q -> pts.filter(_._1 != q)
        .map { case (id, v) => (l2(byId(q), v), id) }
        .sorted.take(k).map(_._2).toSet
    }.toMap
    def recall(out: Array[(Long, Long)]): Double = {
      val by = out.groupBy(_._1).map { case (q, rs) =>
        q -> rs.map(_._2).toSet }
      (0L until 9L).map(q =>
        truth(q).intersect(by.getOrElse(q, Set.empty)).size.toDouble / k)
        .sum / 9.0
    }
    val (m, ks) = (4, 4)
    val rawModel = ProductQuantization.train(cdf, "vec_id", "embedding",
      dims, m, ks, iters = 2)
    val rawOut = ProductQuantization.pqTopKWithModel(cdf, queries,
        "vec_id", "embedding", rawModel, m, k)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val centArr = Similarity.centroidArrays(
      Similarity.kmeansCentroids(cdf, "vec_id", "embedding", 3, 3))
    val resModel = ProductQuantization.trainResidual(cdf, "vec_id",
      "embedding", centArr, dims, m, ks, iters = 2)
    // nprobe = coarseK probes EVERY cell: flat raw ADC vs full-coverage
    // residual ADC differ only in what the codes quantize
    val resOut = ProductQuantization.ivfPqTopKWith(cdf, queries,
        "vec_id", "embedding", resModel, centArr, m, nprobe = 3, k = k)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val (rRaw, rRes) = (recall(rawOut), recall(resOut))
    info(f"recall@5 on the clustered fixture: raw=$rRaw%.3f residual=$rRes%.3f")
    assert(rRes > rRaw,
      f"residual recall@5 $rRes%.3f must beat raw $rRaw%.3f")
  }

  test("semDedup drops the planted semantic dup, keeps the cluster's first doc") {
    // three geometric clusters; doc 63 is a near-copy of doc 0 (same
    // cluster, cosine ≈ 1) — SemDeDup must drop 63 (the larger id), keep
    // 0, and not drop any doc whose only near-dups are across clusters
    val rnd3 = new scala.util.Random(13)
    val centers = Seq(
      Seq.tabulate(dims)(d => if (d < 5) 10.0f else 0.0f),
      Seq.tabulate(dims)(d => if (d >= 5 && d < 10) 10.0f else 0.0f),
      Seq.tabulate(dims)(d => if (d >= 10) 10.0f else 0.0f))
    // σ=1.0 keeps natural same-cluster cosines ≈ 1 − σ²·dims/‖c‖² ≈ 0.97,
    // well under τ; the planted copy at σ=0.001 sits at ≈ 0.9999998
    val base = (0 until 63).map { i =>
      (i.toLong, centers(i % 3).map(x => x + rnd3.nextGaussian().toFloat * 1.0f))
    }
    val dup = (63L, base(0)._2.map(x => x + rnd3.nextGaussian().toFloat * 0.001f))
    val cdf = (base :+ dup).toDF("vec_id", "embedding")
      .withColumn("embedding", $"embedding".cast("array<float>"))
    val out = Similarity.semDedup(cdf, "vec_id", "embedding",
      k = 3, iters = 3, tau = 0.9995).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Boolean]("dropped"), r.getAs[Any]("max_sim_prior"))).toMap
    assert(out.size == 64, "one verdict row per input vector")
    assert(out(63L)._1, "the planted near-copy must be dropped")
    assert(!out(0L)._1, "the keep-first representative survives")
    // in-cluster neighbors at σ=1.0 around distant centers sit well
    // below τ — nothing else drops
    assert(out.count(_._2._1) == 1, s"only the planted dup drops: " +
      out.filter(_._2._1).keys.toSeq.sorted.mkString(","))
    // the reported similarity is the exact cosine to the kept doc
    val sim63 = out(63L)._2.asInstanceOf[Double]
    assert(sim63 > 0.999 && sim63 <= 1.0)
  }

  test("MMR re-rank trades the near-duplicate runner-up for diversity") {
    // query 0; A(1) and B(2) nearly identical (cos ≈ 0.999), C(3) as
    // relevant as A but diverse (cos to B ≈ 0.62). Pure top-2 = B, A;
    // MMR at λ=0.7/μ=0.3 must pick B then C.
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.436f, 0.0f)),
      (2L, Array(0.9f, 0.43f, 0.05f)),
      (3L, Array(0.9f, -0.436f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.mmrRerank(vecs, vecs.filter($"vec_id" === 0),
        "vec_id", "embedding", n = 3, kSel = 2)
      .collect().sortBy(_.getAs[Long]("pick_order"))
    assert(out.map(_.getAs[Long]("cand_id")).toSeq === Seq(2L, 3L))
    // pick 1 is the pure-relevance argmax (maxsim still zero)
    assert(out(0).getAs[Double]("max_sim") === 0.0)
    // the recorded max_sim of pick 2 is its cosine to pick 1, not to A
    val ms = out(1).getAs[Double]("max_sim")
    assert(ms > 0.55 && ms < 0.7, s"diverse pick's max_sim: $ms")
    // winner scores are non-increasing round over round
    assert(out(0).getAs[Double]("mmr") >= out(1).getAs[Double]("mmr"))
  }

  test("JL random projection preserves pairwise distances (on average)") {
    import graft.operators.RandomProjection
    val d = 32; val m = 8
    val rnd2 = new scala.util.Random(11)
    val base = (0L until 60L).map(i =>
      (i, Seq.fill(d)(rnd2.nextGaussian().toFloat)))
    val df2 = base.toDF("vec_id", "embedding")
      .withColumn("embedding", $"embedding".cast("array<float>"))
    val proj = RandomProjection.project(df2, "vec_id", "embedding", d, m)
      .collect().map(r => r.getLong(0) ->
        (1 to m).map(j => r.getDouble(j)).toArray).toMap
    val orig = base.map { case (i, v) => i -> v.map(_.toDouble).toArray }.toMap
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    // project() scales by 1/√m, so E[‖Pa−Pb‖²] = ‖a−b‖² DIRECTLY — the
    // distance-preservation contract the JL guarantee states (no
    // caller-side rescaling; an absolute threshold calibrated in the
    // original space carries over unchanged). Per-pair variance ~2/m;
    // the MEAN distortion over ~200 pairs concentrates near 1.
    val ratios = for (i <- 0L until 20L; j <- (i + 1) until 20L) yield
      d2(proj(i), proj(j)) / d2(orig(i), orig(j))
    val mean = ratios.sum / ratios.size
    assert(mean > 0.75 && mean < 1.25, s"mean JL distortion $mean")
    // every single pair stays within a loose constant-factor band (at
    // m=8 the per-pair ratio is χ²₈/8-distributed — wide tails, so the
    // band is deliberately generous; the tight claim is the mean)
    assert(ratios.forall(r => r > 0.02 && r < 20.0),
      s"pathological pair distortion: min=${ratios.min} max=${ratios.max}")
  }

  test("int8 scalar quantization: error bounded by half a grid step, " +
      "extremes saturate, degenerate dims reconstruct exactly") {
    import org.apache.spark.sql.functions.col
    // dim 1 spans [0, 10]; dim 2 is constant (degenerate grid); dim 3
    // spans [-4, 4]
    val vecs = Seq(
      (1L, Seq(0.0f, 7.5f, -4.0f)),
      (2L, Seq(10.0f, 7.5f, 4.0f)),
      (3L, Seq(3.3f, 7.5f, 0.1f)),
      (4L, Seq(6.7f, 7.5f, -1.7f)))
      .toDF("vec_id", "embedding")
    val rows = graft.operators.ScalarQuantization
      .int8Stats(vecs, "vec_id", "embedding")
      .collect().map(r => r.getAs[Long]("dim") -> r).toMap
    rows.values.foreach { r =>
      val range = r.getAs[Double]("vmax") - r.getAs[Double]("vmin")
      assert(r.getAs[Double]("max_abs_err") <= range / 510.0 + 1e-12,
        s"dim ${r.getAs[Long]("dim")}: err ${r.getAs[Double]("max_abs_err")}")
      assert(r.getAs[Double]("mean_abs_err") <=
        r.getAs[Double]("max_abs_err") + 1e-12)
    }
    // the min and max samples of every non-degenerate dim sit at codes
    // 0/255 → exactly 2 saturated; the constant dim codes everything 0
    // (all saturated) and reconstructs with zero error
    assert(rows(1L).getAs[Long]("n_saturated") == 2L)
    assert(rows(3L).getAs[Long]("n_saturated") == 2L)
    assert(rows(2L).getAs[Long]("n_saturated") == 4L)
    assert(rows(2L).getAs[Double]("max_abs_err") == 0.0)
  }
}
