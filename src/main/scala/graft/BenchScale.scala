package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-slope probe (dev tool, not part of the driver contract): builds a
  * K×-replicated copy of the heaviest fixtures with key remapping — so
  * joins/groups keep realistic cardinality ratios instead of key-collision
  * blowups — and times the heaviest queries at 1× and K×. A ≲linear
  * wall-time slope is the empirical check on SURVEY.md §9's partitioning
  * contract ("would this plan survive a 100× scale-up?").
  *
  * Replication details:
  *  - orders/lineitem: orderkey → orderkey·K + r on BOTH sides, so the
  *    fact-fact join stays 1:N with K× keys (not K²× rows per key);
  *  - embeddings: vec_id remapped AND the vector rotated by r positions —
  *    norm-preserving, decorrelating, so the K× corpus has no artificial
  *    near-duplicates to quadratically inflate sim5's candidate set.
  *
  * Usage: SPARK_GRAFT_SF_DIR=… runMain graft.BenchScale [K]
  */
object BenchScale {

  /** The probe set tracks the CURRENT heavy tail (VERDICT r8 #4: a
    * stale probe set measures solved queries and leaves the real tail
    * unprobed) — re-point it at the top sf1.0 keys whenever the
    * committed BENCH_FULL-sf1.0.json reorders. As of round 9 these are
    * the top-10 from the r8 capture (gr2/q21 since reworked — the probe
    * verifies the rework's slope claim instead of assuming it). */
  // the CURRENT top-10 sf1.0 keys (r11 closing medians, e4caacf) —
  // dd5's rework dropped it out of the tail; sim13 and pl11 entered
  private val Probes = Seq("gr2_triangles", "sim14_hybrid_rrf",
    "tx26_bleu_overlap", "gr1_pagerank", "gr5_capped_edges",
    "tx13_bm25_topk", "tx29_dedup_funnel", "q59_recursive_tree",
    "sim13_covariance", "pl11_dsir_select")

  /** `runMain graft.BenchScale K full` materializes an ALL-TABLE K×
    * replica of SPARK_GRAFT_SF_DIR at /tmp/sf1.0 (consistent foreign-key
    * remapping: every key column goes key·K+r on BOTH sides of each join,
    * dims region/nation copied 1× as real TPC-H scaling does; document
    * text is token-prefixed per replica so the dedup/similarity workload
    * scales like a real corpus — constant dup RATE — instead of every doc
    * gaining K near-identical copies and going quadratic by construction)
    * and exits. Then run the FULL suite against it:
    * `SPARK_GRAFT_SF_DIR=/tmp/sf1.0 runMain graft.Bench` →
    * bench/BENCH_FULL-sf1.0.json — the past-fixture-scale capture that
    * catches plan flips (broadcast→SMJ, AQE skew decisions). */
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val k = args.headOption.map(_.toInt).getOrElse(10)
    val full = args.length > 1 && args(1) == "full"
    // the /tmp/sf1.0 name flows into Bench's sf label and the committed
    // BENCH_FULL-sf1.0.json artifact — a K≠10 replica under that name
    // would be a silently mislabeled capture
    require(!full || k == 10,
      s"full mode materializes the sf1.0 fixture (10× sf0.1); got K=$k")
    val outDir = if (full) "/tmp/sf1.0" else s"/tmp/graft-scale-${k}x"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Sessions.local(cpus)
    import graft.core.Tables

    // the 1× fixtures are single parquet files; a K× replica written
    // straight back would still be ONE file ⇒ one scan partition, and
    // every narrow CPU-heavy stage above it runs single-threaded — the
    // exact trap the bench exists to catch, but as a fixture artifact,
    // not a plan property. A real K×-sized table is many files/row
    // groups, so spread the writes to the session parallelism.
    val outParts = spark.sessionState.conf.numShufflePartitions

    def rep(df: DataFrame): DataFrame =
      df.withColumn("_r", explode(sequence(lit(0L), lit(k - 1L))))

    def remap(table: String, cols: String*): Unit = {
      val scaled = cols.foldLeft(rep(Tables.load(spark, sfDir, table))) {
        (df, c) => df.withColumn(c, col(c) * k + col("_r"))
      }
      scaled.drop("_r").repartition(outParts).write.mode("overwrite")
        .parquet(s"$outDir/$table.parquet")
    }

    // ALL tables replicate in both modes: the probe set tracks the
    // current heavy tail, which spans documents/embeddings/events, not
    // just the fact tables (VERDICT r8 #4).
    remap("lineitem", "l_orderkey", "l_partkey", "l_suppkey")
    remap("orders", "o_orderkey", "o_custkey")
    val dims = 64
    rep(Tables.load(spark, sfDir, "embeddings"))
      .withColumn("vec_id", col("vec_id") * k + col("_r"))
      .withColumn("_rot", (col("_r") % dims).cast("int"))
      .withColumn("embedding",
        concat(slice(col("embedding"), col("_rot") + 1, lit(dims) - col("_rot")),
          slice(col("embedding"), lit(1), col("_rot"))))
      .drop("_r", "_rot")
      .repartition(outParts)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    // dims stay 1× (TPC-H scaling: region/nation are constant-size)
    Seq("region", "nation").foreach { t =>
      Tables.load(spark, sfDir, t).write.mode("overwrite")
        .parquet(s"$outDir/$t.parquet")
    }
    remap("customer", "c_custkey")
    remap("supplier", "s_suppkey")
    remap("part", "p_partkey")
    // events.ts writes back as native TIMESTAMP(MICROS) — the same
    // encoding the driver's regenerated fixtures use; Tables.load is
    // schema-adaptive (micros passes through, legacy nanos-long gets
    // `div 1000`), so no round-trip re-encoding is needed
    rep(Tables.load(spark, sfDir, "events"))
      .withColumn("event_id", col("event_id") * k + col("_r"))
      .withColumn("user_id", col("user_id") * k + col("_r"))
      .drop("_r")
      .repartition(outParts)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    // decorrelate text per replica (prefix every token with the replica
    // id): replicas share ZERO shingles, so the corpus keeps a constant
    // dup rate as N grows — the real-corpus shape — instead of every
    // doc gaining K near-copies and making dedup quadratic by fixture
    // artifact
    rep(Tables.load(spark, sfDir, "documents"))
      .withColumn("doc_id", col("doc_id") * k + col("_r"))
      .withColumn("text", concat_ws(" ",
        transform(split(col("text"), "\\s+"),
          t => concat(col("_r"), lit("x"), t))))
      .drop("_r")
      .repartition(outParts)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    if (full) {
      println(s"BENCHSCALE full $k× fixture materialized at $outDir")
      spark.stop()
      return
    }

    def timeQ(name: String, dir: String): Double = {
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      spark.catalog.clearCache()
      times.min
    }

    // shared bases (shingles, term freqs, basket pairs, models) build
    // OUTSIDE the timed probes for both dirs — same discipline as Bench:
    // probes measure serving, not artifact construction.
    Seq(sfDir, outDir).foreach { d =>
      // a swallowed prewarm failure would silently move the shared-base
      // build INTO the first timed probe that touches it and corrupt
      // every printed slope — keep the probe run alive (this is a dev
      // tool) but say loudly that the numbers are now build+serve.
      try SparkEntry.prewarm(spark, d) catch {
        case e: Throwable => System.err.println(
          s"[benchscale] WARNING prewarm($d) failed — probe timings " +
            s"will include shared-base construction: $e")
      }
    }
    println(f"${"query"}%-22s ${"1x_sec"}%8s ${k + "x_sec"}%8s ${"slope"}%7s")
    Probes.foreach { q =>
      val t1 = timeQ(q, sfDir)
      val tk = timeQ(q, outDir)
      println(f"$q%-22s $t1%8.3f $tk%8.3f ${tk / t1}%7.2f")
    }
    spark.stop()
  }
}
