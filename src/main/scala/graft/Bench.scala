package graft
import org.apache.spark.sql.SparkSession

object Bench {

  /** Short bench key: the first '_'-segment of the query name (unique by
    * construction — q17, tx6, dd1, …) with the one ambiguous pair
    * (w2_metrics_10s / w2_metrics_keyed_1h) disambiguated by hand. The
    * driver's stdout-tail parse window is ~2000 chars; full names for 85+
    * queries overflow it (BENCH_r01–r03 all landed truncated with
    * parsed:null), so stdout carries short keys while the complete
    * full-name map is written to bench/BENCH_FULL-<sf>.json. */
  def shortKey(name: String): String =
    if (name == "w2_metrics_10s") "w2"
    else if (name == "w2_metrics_keyed_1h") "w2k"
    else name.takeWhile(_ != '_')

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    def loadAvg: Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // Capture discipline (r7: the committed sf0.1 capture ran at load
    // 3.7 and its apparent regressions were all noise): when the box is
    // busy with co-tenant work, WAIT — bounded — for it to drain before
    // timing anything. The wait is capped so a persistently-loaded box
    // still produces a capture (stamped degraded below) rather than
    // hanging the driver; SPARK_GRAFT_LOADWAIT=0 skips it for local
    // iteration.
    val waitBudget = sys.env.get("SPARK_GRAFT_LOADWAIT")
      .flatMap(_.toLongOption).getOrElse(240L)
    // CLOSING mode (SPARK_GRAFT_CLOSING=1): the round-10 closing medians
    // were captured at loads up to 1.27 and quoted anyway — the rule
    // (README: closing captures at 1-min load < 0.5) and the tool could
    // diverge because nothing enforced the rule at capture time. In
    // closing mode the drain threshold IS the closing bar, and a box
    // that never drains makes Bench REFUSE (exit 2, no artifacts
    // written) instead of producing a record that bench_median would
    // have to stamp closing_grade: false.
    val closing = sys.env.get("SPARK_GRAFT_CLOSING").contains("1")
    val drainTo = if (closing) 0.5 else 1.2
    val waitDeadline = System.nanoTime() + waitBudget * 1000000000L
    while (loadAvg >= drainTo && System.nanoTime() < waitDeadline)
      Thread.sleep(10000L)
    // sample load AFTER the drain wait, BEFORE any Spark work: the 1-min
    // average taken at the end of a 32-thread run mostly measures the
    // bench itself; taken here it measures the co-tenant load that
    // historically skewed captures.
    val la = loadAvg
    if (closing && la >= 0.5) {
      System.err.println(f"[bench] REFUSING closing capture: load $la%.2f" +
        " >= 0.5 after the drain wait — nothing written (raise " +
        "SPARK_GRAFT_LOADWAIT or wait for the co-tenant to finish)")
      sys.exit(2)
    }
    val spark = graft.core.Sessions.local(cpus)
    // Warmup: pay one-time session/codegen/parquet-footer costs outside the
    // per-query timings. The shared on-disk bases (shingle table, dd4
    // index, basket pairs, inverted index, quantizer/PQ/vector-index
    // artifacts) build here, not inside whichever query happens to run
    // first — per-query timings must not be order-dependent (ADVICE r5).
    // The build cost is REAL work a deployment pays once
    // (train-once/serve-many), so it is timed and reported as its own
    // line item (prewarm_sec in both artifacts) rather than hidden:
    // per-query numbers measure serving, prewarm_sec measures artifact
    // construction (ADVICE r7). Failed steps land in BENCH_FULL's
    // warm_errors.
    val (warmErrors, prewarmSec) = SparkEntry.warm(spark, sfDir)
    // noop write (not count()) so column pruning can't skip the projected
    // work of map-only queries — every result column is fully computed.
    // Best of 2 runs: the first pays codegen/JIT/GC noise that is
    // irrelevant to sustained throughput at scale. A query that throws is
    // recorded as -1 (NOT its time-to-failure) and listed in "errors" so a
    // broken query can never make the benchmark look faster.
    // fail fast if a future query name collides under shortKey — a
    // duplicate JSON key silently drops one query's timing (last-wins in
    // most parsers), the exact artifact corruption shortKey exists to fix
    val names = SparkEntry.queries.keys.toSeq
    require(names.map(shortKey).distinct.size == names.size,
      "duplicate bench short keys: " + names.groupBy(shortKey)
        .filter(_._2.size > 1).values.flatten.mkString(", "))
    var failed = List.empty[String]
    // Per-key contamination evidence (r16, VERDICT r15 #2 — additions
    // only): six straight rounds of driver captures were swept by
    // co-tenant bursts that a single pre-run load stamp cannot localize,
    // so BENCH_FULL now records, per key, its wall-clock start offset, a
    // load sample taken at that moment, and EVERY attempt's seconds —
    // and any key whose two attempts disagree >2x gets a THIRD attempt
    // (all three recorded; the reported value stays the min, i.e.
    // best-of-2 extended to best-of-3 exactly when the pair is
    // discordant). A burst now shows up as a load spike + one outlier
    // attempt at a known offset, machine-distinguishable from a
    // regression, which moves both attempts.
    val benchStartMs = System.currentTimeMillis()
    val probes = scala.collection.mutable.LinkedHashMap
      .empty[String, (Long, Double, Seq[Double], Seq[String])]
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val keyStartMs = System.currentTimeMillis() - benchStartMs
      val keyLoad = loadAvg
      val attemptErrors = Seq.newBuilder[String]
      def attempt(): Option[Double] = {
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          attemptErrors += SparkEntry.describe(e); None
        }
      }
      var times = (1 to 2).flatMap(_ => attempt())
      if (times.size == 2 && times.max > 2.0 * times.min)
        times = times ++ attempt()
      probes(name) = (keyStartMs, keyLoad, times, attemptErrors.result())
      // clear cached blocks so persisted intermediates (LSH signature /
      // shingle tables) don't accumulate across 85+ queries in one session.
      spark.catalog.clearCache()
      if (times.isEmpty) failed ::= name
      name -> times.minOption.getOrElse(-1.0)
    }
    def f(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val total = results.filter(_._2 >= 0).map(_._2).sum
    val sfLabel = sfDir.split('/').last
    val errs = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Capture conditions, stamped into BOTH artifacts so a number can
    // never be quoted without them: pre-run system load average
    // (background co-tenants historically inflated captures up to 5×)
    // and the source commit (so README/bench/ can't silently fork from
    // BENCH_r0N).
    val commit = try {
      val p = new ProcessBuilder("git", "rev-parse", "--short", "HEAD")
        .redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes, "UTF-8").trim
      if (p.waitFor() == 0 && out.matches("[0-9a-f]{6,}")) out else "unknown"
    } catch { case _: Throwable => "unknown" }
    // loudly mark any capture taken under co-tenant load: r5's
    // end-of-round artifact was captured at load 16.4 and the apparent
    // regressions were all noise — a number stamped degraded must never
    // be read as a regression (or an improvement).
    val degraded = if (la > 4.0) ""","degraded_capture":true""" else ""
    val closingTag = if (closing) ""","closing_mode":true""" else ""
    // load_avg serializes FLOORED at 1e-3, not rounded: the closing
    // gate above enforces la < 0.5 on the raw double, and "%.3f"
    // rounding half-up turned a passed 0.4996 into a recorded "0.500"
    // that bench_median's strict < 0.5 stamp then failed (r11's b38e626
    // and one r12 sf1.0 capture both hit this). Flooring keeps every
    // gate-passed value below the bar in the record too — the gate and
    // the stamp can no longer disagree. The +1e-9 epsilon absorbs
    // binary-float representation (0.057*1000 == 56.999…, which bare
    // floor understates by a milli). Why the epsilon can never lift a
    // sub-bar load ACROSS a milli boundary (ADVICE r13 — the claim
    // rests on the value's source, not on the arithmetic alone): Linux
    // exposes loadavg as fixed-point k/2048, so la*1000 = 1000k/2048 =
    // 125k/256 — a dyadic rational whose distance from any integer it
    // does not attain is ≥ 1/256, eight orders above both the epsilon
    // and the ≤1e-13 representation error of the product. A load source
    // with finer granularity would need the decimal-string round-trip
    // instead.
    val laFloored = math.floor(la * 1000 + 1e-9) / 1000
    val cond = s""""load_avg":${f(laFloored)},"commit":"$commit"""" +
      s""","prewarm_sec":${f(prewarmSec)}$degraded$closingTag"""
    // Full-name record for humans/the repo (committed per round).
    val fullQs = results.map { case (k, v) => "\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    // per-key probes (BENCH_FULL only — stdout stays inside its byte
    // budget): start = ms offset from bench start, la = load sample at
    // key start, runs = every attempt's seconds (3 entries ⇒ the
    // discordant-pair rerun fired for that key), errors = each failed
    // attempt's "class: message" (only on keys with a failed attempt)
    val probesJson = probes.map { case (k, (st, la2, ts, es)) =>
      val errors = if (es.isEmpty) ""
        else es.map(Verify.q).mkString(",\"errors\":[", ",", "]")
      "\"" + k + "\":{\"start\":" + st + ",\"la\":" + f(la2) +
        ",\"runs\":[" + ts.map(f).mkString(",") + "]" + errors + "}"
    }.mkString("{", ",", "}")
    val warmJson = warmErrors.map { case (step, e) =>
      Verify.q(step) + ":" + Verify.q(e) }.mkString("{", ",", "}")
    val fullLine =
      s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":$fullQs,"sf":"$sfLabel","errors":$errs,"probes":$probesJson,"warm_errors":$warmJson,$cond}"""
    try {
      val dir = java.nio.file.Paths.get("bench")
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.write(dir.resolve(s"BENCH_FULL-$sfLabel.json"),
        fullLine.getBytes("UTF-8"))
      // Commit+time-suffixed history copy: a later degraded capture must
      // never clobber the only clean record of a round (ADVICE r6), and
      // REPEAT captures at one commit must all survive — the round-10
      // capture discipline reads the MEDIAN of ≥3 same-commit runs
      // (tools/bench_median.py), because a single capture carries ±12%
      // load noise (the r9 docs-only-commit episode).
      val hist = dir.resolve("history")
      java.nio.file.Files.createDirectories(hist)
      // millisecond granularity: two captures finishing within one
      // SECOND used to silently overwrite a history record, shrinking
      // bench_median's sample (ADVICE r10)
      java.nio.file.Files.write(
        hist.resolve(s"BENCH_FULL-$sfLabel-$commit-" +
          s"${System.currentTimeMillis()}.json"),
        fullLine.getBytes("UTF-8"))
    } catch { case e: Throwable =>
      // the stdout line (below) is the driver's record either way, but a
      // lost history copy must not be silent — it starves the median
      System.err.println(s"[bench] artifact write failed: $e")
    }
    // ONE compact JSON line on stdout: must fit the driver's bounded tail
    // window (2000 chars) in FULL, including sbt's trailing "[success]"
    // line (~80 chars). Short keys, 2-dec secs, failed queries omitted
    // from the map (they are -1 placeholders carrying no timing; the
    // errors array names them), errors as short keys — and, since the
    // suite keeps growing (157 keys ≈ 1870 chars already), a HARD byte
    // budget: the map carries the slowest queries first and stops before
    // the line can overflow, stamping how many sub-threshold entries were
    // dropped ("qn" = suite size, "omitted" = dropped count). Totals and
    // errors are always complete; full precision + full names live in
    // bench/BENCH_FULL-<sf>.json (committed) either way.
    def f2(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    // errors ride stdout as a COUNT only (headroom at ~200 keys —
    // round-6's parsed:null failure mode); the full failed-name list is
    // always in BENCH_FULL's "errors". Consumers MUST treat errn>0 or
    // omitted>0 as "read bench/BENCH_FULL-<sf>.json", not as a complete
    // stdout record.
    val ok = results.filter(_._2 >= 0).sortBy(-_._2)
    def line(entries: Seq[(String, Double)], omitted: Int): String = {
      val qs = entries.map { case (k, v) => "\"" + shortKey(k) + "\":" + f2(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":$qs,"sf":"$sfLabel","errn":${failed.size},"qn":${results.size},"omitted":$omitted,$cond}"""
    }
    val MaxLine = 1850
    var keep = ok.size
    while (keep > 0 && line(ok.take(keep), ok.size - keep).length > MaxLine)
      keep -= 1
    println(line(ok.take(keep), ok.size - keep))
    spark.stop()
  }
}
