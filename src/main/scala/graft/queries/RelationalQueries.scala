package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.ExactNum._

/** The relational operator inventory (SURVEY.md §2.7 extensions / §7
  * phase 2): scans, filter/project (pushdown-verified), equi joins of every
  * flavor (broadcast / shuffle, semi, anti), grouped + conditional
  * aggregation, rollup/cube, ranking window functions, top-k, set ops,
  * distinct aggregation, and the scalar function pack — each DuckDB-oracled
  * on the TPC-H-ish fixtures.
  *
  * Scale notes baked into each operator (the 100 TB contract):
  *   - dimension tables (region/nation/supplier) are `broadcast()` — no
  *     shuffle of the fact side;
  *   - fact-fact joins (orders⋈lineitem) shuffle on the join key and are
  *     AQE-eligible (skew-join splitting);
  *   - aggregates are expression-only (map-side partial aggregation);
  *   - top-k is `orderBy().limit()` which Spark executes as per-partition
  *     TakeOrdered (no global sort/shuffle of the full data).
  */
object RelationalQueries extends QueryPack {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Q1 — TPC-H Q1: full-scan grouped aggregation with per-row arithmetic.
    "q1_pricing_summary" -> ((s, dir) => {
      import s.implicits._
      Tables.spread(t(s, dir, "lineitem")
          .filter($"l_shipdate" <= lit("2000-09-02").cast("timestamp")))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          sumExact($"l_quantity").as("sum_qty"),
          sumExact($"l_extendedprice").as("sum_base_price"),
          sumExact($"l_extendedprice" * (lit(1) - $"l_discount")).as("sum_disc_price"),
          sumExact($"l_extendedprice" * (lit(1) - $"l_discount") * (lit(1) + $"l_tax")).as("sum_charge"),
          avgExact($"l_quantity").as("avg_qty"),
          avgExact($"l_extendedprice").as("avg_price"),
          avgExact($"l_discount").as("avg_disc"),
          count(lit(1)).as("count_order"))
    }),

    // Q2 — filter + projection; predicate and column pruning reach the scan.
    "q2_filter_project" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .filter($"l_shipdate" >= lit("1998-01-01").cast("timestamp") &&
                $"l_shipdate" < lit("1998-04-01").cast("timestamp") &&
                $"l_quantity" < 5.0)
        .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_extendedprice")
    }),

    // Q3 — fact⋈fact⋈dim join + grouped revenue (customer segment).
    "q3_segment_revenue" -> ((s, dir) => {
      import s.implicits._
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      l.join(o, $"l_orderkey" === $"o_orderkey")
        .join(broadcast(c), $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment")
        .agg(
          sumExact($"l_extendedprice" * (lit(1) - $"l_discount")).as("revenue"),
          count(lit(1)).as("cnt"))
    }),

    // Q4 — broadcast star join over small dims.
    "q4_supplier_by_region" -> ((s, dir) => {
      import s.implicits._
      val su = t(s, dir, "supplier")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      su.join(broadcast(n), $"s_nationkey" === $"n_nationkey")
        .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name")
        .agg(count(lit(1)).as("cnt"), avgExact($"s_acctbal").as("avg_bal"))
    }),

    // Q5 — left-semi join (EXISTS).
    "q5_semi_join" -> ((s, dir) => {
      import s.implicits._
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter($"o_totalprice" > 300000.0)
      c.join(o, $"c_custkey" === $"o_custkey", "left_semi")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("cnt"))
    }),

    // Q6 — left-anti join (NOT EXISTS): customers with no recent order.
    "q6_anti_join" -> ((s, dir) => {
      import s.implicits._
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
        .filter($"o_orderdate" >= lit("2001-01-01").cast("timestamp"))
      c.join(o, $"c_custkey" === $"o_custkey", "left_anti")
        .groupBy($"c_nationkey")
        .agg(count(lit(1)).as("cnt"), sumExact($"c_acctbal").as("sum_bal"))
    }),

    // Q7 — top-k: TakeOrdered, no global sort of the full table.
    "q7_topk_orders" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
        .limit(10)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    }),

    // Q8 — ranking window function: top-3 parts per brand by price.
    "q8_rank_per_brand" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"p_brand")
        .orderBy($"p_retailprice".desc, $"p_partkey".asc)
      t(s, dir, "part")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter($"rn" <= 3)
        .select($"p_brand", $"p_partkey", $"p_retailprice", $"rn")
    }),

    // Q9 — analytic window functions: running sum + lag over a partition.
    "q9_running_sum" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
      t(s, dir, "orders")
        .filter($"o_custkey" < 50)
        .withColumn("running_spend", sumExactOver($"o_totalprice",
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("prev_price", lag($"o_totalprice", 1).over(w))
        .select($"o_custkey", $"o_orderkey", $"o_totalprice",
          $"running_spend", $"prev_price")
    }),

    // Q10 — rollup (hierarchical grouping sets).
    "q10_rollup" -> ((s, dir) => {
      import s.implicits._
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      c.join(broadcast(n), $"c_nationkey" === $"n_nationkey")
        .rollup($"n_name", $"c_mktsegment")
        .agg(count(lit(1)).as("cnt"), sumExact($"c_acctbal").as("sum_bal"))
    }),

    // Q11 — cube.
    "q11_cube" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .cube($"o_orderstatus", $"o_orderpriority")
        .agg(count(lit(1)).as("cnt"), sumExact($"o_totalprice").as("sum_price"))
    }),

    // Q12 — set operations: INTERSECT / EXCEPT / UNION (distinct semantics).
    "q12_set_ops" -> ((s, dir) => {
      import s.implicits._
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val open = o.filter($"o_orderstatus" === "O").select($"o_custkey".as("custkey"))
      val big = o.filter($"o_totalprice" > 250000.0).select($"o_custkey".as("custkey"))
      val negBal = c.filter($"c_acctbal" < 0.0).select($"c_custkey".as("custkey"))
      val richBal = c.filter($"c_acctbal" > 9900.0).select($"c_custkey".as("custkey"))
      open.intersect(big).except(negBal).union(richBal).distinct()
    }),

    // Q13 — distinct aggregation.
    "q13_distinct_agg" -> ((s, dir) => {
      import s.implicits._
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      c.join(broadcast(n), $"c_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .agg(
          countDistinct($"c_mktsegment").as("n_segments"),
          countDistinct($"c_custkey").as("n_cust"),
          count(lit(1)).as("cnt"))
    }),

    // Q14 — scalar string-function pack (§2.6 generalized).
    "q14_string_funcs" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "part").select(
        $"p_partkey",
        upper($"p_name").as("up_name"),
        lower($"p_type").as("lo_type"),
        length($"p_name").cast("long").as("name_len"),
        substring($"p_type", 1, 5).as("type5"),
        concat($"p_brand", lit("#"), $"p_type").as("brand_type"),
        regexp_replace($"p_name", "a", "@").as("name_at"),
        reverse($"p_brand").as("rev_brand"),
        ascii($"p_name").cast("long").as("first_ascii"))
    }),

    // Q15 — scalar date/math-function pack.
    "q15_date_math_funcs" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "orders").select(
        $"o_orderkey",
        year($"o_orderdate").cast("long").as("yr"),
        month($"o_orderdate").cast("long").as("mo"),
        dayofmonth($"o_orderdate").cast("long").as("dom"),
        quarter($"o_orderdate").cast("long").as("qtr"),
        date_trunc("month", $"o_orderdate").as("month_start"),
        floor($"o_totalprice").cast("double").as("price_floor"),
        ceil($"o_totalprice").cast("double").as("price_ceil"),
        ($"o_orderkey" % 7L).as("key_mod"),
        sqrt($"o_totalprice").as("price_sqrt"),
        abs($"o_totalprice" - 100000.0).as("price_absdiff"))
    }),

    // Q16 — conditional aggregation (the W2 pattern, relational form).
    "q16_conditional_agg" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .groupBy($"o_orderpriority")
        .agg(
          count(lit(1)).as("cnt"),
          sum(when($"o_orderstatus" === "O", 1L).otherwise(0L)).as("n_open"),
          sum(when($"o_orderstatus" === "F", 1L).otherwise(0L)).as("n_done"),
          sumExact(when($"o_orderstatus" === "O", $"o_totalprice").otherwise(lit(0.0))).as("open_value"),
          coalesce(max(when($"o_orderstatus" === "F", $"o_totalprice")), lit(0.0)).as("max_done"))
    }),

    // Q17 — 6-way join (TPC-H Q5): local-supplier revenue by nation.
    "q17_local_supplier_revenue" -> ((s, dir) => {
      import s.implicits._
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      val su = t(s, dir, "supplier")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      l.join(o, $"l_orderkey" === $"o_orderkey")
        .join(c, $"o_custkey" === $"c_custkey")
        .join(su, $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
        .join(broadcast(n), $"s_nationkey" === $"n_nationkey")
        .join(broadcast(r), $"n_regionkey" === $"r_regionkey" && $"r_name" === "ASIA")
        .groupBy($"n_name")
        .agg(sumExact($"l_extendedprice" * (lit(1) - $"l_discount")).as("revenue"),
             count(lit(1)).as("cnt"))
    }),

    // Q19 — stream-static enrichment join (the Structured Streaming
    // stream⋈static dim pattern, batch twin): events against a broadcast
    // dimension on a derived key.
    "q19_stream_static_enrich" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.load(s, dir, "events")
      val n = t(s, dir, "nation")
      e.join(broadcast(n), pmod($"user_id", lit(25L)) === $"n_nationkey")
        .groupBy($"n_name")
        .agg(count(lit(1)).as("cnt"), sumExact($"value").as("sum_value"))
    }),

    // Q20 — scalar function pack 2: trim/pad/split/greatest/least,
    // interval arithmetic, datediff, last_day, epoch seconds.
    "q20_scalar_pack2" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "orders").select(
        $"o_orderkey",
        trim(concat(lit("  "), $"o_orderpriority", lit("  "))).as("prio_trim"),
        lpad($"o_orderstatus", 5, "*").as("status_lpad"),
        rpad($"o_orderstatus", 5, "#").as("status_rpad"),
        split_part($"o_orderpriority", lit("-"), lit(1)).as("prio_code"),
        greatest($"o_totalprice", lit(100000.0)).as("price_floor100k"),
        least($"o_totalprice", lit(100000.0)).as("price_cap100k"),
        ($"o_orderdate" + expr("INTERVAL 30 DAYS")).as("ship_by"),
        datediff(lit("2002-01-01").cast("timestamp"), $"o_orderdate")
          .cast("long").as("days_to_2002"),
        last_day($"o_orderdate").as("month_end"),
        unix_timestamp($"o_orderdate").as("epoch_s"))
    }),

    // Q21 — approx_count_distinct (HLL++). Sketch REGISTER VALUES are
    // engine-specific (Spark's HLL++ ≠ DuckDB's HLL), so the raw estimate
    // can never hash-match an oracle. The DRIVER-CHECKED result therefore
    // carries (a) the exact distinct counts, hash-compared cell-identical,
    // and (b) the sketch's 3σ error contract folded into the query itself
    // as booleans (|est − exact|/exact ≤ 0.15 at the default rsd 0.05) —
    // the estimate is still computed and timed in-query, and a sketch
    // drifting out of spec flips a boolean and fails the hash compare.
    // Raw-estimate accuracy is additionally asserted in RelationalSpec.
    "q21_approx_distinct" -> ((s, dir) => {
      import s.implicits._
      def estOk(est: Column, exact: Column): Column =
        abs(est.cast("double") - exact.cast("double")) /
          exact.cast("double") <= 0.15
      // Shuffle diet (VERDICT r8 #8): two countDistinct columns plus two
      // HLL sketches in ONE aggregate force Catalyst's Expand rewrite —
      // every fact row replicated once per distinct set (3× in-memory
      // rows through the widest shuffle). Splitting into three
      // SINGLE-distinct-set aggregates keeps each pass Expand-free
      // (single countDistinct = partial dedupe by (flag, key) map-side,
      // shuffle only distinct pairs; the HLL pass shuffles KB sketch
      // buffers) and each parquet scan reads exactly two columns. The
      // final join keys on the 3-row flag frame — negligible.
      val li = t(s, dir, "lineitem")
      val exactP = li.groupBy($"l_returnflag")
        .agg(countDistinct($"l_partkey").as("exact_parts"))
      val exactO = li.groupBy($"l_returnflag")
        .agg(countDistinct($"l_orderkey").as("exact_orders"))
      val approx = li.groupBy($"l_returnflag")
        .agg(approx_count_distinct($"l_partkey").as("_ap"),
          approx_count_distinct($"l_orderkey").as("_ao"))
      exactP.join(exactO, Seq("l_returnflag"))
        .join(approx, Seq("l_returnflag"))
        .select($"l_returnflag", $"exact_parts", $"exact_orders",
          estOk($"_ap", $"exact_parts").as("parts_est_ok"),
          estOk($"_ao", $"exact_orders").as("orders_est_ok"))
    }),

    // Q22 — as-of/previous-event analytics per key (lag + gap).
    "q22_asof_prev_event" -> ((s, dir) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
      Tables.load(s, dir, "events")
        .withColumn("prev_value", lag($"value", 1).over(w))
        .withColumn("prev_ts_us", lag(unix_micros($"ts"), 1).over(w))
        .withColumn("gap_us", unix_micros($"ts") - $"prev_ts_us")
        .select($"event_id", $"user_id", $"value", $"prev_value", $"gap_us")
    }),

    // Q23 — pivot (grouped transpose with a fixed value set).
    "q23_pivot" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .groupBy($"o_orderpriority")
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(count(lit(1)))
        .select($"o_orderpriority",
          coalesce($"O", lit(0L)).as("n_open"),
          coalesce($"F", lit(0L)).as("n_finished"),
          coalesce($"P", lit(0L)).as("n_pending"))
    }),

    // Q24 — generator/UDTF surface: explode token stream → global top-k.
    "q24_explode_topk" -> ((s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "documents")
        .select(explode(graft.functions.TextFunctions.tokens($"text")).as("token"))
        .groupBy($"token")
        .agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"token".asc)
        .limit(20)
    }),

    // Q25 — exact percentiles (linear interpolation) + deterministic
    // arg-max via a composite ordering key.
    // SORT-BASED exact percentiles, not percentile(): the built-in is an
    // ObjectHashAggregate whose buffer holds every value per group — the
    // whole table per reducer at 100×. Here each group is sorted once
    // (row_number window), only the two boundary rows per percentile
    // survive the aggregate, and the interpolation lo·(1-f) + hi·f is
    // computed on those — bit-identical to quantile_cont (which uses THIS
    // form, not the algebraically-equal lo+(hi-lo)·f — they differ in the
    // last ulp), O(sort) time, O(1) agg memory. (q45_approx_percentile is
    // the single-pass GK-sketch alternative when even a sort is too much.)
    "q25_percentiles" -> ((s, dir) => {
      import s.implicits._
      val wSort = Window.partitionBy($"o_orderpriority")
        .orderBy($"o_totalprice")
      val wAll = Window.partitionBy($"o_orderpriority")
      // no spread: the window's hash exchange re-partitions on the group
      // key regardless of input layout, so a round-robin shuffle before it
      // would just be a second full pass over the data
      // 0-based rank arithmetic r = p·(n-1), matching quantile_cont's own
      // index computation: a 1-based 1.0 + p·(n-1) adds one more FP
      // rounding step that can flip floor/frac at binade crossings
      val ranked = t(s, dir, "orders")
        .select($"o_orderpriority", $"o_totalprice", $"o_orderkey")
        .withColumn("rn0",
          (row_number().over(wSort) - 1).cast("double"))
        .withColumn("n", count(lit(1)).over(wAll).cast("double"))
      def boundary(p: Double, which: String): Column = {
        val r = lit(p) * (col("n") - 1.0)
        val idx = if (which == "lo") floor(r) else ceil(r)
        max(when(col("rn0") === idx, col("o_totalprice")))
      }
      def frac(p: Double): Column =
        max((lit(p) * (col("n") - 1.0)) - floor(lit(p) * (col("n") - 1.0)))
      ranked.groupBy($"o_orderpriority")
        .agg(
          boundary(0.5, "lo").as("lo50"), boundary(0.5, "hi").as("hi50"),
          frac(0.5).as("f50"),
          boundary(0.9, "lo").as("lo90"), boundary(0.9, "hi").as("hi90"),
          frac(0.9).as("f90"),
          max_by($"o_orderkey", $"o_totalprice" * 1e6 + $"o_orderkey")
            .as("top_order"),
          min_by($"o_orderkey", $"o_totalprice" * 1e6 + $"o_orderkey")
            .as("bottom_order"))
        .select($"o_orderpriority",
          ($"lo50" * (lit(1.0) - $"f50") + $"hi50" * $"f50").as("median_price"),
          ($"lo90" * (lit(1.0) - $"f90") + $"hi90" * $"f90").as("p90_price"),
          $"top_order", $"bottom_order")
    }),

    // Q26 — salted skew join: provably identical to the plain join (the
    // oracle SQL IS the plain join), but the hot key's rows spread over
    // saltFactor reducers.
    "q26_salted_join" -> ((s, dir) => {
      import s.implicits._
      val l = t(s, dir, "lineitem")
      val o = t(s, dir, "orders").select($"o_orderkey", $"o_orderpriority")
      graft.operators.SkewJoin.saltedJoin(
        l, o, $"l_orderkey", $"o_orderkey", saltFactor = 4,
        saltSource = $"l_orderkey" * 131L + $"l_linenumber")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sumExact($"l_extendedprice").as("sum_price"))
    }),

    // Q27 — scalar string pack 3: translate/repeat/instr/left/right,
    // predicates, regexp extraction.
    "q27_string_pack3" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "part").select(
        $"p_partkey",
        translate($"p_name", "aeiou", "AEIOU").as("vowel_up"),
        repeat($"p_brand", 2).as("brand_x2"),
        instr($"p_name", "al").cast("long").as("al_pos"),
        expr("left(p_name, 6)").as("name6"),
        expr("right(p_type, 4)").as("type_tail"),
        $"p_name".contains("al").as("has_al"),
        $"p_type".startsWith("STANDARD").as("is_standard"),
        $"p_type".endsWith("TIN").as("is_tin"),
        regexp_extract($"p_name", "[0-9]+", 0).as("first_num"))
    }),

    // Q28 — non-equi range join: event pairs per user within a 60 s
    // forward window (interval-join semantics; equi key + range condition
    // ⇒ sort-merge with band predicate, never a cartesian).
    "q28_range_join" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.load(s, dir, "events")
      val a = e.select($"user_id", $"event_id".as("eid_a"),
        unix_micros($"ts").as("us_a"))
      val b = e.select($"user_id".as("uid_b"), $"event_id".as("eid_b"),
        unix_micros($"ts").as("us_b"))
      a.join(b, $"user_id" === $"uid_b" && $"us_b" > $"us_a" &&
          $"us_b" <= $"us_a" + 60000000L)
        .groupBy($"user_id")
        .agg(count(lit(1)).as("pair_cnt"),
          max($"us_b" - $"us_a").as("max_gap_us"))
    }),

    // Q29 — ordered array aggregation (collect + sort for determinism;
    // CSV-packed because the oracle harness compares scalar cells only).
    "q29_array_agg" -> ((s, dir) => {
      import s.implicits._
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      c.join(broadcast(n), $"c_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .agg(concat_ws(",", sort_array(collect_set($"c_mktsegment")))
            .as("segments_csv"),
          count(lit(1)).as("cnt"))
    }),

    // Q30 — arbitrary GROUPING SETS + grouping_id (SQL surface).
    "q30_grouping_sets" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_gs")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority,
          |  CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
          |  count(1) AS cnt
          |FROM orders_gs
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          |""".stripMargin)
    }),

    // Q31 — multiset set ops: EXCEPT ALL / INTERSECT ALL keep
    // multiplicities (unlike q12's distinct set semantics).
    "q31_multiset_ops" -> ((s, dir) => {
      import s.implicits._
      val l = t(s, dir, "lineitem")
      val r = l.filter($"l_returnflag" === "R").select($"l_orderkey")
      val f = l.filter($"l_linestatus" === "F").select($"l_orderkey")
      r.exceptAll(f)
        .groupBy($"l_orderkey").agg(count(lit(1)).as("n"))
    }),

    // Q35 — INTERSECT ALL (min-multiplicity semantics).
    "q35_intersect_all" -> ((s, dir) => {
      import s.implicits._
      val l = t(s, dir, "lineitem")
      val r = l.filter($"l_returnflag" === "R").select($"l_orderkey")
      val f = l.filter($"l_linestatus" === "F").select($"l_orderkey")
      r.intersectAll(f)
        .groupBy($"l_orderkey").agg(count(lit(1)).as("n"))
    }),

    // Q32 — window navigation: first/last/nth value over a full frame,
    // ntile, percent_rank, cume_dist.
    "q32_window_navigation" -> ((s, dir) => {
      import s.implicits._
      val full = Window.partitionBy($"o_orderstatus").orderBy($"o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val ord = Window.partitionBy($"o_orderstatus").orderBy($"o_orderkey")
      t(s, dir, "orders")
        .filter($"o_custkey" < 100)
        .select($"o_orderkey", $"o_orderstatus",
          first($"o_totalprice").over(full).as("first_price"),
          last($"o_totalprice").over(full).as("last_price"),
          nth_value($"o_totalprice", 2).over(full).as("second_price"),
          ntile(4).over(ord).cast("long").as("quartile"),
          percent_rank().over(ord).as("pct_rank"),
          cume_dist().over(ord).as("cume"))
    }),

    // Q33 — statistical aggregates from exact moments: builtin
    // stddev/corr are order-dependent double folds and can never
    // hash-match across engines; derived from decimal-exact sums they are
    // deterministic everywhere.
    "q33_moment_stats" -> ((s, dir) => {
      import s.implicits._
      val sx = sumExact($"l_quantity")
      val sxx = sumExact($"l_quantity" * $"l_quantity")
      val sy = sumExact($"l_extendedprice")
      val syy = sumExact($"l_extendedprice" * $"l_extendedprice")
      val sxy = sumExact($"l_quantity" * $"l_extendedprice")
      val n = count(lit(1)).cast("double")
      Tables.spread(t(s, dir, "lineitem"))
        .groupBy($"l_returnflag")
        .agg(
          count(lit(1)).as("cnt"),
          // rounded to 6dp: huge decimal sums (Σprice² ≈ 1e20 scaled
          // units) convert decimal→double with engine-dependent last-ulp
          // rounding; 6dp absorbs it.
          round(sx / n, 6).as("mean_qty"),
          round((sxx - sx * sx / n) / (n - 1.0), 6).as("var_qty"),
          round(sqrt((sxx - sx * sx / n) / (n - 1.0)), 6).as("stddev_qty"),
          round((sxy - sx * sy / n) / (n - 1.0), 6).as("covar_qty_price"),
          round((n * sxy - sx * sy) /
            (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
            .as("corr_qty_price"))
    }),

    // Q34 — as-of join: for each click, the user's most recent purchase
    // value at or before the click (the temporal join Spark SQL lacks,
    // composed per operators/AsOfJoin).
    "q34_asof_join" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.load(s, dir, "events")
        .filter($"event_type".isin("purchase", "click"))
      graft.operators.AsOfJoin.asOfLookup(
        e, isBuild = $"event_type" === "purchase",
        key = $"user_id", ts = $"ts", value = $"value",
        tieBreak = $"event_id")
        .select($"event_id", $"user_id", $"asof_value")
    }),

    // Q18 — grouped agg over a range non-equi self-condition: orders priced
    // above their customer's average (correlated-subquery shape, decorrelated
    // the Spark way: aggregate + re-join).
    "q18_above_avg_orders" -> ((s, dir) => {
      import s.implicits._
      val o = t(s, dir, "orders")
      val avgPer = o.groupBy($"o_custkey".as("k"))
        .agg(avgExact($"o_totalprice").as("avg_price"))
      o.join(avgPer, $"o_custkey" === $"k")
        .filter($"o_totalprice" > $"avg_price" * 1.5)
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("cnt"), sumExact($"o_totalprice").as("sum_price"))
    }))

  def oracles: Map[String, String] = Map(
    // q21's twin recomputes the exact counts; the bound booleans are TRUE
    // literals — the Spark side computed them FROM the live sketch, so a
    // spec-violating estimate cannot hash-match.
    "q21_approx_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS exact_parts,
        |  count(DISTINCT l_orderkey) AS exact_orders,
        |  TRUE AS parts_est_ok,
        |  TRUE AS orders_est_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q1_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${sumExactSql("l_quantity")} AS sum_qty,
         |  ${sumExactSql("l_extendedprice")} AS sum_base_price,
         |  ${sumExactSql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
         |  ${sumExactSql("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
         |  ${avgExactSql("l_quantity")} AS avg_qty,
         |  ${avgExactSql("l_extendedprice")} AS avg_price,
         |  ${avgExactSql("l_discount")} AS avg_disc,
         |  count(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '2000-09-02'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q2_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-04-01'
        |  AND l_quantity < 5.0""".stripMargin,
    "q3_segment_revenue" ->
      s"""SELECT c_mktsegment,
         |  ${sumExactSql("l_extendedprice * (1 - l_discount)")} AS revenue,
         |  count(*) AS cnt
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment""".stripMargin,
    "q4_supplier_by_region" ->
      s"""SELECT r_name, count(*) AS cnt, ${avgExactSql("s_acctbal")} AS avg_bal
         |FROM supplier
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name""".stripMargin,
    "q5_semi_join" ->
      """SELECT c_mktsegment, count(*) AS cnt
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
        |GROUP BY c_mktsegment""".stripMargin,
    "q6_anti_join" ->
      s"""SELECT c_nationkey, count(*) AS cnt, ${sumExactSql("c_acctbal")} AS sum_bal
         |FROM customer
         |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
         |                  AND o_orderdate >= TIMESTAMP '2001-01-01')
         |GROUP BY c_nationkey""".stripMargin,
    "q7_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC
        |LIMIT 10""".stripMargin,
    "q8_rank_per_brand" ->
      """SELECT p_brand, p_partkey, p_retailprice, rn FROM (
        |  SELECT p_brand, p_partkey, p_retailprice,
        |    row_number() OVER (PARTITION BY p_brand
        |      ORDER BY p_retailprice DESC, p_partkey ASC) AS rn
        |  FROM part) x
        |WHERE rn <= 3""".stripMargin,
    "q9_running_sum" -> {
      val w = "(PARTITION BY o_custkey ORDER BY o_orderdate ASC," +
        " o_orderkey ASC ROWS UNBOUNDED PRECEDING)"
      s"""SELECT o_custkey, o_orderkey, o_totalprice,
         |  ${sumExactOverSql("o_totalprice", w)} AS running_spend,
         |  lag(o_totalprice, 1) OVER (PARTITION BY o_custkey
         |    ORDER BY o_orderdate ASC, o_orderkey ASC) AS prev_price
         |FROM orders WHERE o_custkey < 50""".stripMargin
    },
    "q10_rollup" ->
      s"""SELECT n_name, c_mktsegment, count(*) AS cnt,
         |  ${sumExactSql("c_acctbal")} AS sum_bal
         |FROM customer JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY ROLLUP(n_name, c_mktsegment)""".stripMargin,
    "q11_cube" ->
      s"""SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
         |  ${sumExactSql("o_totalprice")} AS sum_price
         |FROM orders
         |GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin,
    "q12_set_ops" ->
      """SELECT custkey FROM (
        |  (SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
        |   INTERSECT
        |   SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 250000.0)
        |  EXCEPT
        |  SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0.0
        |) a
        |UNION
        |SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 9900.0""".stripMargin,
    "q13_distinct_agg" ->
      """SELECT n_name, count(DISTINCT c_mktsegment) AS n_segments,
        |  count(DISTINCT c_custkey) AS n_cust, count(*) AS cnt
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,
    "q14_string_funcs" ->
      """SELECT p_partkey,
        |  upper(p_name) AS up_name,
        |  lower(p_type) AS lo_type,
        |  CAST(length(p_name) AS BIGINT) AS name_len,
        |  substr(p_type, 1, 5) AS type5,
        |  p_brand || '#' || p_type AS brand_type,
        |  regexp_replace(p_name, 'a', '@', 'g') AS name_at,
        |  reverse(p_brand) AS rev_brand,
        |  CAST(ascii(p_name) AS BIGINT) AS first_ascii
        |FROM part""".stripMargin,
    "q15_date_math_funcs" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(month(o_orderdate) AS BIGINT) AS mo,
        |  CAST(day(o_orderdate) AS BIGINT) AS dom,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
        |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
        |  floor(o_totalprice) AS price_floor,
        |  ceil(o_totalprice) AS price_ceil,
        |  o_orderkey % 7 AS key_mod,
        |  sqrt(o_totalprice) AS price_sqrt,
        |  abs(o_totalprice - 100000.0) AS price_absdiff
        |FROM orders""".stripMargin,
    "q16_conditional_agg" ->
      s"""SELECT o_orderpriority, count(*) AS cnt,
         |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
         |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_done,
         |  ${sumExactSql("CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0.0 END")} AS open_value,
         |  COALESCE(max(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), CAST(0 AS DOUBLE)) AS max_done
         |FROM orders
         |GROUP BY o_orderpriority""".stripMargin,
    "q17_local_supplier_revenue" ->
      s"""SELECT n_name,
         |  ${sumExactSql("l_extendedprice * (1 - l_discount)")} AS revenue,
         |  count(*) AS cnt
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
         |GROUP BY n_name""".stripMargin,
    "q19_stream_static_enrich" ->
      s"""SELECT n_name, count(*) AS cnt, ${sumExactSql("value")} AS sum_value
         |FROM events JOIN nation ON user_id % 25 = n_nationkey
         |GROUP BY n_name""".stripMargin,
    "q20_scalar_pack2" ->
      """SELECT o_orderkey,
        |  trim('  ' || o_orderpriority || '  ') AS prio_trim,
        |  lpad(o_orderstatus, 5, '*') AS status_lpad,
        |  rpad(o_orderstatus, 5, '#') AS status_rpad,
        |  split_part(o_orderpriority, '-', 1) AS prio_code,
        |  greatest(o_totalprice, CAST(100000.0 AS DOUBLE)) AS price_floor100k,
        |  least(o_totalprice, CAST(100000.0 AS DOUBLE)) AS price_cap100k,
        |  o_orderdate + INTERVAL 30 DAY AS ship_by,
        |  CAST(date_diff('day', o_orderdate, TIMESTAMP '2002-01-01') AS BIGINT) AS days_to_2002,
        |  last_day(o_orderdate) AS month_end,
        |  CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
        |FROM orders""".stripMargin,
    "q22_asof_prev_event" ->
      """SELECT event_id, user_id, value,
        |  lag(value, 1) OVER w AS prev_value,
        |  epoch_us(ts) - lag(epoch_us(ts), 1) OVER w AS gap_us
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)""".stripMargin,
    "q23_pivot" ->
      """SELECT o_orderpriority,
        |  CAST(count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS n_open,
        |  CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS n_finished,
        |  CAST(count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS n_pending
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "q24_explode_topk" ->
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(regexp_extract_all(text, '\S+')) AS token
        |  FROM documents) t
        |GROUP BY token
        |ORDER BY n DESC, token ASC
        |LIMIT 20""".stripMargin,
    "q25_percentiles" ->
      """SELECT o_orderpriority,
        |  quantile_cont(o_totalprice, 0.5) AS median_price,
        |  quantile_cont(o_totalprice, 0.9) AS p90_price,
        |  arg_max(o_orderkey, o_totalprice * 1e6 + CAST(o_orderkey AS DOUBLE)) AS top_order,
        |  arg_min(o_orderkey, o_totalprice * 1e6 + CAST(o_orderkey AS DOUBLE)) AS bottom_order
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "q26_salted_join" ->
      s"""SELECT o_orderpriority, count(*) AS cnt,
         |  ${sumExactSql("l_extendedprice")} AS sum_price
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderpriority""".stripMargin,
    "q27_string_pack3" ->
      """SELECT p_partkey,
        |  translate(p_name, 'aeiou', 'AEIOU') AS vowel_up,
        |  repeat(p_brand, 2) AS brand_x2,
        |  CAST(strpos(p_name, 'al') AS BIGINT) AS al_pos,
        |  left(p_name, 6) AS name6,
        |  right(p_type, 4) AS type_tail,
        |  contains(p_name, 'al') AS has_al,
        |  starts_with(p_type, 'STANDARD') AS is_standard,
        |  ends_with(p_type, 'TIN') AS is_tin,
        |  regexp_extract(p_name, '[0-9]+') AS first_num
        |FROM part""".stripMargin,
    "q28_range_join" ->
      """SELECT a.user_id, count(*) AS pair_cnt,
        |  max(epoch_us(b.ts) - epoch_us(a.ts)) AS max_gap_us
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND epoch_us(b.ts) > epoch_us(a.ts)
        | AND epoch_us(b.ts) <= epoch_us(a.ts) + 60000000
        |GROUP BY a.user_id""".stripMargin,
    "q29_array_agg" ->
      """SELECT n_name,
        |  array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',')
        |    AS segments_csv,
        |  count(*) AS cnt
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,
    "q30_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |  count(1) AS cnt
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin,
    "q31_multiset_ops" ->
      """SELECT l_orderkey, count(*) AS n FROM (
        |  SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
        |  EXCEPT ALL
        |  SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'F'
        |) t GROUP BY l_orderkey""".stripMargin,
    "q35_intersect_all" ->
      """SELECT l_orderkey, count(*) AS n FROM (
        |  SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
        |  INTERSECT ALL
        |  SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'F'
        |) t GROUP BY l_orderkey""".stripMargin,
    "q32_window_navigation" ->
      """SELECT o_orderkey, o_orderstatus,
        |  first_value(o_totalprice) OVER w AS first_price,
        |  last_value(o_totalprice) OVER w AS last_price,
        |  nth_value(o_totalprice, 2) OVER w AS second_price,
        |  CAST(ntile(4) OVER o AS BIGINT) AS quartile,
        |  percent_rank() OVER o AS pct_rank,
        |  cume_dist() OVER o AS cume
        |FROM orders WHERE o_custkey < 100
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
        |       o AS (PARTITION BY o_orderstatus ORDER BY o_orderkey)""".stripMargin,
    "q33_moment_stats" -> {
      val sx = sumExactSql("l_quantity")
      val sxx = sumExactSql("l_quantity * l_quantity")
      val sy = sumExactSql("l_extendedprice")
      val syy = sumExactSql("l_extendedprice * l_extendedprice")
      val sxy = sumExactSql("l_quantity * l_extendedprice")
      val n = "CAST(count(*) AS DOUBLE)"
      s"""SELECT l_returnflag, count(*) AS cnt,
         |  round($sx / $n, 6) AS mean_qty,
         |  round(($sxx - $sx * $sx / $n) / ($n - 1.0), 6) AS var_qty,
         |  round(sqrt(($sxx - $sx * $sx / $n) / ($n - 1.0)), 6) AS stddev_qty,
         |  round(($sxy - $sx * $sy / $n) / ($n - 1.0), 6) AS covar_qty_price,
         |  round(($n * $sxy - $sx * $sy) /
         |    (sqrt($n * $sxx - $sx * $sx) * sqrt($n * $syy - $sy * $sy)), 6)
         |    AS corr_qty_price
         |FROM lineitem GROUP BY l_returnflag""".stripMargin
    },
    "q34_asof_join" ->
      """SELECT event_id, user_id, asof_value FROM (
        |  SELECT event_id, user_id,
        |    CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS tag,
        |    last_value(CASE WHEN event_type = 'purchase' THEN value END
        |               IGNORE NULLS)
        |      OVER (PARTITION BY user_id
        |            ORDER BY ts ASC,
        |              CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END ASC,
        |              event_id ASC
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS asof_value
        |  FROM events WHERE event_type IN ('purchase', 'click')
        |) x WHERE tag = 1""".stripMargin,
    "q18_above_avg_orders" ->
      s"""WITH avg_per AS (
         |  SELECT o_custkey AS k, ${avgExactSql("o_totalprice")} AS avg_price
         |  FROM orders GROUP BY o_custkey
         |)
         |SELECT o_orderstatus, count(*) AS cnt,
         |  ${sumExactSql("o_totalprice")} AS sum_price
         |FROM orders JOIN avg_per ON o_custkey = k
         |WHERE o_totalprice > avg_price * 1.5
         |GROUP BY o_orderstatus""".stripMargin)
}
