package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.ExactNum._
import graft.functions.TextFunctions

/** Round-2 relational surface extensions: SQL subqueries (EXISTS /
  * scalar), lateral generators with position, time-series gap-fill,
  * union-by-name, RANGE window frames, bitwise functions, regexp pack,
  * and map-typed column functions. Each DuckDB-oracled.
  */
object ExtendedQueries extends QueryPack {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Q36 — correlated EXISTS subquery (exercises Spark's subquery
    // decorrelation: planned as a left-semi join, same as the oracle).
    "q36_exists_subquery" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer")
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(
        """SELECT c_custkey, c_name, c_mktsegment
          |FROM customer c
          |WHERE EXISTS (SELECT 1 FROM orders o
          |              WHERE o.o_custkey = c.c_custkey
          |                AND o.o_totalprice > 300000)""".stripMargin)
    }),

    // Q37 — scalar subquery (global exact average referenced per row).
    "q37_scalar_subquery" -> ((s, dir) => {
      t(s, dir, "part").createOrReplaceTempView("part")
      s.sql(
        s"""SELECT p_partkey, p_retailprice,
           |  p_retailprice - (SELECT ${sumExactSql("p_retailprice")}
           |                     / count(p_retailprice) FROM part) AS diff_avg
           |FROM part
           |WHERE p_retailprice > (SELECT ${sumExactSql("p_retailprice")}
           |                         / count(p_retailprice) FROM part)""".stripMargin)
    }),

    // Q38 — lateral generator with ordinal position (posexplode): first
    // three tokens of every document.
    "q38_lateral_posexplode" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select($"doc_id",
          posexplode(TextFunctions.tokens($"text")).as(Seq("pos", "token")))
        .filter($"pos" < 3)
        .select($"doc_id", $"pos".cast("long").as("pos"), $"token")
    }),

    // Q39 — time-series gap-fill / resample: hourly event counts with
    // missing hours zero-filled via sequence+explode (the distributed
    // equivalent of generate_series; the spine is derived from a global
    // min/max agg — one tiny row — and the join is broadcast).
    "q39_gap_fill" -> ((s, dir) => {
      import s.implicits._
      val hr = floor(unix_millis($"ts") / 3600000L).cast("long")
      val b = t(s, dir, "events").groupBy(hr.as("hr"))
        .agg(count(lit(1)).as("cnt"), sumExact($"value").as("sum_value"))
      val spine = b.agg(min($"hr").as("mn"), max($"hr").as("mx"))
        .select(explode(sequence($"mn", $"mx")).as("hr"))
      spine.join(b, Seq("hr"), "left")
        .select($"hr", coalesce($"cnt", lit(0L)).as("cnt"),
          coalesce($"sum_value", lit(0.0)).as("sum_value"))
    }),

    // Q40 — unionByName with missing-column fill across heterogenous
    // projections (schema evolution surface).
    "q40_union_by_name" -> ((s, dir) => {
      import s.implicits._
      val a = t(s, dir, "part")
        .select($"p_partkey".as("id"), $"p_retailprice".as("price"))
      val b = t(s, dir, "orders")
        .select($"o_orderkey".as("id"), $"o_orderpriority".as("prio"))
      a.unionByName(b, allowMissingColumns = true)
    }),

    // Q41 — RANGE window frame: per customer, trailing-30-day order count
    // and exact revenue sum (value-based frame, not row-based).
    "q41_range_frame" -> ((s, dir) => {
      import s.implicits._
      // cast first: parquet naive timestamps may infer as TIMESTAMP_NTZ
      // (session-config-dependent); under the UTC session the cast is
      // epoch-identical to DuckDB's epoch_ms on the same naive values.
      val day = floor(unix_millis($"o_orderdate".cast("timestamp")) / 86400000L)
        .cast("long")
      val w = Window.partitionBy($"o_custkey").orderBy($"day")
        .rangeBetween(-30, Window.currentRow)
      t(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey", day.as("day"), $"o_totalprice")
        .withColumn("cnt_30d", count(lit(1)).over(w))
        .withColumn("sum_30d", sumExactOver($"o_totalprice", w))
        .select($"o_orderkey", $"o_custkey", $"day", $"cnt_30d", $"sum_30d")
    }),

    // Q42 — bitwise function pack over integer keys.
    "q42_bitwise_pack" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "part").select(
        $"p_partkey",
        $"p_partkey".bitwiseAND(lit(255L)).as("and255"),
        $"p_partkey".bitwiseOR(lit(4096L)).as("or4096"),
        $"p_partkey".bitwiseXOR(lit(93L)).as("xor93"),
        shiftleft($"p_partkey", 2).as("shl2"),
        shiftright($"p_partkey", 3).as("shr3"),
        bit_count($"p_partkey").as("bits"))
    }),

    // Q43 — regexp pack: replace-all, group extraction, rlike, split+index.
    "q43_regexp_pack" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "part").select(
        $"p_partkey",
        regexp_replace($"p_name", "[aeiou]", "*").as("devoweled"),
        regexp_extract($"p_name", "([a-z]+)#([0-9]+)", 2).as("num_part"),
        $"p_name".rlike("#[0-9]{2}").as("has_2digit"),
        split($"p_type", " ").getItem(0).as("type_head"))
    }),

    // Q46 — listagg / string_agg: ordered string aggregation (Spark 4's
    // WITHIN GROUP surface; deterministic via explicit ordering).
    "q46_listagg" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer")
      s.sql(
        """SELECT c_mktsegment,
          |  listagg(DISTINCT cast(c_nationkey AS string), ',')
          |    WITHIN GROUP (ORDER BY cast(c_nationkey AS string)) AS nations,
          |  count(1) AS cnt
          |FROM customer GROUP BY c_mktsegment""".stripMargin)
    }),

    // Q47 — array + higher-order function pack: distinct/sort, slice,
    // lambda filter, size predicate, lambda aggregate (sum of lengths).
    // Array results CSV-packed for the scalar-cell oracle compare.
    "q47_array_hof_pack" -> ((s, dir) => {
      import s.implicits._
      val words = regexp_extract_all($"p_name", lit("[a-z]+"), lit(0))
      t(s, dir, "part").select(
        $"p_partkey",
        concat_ws(",", sort_array(array_distinct(words))).as("words"),
        concat_ws(",", slice(words, 1, 2)).as("first2"),
        concat_ws(",", filter(words, w => length(w) > 4)).as("longw"),
        (size(words) >= 2).as("has2"),
        aggregate(transform(words, w => length(w)), lit(0),
          (acc, x) => acc + x).cast("long").as("total_len"))
    }),

    // Q45 — approx_percentile (GK sketch): the bounded-memory quantile
    // path for 100 TB (exact percentile needs a full sort/buffer; the
    // sketch is mergeable across partitions). GK's internal picks are
    // engine-specific, so the DRIVER-CHECKED result carries (a) the exact
    // discrete quantiles (index ⌈p·n⌉−1 of the sorted column — DuckDB's
    // quantile_disc selection rule, hash-compared cell-identical) and
    // (b) the sketch's error contract folded in as booleans
    // (|est − exact|/exact ≤ 0.05; measured slack ~3e-4, so the boolean
    // is stable across partition-order merge variation). The sketch is
    // still computed and timed in-query; raw-estimate accuracy is
    // additionally asserted in RelationalSpec.
    "q45_approx_percentile" -> ((s, dir) => {
      import s.implicits._
      // exact discrete quantiles via the q66/q81 histogram-cumulative
      // extraction, NOT a per-group row sort (a row_number partitioned
      // by the 3-value flag sorts the corpus on 3 cores — measured
      // slope ~8 when this key first shipped that way): the corpus
      // aggregates once to (flag, price, count) and every window runs
      // over DISTINCT values. disc(p) = min v with cum(v) ≥ ⌈p·n⌉ —
      // identical to sorted index ⌈p·n⌉−1, DuckDB's quantile_disc rule.
      val base = t(s, dir, "lineitem")
        .select($"l_returnflag", $"l_extendedprice")
      // r16: the exact twin formerly ran both its windows partitioned
      // by the 3-value flag alone — the whole distinct-price histogram
      // through 3 tasks (the single-task trap this file documents
      // elsewhere; at sf0.1 those two window legs were ~1.1 s of the
      // key's 1.47 s). It now rides BucketedCdf's probe-bucketed
      // partitioned windows like q66/q81/pl17, with n read off the
      // bucket-ends table. cum and n are byte-identical, disc()
      // unchanged.
      val hist45 = base
        .groupBy($"l_returnflag".as("g"), $"l_extendedprice".as("v"))
        .agg(count(lit(1)).as("c"))
      // NOT rank-restricted (r16, measured): withCumAtRanks on the
      // exact twin was flat-to-worse here (run-2 1.3 → 1.4 s at sf0.1,
      // no sf1.0 win) — the GK sketch leg dominates this key and the
      // restriction's extra plan depth only adds driver planning time.
      val (cum450, hck45, ends45) = graft.operators.BucketedCdf
        .withCumEnds(hist45, Seq("g"), "v", "c")
      val ng45 = ends45.groupBy($"g").agg(max($"bend").as("n"))
      val cum45 = cum450.join(broadcast(ng45), "g")
      def disc(p: Double): org.apache.spark.sql.Column =
        min(when($"cum" >=
            ceil(lit(p) * $"n".cast("double")).cast("long"),
          $"v".cast("double")))
      val exact = cum45.groupBy($"g".as("l_returnflag"))
        .agg(disc(0.25).as("p25_exact"), disc(0.5).as("p50_exact"),
          disc(0.75).as("p75_exact"))
      // the GK sketch itself still runs over the RAW corpus rows — it is
      // the timed operator; the exact twin above is the audit
      val sk = base.groupBy($"l_returnflag")
        .agg(
          approx_percentile($"l_extendedprice", lit(0.25), lit(10000)).as("_a25"),
          approx_percentile($"l_extendedprice", lit(0.5), lit(10000)).as("_a50"),
          approx_percentile($"l_extendedprice", lit(0.75), lit(10000)).as("_a75"),
          count(lit(1)).as("cnt"))
      def estOk(est: org.apache.spark.sql.Column,
                exact: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        abs(est.cast("double") - exact) / exact <= 0.05
      val res45 = exact.join(sk, "l_returnflag")
        .select($"l_returnflag", $"cnt",
          $"p25_exact", $"p50_exact", $"p75_exact",
          estOk($"_a25", $"p25_exact").as("p25_ok"),
          estOk($"_a50", $"p50_exact").as("p50_ok"),
          estOk($"_a75", $"p75_exact").as("p75_ok"))
      // tie the helper's persists to the returned frame (ADVICE r13)
      graft.core.ManagedPersist.extendHandles(hck45, res45)
      res45
    }),

    // Q48 — unpivot (melt): wide per-status counts back to long form —
    // the schema-reshape surface (inverse of q23's pivot).
    "q48_unpivot" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .groupBy($"o_orderpriority")
        .agg(
          sum(when($"o_orderstatus" === "O", 1L).otherwise(0L)).as("open_cnt"),
          sum(when($"o_orderstatus" === "F", 1L).otherwise(0L)).as("done_cnt"),
          sum(when($"o_orderstatus" === "P", 1L).otherwise(0L)).as("part_cnt"))
        .unpivot(Array($"o_orderpriority"),
          Array($"open_cnt", $"done_cnt", $"part_cnt"), "status", "cnt")
    }),

    // Q49 — date/time formatting pack (formatter-locale-independent
    // patterns only; both engines emit identical strings under UTC).
    "q49_date_format" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events").select(
        $"event_id",
        date_format($"ts", "yyyy-MM-dd").as("d"),
        date_format($"ts", "HH:mm:ss").as("t"),
        date_format($"ts", "DDD").as("doy"),
        year($"ts").cast("long").as("yr"),
        quarter($"ts").cast("long").as("qtr"),
        weekofyear($"ts").cast("long").as("iso_week"))
    }),

    // Q51 — centered moving average (ROWS frame): 5-row window around
    // each order per customer, decimal-exact sum / frame count.
    "q51_moving_avg" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_orderkey")
        .rowsBetween(-2, 2)
      t(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        .withColumn("mov_avg",
          sumExactOver($"o_totalprice", w) / count(lit(1)).over(w))
    }),

    // Q52 — ratio-to-report: each order's share of its customer's total
    // (whole-partition window aggregate feeding a per-row ratio).
    "q52_ratio_to_report" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey")
      t(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        .withColumn("share",
          $"o_totalprice" / sumExactOver($"o_totalprice", w))
    }),

    // Q53 — fuzzy string matching by edit distance: blocked self-join
    // (brand+container+size equality keeps it far from O(N²) — the same
    // blocking discipline as the shingle dedup), then levenshtein on the
    // candidate pairs. The edit-distance flavor of near-dup detection,
    // for short strings where shingling is too coarse.
    "q53_edit_distance" -> ((s, dir) => {
      import s.implicits._
      val p = t(s, dir, "part")
        .select($"p_partkey", $"p_brand", $"p_size", $"p_name")
      p.as("a").join(p.as("b"),
          col("a.p_brand") === col("b.p_brand") &&
            col("a.p_size") === col("b.p_size") &&
            col("a.p_partkey") < col("b.p_partkey"))
        .withColumn("edit_dist",
          levenshtein(col("a.p_name"), col("b.p_name")).cast("long"))
        .filter($"edit_dist" <= 12)
        .select(col("a.p_partkey").as("key_a"), col("b.p_partkey").as("key_b"),
          col("a.p_name").as("name_a"), col("b.p_name").as("name_b"),
          $"edit_dist")
    }),

    // Q54 — boolean/bitwise aggregate pack: every/some + bit_and/or/xor
    // — all associative, so map-side partial aggregation is free.
    "q54_bool_bit_agg" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .groupBy($"o_orderpriority")
        .agg(
          bool_and($"o_totalprice" > 1000.0).as("all_over_1k"),
          bool_or($"o_totalprice" > 400000.0).as("any_over_400k"),
          bit_and($"o_orderkey".cast("long") % 1024L + 7L).as("band"),
          bit_or($"o_custkey".cast("long") % 256L).as("bor"),
          bit_xor($"o_orderkey".cast("long")).as("bxor"),
          count(lit(1)).as("cnt"))
    }),

    // Q78 — window DISTRIBUTION functions (ntile / percent_rank /
    // cume_dist): per-entity quantile bucketing over each customer's
    // order history. Partitioned by customer — millions of small
    // independent partitions at 100 TB, so the per-partition sort never
    // degenerates into a global one. The ORDER BY is made unique with
    // the order key: ntile assigns by ROW position, and an
    // engine-defined tie order would break the cross-engine hash.
    // percent_rank/cume_dist are single correctly-rounded divisions of
    // exactly-representable integers — bit-portable with no
    // quantization step.
    "q78_window_distribution" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_totalprice".asc, $"o_orderkey".asc)
      t(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .withColumn("pct_rank", percent_rank().over(w))
        .withColumn("cdist", cume_dist().over(w))
    }),

    // Q79 — referential-integrity audit: every FK edge of the schema
    // checked in one result (child rows, distinct FK values, orphan rows
    // / keys), with each table scanned ONCE: a table's FK columns
    // unpivot in-row to (fk-edge, key) rows (lineitem's three edges ride
    // one scan; the fact is never re-read per edge), one hash agg
    // produces the per-edge distinct key sets, and ONE composite-key
    // LEFT ANTI join against the union of parent key sets finds every
    // orphan — at 100 TB the fact scan is the cost, and it is paid once
    // instead of once per edge. The key frame is persisted (edge-tagged
    // distinct keys ≪ fact rows) because totals and orphans both
    // consume it. The `[degraded]` twin re-runs the orders→customer
    // edge against a parent with every 10th key dropped (a simulated
    // lost partition): the audit must DETECT breakage, not just confirm
    // intact fixtures.
    "q79_fk_audit" -> ((s, dir) => {
      import s.implicits._
      def keyed(df: DataFrame, edges: (String, String)*): DataFrame =
        df.select(explode(array(edges.map { case (n, c) =>
            struct(lit(n).as("fk"), col(c).cast("long").as("k")) }: _*))
          .as("e"))
          .select($"e.fk".as("fk"), $"e.k".as("k"))
      val cust = t(s, dir, "customer")
      val childKeys = keyed(t(s, dir, "lineitem"),
          ("lineitem.orderkey->orders", "l_orderkey"),
          ("lineitem.partkey->part", "l_partkey"),
          ("lineitem.suppkey->supplier", "l_suppkey"))
        .unionAll(keyed(t(s, dir, "orders"),
          ("orders.custkey->customer", "o_custkey"),
          ("orders.custkey->customer[degraded]", "o_custkey")))
        .unionAll(keyed(cust,
          ("customer.nationkey->nation", "c_nationkey")))
        .unionAll(keyed(t(s, dir, "supplier"),
          ("supplier.nationkey->nation", "s_nationkey")))
        .groupBy($"fk", $"k")
        .agg(count(lit(1)).as("rows_per_key"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val parents = keyed(t(s, dir, "nation"),
          ("customer.nationkey->nation", "n_nationkey"),
          ("supplier.nationkey->nation", "n_nationkey"))
        .unionAll(keyed(t(s, dir, "orders"),
          ("lineitem.orderkey->orders", "o_orderkey")))
        .unionAll(keyed(t(s, dir, "part"),
          ("lineitem.partkey->part", "p_partkey")))
        .unionAll(keyed(t(s, dir, "supplier"),
          ("lineitem.suppkey->supplier", "s_suppkey")))
        .unionAll(keyed(cust,
          ("orders.custkey->customer", "c_custkey")))
        .unionAll(keyed(cust.filter($"c_custkey" % 10 =!= 0),
          ("orders.custkey->customer[degraded]", "c_custkey")))
      val totals = childKeys.groupBy($"fk")
        .agg(sum($"rows_per_key").as("n_child_rows"),
          count(lit(1)).as("n_keys"))
      val orphans = childKeys
        .join(parents, Seq("fk", "k"), "left_anti")
        .groupBy($"fk")
        .agg(count(lit(1)).as("n_orphan_keys"),
          sum($"rows_per_key").as("n_orphan_rows"))
      totals.join(orphans, Seq("fk"), "left")
        .select($"fk", $"n_child_rows", $"n_keys",
          coalesce($"n_orphan_keys", lit(0L)).as("n_orphan_keys"),
          coalesce($"n_orphan_rows", lit(0L)).as("n_orphan_rows"))
    }),

    // Q55 — deterministic mode (most frequent value) per group: count +
    // one ranking window with an explicit value tie-break. The built-in
    // mode() leaves ties engine-defined, so cross-engine parity requires
    // spelling the tie-break out — which also makes it portable SQL.
    "q55_mode_per_group" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"o_orderpriority")
        .orderBy($"cnt".desc, $"o_orderstatus".asc)
      t(s, dir, "orders")
        .groupBy($"o_orderpriority", $"o_orderstatus")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"o_orderpriority", $"o_orderstatus".as("mode_status"),
          $"cnt".as("mode_cnt"))
    }),

    // Q58 — array navigation pack: split_part, 1-based position lookup,
    // negative indexing (last element), reversal. Complements q47's HOF
    // pack with the positional-access surface. Probes chosen against the
    // FIXTURE's vocabulary so both branches of each function actually
    // fire: p_name is two words ("red widget"), so split_part hits a real
    // second part, and 'widget' is present in ~13% of names (position 2)
    // and absent elsewhere (0) — found and not-found paths both covered.
    // try_element_at / COALESCE guards: an empty match list must yield
    // NULL/'' on BOTH engines, not an ANSI INVALID_ARRAY_INDEX crash.
    "q58_array_nav_pack" -> ((s, dir) => {
      import s.implicits._
      val words = regexp_extract_all($"p_name", lit("[a-z]+"), lit(0))
      t(s, dir, "part").select(
        $"p_partkey",
        split_part($"p_name", lit(" "), lit(2)).as("name_second"),
        array_position(words, "widget").as("widget_pos"),
        try_element_at(words, lit(-1)).as("last_word"),
        concat_ws("-", reverse(words)).as("rev_words"),
        size(words).cast("long").as("n_words"))
    }),

    // Q57 — grouping flags on a cube: grouping(col) per column
    // disambiguates "NULL because subtotal" from "NULL in the data" —
    // per-column flags rather than grouping_id() because the packed id's
    // bit order is engine-defined while GROUPING(col) is standard.
    "q57_grouping_flags" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .cube($"o_orderstatus", $"o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          grouping($"o_orderstatus").cast("long").as("g_status"),
          grouping($"o_orderpriority").cast("long").as("g_prio"))
    }),

    // Q56 — IGNORE NULLS window navigation: last/first non-null over a
    // sparse column (gap-carry-forward — the standard sensor/SCD fill),
    // plus lag/lead with explicit defaults.
    "q56_ignore_nulls_window" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_orderkey")
      val runUpTo = w.rowsBetween(Window.unboundedPreceding, 0)
      val sparse = when($"o_orderkey" % 7 === 0, $"o_totalprice")
      t(s, dir, "orders")
        .filter($"o_custkey" < 200)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        .withColumn("carry_fwd",
          last(sparse, ignoreNulls = true).over(runUpTo))
        .withColumn("first_seen",
          first(sparse, ignoreNulls = true).over(runUpTo))
        .withColumn("lag2_dflt", lag($"o_totalprice", 2, -1.0).over(w))
        .withColumn("lead1_dflt", lead($"o_totalprice", 1, 0.0).over(w))
    }),

    // Q50 — error-safe functions under ANSI mode (Spark 4 default):
    // try_divide/try_cast/try_element_at return NULL where strict ANSI
    // evaluation would fail the job — the contract batch pipelines need
    // on dirty data at scale.
    "q50_try_funcs" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "part").select(
        $"p_partkey",
        try_divide($"p_retailprice", ($"p_size" - $"p_size").cast("double"))
          .as("div0"),
        expr("try_cast(p_name AS INT)").as("bad_int"),
        expr("try_cast(regexp_extract(p_name, '[0-9]+', 0) AS BIGINT)")
          .as("num_ok"),
        try_element_at(split($"p_type", " "), lit(99)).as("oob"))
    }),

    // Q44 — map-typed column functions: JSON props → map, key extraction,
    // cardinality, ordered key list (CSV-packed for the oracle).
    "q44_map_funcs" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .withColumn("mp", from_json($"props", lit("map<string,string>")))
        .select($"event_id",
          size($"mp").cast("long").as("n_keys"),
          element_at($"mp", "k").as("k_value"),
          array_join(map_keys($"mp"), ",").as("keys_csv"))
    }),

    // Q59 — recursive CTE (Spark 4's WITH RECURSIVE → UnionLoop):
    // hierarchy walk over the implicit binary tree custkey → ⌊custkey/2⌋,
    // counting nodes per depth. Each recursion level is ONE distributed
    // hash join of the (shrinking) frontier against customer — levels =
    // O(log N), so 100 TB adds ~10 more iterations, not more data per
    // iteration; the frontier join key is the same ⌊key/2⌋ expression on
    // both sides, so at real scale the customer side would be bucketed on
    // it once and every level reuses the layout.
    "q59_recursive_tree" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer_rec")
      s.sql(
        """WITH RECURSIVE tree(custkey, depth) AS (
          |  SELECT c_custkey, CAST(0 AS BIGINT) FROM customer_rec
          |  WHERE c_custkey = 1
          |  UNION ALL
          |  SELECT c.c_custkey, t.depth + 1
          |  FROM customer_rec c JOIN tree t
          |    ON CAST(floor(c.c_custkey / 2) AS BIGINT) = t.custkey
          |  WHERE c.c_custkey > 1
          |)
          |SELECT depth, count(*) AS n_cust,
          |  min(custkey) AS min_key, max(custkey) AS max_key
          |FROM tree GROUP BY depth""".stripMargin)
    }),

    // Q60 — Bloom-filter semi-join reduction (see operators.BloomJoin):
    // the BUILDING-segment customer keys collapse to an 8192-bit mask;
    // orders are pruned by the mask BEFORE the join, and the output keeps
    // bloom positives and true matches side by side so the filter's exact
    // false-positive set is part of what the oracle hash-checks.
    "q60_bloom_semijoin" -> ((s, dir) => {
      import s.implicits._
      import graft.operators.BloomJoin
      val cust = t(s, dir, "customer")
        .filter($"c_mktsegment" === "BUILDING")
        .select($"c_custkey".cast("string").as("bkey"))
      val mask = BloomJoin.buildMask(cust, $"bkey", BloomM, BloomK)
      val orders = t(s, dir, "orders")
        .filter(BloomJoin.mightContain(
          mask, $"o_custkey".cast("string"), BloomM, BloomK))
      orders.join(broadcast(cust),
          orders("o_custkey").cast("string") === cust("bkey"), "left")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_bloom_pass"),
          count($"bkey").as("n_true"),
          sumExact(when($"bkey".isNotNull, $"o_totalprice"))
            .as("true_revenue"))
    }),

    // Q61 — KMV distinct-count sketch (see operators.Sketches.kmvDistinct):
    // the fully hash-checkable counterpart to q21's HLL. Two regimes in
    // one output: partkey groups exceed k=64 (estimator formula path),
    // linestatus groups hold under k hashes (sparse path: est == exact).
    "q61_kmv_distinct" -> ((s, dir) => {
      import s.implicits._
      import graft.operators.Sketches
      val li = t(s, dir, "lineitem")
      def side(key: org.apache.spark.sql.Column, kind: String): DataFrame =
        Sketches.kmvDistinct(li, $"l_returnflag", key, KmvK)
          .join(li.groupBy($"l_returnflag".as("grp"))
            .agg(countDistinct(key).as("exact_distinct")), Seq("grp"))
          .withColumn("key_kind", lit(kind))
      side($"l_partkey", "partkey")
        .unionByName(side($"l_linestatus", "linestatus"))
        .select($"key_kind", $"grp".as("l_returnflag"), $"n_kept",
          $"h_k", $"est_distinct", $"exact_distinct")
    }),

    // Q62 — KMV set operations (Beyer et al. 2007 §4): the part sets
    // bought by BUILDING vs MACHINERY customers, their union estimated
    // by MERGING the two k-min states (k-min of the union of states —
    // the mergeability that lets per-partition sketches combine at
    // 100 TB without revisiting data), and their intersection estimated
    // as ρ/k · est_union where ρ counts merged-state members present in
    // BOTH side states. Exact union/intersection ride along; every
    // estimate is portable-hash order statistics, hash-checked exactly.
    "q62_kmv_set_ops" -> ((s, dir) => {
      import s.implicits._
      import graft.operators.Sketches
      import org.apache.spark.sql.expressions.Window
      val li = t(s, dir, "lineitem").select($"l_orderkey", $"l_partkey")
      val ords = t(s, dir, "orders").select($"o_orderkey", $"o_custkey")
      val cust = t(s, dir, "customer")
        .filter($"c_mktsegment".isin("BUILDING", "MACHINERY"))
        .select($"c_custkey", $"c_mktsegment".as("side"))
      // ONE pass builds the distinct (side, pk) base — part-dimension-
      // sized — off the fact join; both the sketch states and the exact
      // counts read it, so the 3-way join never executes twice
      val sides = li.join(ords, $"l_orderkey" === $"o_orderkey")
        .join(broadcast(cust), $"o_custkey" === $"c_custkey")
        .select($"side", $"l_partkey".as("pk"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val kept = Sketches.kMinHashes(sides, $"side", $"pk", KmvK)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val perSide = Sketches.kmvEstimate(kept, KmvK).groupBy().agg(
        max(when($"grp" === "BUILDING", $"est_distinct"))
          .as("est_building"),
        max(when($"grp" === "MACHINERY", $"est_distinct"))
          .as("est_machinery"))
      // union sketch = k smallest of the two states' union (≤2k rows)
      val merged = kept.select($"h").distinct()
        .withColumn("rn", row_number().over(Window.orderBy($"h")))
        .filter($"rn" <= KmvK).select($"h")
      val uAgg = merged
        .agg(count(lit(1)).as("n_kept_u"), max($"h").as("h_k_u"))
        .withColumn("est_union",
          when($"n_kept_u" < KmvK, $"n_kept_u".cast("double"))
            .otherwise(lit((KmvK - 1).toDouble) *
              lit(Sketches.Pow60) / $"h_k_u".cast("double")))
      val inBoth = kept.groupBy($"h")
        .agg(countDistinct($"grp").as("ns"))
        .filter($"ns" === 2).select($"h")
      val rho = merged.join(inBoth, Seq("h"))
        .agg(count(lit(1)).as("rho"))
      val exact = sides.groupBy($"pk")
        .agg(countDistinct($"side").as("ns"))
        .agg(count(lit(1)).as("exact_union"),
          sum(when($"ns" === 2, 1L).otherwise(0L))
            .as("exact_intersection"))
      uAgg.crossJoin(broadcast(rho)).crossJoin(broadcast(exact))
        .crossJoin(broadcast(perSide))
        .withColumn("est_intersection",
          when($"n_kept_u" < KmvK, $"rho".cast("double"))
            .otherwise(($"rho".cast("double") / lit(KmvK.toDouble)) *
              $"est_union"))
        .select($"n_kept_u", $"h_k_u", $"est_union", $"rho",
          $"est_intersection", $"exact_union", $"exact_intersection",
          $"est_building", $"est_machinery")
    }),

    // Q63 — funnel / sequential event-pattern matching (the
    // MATCH_RECOGNIZE shape Spark lacks natively): per user, the first
    // view, the first click strictly AFTER it, the first purchase
    // strictly after THAT. Expressed as cascaded conditional-min
    // aggregations — every join and aggregate keys on user_id, so after
    // the first exchange the whole cascade stays co-partitioned (no
    // per-user event arrays collected; state per pass is 3 timestamps).
    "q63_funnel_stages" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events").select($"user_id", $"event_type", $"ts")
      val s1 = ev.groupBy($"user_id")
        .agg(min(when($"event_type" === "view", $"ts")).as("t_view"))
      val s2 = ev.join(s1, Seq("user_id")).groupBy($"user_id")
        .agg(max($"t_view").as("t_view"),
          min(when($"event_type" === "click" && $"ts" > $"t_view", $"ts"))
            .as("t_click"))
      val s3 = ev.join(s2, Seq("user_id")).groupBy($"user_id")
        .agg(max($"t_view").as("t_view"), max($"t_click").as("t_click"),
          min(when($"event_type" === "purchase" && $"ts" > $"t_click",
            $"ts")).as("t_purchase"))
      s3.withColumn("stage",
        when($"t_purchase".isNotNull, 3L)
          .when($"t_click".isNotNull, 2L)
          .when($"t_view".isNotNull, 1L).otherwise(0L))
    }),

    // Q65 — session path transitions: the event-type Markov matrix
    // (prev → next counts + exact gap mass) over per-user event-time
    // order, transitions cut at the 30-minute session gap (t2's
    // sessionization constant). One window keyed on user, one hash agg
    // on the 5×5 type matrix; (ts, event_id) ordering makes ties
    // deterministic in both engines.
    "q65_session_transitions" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      t(s, dir, "events")
        .select($"user_id", $"event_id", $"event_type", $"ts")
        .withColumn("prev_type", lag($"event_type", 1).over(w))
        .withColumn("gap_ms",
          unix_millis($"ts") - lag(unix_millis($"ts"), 1).over(w))
        .filter($"prev_type".isNotNull && $"gap_ms" <= 1800000L)
        .groupBy($"prev_type", $"event_type".as("next_type"))
        .agg(count(lit(1)).as("n_transitions"),
          sum($"gap_ms").as("sum_gap_ms"))
    }),

    // Q66 — exact INTERPOLATED percentiles (quantile_cont semantics,
    // complementing q25's discrete variant): rank positions from one
    // per-group sort, linear interpolation v_lo + (v_hi − v_lo)·frac
    // computed manually with the SAME double AST in both engines — no
    // reliance on either engine's internal quantile interpolation. No
    // value buffering: the window ranks, two rows per (group, p) are
    // extracted, and a 3-wide conditional agg folds them.
    "q66_percentile_interp" -> ((s, dir) => {
      import s.implicits._
      // histogram-cumulative extraction (q81's shape): the per-group ROW
      // sort ran on #groups cores (3 here); the histogram aggregates the
      // corpus once. Distinct l_extendedprice is ~60% of rows (a
      // continuous column, NOT a small domain), so the cumulative runs
      // through BucketedCdf's probe-bucketed partitioned windows — the
      // r12 rework shared with q71/q81/pl17. v_at(rank) = min v with
      // cum(v) >= rank, read for both interpolation anchors of each
      // quantile in ONE conditional agg; the fractional weight derives
      // from cnt post-agg with the oracle-shared AST.
      val hist = t(s, dir, "lineitem")
        .select($"l_returnflag".as("g"), $"l_extendedprice".as("v"))
        .groupBy($"g", $"v").agg(count(lit(1)).as("c"))
      // rank-restricted cumulative (r16, guide §2.3): the three
      // interpolated quantiles read SIX ranks per group (lo/hi anchors
      // each), so the cumulative window and the conditional agg below
      // run over only the ≤6 buckets containing them instead of the
      // whole histogram — cum on retained rows is byte-identical
      // (BucketedCdf scaladoc + spec). The rank exprs MUST mirror the
      // agg's lo/hi below; ng (per-group totals) comes off the helper's
      // offset fold (q71's nTot trick), not a histogram re-scan.
      val qs = Seq(0.25, 0.5, 0.75)
      def loOf(n: Column, p: Double) =
        floor((n - 1).cast("double") * lit(p)).cast("long") + 1
      def hiOf(n: Column, p: Double) = least(loOf(n, p) + 1, n)
      val (cum0, hck, ng) = graft.operators.BucketedCdf.withCumAtRanks(
        hist, Seq("g"), "v", "c",
        n => qs.flatMap(p => Seq(loOf(n, p), hiOf(n, p))))
      val cum = cum0.join(broadcast(ng), "g")
      val aggs = qs.zipWithIndex.flatMap { case (p, i) =>
        val lo = loOf($"n", p)
        val hi = hiOf($"n", p)
        Seq(min(when($"cum" >= lo, $"v")).as(s"lo$i"),
          min(when($"cum" >= hi, $"v")).as(s"hi$i"))
      }
      val allAggs = max($"n").as("cnt") +: aggs
      val picked = cum.groupBy($"g".as("l_returnflag"))
        .agg(allAggs.head, allAggs.tail: _*)
      def interp(i: Int, p: Double) = {
        val pos = ($"cnt" - 1).cast("double") * lit(p)
        (col(s"lo$i") + (col(s"hi$i") - col(s"lo$i")) *
          (pos - floor(pos))).as(s"p${(p * 100).toInt}")
      }
      val res = picked.select($"l_returnflag", $"cnt",
        interp(0, 0.25), interp(1, 0.5), interp(2, 0.75))
      // the returned frame embeds the helper's persisted lineage — tie
      // the persist's lifetime to it (ADVICE r13: without this, a sweep
      // between construction and execution could unpersist the histogram
      // once cum0/hck go out of scope here)
      graft.core.ManagedPersist.extendHandles(hck, res)
      res
    }),

    // Q81 — median absolute deviation (the robust dispersion measure —
    // outlier thresholds that a single corrupt value can't drag, unlike
    // stddev): two exact lower-median extractions via pl17's
    // histogram-cumulative rank read-off (median = min v with
    // cum(v) ≥ (n+1) div 2). NOT the q66 per-group row sort: with a
    // 3-value group key that sort runs on 3 of 32 cores (measured
    // slope 7.5 at the 10× probe); the histogram path aggregates the
    // corpus once. The histogram is over DISTINCT values per group —
    // which for a continuous price column is ~60% of ROWS, not a small
    // domain (the r11 "domain-bounded" claim overstated this), so both
    // cumulatives run through BucketedCdf's probe-bucketed PARTITIONED
    // windows instead of one task per 3-value group. Deviations are
    // re-histogrammed (|v − med| of VALUE rows, counts carried), never
    // re-scanned.
    "q81_mad_robust" -> ((s, dir) => {
      import s.implicits._
      val hist = t(s, dir, "lineitem")
        .select($"l_returnflag".as("g"), $"l_extendedprice".as("v"))
        .groupBy($"g", $"v").agg(count(lit(1)).as("c"))
      // dev reads the helper's persisted input histogram (released by
      // ManagedPersist.sweep once these frames are dropped); ng reads
      // the bucket-ends table — max bend per group IS the group total
      // (r16, the q71 nTot trick), replacing a full histogram re-scan.
      // NOT rank-restricted (r16, measured): q66/pl17's withCumAtRanks
      // was tried on both median passes here and REGRESSED q81 ~1 s at
      // sf0.1 and sf1.0 (run-2 1.4 → 2.3 s) — the two passes nest (the
      // deviation histogram embeds pass 1's plan via the med
      // broadcast), so the restriction subtrees multiply the logical
      // plan and the cost lands in driver planning, not execution.
      val (cumA, hck, ends) = graft.operators.BucketedCdf.withCumEnds(
        hist, Seq("g"), "v", "c")
      val ng = ends.groupBy($"g").agg(max($"bend").as("n"))
      val med = cumA
        .join(broadcast(ng), "g")
        .filter($"cum" >= expr("(n + 1) div 2"))
        .groupBy($"g").agg(min($"v").as("median"), max($"n").as("n"))
      val dev = hck.join(broadcast(med), "g")
        .select($"g", $"n", $"median", abs($"v" - $"median").as("d"), $"c")
        .groupBy($"g", $"n", $"median", $"d").agg(sum($"c").as("c"))
      val cum2 = graft.operators.BucketedCdf.withCum(dev, Seq("g"), "d", "c")
      val res = cum2
        .filter($"cum" >= expr("(n + 1) div 2"))
        .groupBy($"g".as("l_returnflag"), $"n", $"median")
        .agg(min($"d").as("mad"))
      // both stages' persists must outlive the frame actually returned
      // (ADVICE r13) — extend each entry's handles to it
      graft.core.ManagedPersist.extendHandles(hck, res)
      graft.core.ManagedPersist.extendHandles(cum2, res)
      res
    }),

    // Q82 — SCD2 history audit: the dimension-side data-quality check
    // behind q70's PIT join — its correctness rests on the non-overlap
    // invariant, so AUDIT it: per key, each version's valid_from against
    // the previous version's valid_to (one keyed lag window). Defects
    // are PLANTED deterministically (every 130th key's closed version
    // overlaps the current by 30 days, every 170th leaves a 30-day gap)
    // so the audit provably detects both classes; emitted rows are the
    // defects only, with the evidence columns.
    "q82_scd2_audit" -> ((s, dir) => {
      import s.implicits._
      val o = t(s, dir, "orders")
      val closedTo = when($"o_orderkey" % 130 === 0,
          $"o_orderdate" + expr("INTERVAL 30 DAYS"))
        .when($"o_orderkey" % 170 === 0,
          $"o_orderdate" - expr("INTERVAL 30 DAYS"))
        .otherwise($"o_orderdate")
      val hist = o.select($"o_orderkey", lit("cur").as("version"),
          $"o_orderdate".as("valid_from"),
          lit(null).cast("timestamp").as("valid_to"))
        .unionByName(o.filter($"o_orderkey" % 10 === 0)
          .select($"o_orderkey", lit("old").as("version"),
            ($"o_orderdate" - expr("INTERVAL 90 DAYS")).as("valid_from"),
            closedTo.as("valid_to")))
      val w = Window.partitionBy($"o_orderkey")
        .orderBy($"valid_from", $"version")
      hist
        .withColumn("prev_to", lag($"valid_to", 1).over(w))
        .withColumn("issue",
          when($"prev_to".isNull, "first")
            .when($"prev_to" > $"valid_from", "overlap")
            .when($"prev_to" < $"valid_from", "gap")
            .otherwise("ok"))
        .filter($"issue" === "overlap" || $"issue" === "gap")
        // millis, not raw timestamps: cross-engine timestamp rendering
        // is the one thing the hash compare can't normalize (w2's rule)
        .select($"o_orderkey", $"version",
          unix_millis($"valid_from".cast("timestamp")).as("valid_from_ms"),
          unix_millis($"prev_to".cast("timestamp")).as("prev_to_ms"),
          $"issue")
    }),

    // Q84 — join-key SKEW PROFILE: the ANALYZE-for-salting diagnostic
    // that decides whether a key needs q26's salted join (or AQE skew
    // handling) BEFORE the job runs. Every candidate join key of the
    // fact unpivots in-row to (key_col, k) — the q79 one-scan
    // discipline — one hash agg counts per-key rows, and a per-column
    // rank window (top-5, key-ordered tiebreak) surfaces the hottest
    // keys with their row share and the partition fan-out the hottest
    // key needs at 32 reducers: salt_factor = ⌈cnt·32/n⌉ — 1 means "no
    // skew handling needed", k means "this key alone fills k
    // partitions". Everything downstream of the one agg is
    // aggregate-sized.
    "q84_skew_profile" -> ((s, dir) => {
      import s.implicits._
      val li = t(s, dir, "lineitem")
      val keyed = li.select(explode(array(Seq(
          ("l_orderkey", $"l_orderkey"), ("l_partkey", $"l_partkey"),
          ("l_suppkey", $"l_suppkey")).map { case (n, c) =>
          struct(lit(n).as("key_col"), c.cast("long").as("k")) }: _*))
        .as("e"))
        .select($"e.key_col".as("key_col"), $"e.k".as("k"))
        .groupBy($"key_col", $"k").agg(count(lit(1)).as("cnt"))
      val n = li.agg(count(lit(1)).as("n_rows"))
      val w = Window.partitionBy($"key_col")
        .orderBy($"cnt".desc, $"k".asc)
      keyed.withColumn("rank", row_number().over(w).cast("long"))
        .filter($"rank" <= 5)
        .crossJoin(broadcast(n))
        .select($"key_col", $"rank", $"k", $"cnt", $"n_rows",
          ($"cnt".cast("double") / $"n_rows".cast("double")).as("share"),
          ceil(($"cnt" * lit(32L)).cast("double") /
            $"n_rows".cast("double")).cast("long").as("salt_factor"))
    }),

    // Q83 — RFM segmentation (recency / frequency / monetary): the
    // classic customer scoring. Scale-honest end to end: a global
    // ntile(4) would be ONE single-partition sort over all customers;
    // instead the three quartile BOUNDARIES come from a histogram
    // cumulative (bucketed, partitioned windows only — see the inline
    // note) and broadcast back, so scoring is a narrow comparison pass.
    // Boundary rank ⌈q·n⌉ in exact integer arithmetic; scores 1-4
    // ascending (recency inverted: recent = high).
    "q83_rfm" -> ((s, dir) => {
      import s.implicits._
      val byCust = t(s, dir, "orders")
        .groupBy($"o_custkey")
        .agg(max($"o_orderdate").as("last_ts"),
          count(lit(1)).as("freq"),
          sumExact($"o_totalprice").as("money"))
      val anchor = byCust.agg(max($"last_ts").as("anchor"))
      val base = byCust.crossJoin(broadcast(anchor))
        .withColumn("recency_d",
          datediff($"anchor", $"last_ts").cast("long"))
        .select($"o_custkey", $"recency_d", $"freq", $"money")
      // Quartile bounds via pl17's histogram-cumulative, generalized to
      // an unpartitioned domain (the former extraction ranked the whole
      // customer aggregate under ONE un-partitioned row_number window —
      // the exact single-task trap this file documents elsewhere). Each
      // metric's (v, count) histogram is range-bucketed by a
      // percentile_approx probe (monotone in v, so the approximation can
      // only shift bucket SIZES — the cumulative below is exact counts
      // and probe error can never reach the output), per-bucket offsets
      // collect driver-side (≤3·32 rows), and the within-bucket
      // cumulative runs under a PARTITIONED window. b_k = min v with
      // cum(v) ≥ ⌈k·n/4⌉ — the rank-selection ≡ empirical-CDF identity
      // (the rank's custkey tiebreak never changes the VALUE at the
      // rank), so every boundary and score is unchanged. All three
      // metrics ride one histogram pass (in-row explode ×3); the long
      // metrics are ≪ 2⁵³ so the shared double domain is exact.
      // persisted across the pass's consumers: base feeds the histogram
      // AND the final scoring; hist feeds the probe job, the offsets job
      // and the bounds subtree — unpersisted, each consumer re-ran the
      // orders aggregation (measured 3.5× on the first cut). Both frames
      // are customer-aggregate-sized; released by Bench's per-query
      // clearCache / session end (the sim21 persist discipline).
      val baseP = base.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val exv = baseP.select(explode(array(
          struct(lit("r").as("mname"),
            $"recency_d".cast("double").as("v")),
          struct(lit("f").as("mname"), $"freq".cast("double").as("v")),
          struct(lit("m").as("mname"), $"money".as("v")))).as("e"))
        .select($"e.mname".as("mname"), $"e.v".as("v"))
      val hist = exv.groupBy($"mname", $"v").agg(count(lit(1)).as("c"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nb = 32
      // probe input hash-sampled 1/64 like BucketedCdf's step 1 (r16):
      // boundaries only move bucket sizes, the cumulative below is
      // exact either way. A metric whose values all miss the sample
      // (freq's distinct domain is tiny) yields a null sketch → no
      // boundaries → bucket 0 for the whole metric — the unbucketed
      // degenerate case, correct and only as slow as the metric is
      // small.
      val probes: Map[String, Seq[Double]] = hist.groupBy($"mname")
        .agg(percentile_approx(
          when(pmod(xxhash64($"v"),
            lit(graft.operators.BucketedCdf.ProbeSampleMod)) === 0, $"v"),
          array((1 until nb).map(i => lit(i.toDouble / nb)): _*),
          lit(1000)).as("qs"))
        .collect()
        .map(r => r.getString(0) ->
          (if (r.isNullAt(1)) Seq.empty[Double]
           else r.getSeq[Double](1).toSeq)).toMap
      // getOrElse: an EMPTY orders table produces no histogram rows for
      // a metric — the fold over no boundaries yields bucket 0 and the
      // query degrades to an empty frame (ADVICE r11: probes(name) threw
      // NoSuchElementException where the former bounds() form returned
      // null bounds gracefully).
      def bucketFor(name: String): org.apache.spark.sql.Column =
        probes.getOrElse(name, Seq.empty).foldLeft(lit(0)) { (acc, bd) =>
          acc + when($"v" > lit(bd), 1).otherwise(0) }
      val bucketed = hist.withColumn("b",
        when($"mname" === "r", bucketFor("r"))
          .when($"mname" === "f", bucketFor("f"))
          .otherwise(bucketFor("m")))
      val offRows = bucketed.groupBy($"mname", $"b")
        .agg(sum($"c").as("bc")).collect()
      val offs = offRows.groupBy(_.getString(0)).toSeq.flatMap {
        case (mn, rs) =>
          var acc = 0L
          rs.sortBy(_.getInt(1)).map { r =>
            val o = (mn, r.getInt(1), acc); acc += r.getLong(2); o }
      }
      val n = offRows.filter(_.getString(0) == "r").map(_.getLong(2)).sum
      val rk = (1 to 3).map(k => (k * n + 3) / 4)
      val offDf = offs.toDF("mname", "b", "off")
      val wCum = Window.partitionBy($"mname", $"b").orderBy($"v")
      val cum = bucketed.join(broadcast(offDf), Seq("mname", "b"))
        .withColumn("cum", $"off" + sum($"c").over(wCum))
      val boundsDf = cum.groupBy($"mname").agg(
        min(when($"cum" >= lit(rk(0)), $"v")).as("b1"),
        min(when($"cum" >= lit(rk(1)), $"v")).as("b2"),
        min(when($"cum" >= lit(rk(2)), $"v")).as("b3"))
      def pick(p: String, b: String) =
        max(when($"mname" === p, col(b))).as(s"${p}_$b")
      val wide = boundsDf.agg(
        pick("r", "b1"), pick("r", "b2"), pick("r", "b3"),
        pick("f", "b1"), pick("f", "b2"), pick("f", "b3"),
        pick("m", "b1"), pick("m", "b2"), pick("m", "b3"))
      def score(metric: String, b: String) =
        (lit(1L) + when(col(metric) > col(s"${b}_b1"), 1L).otherwise(0L)
          + when(col(metric) > col(s"${b}_b2"), 1L).otherwise(0L)
          + when(col(metric) > col(s"${b}_b3"), 1L).otherwise(0L))
      baseP
        .crossJoin(broadcast(wide))
        .withColumn("r_score", lit(5L) - score("recency_d", "r"))
        .withColumn("f_score", score("freq", "f"))
        .withColumn("m_score", score("money", "m"))
        .select($"o_custkey", $"recency_d", $"freq", $"money",
          $"r_score", $"f_score", $"m_score",
          ($"r_score" * 100 + $"f_score" * 10 + $"m_score").as("rfm"))
    }),

    // Q64 — cohort retention matrix: users cohorted by first-active
    // day, activity counted per (cohort, day offset). Two aggregations
    // and one join, all keyed on user_id / the output pair — the
    // standard product-analytics query at any scale.
    "q64_cohort_retention" -> ((s, dir) => {
      import s.implicits._
      val day = floor(unix_millis($"ts") / 86400000L).cast("long")
      val act = t(s, dir, "events")
        .select($"user_id", day.as("day")).distinct()
      val cohort = act.groupBy($"user_id").agg(min($"day").as("cohort_day"))
      act.join(cohort, Seq("user_id"))
        .groupBy($"cohort_day", ($"day" - $"cohort_day").as("day_offset"))
        .agg(countDistinct($"user_id").as("n_active"))
    }),

    // Q67 — per-user adaptive anomaly detection: the reference's static
    // risk threshold (P2, StreamJob.java:92-100) upgraded to a per-entity
    // baseline — each event z-scored against the mean/std of THAT user's
    // complete prior history (expanding window over event-time order;
    // ties broken by event_id so both engines see one total order). The
    // prefix sums fold in exact decimal — order-portable under any
    // partitioning — and mean/var/z
    // are then IEEE arithmetic on identical operands, so the flagged
    // set carries a full hash oracle. Scale: one exchange on user_id
    // (high-cardinality key), per-user sort of a bounded history — the
    // canonical keyed-window shape; no state beyond the sort.
    "q67_user_anomaly" -> ((s, dir) => {
      import s.implicits._
      val pw = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val dec = $"value".cast("decimal(14,6)")
      t(s, dir, "events")
        .select($"event_id", $"user_id", $"ts", $"value")
        .withColumn("n_prior", count($"value").over(pw))
        .withColumn("s", sum(dec).over(pw).cast("double"))
        .withColumn("s2", sum(dec * dec).over(pw).cast("double"))
        .filter($"n_prior" >= 10)
        .withColumn("mean_prior", $"s" / $"n_prior")
        .withColumn("var_prior",
          ($"s2" - $"s" * $"s" / $"n_prior") / ($"n_prior" - 1))
        .withColumn("z", ($"value" - $"mean_prior") / sqrt($"var_prior"))
        .filter($"var_prior" > 0.0 && abs($"z") > 3.0)
        .select($"event_id", $"user_id", $"value", $"n_prior",
          $"mean_prior", $"z")
    }),

    // Q68 — ANALYZE-style table statistics in one pass: per-column null
    // counts, min/max, and EXACT distinct counts — what a cost-based
    // optimizer ingests (and what q21's HLL approximates; this is its
    // exact twin for the stats-maintenance job). Multiple exact
    // count(DISTINCT) in one agg compile to a single Expand + one
    // shuffle pass (rows × #distinct-columns, each projected to its own
    // narrow key) — still one scan of the fact table; at 100 TB the
    // stats job swaps the exact NDVs for the HLL sketch column-by-column
    // without touching the min/max/null plumbing.
    "q68_table_stats" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        countDistinct($"l_orderkey").as("orderkey_ndv"),
        countDistinct($"l_partkey").as("partkey_ndv"),
        countDistinct($"l_returnflag").as("returnflag_ndv"),
        sum(when($"l_quantity".isNull, 1L).otherwise(0L))
          .as("quantity_nulls"),
        min($"l_quantity").as("quantity_min"),
        max($"l_quantity").as("quantity_max"),
        min($"l_shipdate").as("shipdate_min"),
        max($"l_shipdate").as("shipdate_max"))
    }),

    // Q69 — exponential-decay (EWMA) recency score per user: each event
    // weighted 2^-k by its recency rank — the feature-store "recent
    // activity" signal whose half-life forgets stale behavior. α = 1/2
    // is deliberate: the weight is 1/(1<<k), an EXACT power of two in
    // both engines (a libm pow(α,k) would be bounded-gate territory),
    // zeroed past k=62 where the shift would overflow (true weight
    // < 2.3e-19 — far below the decimal fold's resolution, so the
    // truncation is invisible AND portable). One user-keyed exchange;
    // per-user sorts are user-grained — the q67 scale class.
    "q69_ewma_user" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id")
        .orderBy($"ts".desc, $"event_id".desc)
      t(s, dir, "events")
        .select($"user_id", $"event_id", $"ts", $"value")
        .withColumn("k", (row_number().over(w) - 1).cast("long"))
        .withColumn("wt", when($"k" <= 62L,
          lit(1.0) / expr("CAST(shiftleft(CAST(1 AS BIGINT), " +
            "CAST(k AS INT)) AS DOUBLE)")).otherwise(lit(0.0)))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"),
          // +1e-9 pre-quantization nudge (the p4 trick): value·2^-k
          // products are exact binary fractions whose decimal expansions
          // can TERMINATE with a 5 at the 7th digit — a true tie that
          // Spark (HALF_UP) and DuckDB round apart (bit at sf0.1,
          // row "user 1321"). The nudge turns exact ties into
          // strictly-above in BOTH engines; the ≤63·1e-9 sum shift is
          // 10× below the 1e-6 quantum.
          sumExact($"value" * $"wt" + lit(1e-9)).as("ewma"),
          max(when($"k" === 0L, $"value")).as("last_value"))
    }),

    // Q70 — point-in-time (temporal-validity) join: each fact row joins
    // the dimension VERSION that was valid at its event time — the
    // feature-store correctness primitive that prevents label leakage
    // (training rows must see yesterday's features, not today's). The
    // dimension is a pl13-style SCD2 history (non-overlapping
    // [valid_from, valid_to) intervals per key); the join is an equi
    // join on the key with the validity range as a residual predicate —
    // hash co-partitioned on l_orderkey, never a cartesian (q28's range-
    // rides-equi-key class), and at most one version matches by the
    // SCD2 non-overlap invariant. Facts before any version survive the
    // LEFT join as status 'none' — silently dropping them would
    // misreport coverage.
    "q70_pit_join" -> ((s, dir) => {
      import s.implicits._
      val o = t(s, dir, "orders")
      val hist = o.select($"o_orderkey", $"o_orderstatus",
          $"o_orderdate".as("valid_from"),
          lit(null).cast("timestamp").as("valid_to"),
          lit(true).as("is_current"))
        .unionByName(o.filter($"o_orderkey" % 10 === 0)
          .select($"o_orderkey", lit("P").as("o_orderstatus"),
            ($"o_orderdate" - expr("INTERVAL 90 DAYS")).as("valid_from"),
            $"o_orderdate".as("valid_to"), lit(false).as("is_current")))
      t(s, dir, "lineitem")
        .select($"l_orderkey", $"l_returnflag", $"l_extendedprice",
          $"l_shipdate")
        .join(hist,
          $"l_orderkey" === $"o_orderkey" &&
            $"valid_from" <= $"l_shipdate" &&
            ($"valid_to".isNull || $"l_shipdate" < $"valid_to"), "left")
        .groupBy(coalesce($"o_orderstatus", lit("none")).as("status"),
          $"l_returnflag")
        .agg(count(lit(1)).as("cnt"),
          sumExact($"l_extendedprice").as("revenue"),
          sum(when($"is_current", 1L).otherwise(0L)).as("n_current"))
    }),

    // Q71 — quantile normalization: each group's values are mapped onto
    // the GLOBAL distribution through a 101-point quantile grid — the
    // score-calibration step that makes per-source quality scores
    // comparable before a corpus-wide keep threshold (a p90 doc from a
    // verbose source and a p90 doc from a terse one land on the same
    // calibrated value). Distributed exactness without a global row
    // sort: per-row group ranks regenerate from the group histogram
    // (contiguous rank intervals, see below); the
    // global side is an exact histogram cumulative — over DISTINCT
    // o_totalprice values, which for a continuous column is NOT a small
    // domain (~#orders rows; the r11 un-partitioned window here was the
    // worst single-task scale-killer on the board), so the cumulative
    // runs through BucketedCdf's probe-bucketed partitioned windows —
    // then the 101 grid ranks read off it and the corpus equi-joins the
    // broadcast 101-row grid. The grid read-off is bucket-bounded (r13):
    // each rank first locates its probe bucket against the nb-row
    // bucket-ends table, then probes only that bucket via an equi-join
    // with a cum ≥ r residual — never the whole histogram per rank.
    "q71_quantile_normalize" -> ((s, dir) => {
      import s.implicits._
      val o = t(s, dir, "orders").select($"o_orderpriority".as("g"),
        $"o_totalprice".as("v"))
      // per-row group ranks WITHOUT any group-side cumulative at all
      // (optimization r16, guide §1.1/§2.4): nothing downstream of the
      // rank regeneration reads v — only (g, rank) — and the union of
      // the per-histogram-row rank intervals [gcum-gc+1, gcum] over a
      // group is EXACTLY {1..n_g}. So the rank multiset regenerates
      // from the 5-row per-group COUNT alone, and the entire group-side
      // BucketedCdf pass (probe + offset fold + partitioned cumulative
      // window over the (g, v) histogram) that r12–r15 ran only to
      // carry gcum is deleted. Distribution note (the reason the
      // intervals rode histogram rows before): one row exploding n_g
      // ranks would be a single task at scale, so the explode is
      // two-level — group row → n_g/chunk chunk rows, spread
      // round-robin, → chunk-bounded rank sequences per task.
      val ng = o.groupBy($"g").agg(count(lit(1)).as("n"))
      val chunk = 65536L
      val ranked = graft.core.Tables.spread(
        ng.withColumn("__ck", explode(sequence(lit(0L),
            floor(($"n" - 1L) / chunk).cast("long")))))
        .withColumn("rn", explode(sequence(
          $"__ck" * chunk + 1L,
          least($"n", ($"__ck" + 1L) * chunk))))
      val q = when($"n" === 1L, lit(0.0))
        .otherwise(($"rn" - 1L).cast("double") / ($"n" - 1L).cast("double"))
      val bucketed = ranked.withColumn("qb", floor(q * 100.0).cast("long"))
      // the global histogram aggregates the corpus directly (the group
      // histogram it used to marginalize no longer exists); counts are
      // identical, so cum / bucket ends / grid values are byte-identical
      val (hist, _, bEnds) = graft.operators.BucketedCdf.withCumEnds(
        o.groupBy($"v").agg(count(lit(1)).as("c")),
        Seq.empty, "v", "c", "cum", keepBucketCol = Some("hb"))
      // two-step grid read-off (VERDICT r12 #2 — the old `cum >= r`
      // theta-join streamed the WHOLE histogram against all 101 grid
      // rows, a ~50× expansion): buckets are v-contiguous and cum is
      // globally monotone, so min v with cum ≥ r lives in the FIRST
      // bucket whose end-cum reaches r. The bucket-ends table is
      // driver-built by the helper's offset fold (nb LocalRelation
      // rows — n_tot is its max end, replacing a corpus-side total
      // agg), so locating each rank's bucket costs a 101×nb in-memory
      // theta-join, and the histogram is probed ONCE — an equi-join on
      // hb with the cum ≥ r residual, touching ~1/nb of it per grid
      // point instead of all of it. Same min-v rule ⇒ hash-identical.
      val nTot = bEnds.agg(max($"bend").as("n_tot"))
      val grid = s.range(0, 101).toDF("qb")
        .crossJoin(broadcast(nTot))
        .withColumn("r", floor($"qb".cast("double") / 100.0 *
          ($"n_tot" - 1L).cast("double")).cast("long") + 1L)
      val gb = grid.alias("gr")
        .join(broadcast(bEnds).alias("be"), expr("be.bend >= gr.r"))
        .groupBy(col("gr.qb").as("qb"), col("gr.r").as("r"))
        .agg(min(col("be.hb")).as("hb"))
      val gridVals = hist.alias("h")
        .join(broadcast(gb).alias("g2"),
          expr("h.hb = g2.hb AND h.cum >= g2.r"))
        .groupBy(col("g2.qb").as("qb")).agg(min(col("h.v")).as("gv"))
      val res = bucketed.join(broadcast(gridVals), "qb")
        .groupBy($"g".as("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"), sumExact($"gv").as("sum_norm"),
          min($"gv").as("min_norm"), max($"gv").as("max_norm"))
      // the global pass's persisted histogram lives as long as the
      // frame the query hands out (ADVICE r13)
      graft.core.ManagedPersist.extendHandles(hist, res)
      res
    }),

    // Q72 — per-group OLS trend: regress event value on time per
    // event_type — the drift/trend detector behind "is this metric
    // degrading" alerts, computed exactly from five decimal-folded
    // moment sums (n, Σx, Σy, Σxy, Σx²) in ONE map-side-combined hash
    // agg; slope/intercept derive per group in double from the exact
    // sums with one oracle-shared AST. x is seconds since a FIXED 2024
    // epoch, not raw epoch seconds: re-centering bounds x² so the folds
    // keep headroom at any row count, and a fixed constant (unlike
    // per-group min(ts)) needs no extra pass and is identical in both
    // engines. The moment folds are fixed-point FLOOR (sim13's pattern),
    // not the DECIMAL(28,6) rounding cast: x² sits near 1e12, where the
    // 1e-6 quantum is ~500× finer than the double's own ulp — a rounding
    // cast there reads digits the two engines expand differently
    // (shortest-repr vs exact binary; measured: the sxx sums land one
    // ulp apart), while floor of the SAME double is bit-identical.
    "q72_group_regression" -> ((s, dir) => {
      import s.implicits._
      val epoch = lit("2024-01-01 00:00:00").cast("timestamp")
      t(s, dir, "events")
        .select($"event_type",
          (unix_timestamp($"ts") - unix_timestamp(epoch))
            .cast("double").as("x"),
          $"value".as("y"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          sumFloor($"x").as("sx"), sumFloor($"y").as("sy"),
          sumFloor($"x" * $"y").as("sxy"),
          sumFloor($"x" * $"x").as("sxx"))
        .withColumn("slope",
          ($"n" * $"sxy" - $"sx" * $"sy") / ($"n" * $"sxx" - $"sx" * $"sx"))
        .withColumn("intercept", ($"sy" - $"slope" * $"sx") / $"n")
        .select($"event_type", $"n", $"slope", $"intercept")
    }),

    // Q80 — last-touch purchase attribution: each purchase credits the
    // user's most recent preceding click/view within a 1-hour lookback,
    // else 'direct'. The running carried-state pattern (last_value
    // IGNORE NULLS over an unbounded-preceding frame) — one user-keyed
    // exchange, no self-join of purchases against marketing events, and
    // the per-user frame never buffers beyond the carried struct.
    // Revenue folds decimal-exact.
    "q80_attribution" -> ((s, dir) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts_s", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ev = t(s, dir, "events")
        .select($"event_id", $"user_id", $"event_type", $"value",
          unix_timestamp($"ts").as("ts_s"))
      val carried = ev
        .withColumn("last_mkt", last(
          when($"event_type".isin("click", "view"),
            struct($"ts_s".as("mts"), $"event_type".as("mtype"))),
          ignoreNulls = true).over(w))
      carried.filter($"event_type" === "purchase")
        .withColumn("attr",
          when($"last_mkt".isNull, "direct")
            .when($"ts_s" - $"last_mkt.mts" > 3600L, "direct")
            .otherwise($"last_mkt.mtype"))
        .groupBy($"attr")
        .agg(count(lit(1)).as("n_purchases"),
          sumExact($"value").as("revenue"))
    }),

    // Q73 — Benford first-digit screen: the classic forensic-accounting
    // fraud signal (fabricated amounts over-represent mid digits), i.e.
    // the reference's static risk threshold upgraded to a statistical
    // screen over the whole amount distribution. First digit via the
    // string head of the INTEGER part (a long renders identically in
    // any engine; a double's string can flip to scientific notation at
    // engine-specific thresholds, and log10 on the data path is not
    // portable-exact near powers of ten — |v| ≥ 1 filtered, so the
    // integer part carries the leading digit);
    // expected share ln(1+1/d)/ln(10) is 9 CONSTANTS evaluated
    // identically from the same literals in both engines, so the χ²
    // stays fully hash-checkable. One corpus hash agg on (type, digit);
    // the χ² folds over the 9-digit grid per group, zero-completed —
    // a digit never occurring is itself Benford evidence.
    "q73_benford" -> ((s, dir) => {
      import s.implicits._
      val d = t(s, dir, "events")
        .filter($"value".isNotNull && abs($"value") >= 1.0)
        .select($"event_type",
          substring(floor(abs($"value")).cast("long").cast("string"), 1, 1)
            .cast("long").as("digit"))
      val obs = d.groupBy($"event_type", $"digit")
        .agg(count(lit(1)).as("obs"))
      val bySrc = obs.groupBy($"event_type").agg(sum($"obs").as("n_s"))
      val digits = s.range(1, 10).toDF("digit")
      val grid = bySrc.crossJoin(broadcast(digits))
        .join(obs, Seq("event_type", "digit"), "left")
        .withColumn("obs", coalesce($"obs", lit(0L)))
        .withColumn("p", log(lit(1.0) + lit(1.0) / $"digit".cast("double"))
          / log(lit(10.0)))
      val dev = $"obs".cast("double") - $"n_s".cast("double") * $"p"
      grid.withColumn("term", dev * dev / ($"n_s".cast("double") * $"p"))
        .groupBy($"event_type")
        .agg(max($"n_s").as("n_amounts"),
          sumExact($"term").as("chi2"))
    }),

    // Q74 — lag-1 autocorrelation per event type: Pearson r over each
    // user's consecutive value pairs — q72's time-series sibling (is the
    // metric trending vs. is it STICKY — momentum/mean-reversion of
    // per-user behavior). Pairs come from a lag window keyed on
    // (user, type) — fine-grained, never a per-type global sort — and
    // the six moment sums fold decimal-exact in one type-keyed agg
    // (values are O(100), squarely in the proven sumExact regime).
    // r derives per group in double with the oracle-shared AST.
    "q74_lag_autocorr" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id", $"event_type")
        .orderBy($"ts", $"event_id")
      val pairs = t(s, dir, "events")
        .select($"user_id", $"event_type", $"ts", $"event_id",
          $"value".as("y"))
        .withColumn("x", lag($"y", 1).over(w))
        .filter($"x".isNotNull)
      pairs.groupBy($"event_type")
        .agg(count(lit(1)).as("n_pairs"),
          sumExact($"x").as("sx"), sumExact($"y").as("sy"),
          sumExact($"x" * $"y").as("sxy"),
          sumExact($"x" * $"x").as("sxx"),
          sumExact($"y" * $"y").as("syy"))
        .withColumn("r1",
          ($"n_pairs" * $"sxy" - $"sx" * $"sy") /
            (sqrt($"n_pairs" * $"sxx" - $"sx" * $"sx") *
             sqrt($"n_pairs" * $"syy" - $"sy" * $"sy")))
        .select($"event_type", $"n_pairs", $"r1")
    }),

    // Q75 — association rules (market-basket support / confidence /
    // lift): which parts co-occur in orders beyond chance. Baskets come
    // from ONE order-keyed collect_set agg and pairs expand IN-ROW
    // (gr2's edge-build trick — sorted set, i<j index pairs — so the
    // corpus never self-joins to pair itself; per-basket work is
    // bounded by order size). Item and pair counts are exact; support /
    // confidence / lift are double ratios of exact longs with the
    // oracle-shared AST. The n_ab ≥ 2 floor is the standard min-support
    // prune — at scale it is what keeps the pair table candidate-sized
    // (pairs seen once carry no rule evidence).
    "q75_assoc_rules" -> ((s, dir) => {
      import s.implicits._
      val li = t(s, dir, "lineitem")
        .select($"l_orderkey".as("ok"), $"l_partkey".cast("long").as("pk"))
      val nOrders = li.select($"ok").distinct()
        .agg(count(lit(1)).as("n_orders"))
      val nab = BasketBase.pairCounts(s, dir).filter($"n_ab" >= 2L)
      val na = li.distinct().groupBy($"pk").agg(count(lit(1)).as("n_item"))
      nab
        .join(na.select($"pk".as("a"), $"n_item".as("n_a")), "a")
        .join(na.select($"pk".as("b"), $"n_item".as("n_b")), "b")
        .crossJoin(broadcast(nOrders))
        .select($"a", $"b", $"n_ab", $"n_a", $"n_b",
          ($"n_ab".cast("double") / $"n_orders".cast("double"))
            .as("support"),
          ($"n_ab".cast("double") / $"n_a".cast("double"))
            .as("confidence"),
          ($"n_ab".cast("double") * $"n_orders".cast("double") /
            ($"n_a".cast("double") * $"n_b".cast("double"))).as("lift"))
    }),

    // Q77 — rolling 7-day EXACT distinct users (trailing-window DAU/WAU):
    // the metric a naive rangeBetween window CANNOT express (count
    // DISTINCT over a sliding frame isn't a streaming-friendly window
    // function and a per-day subquery rescans 7×). The scalable exact
    // form: each (day, user) observation EXPLODES into the ≤7 trailing
    // report days it contributes to, then ONE (day, user)-distinct agg +
    // ONE day agg — linear in events × window/granularity, the standard
    // trick; the approximate swap-in at larger windows is q61's
    // mergeable KMV per day. Report days restricted to days with ≥1
    // event (the observable domain — no day spine needed).
    "q77_rolling_distinct" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
        .select(to_date($"ts").as("day"), $"user_id")
      val days = ev.select($"day").distinct()
      val contrib = ev.distinct()
        .select($"user_id", explode(sequence(lit(0), lit(6))).as("off"),
          $"day")
        .select($"user_id", date_add($"day", $"off").as("rday"))
        .distinct()
      days.join(contrib, $"day" === $"rday")
        .groupBy($"day")
        .agg(count(lit(1)).as("users_7d")) // (rday, user) distinct above
    }))

  /** q61's sketch size: 64 minima ⇒ expected relative error
    * ~1/√(k−2) ≈ 12.7%; the oracle reproduces the estimate exactly
    * either way, this only calibrates how informative it is. */
  private val KmvK = 64

  /** q60's filter geometry: ~300 build keys at sf0.01 in 8192 bits with
    * 3 hash rows ⇒ fpp ≈ 0.1% — small but nonzero, so the fixture
    * exercises false positives surviving to `n_bloom_pass` while the
    * exact join keeps `n_true`/`true_revenue` clean. */
  private val BloomM = 8192
  private val BloomK = 3

  /** q45 is approximate BY SPEC (Greenwald–Khanna at accuracy 10000 ⇒
    * rank error ≤ N/10000, a handful of ranks at fixture scale): the
    * exact-percentile twin (quantile_disc — GK returns genuine data
    * elements, like disc and unlike cont) with a 5% value bound; the
    * cnt control column (a plain count) must match cell-identical.
    *
    * NOTE the in-query 5% bound is FIXTURE-CALIBRATED: GK's guarantee is
    * on RANK, not value — l_extendedprice is dense near its quartiles at
    * every tested SF (a few-rank slip moves the value well under 5%), but
    * a pathologically skewed column could slip a spec-conformant sketch
    * past a value bound. A scale-portable gate would derive the bound
    * from the value gap around rank ± N/accuracy; at fixture scales the
    * flat 5% is strictly looser than that derivation, so it can only
    * under-reject, never flag a conforming sketch. */
  def oracles: Map[String, String] = Map(
    // q45's twin: exact discrete quantiles (DuckDB's own quantile_disc
    // matches the ⌈p·n⌉−1 selection the Spark side spells out); the bound
    // booleans are TRUE literals — the Spark side computed them FROM the
    // live GK sketch, so an out-of-spec estimate cannot hash-match.
    "q45_approx_percentile" ->
      """SELECT l_returnflag, count(*) AS cnt,
        |  CAST(quantile_disc(l_extendedprice, 0.25) AS DOUBLE) AS p25_exact,
        |  CAST(quantile_disc(l_extendedprice, 0.5) AS DOUBLE) AS p50_exact,
        |  CAST(quantile_disc(l_extendedprice, 0.75) AS DOUBLE) AS p75_exact,
        |  TRUE AS p25_ok, TRUE AS p50_ok, TRUE AS p75_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    // q60's twin rebuilds the identical bit set from the portable-hash
    // bucket arithmetic and replays the membership test per order row —
    // the false-positive set is reproduced exactly, not approximated.
    "q60_bloom_semijoin" -> {
      import graft.operators.BloomJoin.bloomBitSql
      s"""WITH bkeys AS (
         |  SELECT CAST(c_custkey AS VARCHAR) AS bkey FROM customer
         |  WHERE c_mktsegment = 'BUILDING'
         |), js AS (SELECT unnest(generate_series(0, ${BloomK - 1})) AS j),
         |bits AS (
         |  SELECT DISTINCT ${bloomBitSql("js.j", "b.bkey", BloomM)} AS pos
         |  FROM bkeys b CROSS JOIN js
         |), ppos AS (
         |  -- correlated-subquery membership trips DuckDB's binder inside
         |  -- the hash lambda; the cross-join spelling is equivalent
         |  SELECT o.o_orderkey AS okey,
         |    ${bloomBitSql("js.j", "CAST(o.o_custkey AS VARCHAR)",
                BloomM)} AS pos
         |  FROM orders o CROSS JOIN js
         |), pass AS (
         |  SELECT okey FROM ppos
         |  WHERE pos IN (SELECT pos FROM bits)
         |  GROUP BY okey HAVING count(*) = $BloomK
         |)
         |SELECT o_orderpriority, count(*) AS n_bloom_pass,
         |  count(b.bkey) AS n_true,
         |  ${sumExactSql(
              "CASE WHEN b.bkey IS NOT NULL THEN o_totalprice END")}
         |    AS true_revenue
         |FROM orders o JOIN pass ON o.o_orderkey = pass.okey
         |LEFT JOIN bkeys b
         |  ON CAST(o.o_custkey AS VARCHAR) = b.bkey
         |GROUP BY o_orderpriority""".stripMargin
    },
    // q61's twin replays the k-min order statistics from the portable
    // hash and the same IEEE-754 estimate arithmetic — the sketch VALUES
    // (kth hash, estimate) hash-match, not just group counts.
    "q61_kmv_distinct" -> {
      import graft.operators.Sketches.kmvSql
      s"""WITH dense AS (${kmvSql("lineitem", "l_returnflag",
            "l_partkey", KmvK)}),
         |dex AS (SELECT l_returnflag AS grp,
         |          count(DISTINCT l_partkey) AS exact_distinct
         |        FROM lineitem GROUP BY 1),
         |sparse AS (${kmvSql("lineitem", "l_returnflag",
            "l_linestatus", KmvK)}),
         |sex AS (SELECT l_returnflag AS grp,
         |          count(DISTINCT l_linestatus) AS exact_distinct
         |        FROM lineitem GROUP BY 1)
         |SELECT 'partkey' AS key_kind, d.grp AS l_returnflag, d.n_kept,
         |  d.h_k, d.est_distinct, dex.exact_distinct
         |FROM dense d JOIN dex ON d.grp = dex.grp
         |UNION ALL
         |SELECT 'linestatus' AS key_kind, s.grp AS l_returnflag, s.n_kept,
         |  s.h_k, s.est_distinct, sex.exact_distinct
         |FROM sparse s JOIN sex ON s.grp = sex.grp""".stripMargin
    },
    // q62's twin merges the same two k-min states and replays the
    // ρ/k · est_union intersection estimator with the identical double
    // AST; exact union/intersection come from plain distinct counting.
    "q62_kmv_set_ops" -> {
      import graft.functions.PortableHash
      val est = s"CASE WHEN count(*) < $KmvK THEN CAST(count(*) AS DOUBLE) " +
        s"ELSE ${(KmvK - 1).toDouble} * ${graft.operators.Sketches.Pow60} " +
        s"/ CAST(max(h) AS DOUBLE) END"
      s"""WITH sides AS (
         |  SELECT DISTINCT c.c_mktsegment AS side, l.l_partkey AS pk
         |  FROM lineitem l
         |  JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
         |), hs AS (
         |  SELECT DISTINCT side,
         |    ${PortableHash.hash60Sql("CAST(pk AS VARCHAR)")} AS h
         |  FROM sides
         |), ka AS (
         |  SELECT side, h FROM (
         |    SELECT side, h,
         |      row_number() OVER (PARTITION BY side ORDER BY h) AS rn
         |    FROM hs) WHERE rn <= $KmvK
         |), per_side AS (
         |  SELECT
         |    max(CASE WHEN grp = 'BUILDING' THEN est END) AS est_building,
         |    max(CASE WHEN grp = 'MACHINERY' THEN est END) AS est_machinery
         |  FROM (SELECT side AS grp, $est AS est FROM ka GROUP BY side)
         |), merged AS (
         |  SELECT h FROM (
         |    SELECT h, row_number() OVER (ORDER BY h) AS rn
         |    FROM (SELECT DISTINCT h FROM ka)) WHERE rn <= $KmvK
         |), u AS (
         |  SELECT count(*) AS n_kept_u, max(h) AS h_k_u, $est AS est_union
         |  FROM merged
         |), both_h AS (
         |  SELECT h FROM ka GROUP BY h HAVING count(DISTINCT side) = 2
         |), rr AS (
         |  SELECT CAST(count(*) AS BIGINT) AS rho
         |  FROM merged JOIN both_h ON merged.h = both_h.h
         |), ex AS (
         |  SELECT CAST(count(*) AS BIGINT) AS exact_union,
         |    CAST(sum(CASE WHEN ns = 2 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS exact_intersection
         |  FROM (SELECT pk, count(DISTINCT side) AS ns
         |        FROM sides GROUP BY pk)
         |)
         |SELECT u.n_kept_u, u.h_k_u, u.est_union, rr.rho,
         |  CASE WHEN u.n_kept_u < $KmvK THEN CAST(rr.rho AS DOUBLE)
         |       ELSE (CAST(rr.rho AS DOUBLE) / ${KmvK.toDouble})
         |            * u.est_union END AS est_intersection,
         |  ex.exact_union, ex.exact_intersection,
         |  per_side.est_building, per_side.est_machinery
         |FROM u, rr, ex, per_side""".stripMargin
    },
    "q66_percentile_interp" -> {
      def anchors(i: Int, p: String) =
        s"""min(CASE WHEN cum >= CAST(floor(CAST(n - 1 AS DOUBLE) * $p)
           |    AS BIGINT) + 1 THEN v END) AS lo$i,
           |  min(CASE WHEN cum >= least(CAST(floor(CAST(n - 1 AS DOUBLE)
           |    * $p) AS BIGINT) + 2, n) THEN v END) AS hi$i""".stripMargin
      def interp(i: Int, p: String, name: String) =
        s"""lo$i + (hi$i - lo$i) * (CAST(cnt - 1 AS DOUBLE) * $p
           |  - floor(CAST(cnt - 1 AS DOUBLE) * $p)) AS $name""".stripMargin
      s"""WITH hist AS (
         |  SELECT l_returnflag AS g, l_extendedprice AS v, count(*) AS c
         |  FROM lineitem GROUP BY 1, 2
         |), cum AS (
         |  SELECT g, v,
         |    CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS n,
         |    CAST(sum(c) OVER (PARTITION BY g ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum
         |  FROM hist
         |), picked AS (
         |  SELECT g AS l_returnflag, CAST(max(n) AS BIGINT) AS cnt,
         |  ${anchors(0, "0.25")},
         |  ${anchors(1, "0.5")},
         |  ${anchors(2, "0.75")}
         |  FROM cum GROUP BY g
         |)
         |SELECT l_returnflag, cnt,
         |  ${interp(0, "0.25", "p25")},
         |  ${interp(1, "0.5", "p50")},
         |  ${interp(2, "0.75", "p75")}
         |FROM picked""".stripMargin
    },
    "q63_funnel_stages" ->
      """WITH ev AS (SELECT user_id, event_type, ts FROM events),
        |s1 AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
        |  FROM ev GROUP BY user_id
        |), s2 AS (
        |  SELECT e.user_id, max(s1.t_view) AS t_view,
        |    min(CASE WHEN e.event_type = 'click' AND e.ts > s1.t_view
        |        THEN e.ts END) AS t_click
        |  FROM ev e JOIN s1 ON e.user_id = s1.user_id GROUP BY e.user_id
        |), s3 AS (
        |  SELECT e.user_id, max(s2.t_view) AS t_view,
        |    max(s2.t_click) AS t_click,
        |    min(CASE WHEN e.event_type = 'purchase' AND e.ts > s2.t_click
        |        THEN e.ts END) AS t_purchase
        |  FROM ev e JOIN s2 ON e.user_id = s2.user_id GROUP BY e.user_id
        |)
        |SELECT user_id, t_view, t_click, t_purchase,
        |  CAST(CASE WHEN t_purchase IS NOT NULL THEN 3
        |            WHEN t_click IS NOT NULL THEN 2
        |            WHEN t_view IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
        |    AS stage
        |FROM s3""".stripMargin,
    "q65_session_transitions" ->
      """WITH o AS (
        |  SELECT user_id, event_id, event_type, ts,
        |    lag(event_type) OVER w AS prev_type,
        |    epoch_ms(ts) - lag(epoch_ms(ts)) OVER w AS gap_ms
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |)
        |SELECT prev_type, event_type AS next_type,
        |  count(*) AS n_transitions, CAST(sum(gap_ms) AS BIGINT)
        |    AS sum_gap_ms
        |FROM o WHERE prev_type IS NOT NULL AND gap_ms <= 1800000
        |GROUP BY 1, 2""".stripMargin,
    "q64_cohort_retention" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day
        |  FROM events
        |), c AS (
        |  SELECT user_id, min(day) AS cohort_day FROM act GROUP BY user_id
        |)
        |SELECT c.cohort_day, a.day - c.cohort_day AS day_offset,
        |  count(DISTINCT a.user_id) AS n_active
        |FROM act a JOIN c ON a.user_id = c.user_id
        |GROUP BY 1, 2""".stripMargin,
    // q67's twin: same expanding ROWS frame, same decimal-exact prefix
    // sums, same double AST for mean/var/z — flagged rows hash-match.
    "q67_user_anomaly" ->
      """WITH w AS (
        |  SELECT event_id, user_id, value,
        |    count(value) OVER pw AS n_prior,
        |    CAST(sum(CAST(value AS DECIMAL(14,6))) OVER pw AS DOUBLE) AS s,
        |    CAST(sum(CAST(value AS DECIMAL(14,6)) *
        |      CAST(value AS DECIMAL(14,6))) OVER pw AS DOUBLE) AS s2
        |  FROM events
        |  WINDOW pw AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |), z AS (
        |  SELECT event_id, user_id, value, n_prior,
        |    s / n_prior AS mean_prior,
        |    (s2 - s * s / n_prior) / (n_prior - 1) AS var_prior
        |  FROM w WHERE n_prior >= 10
        |)
        |SELECT event_id, user_id, value, n_prior, mean_prior,
        |  (value - mean_prior) / sqrt(var_prior) AS z
        |FROM z WHERE var_prior > 0
        |  AND abs((value - mean_prior) / sqrt(var_prior)) > 3.0""".stripMargin,
    "q68_table_stats" ->
      """SELECT count(*) AS n_rows,
        |  count(DISTINCT l_orderkey) AS orderkey_ndv,
        |  count(DISTINCT l_partkey) AS partkey_ndv,
        |  count(DISTINCT l_returnflag) AS returnflag_ndv,
        |  CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS quantity_nulls,
        |  min(l_quantity) AS quantity_min,
        |  max(l_quantity) AS quantity_max,
        |  min(l_shipdate) AS shipdate_min,
        |  max(l_shipdate) AS shipdate_max
        |FROM lineitem""".stripMargin,
    // q69's twin: identical rank, identical 1/(1<<k) exact weights.
    "q69_ewma_user" ->
      s"""WITH ranked AS (
         |  SELECT user_id, event_id, value,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY ts DESC, event_id DESC) - 1 AS k
         |  FROM events
         |), wtd AS (
         |  SELECT user_id, value, k,
         |    CASE WHEN k <= 62 THEN
         |      1.0 / CAST((CAST(1 AS BIGINT) << CAST(k AS INT)) AS DOUBLE)
         |    ELSE 0.0 END AS wt
         |  FROM ranked
         |)
         |SELECT user_id, count(*) AS n_events,
         |  ${sumExactSql("value * wt + 1e-9")} AS ewma,
         |  max(CASE WHEN k = 0 THEN value END) AS last_value
         |FROM wtd GROUP BY user_id""".stripMargin,
    // q70's twin: same SCD2 history, same validity-range join.
    "q70_pit_join" ->
      s"""WITH hist AS (
         |  SELECT o_orderkey AS k, o_orderstatus AS status,
         |    o_orderdate AS valid_from,
         |    CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
         |  FROM orders
         |  UNION ALL
         |  SELECT o_orderkey, 'P', o_orderdate - INTERVAL 90 DAY,
         |    o_orderdate, FALSE
         |  FROM orders WHERE o_orderkey % 10 = 0
         |)
         |SELECT COALESCE(status, 'none') AS status, l_returnflag,
         |  count(*) AS cnt,
         |  ${sumExactSql("l_extendedprice")} AS revenue,
         |  CAST(sum(CASE WHEN is_current THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_current
         |FROM lineitem LEFT JOIN hist
         |  ON l_orderkey = k AND valid_from <= l_shipdate
         |  AND (valid_to IS NULL OR l_shipdate < valid_to)
         |GROUP BY 1, 2""".stripMargin,
    // q71's twin: same rank/bucket/grid arithmetic, same histogram probe.
    "q71_quantile_normalize" ->
      s"""WITH o AS (
         |  SELECT o_orderpriority AS g, o_totalprice AS v,
         |    o_orderkey AS id
         |  FROM orders
         |), ranked AS (
         |  SELECT g, v,
         |    row_number() OVER (PARTITION BY g ORDER BY v, id) AS rn,
         |    count(*) OVER (PARTITION BY g) AS n
         |  FROM o
         |), bucketed AS (
         |  SELECT g, CAST(floor((CASE WHEN n = 1 THEN 0.0
         |    ELSE CAST(rn - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE) END)
         |    * 100.0) AS BIGINT) AS qb
         |  FROM ranked
         |), hist AS (
         |  SELECT v, CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS cum
         |  FROM (SELECT v, count(*) AS c FROM o GROUP BY v) hc
         |), nt AS (SELECT count(*) AS n_tot FROM o),
         |grid AS (
         |  SELECT qb, CAST(floor(CAST(qb AS DOUBLE) / 100.0 *
         |    CAST(n_tot - 1 AS DOUBLE)) AS BIGINT) + 1 AS r
         |  FROM (SELECT unnest(generate_series(0, 100)) AS qb) b
         |  CROSS JOIN nt
         |), gv AS (
         |  SELECT qb, min(v) AS gv
         |  FROM grid JOIN hist ON hist.cum >= grid.r
         |  GROUP BY qb
         |)
         |SELECT g AS o_orderpriority, count(*) AS cnt,
         |  ${sumExactSql("gv")} AS sum_norm,
         |  min(gv) AS min_norm, max(gv) AS max_norm
         |FROM bucketed JOIN gv USING (qb)
         |GROUP BY g""".stripMargin,
    // q72's twin: same re-centered x (1704067200 = the 2024-01-01 UTC
    // epoch the Spark side derives under the pinned UTC session), same
    // moment folds, same slope/intercept AST.
    // q83's twin: same boundary rank extraction, same comparison scores.
    "q84_skew_profile" ->
      """WITH keyed AS (
        |  SELECT 'l_orderkey' AS key_col, CAST(l_orderkey AS BIGINT) AS k
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_partkey', CAST(l_partkey AS BIGINT) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_suppkey', CAST(l_suppkey AS BIGINT) FROM lineitem
        |), c AS (
        |  SELECT key_col, k, count(*) AS cnt FROM keyed GROUP BY 1, 2
        |), n AS (
        |  SELECT count(*) AS n_rows FROM lineitem
        |), r AS (
        |  SELECT key_col, k, cnt,
        |    row_number() OVER (PARTITION BY key_col
        |      ORDER BY cnt DESC, k ASC) AS rank
        |  FROM c
        |)
        |SELECT key_col, CAST(rank AS BIGINT) AS rank, k, cnt, n_rows,
        |  CAST(cnt AS DOUBLE) / CAST(n_rows AS DOUBLE) AS share,
        |  CAST(ceil(CAST(cnt * 32 AS DOUBLE) / CAST(n_rows AS DOUBLE))
        |    AS BIGINT) AS salt_factor
        |FROM r CROSS JOIN n WHERE rank <= 5""".stripMargin,
    "q83_rfm" -> {
      def b(metric: String, alias: String) =
        s"""$alias AS (
           |  SELECT max(CASE WHEN rn = (1 * n + 3) // 4 THEN $metric END)
           |      AS b1,
           |    max(CASE WHEN rn = (2 * n + 3) // 4 THEN $metric END) AS b2,
           |    max(CASE WHEN rn = (3 * n + 3) // 4 THEN $metric END) AS b3
           |  FROM (SELECT $metric,
           |      row_number() OVER (ORDER BY $metric, o_custkey) AS rn,
           |      count(*) OVER () AS n
           |    FROM base) z
           |)""".stripMargin
      def sc(metric: String, t: String) =
        s"""(1 + (CASE WHEN $metric > $t.b1 THEN 1 ELSE 0 END)
           |   + (CASE WHEN $metric > $t.b2 THEN 1 ELSE 0 END)
           |   + (CASE WHEN $metric > $t.b3 THEN 1 ELSE 0 END))""".stripMargin
      s"""WITH byc AS (
         |  SELECT o_custkey, max(o_orderdate) AS last_ts,
         |    count(*) AS freq,
         |    ${sumExactSql("o_totalprice")} AS money
         |  FROM orders GROUP BY o_custkey
         |), a AS (SELECT max(last_ts) AS anchor FROM byc),
         |base AS (
         |  SELECT o_custkey,
         |    CAST(date_diff('day', CAST(last_ts AS DATE),
         |      CAST(anchor AS DATE)) AS BIGINT) AS recency_d,
         |    freq, money
         |  FROM byc CROSS JOIN a
         |),
         |${b("recency_d", "rb")},
         |${b("freq", "fb")},
         |${b("money", "mb")},
         |scored AS (
         |  SELECT o_custkey, recency_d, freq, money,
         |    5 - ${sc("recency_d", "rb")} AS r_score,
         |    ${sc("freq", "fb")} AS f_score,
         |    ${sc("money", "mb")} AS m_score
         |  FROM base CROSS JOIN rb CROSS JOIN fb CROSS JOIN mb
         |)
         |SELECT o_custkey, recency_d, freq, money,
         |  CAST(r_score AS BIGINT) AS r_score,
         |  CAST(f_score AS BIGINT) AS f_score,
         |  CAST(m_score AS BIGINT) AS m_score,
         |  CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS rfm
         |FROM scored""".stripMargin
    },
    // q82's twin: same planted history, same keyed lag audit.
    "q82_scd2_audit" ->
      """WITH hist AS (
        |  SELECT o_orderkey, 'cur' AS version,
        |    o_orderdate AS valid_from, CAST(NULL AS TIMESTAMP) AS valid_to
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, 'old', o_orderdate - INTERVAL 90 DAY,
        |    CASE WHEN o_orderkey % 130 = 0
        |           THEN o_orderdate + INTERVAL 30 DAY
        |         WHEN o_orderkey % 170 = 0
        |           THEN o_orderdate - INTERVAL 30 DAY
        |         ELSE o_orderdate END
        |  FROM orders WHERE o_orderkey % 10 = 0
        |), lagged AS (
        |  SELECT o_orderkey, version, valid_from,
        |    lag(valid_to) OVER (PARTITION BY o_orderkey
        |      ORDER BY valid_from, version) AS prev_to
        |  FROM hist
        |)
        |SELECT o_orderkey, version,
        |  epoch_ms(valid_from) AS valid_from_ms,
        |  epoch_ms(prev_to) AS prev_to_ms,
        |  CASE WHEN prev_to > valid_from THEN 'overlap'
        |       WHEN prev_to < valid_from THEN 'gap' END AS issue
        |FROM lagged
        |WHERE prev_to > valid_from OR prev_to < valid_from""".stripMargin,
    // q81's twin: same histogram-cumulative lower-median read-offs,
    // same identical-operand deviation subtraction.
    "q81_mad_robust" ->
      """WITH hist AS (
        |  SELECT l_returnflag AS g, l_extendedprice AS v, count(*) AS c
        |  FROM lineitem GROUP BY 1, 2
        |), cum AS (
        |  SELECT g, v, c,
        |    sum(c) OVER (PARTITION BY g) AS n,
        |    sum(c) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM hist
        |), med AS (
        |  SELECT g, min(v) AS median, max(n) AS n
        |  FROM cum WHERE cum >= (n + 1) // 2 GROUP BY g
        |), dev AS (
        |  SELECT h.g, m.n, m.median, abs(h.v - m.median) AS d,
        |    sum(h.c) AS c
        |  FROM hist h JOIN med m USING (g)
        |  GROUP BY 1, 2, 3, 4
        |), dcum AS (
        |  SELECT g, n, median, d,
        |    sum(c) OVER (PARTITION BY g ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM dev
        |)
        |SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n, median,
        |  min(d) AS mad
        |FROM dcum WHERE cum >= (n + 1) // 2
        |GROUP BY 1, 2, 3""".stripMargin,
    // q80's twin: the same carried-last-marketing-event window, the
    // marketing timestamp and type carried as two IGNORE NULLS
    // last_values over one frame (they always read the same row).
    "q80_attribution" ->
      s"""WITH ev AS (
        |  SELECT event_id, user_id, event_type, value,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
        |  FROM events
        |), carried AS (
        |  SELECT event_type, value, ts_s,
        |    last_value(CASE WHEN event_type IN ('click', 'view')
        |        THEN ts_s END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts_s, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS mts,
        |    last_value(CASE WHEN event_type IN ('click', 'view')
        |        THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts_s, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS mtype
        |  FROM ev
        |)
        |SELECT CASE WHEN mts IS NULL THEN 'direct'
        |            WHEN ts_s - mts > 3600 THEN 'direct'
        |            ELSE mtype END AS attr,
        |  count(*) AS n_purchases,
        |  ${sumExactSql("value")} AS revenue
        |FROM carried WHERE event_type = 'purchase'
        |GROUP BY 1""".stripMargin,
    "q72_group_regression" ->
      s"""WITH pts AS (
         |  SELECT event_type,
         |    CAST(CAST(floor(epoch(ts)) AS BIGINT) - 1704067200
         |      AS DOUBLE) AS x,
         |    value AS y
         |  FROM events
         |), m AS (
         |  SELECT event_type, count(*) AS n,
         |    ${sumFloorSql("x")} AS sx, ${sumFloorSql("y")} AS sy,
         |    ${sumFloorSql("x * y")} AS sxy,
         |    ${sumFloorSql("x * x")} AS sxx
         |  FROM pts GROUP BY event_type
         |)
         |SELECT event_type, n,
         |  (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
         |  (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
         |    AS intercept
         |FROM m""".stripMargin,
    // q73's twin: same integer-part first digit, same 9-constant
    // Benford expectation (ln's last-ulp drift sits ~10 orders below
    // the DECIMAL(28,6) quantum inside the fold — the tx13/tx14
    // absorption argument).
    "q73_benford" ->
      s"""WITH d AS (
         |  SELECT event_type,
         |    CAST(substr(CAST(CAST(floor(abs(value)) AS BIGINT)
         |      AS VARCHAR), 1, 1) AS BIGINT) AS digit
         |  FROM events WHERE value IS NOT NULL AND abs(value) >= 1.0
         |), obs AS (
         |  SELECT event_type, digit, count(*) AS obs FROM d GROUP BY 1, 2
         |), s AS (
         |  SELECT event_type, CAST(sum(obs) AS BIGINT) AS n_s
         |  FROM obs GROUP BY 1
         |), grid AS (
         |  SELECT s.event_type, s.n_s, dg.digit,
         |    COALESCE(obs.obs, 0) AS obs,
         |    ln(1.0 + 1.0 / CAST(dg.digit AS DOUBLE)) / ln(10.0) AS p
         |  FROM s
         |  CROSS JOIN (SELECT unnest(generate_series(1, 9)) AS digit) dg
         |  LEFT JOIN obs ON s.event_type = obs.event_type
         |    AND dg.digit = obs.digit
         |), terms AS (
         |  SELECT event_type, n_s,
         |    (CAST(obs AS DOUBLE) - CAST(n_s AS DOUBLE) * p) AS dev,
         |    (CAST(n_s AS DOUBLE) * p) AS denom
         |  FROM grid
         |)
         |SELECT event_type, max(n_s) AS n_amounts,
         |  ${sumExactSql("dev * dev / denom")} AS chi2
         |FROM terms GROUP BY event_type""".stripMargin,
    // q74's twin: same (user, type)-keyed lag, same moment folds/AST.
    "q74_lag_autocorr" ->
      s"""WITH lagged AS (
         |  SELECT event_type, value AS y,
         |    lag(value) OVER (PARTITION BY user_id, event_type
         |      ORDER BY ts, event_id) AS x
         |  FROM events
         |), p AS (
         |  SELECT event_type, x, y FROM lagged WHERE x IS NOT NULL
         |), m AS (
         |  SELECT event_type, count(*) AS n_pairs,
         |    ${sumExactSql("x")} AS sx, ${sumExactSql("y")} AS sy,
         |    ${sumExactSql("x * y")} AS sxy,
         |    ${sumExactSql("x * x")} AS sxx,
         |    ${sumExactSql("y * y")} AS syy
         |  FROM p GROUP BY event_type
         |)
         |SELECT event_type, n_pairs,
         |  (n_pairs * sxy - sx * sy) /
         |    (sqrt(n_pairs * sxx - sx * sx) *
         |     sqrt(n_pairs * syy - sy * sy)) AS r1
         |FROM m""".stripMargin,
    // q75's twin: the oracle pairs via a distinct self-join (same pair
    // multiset as the Spark side's in-row expansion over sorted sets);
    // same ratio AST.
    "q75_assoc_rules" ->
      """WITH d AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |), nord AS (
        |  SELECT count(DISTINCT ok) AS n_orders FROM d
        |), nab AS (
        |  SELECT x.pk AS a, y.pk AS b, count(*) AS n_ab
        |  FROM d x JOIN d y ON x.ok = y.ok AND x.pk < y.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), na AS (
        |  SELECT pk, count(*) AS n_item FROM d GROUP BY pk
        |)
        |SELECT a, b, n_ab, sa.n_item AS n_a, sb.n_item AS n_b,
        |  CAST(n_ab AS DOUBLE) / CAST(n_orders AS DOUBLE) AS support,
        |  CAST(n_ab AS DOUBLE) / CAST(sa.n_item AS DOUBLE) AS confidence,
        |  CAST(n_ab AS DOUBLE) * CAST(n_orders AS DOUBLE) /
        |    (CAST(sa.n_item AS DOUBLE) * CAST(sb.n_item AS DOUBLE))
        |    AS lift
        |FROM nab
        |JOIN na sa ON nab.a = sa.pk
        |JOIN na sb ON nab.b = sb.pk
        |CROSS JOIN nord""".stripMargin,
    // q77's twin: same explode-into-trailing-days contribution trick.
    "q77_rolling_distinct" ->
      """WITH ev AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
        |), days AS (SELECT DISTINCT day FROM ev),
        |contrib AS (
        |  SELECT DISTINCT user_id, day + CAST(off AS INTEGER) AS rday
        |  FROM ev
        |  CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS off) o
        |)
        |SELECT day, count(*) AS users_7d
        |FROM days JOIN contrib ON day = rday
        |GROUP BY day""".stripMargin,
    "q59_recursive_tree" ->
      """WITH RECURSIVE tree(custkey, depth) AS (
        |  SELECT c_custkey, CAST(0 AS BIGINT) FROM customer
        |  WHERE c_custkey = 1
        |  UNION ALL
        |  SELECT c.c_custkey, t.depth + 1
        |  FROM customer c JOIN tree t
        |    ON CAST(floor(c.c_custkey / 2) AS BIGINT) = t.custkey
        |  WHERE c.c_custkey > 1
        |)
        |SELECT depth, count(*) AS n_cust,
        |  min(custkey) AS min_key, max(custkey) AS max_key
        |FROM tree GROUP BY depth""".stripMargin,
    "q53_edit_distance" ->
      """SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
        |  a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand
        | AND a.p_size = b.p_size AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 12""".stripMargin,
    "q54_bool_bit_agg" ->
      """SELECT o_orderpriority,
        |  bool_and(o_totalprice > 1000.0) AS all_over_1k,
        |  bool_or(o_totalprice > 400000.0) AS any_over_400k,
        |  bit_and(CAST(o_orderkey AS BIGINT) % 1024 + 7) AS band,
        |  bit_or(CAST(o_custkey AS BIGINT) % 256) AS bor,
        |  bit_xor(CAST(o_orderkey AS BIGINT)) AS bxor,
        |  count(*) AS cnt
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "q58_array_nav_pack" ->
      """SELECT p_partkey,
        |  split_part(p_name, ' ', 2) AS name_second,
        |  CAST(COALESCE(list_position(regexp_extract_all(p_name, '[a-z]+'),
        |    'widget'), 0) AS BIGINT) AS widget_pos,
        |  regexp_extract_all(p_name, '[a-z]+')[-1] AS last_word,
        |  COALESCE(array_to_string(
        |    list_reverse(regexp_extract_all(p_name, '[a-z]+')), '-'), '')
        |    AS rev_words,
        |  CAST(len(regexp_extract_all(p_name, '[a-z]+')) AS BIGINT) AS n_words
        |FROM part""".stripMargin,
    "q57_grouping_flags" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
        |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
        |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,
    "q56_ignore_nulls_window" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  last_value(CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice END
        |    IGNORE NULLS) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carry_fwd,
        |  first_value(CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice END
        |    IGNORE NULLS) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_seen,
        |  lag(o_totalprice, 2, -1.0) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderkey) AS lag2_dflt,
        |  lead(o_totalprice, 1, 0.0) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderkey) AS lead1_dflt
        |FROM orders WHERE o_custkey < 200""".stripMargin,
    "q55_mode_per_group" ->
      """SELECT o_orderpriority, mode_status, mode_cnt FROM (
        |  SELECT o_orderpriority, o_orderstatus AS mode_status,
        |    count(*) AS mode_cnt,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY count(*) DESC, o_orderstatus ASC) AS rn
        |  FROM orders GROUP BY o_orderpriority, o_orderstatus)
        |WHERE rn = 1""".stripMargin,
    "q36_exists_subquery" ->
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 300000)""".stripMargin,
    "q37_scalar_subquery" ->
      s"""SELECT p_partkey, p_retailprice,
         |  p_retailprice - (SELECT ${sumExactSql("p_retailprice")}
         |                     / count(p_retailprice) FROM part) AS diff_avg
         |FROM part
         |WHERE p_retailprice > (SELECT ${sumExactSql("p_retailprice")}
         |                         / count(p_retailprice) FROM part)""".stripMargin,
    "q38_lateral_posexplode" ->
      """SELECT doc_id, pos, token FROM (
        |  SELECT doc_id,
        |    unnest(list_transform(regexp_extract_all(text, '\S+'),
        |      (x, i) -> {'pos': CAST(i - 1 AS BIGINT), 'token': x}),
        |      recursive := true)
        |  FROM documents) u
        |WHERE pos < 3""".stripMargin,
    "q39_gap_fill" ->
      s"""WITH b AS (
         |  SELECT epoch_ms(ts) // 3600000 AS hr, count(*) AS cnt,
         |    ${sumExactSql("value")} AS sum_value
         |  FROM events GROUP BY 1
         |), spine AS (
         |  SELECT unnest(generate_series((SELECT min(hr) FROM b),
         |                                (SELECT max(hr) FROM b))) AS hr
         |)
         |SELECT spine.hr AS hr, COALESCE(b.cnt, 0) AS cnt,
         |  COALESCE(b.sum_value, CAST(0 AS DOUBLE)) AS sum_value
         |FROM spine LEFT JOIN b USING (hr)""".stripMargin,
    "q40_union_by_name" ->
      """SELECT id, price, prio FROM (
        |  SELECT p_partkey AS id, p_retailprice AS price FROM part
        |  UNION ALL BY NAME
        |  SELECT o_orderkey AS id, o_orderpriority AS prio FROM orders)""".stripMargin,
    "q41_range_frame" ->
      s"""SELECT o_orderkey, o_custkey,
        |  epoch_ms(o_orderdate) // 86400000 AS day,
        |  count(*) OVER w AS cnt_30d,
        |  ${sumExactOverSql("o_totalprice", "w")} AS sum_30d
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY epoch_ms(o_orderdate) // 86400000
        |  RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)""".stripMargin,
    "q42_bitwise_pack" ->
      """SELECT p_partkey,
        |  p_partkey & 255 AS and255,
        |  p_partkey | 4096 AS or4096,
        |  xor(p_partkey, 93) AS xor93,
        |  p_partkey << 2 AS shl2,
        |  p_partkey >> 3 AS shr3,
        |  CAST(bit_count(p_partkey) AS INT) AS bits
        |FROM part""".stripMargin,
    "q43_regexp_pack" ->
      """SELECT p_partkey,
        |  regexp_replace(p_name, '[aeiou]', '*', 'g') AS devoweled,
        |  regexp_extract(p_name, '([a-z]+)#([0-9]+)', 2) AS num_part,
        |  regexp_matches(p_name, '#[0-9]{2}') AS has_2digit,
        |  split_part(p_type, ' ', 1) AS type_head
        |FROM part""".stripMargin,
    "q46_listagg" ->
      """SELECT c_mktsegment,
        |  string_agg(DISTINCT CAST(c_nationkey AS VARCHAR), ','
        |    ORDER BY CAST(c_nationkey AS VARCHAR)) AS nations,
        |  count(1) AS cnt
        |FROM customer GROUP BY c_mktsegment""".stripMargin,
    "q47_array_hof_pack" ->
      """SELECT p_partkey,
        |  COALESCE(array_to_string(list_sort(list_distinct(
        |    regexp_extract_all(p_name, '[a-z]+'))), ','), '') AS words,
        |  COALESCE(array_to_string(list_slice(
        |    regexp_extract_all(p_name, '[a-z]+'), 1, 2), ','), '') AS first2,
        |  COALESCE(array_to_string(list_filter(
        |    regexp_extract_all(p_name, '[a-z]+'), x -> len(x) > 4), ','), '')
        |    AS longw,
        |  len(regexp_extract_all(p_name, '[a-z]+')) >= 2 AS has2,
        |  CAST(list_reduce(list_prepend(0, list_transform(
        |    regexp_extract_all(p_name, '[a-z]+'),
        |    x -> CAST(len(x) AS INT))), (a, b) -> a + b) AS BIGINT)
        |    AS total_len
        |FROM part""".stripMargin,
    "q48_unpivot" ->
      """WITH wide AS (
        |  SELECT o_orderpriority,
        |    sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS open_cnt,
        |    sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS done_cnt,
        |    sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS part_cnt
        |  FROM orders GROUP BY o_orderpriority
        |)
        |SELECT o_orderpriority, status, CAST(cnt AS BIGINT) AS cnt
        |FROM wide UNPIVOT (cnt FOR status IN (open_cnt, done_cnt, part_cnt))""".stripMargin,
    "q49_date_format" ->
      """SELECT event_id,
        |  strftime(ts, '%Y-%m-%d') AS d,
        |  strftime(ts, '%H:%M:%S') AS t,
        |  strftime(ts, '%j') AS doy,
        |  CAST(strftime(ts, '%Y') AS BIGINT) AS yr,
        |  CAST(quarter(ts) AS BIGINT) AS qtr,
        |  CAST(weekofyear(ts) AS BIGINT) AS iso_week
        |FROM events""".stripMargin,
    "q51_moving_avg" ->
      s"""SELECT o_orderkey, o_custkey, o_totalprice,
        |  ${sumExactOverSql("o_totalprice", "w")} / count(*) OVER w
        |    AS mov_avg
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
        |  ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)""".stripMargin,
    "q79_fk_audit" -> {
      def e(name: String, child: String, key: String,
            parent: String, pkey: String, pwhere: String) =
        s"""SELECT '$name' AS fk,
           |  (SELECT count(*) FROM $child) AS n_child_rows,
           |  (SELECT count(DISTINCT $key) FROM $child) AS n_keys,
           |  (SELECT count(*) FROM (
           |     SELECT DISTINCT $key AS k FROM $child) c
           |   WHERE NOT EXISTS (SELECT 1 FROM $parent p
           |     WHERE p.$pkey = c.k $pwhere)) AS n_orphan_keys,
           |  (SELECT count(*) FROM $child c
           |   WHERE NOT EXISTS (SELECT 1 FROM $parent p
           |     WHERE p.$pkey = c.$key $pwhere)) AS n_orphan_rows""".stripMargin
      Seq(
        e("customer.nationkey->nation", "customer", "c_nationkey",
          "nation", "n_nationkey", ""),
        e("lineitem.orderkey->orders", "lineitem", "l_orderkey",
          "orders", "o_orderkey", ""),
        e("lineitem.partkey->part", "lineitem", "l_partkey",
          "part", "p_partkey", ""),
        e("lineitem.suppkey->supplier", "lineitem", "l_suppkey",
          "supplier", "s_suppkey", ""),
        e("orders.custkey->customer", "orders", "o_custkey",
          "customer", "c_custkey", ""),
        e("orders.custkey->customer[degraded]", "orders", "o_custkey",
          "customer", "c_custkey", "AND p.c_custkey % 10 <> 0"),
        e("supplier.nationkey->nation", "supplier", "s_nationkey",
          "nation", "n_nationkey", "")).mkString(" UNION ALL ")
    },
    "q78_window_distribution" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cdist
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_totalprice, o_orderkey)""".stripMargin,
    "q52_ratio_to_report" ->
      s"""SELECT o_orderkey, o_custkey, o_totalprice,
        |  o_totalprice /
        |    ${sumExactOverSql("o_totalprice", "(PARTITION BY o_custkey)")}
        |      AS share
        |FROM orders""".stripMargin,
    "q50_try_funcs" ->
      """SELECT p_partkey,
        |  p_retailprice / NULLIF(CAST(p_size - p_size AS DOUBLE), 0) AS div0,
        |  TRY_CAST(p_name AS INTEGER) AS bad_int,
        |  TRY_CAST(regexp_extract(p_name, '[0-9]+') AS BIGINT) AS num_ok,
        |  str_split(p_type, ' ')[99] AS oob
        |FROM part""".stripMargin,
    "q44_map_funcs" ->
      """SELECT event_id,
        |  CAST(len(json_keys(props)) AS BIGINT) AS n_keys,
        |  json_extract_string(props, '$.k') AS k_value,
        |  array_to_string(json_keys(props), ',') AS keys_csv
        |FROM events""".stripMargin)
}
