package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed graph analytics over edge-list DataFrames.
  *
  * Both operators take the graph as a plain `(src,dst)` / `(s1,s2)` edge
  * DataFrame, so any relational derivation (bipartite fact-table
  * projections, similarity pair outputs from [[Dedup]], …) plugs in
  * directly. Everything is equi-join + aggregate — no driver-side graph
  * state, no adjacency collection — so the shapes hold at 100 TB:
  * iteration count is fixed (PageRank) or work is bounded by degree
  * orientation (triangles), never by graph diameter times data volume.
  */
object Graph {

  /** Default oriented-wedge work budget shared by [[triangleStats]],
    * [[triangleStatsServed]], [[triangleStatsAuto]] AND the gr2 serve
    * gate in GraphQueries — ONE constant so the serve path's degrade
    * threshold can never drift from the build paths' refusal threshold
    * (ADVICE r11: a duplicated literal would make the serve path throw
    * the require instead of degrading if the default ever moved). */
  val DefaultMaxOrientedWedges: Long = 50000000000L

  /** Unnormalized PageRank (Brin & Page 1998): init rank 1.0 per node,
    * then `iters` rounds of `r'(v) = teleport + damping · Σ_{u~v} r(u)/deg(u)`
    * over an UNDIRECTED edge list (one row per edge; every node must
    * appear in ≥1 edge).
    *
    * Arithmetic is FIXED-POINT in integer micros (rank 1.0 ≡ 1 000 000)
    * with a ×1000 guard scale on the per-edge division: contributions
    * are `(rank·1000) div deg`, folded back by `div 1000` after the
    * in-sum, damping is `(85·Σ) div 100` — the same discipline as the
    * fixed-point LSH projections: every step is integer math, so the
    * iterate is bit-identical across partition counts, engines, and AQE
    * re-plans with no dependence on any double→decimal rounding
    * convention. Floor-division loss, stated honestly: each edge's
    * quotient floors away < 1e-3 micro (so a source loses < deg/1000
    * micros of distributed mass per round), and the per-node fold-back
    * floors < 1 micro — a plain `rank div deg` instead loses up to
    * `deg` micros per source per round and ZEROES every node whose
    * rank-in-micros is below its degree (a 2M-degree hub with rank
    * 1.0 would vanish from the recurrence entirely; with the guard
    * scale the cliff moves to rank < deg/1000, i.e. hubs beyond 1e9
    * edges). Long headroom: rank·1000 and the per-dst in-sum stay
    * < 2^63 while total mass·1000 does — safe through N ≈ 9e9 unit-mass
    * nodes; beyond that, shrink the guard scale.
    *
    * Scale shape: the degree-annotated edge table is materialized ONCE,
    * hash-partitioned by `dst` (persisted here; a bucketed table on a
    * cluster) — so the per-round `groupBy(dst)` aggregate needs NO
    * exchange at all: the cached partitioning already satisfies it. The
    * rank table (|nodes| rows, ≪ |edges|) is broadcast into the join
    * each round while it fits (`broadcastNodeLimit`), making a full
    * iteration zero-shuffle at this scale. PAST the gate — a node set
    * too large to broadcast, the 10⁹-node web-graph regime — the SAME
    * integer recurrence runs co-partitioned: a second persisted copy of
    * the edge table hash-partitioned by `src` joins sort-merge against
    * ranks exchanged on `node` (node-sized — the only thing that moves
    * into the join), and the contribution aggregate flows back to `dst`
    * partitioning with map-side partial aggregation bounding the
    * exchange at distinct-dst-per-partition. Both regimes iterate
    * bit-identically (the arithmetic is all integer — GraphSpec pins
    * gate-on ≡ gate-off row-for-row). Iterations are FIXED, not
    * run-to-convergence: the plan depth and job count are known up
    * front, and a fixed-power iterate is exactly reproducible by the
    * oracle.
    */
  def pagerank(edges: DataFrame, iters: Int = 5, damping: Double = 0.85,
               teleport: Double = 0.15,
               broadcastNodeLimit: Long = 50000000L): DataFrame = {
    val dampPct = math.round(damping * 100)
    val telMicros = math.round(teleport * 1e6)
    val und = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
    // persisted: deg seeds BOTH the edge annotation and the round-0 rank
    // table — unpersisted, round 1's broadcast of ranks would re-execute
    // the caller's whole edge derivation (for gr1 a second distinct()
    // shuffle over the fact table); materialized by ew.count() below
    val deg = und.groupBy("src").agg(count(lit(1)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val shufflePartitions =
      edges.sparkSession.sessionState.conf.numShufflePartitions
    val ew = und.join(broadcast(deg), "src")
      // explicit partition count: AQE would coalesce the ~tens-of-MB
      // rank-contribution stream to one task (the single-task trap
      // documented at Tables.spread)
      .repartition(shufflePartitions, col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    ew.count() // eager: five rounds read this, never the join lineage
    val nNodes = deg.count() // deg is cached — one node-sized job
    val bigGraph = nNodes > broadcastNodeLimit
    // the src-partitioned edge copy exists only in the big regime: the
    // per-round join consumes its cached hash partitioning, so only the
    // rank side exchanges into the join
    val ewSrc = if (!bigGraph) null
      else {
        val df = ew.repartition(shufflePartitions, col("src"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        df.count()
        df
      }
    var ranks = deg.select(col("src").as("node"), lit(1000000L).as("rank"))
    (1 to iters).foreach { _ =>
      val joined =
        if (!bigGraph)
          ew.alias("e")
            .join(broadcast(ranks.alias("r")),
              col("e.src") === col("r.node"))
        else
          // merge hint: Catalyst must not silently re-broadcast a rank
          // table the gate just declared un-broadcastable
          ewSrc.alias("e")
            .join(ranks.alias("r").hint("merge"),
              col("e.src") === col("r.node"))
      ranks = joined
        .groupBy(col("e.dst"))
        .agg(expr(s"$telMicros + " +
            s"($dampPct * (sum((rank * 1000) div deg) div 1000)) div 100")
          .as("rank"))
        .select(col("dst").as("node"), col("rank"))
        // materialize each iterate (optimization r15): un-materialized,
        // round i's rank lineage nests rounds 1..i-1, so the per-round
        // broadcast re-executed every earlier round's aggregation from
        // the ew cache — O(iters²) agg passes (measured: 15 aggs for 5
        // rounds at sf0.1). The checkpoint is node-sized — the same
        // per-iteration materialization GraphX/MLlib iterates carry —
        // and integer values are unchanged (gr1 re-oracled).
        .localCheckpoint()
    }
    ranks.select(col("node"),
      (col("rank").cast("double") / lit(1000000.0)).as("rank"))
  }

  /** DuckDB connected components over an `edges(src, dst)` CTE that
    * holds both directions of every edge, for use under WITH RECURSIVE:
    * the transitive closure `reach`, then `comp` (`node`, cluster_id =
    * least member) for every node on some edge. Shared by the gr3 and
    * dd3/pl21/pl23 twins. */
  def componentsSql(node: String): String =
    s"""reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
       |), comp AS (
       |  SELECT src AS $node, least(src, min(dst)) AS cluster_id
       |  FROM reach GROUP BY src
       |)""".stripMargin

  /** DuckDB twin of [[pagerank]] (damping 0.85 / teleport 0.15): the
    * fixed iteration count unrolls into a CTE chain (`r0 … r$iters`),
    * each round the same join + integer-micros fold (`//` is DuckDB
    * floor division ≡ Spark's `div` on the nonnegative ranks).
    * `edgesCte` must define `edges(src, dst)` (one row per undirected
    * edge) over the fixture tables. */
  def pagerankSql(edgesCte: String, iters: Int = 5): String = {
    def round(i: Int): String =
      s"""r$i AS (
         |  SELECT e.dst AS node,
         |    CAST(150000 +
         |      (85 * (sum((r.rank * 1000) // e.deg) // 1000)) // 100
         |      AS BIGINT) AS rank
         |  FROM ew e JOIN r${i - 1} r ON e.src = r.node
         |  GROUP BY e.dst)""".stripMargin
    s"""WITH edges AS ($edgesCte),
       |und AS (SELECT src, dst FROM edges
       |        UNION ALL SELECT dst, src FROM edges),
       |deg AS (SELECT src, count(*) AS deg FROM und GROUP BY src),
       |ew AS (SELECT u.src, u.dst, d.deg
       |       FROM und u JOIN deg d ON u.src = d.src),
       |r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS rank
       |       FROM deg),
       |${(1 to iters).map(round).mkString(",\n")}
       |SELECT node, CAST(rank AS DOUBLE) / 1000000.0 AS rank
       |FROM r$iters""".stripMargin
  }

  /** Exact triangle count + global clustering coefficient over an
    * undirected edge list (`s1 < s2`, one row per edge, distinct).
    *
    * Algorithm: degree orientation (Schank & Wagner 2005; the
    * MapReduce/shuffle formulation is Suri & Vassilvitskii 2011) — each
    * edge is oriented from the (degree, id)-smaller endpoint to the
    * larger, which turns every triangle into exactly ONE directed path
    * u→v→w with closing edge u→w. Out-degree under this orientation is
    * bounded by O(√|E|), so the wedge join materializes
    * Σ out(v)·in(v) = O(|E|^{3/2}) candidate rows worst-case — the
    * standard scalable bound — instead of Σ deg² of a naive neighbor
    * join, and a skewed hub node costs √E per edge, not deg(hub).
    * Everything is hash equi-joins; the count is exactly the naive
    * s1<s2<s3 count, which is what the oracle computes.
    *
    * Output (one row): n_nodes, n_edges, n_wedges (Σ d(d−1)/2, exact
    * bigint), n_triangles, clustering = 3·triangles / wedges.
    */
  def triangleStats(edges: DataFrame,
                    broadcastEdgeLimit: Long = 20000000L,
                    wedgeBroadcastLimit: Long = 20000000L,
                    maxOrientedWedges: Long = DefaultMaxOrientedWedges): DataFrame = {
    val spark = edges.sparkSession
    val e = edges.select(col("s1"), col("s2"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nEdges = e.count()
    if (nEdges == 0L) {
      // max(greatest(..)) below would be a null row — and there is
      // nothing to join anyway
      import spark.implicits._
      return Seq((0L, 0L, 0L, 0L)).toDF(
          "n_nodes", "n_edges", "n_wedges", "n_triangles")
        .withColumn("clustering", lit(null).cast("double"))
    }
    val deg = degrees(e)
    // spread BEFORE persist: the cached edge table is only ~tens of MB,
    // so AQE coalesces it to one task — but each cached row fans out to
    // its out-degree in the wedge stage below; partition count must
    // follow the DOWNSTREAM fan-out, not the cached bytes
    val oriented = graft.core.Tables.spread(orient(e, deg))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // wedge-budget guard: the join below materializes Σ out(v)·in(v)
    // probe rows. Degree orientation bounds that by O(E^{3/2}) for any
    // graph, but a pathologically dense PROJECTION (one giant order ⇒ a
    // clique) still explodes within that bound. The exact oriented wedge
    // count costs two node-sized aggs off the cached edge table — pay it
    // up front and fail with the number and the knob, instead of letting
    // a 100×-scale job discover it as an hours-long stage.
    // fast path: wedgeWork ≤ E^{3/2} under degree orientation, so when
    // even that ceiling is inside the budget the exact count (two aggs +
    // a driver collect) is pure overhead — only graphs big enough to
    // possibly trip the guard pay for it
    if (nEdges.toDouble * math.sqrt(nEdges.toDouble) > maxOrientedWedges)
      requireWedgeBudget(wedgeWorkOf(oriented), maxOrientedWedges)
    val maxId = e.agg(max(greatest(col("s1"), col("s2")))).head.getLong(0)
    val tri = closedWedgeCount(oriented, oriented, nEdges, maxId,
      broadcastEdgeLimit, wedgeBroadcastLimit)
    val degStats = deg.agg(
      count(lit(1)).as("n_nodes"),
      sum(expr("d * (d - 1) div 2")).cast("long").as("n_wedges"))
    // two single-row frames → broadcast combine (1×1 rows, by design);
    // n_edges is already on the driver from the eager persist count.
    // clustering is NULL (not NaN) when the graph has no wedges — the
    // coefficient is undefined there, and NULL is the cross-engine-safe
    // encoding (0.0/0 is NaN in Spark but not portable)
    statsRow(degStats, tri, nEdges)
  }

  /** The wedge join + closing semi probe over an ALREADY-ORIENTED edge
    * table (one row count) — shared by [[triangleStats]] (in-query
    * orientation) and [[triangleStatsServed]] (orientation read from
    * the durable base).
    *
    * The wedge set (Σ out·in rows) must never be sorted or shuffled —
    * it is the algorithm's O(E^{3/2}) blow-up term. While the oriented
    * edge table fits a broadcast, both the wedge join and the closing
    * probe run map-side over one scan: wedges exist only inside a
    * codegen pipeline feeding a partial count. Past the limit, the
    * shuffle-hash hint keeps the same joins hash-based (an SMJ would
    * sort the wedge stream) with edges partitioned by the join key. */
  private def closedWedgeCount(oriented: DataFrame, orientedBuild: DataFrame,
                               nEdges: Long,
                               maxId: Long, broadcastEdgeLimit: Long,
                               wedgeBroadcastLimit: Long): DataFrame = {
    def buildSide(d: DataFrame) =
      if (nEdges <= broadcastEdgeLimit) broadcast(d) else d.hint("shuffle_hash")
    // the wedge-build and closing-probe relations are the SAME oriented
    // table, so their broadcast memory is identical — the historic
    // tighter wedge limit conflated output fan-out (the ~E^{3/2} wedge
    // rows, produced in EITHER regime) with broadcast cost. Keeping the
    // wedge build broadcast while the table fits skips two full edge
    // exchanges and is stream-side skew-immune (measured on the 12M-edge
    // sf1.0 replica: 22.1 s shuffled -> 18.0 s broadcast, same box).
    // MEMORY NOTE (ADVICE r11): in the 2M-20M-edge band the wedge build
    // AND the closing probe each broadcast the oriented table as a
    // SEPARATE relation (different projections never share a broadcast
    // exchange), so peak broadcast memory is ~2× the table — size
    // executors for two copies, or lower wedgeBroadcastLimit (caller-
    // tunable) where that headroom doesn't exist; the win above was
    // measured at 12M edges on one 128 GiB box only
    val wedgeBuild =
      if (nEdges <= math.min(wedgeBroadcastLimit, broadcastEdgeLimit))
        broadcast(orientedBuild.alias("e2"))
      else orientedBuild.alias("e2").hint("shuffle_hash")
    val wedgePaths = oriented.alias("e1")
      .join(wedgeBuild, col("e1.v") === col("e2.u"))
    // left-semi close: a wedge either closes or not (edges are distinct),
    // so the probe never constructs output rows — and when node ids fit
    // 31 bits the (u,v) pair packs into ONE long, turning the ~E^{3/2}
    // probes into dense LongHashedRelation lookups instead of generic
    // two-column row-key hashing (several× per-probe cost)
    (if (maxId < (1L << 31)) {
      val packed = (c1: org.apache.spark.sql.Column,
                    c2: org.apache.spark.sql.Column) =>
        shiftleft(c1, 32) + c2
      wedgePaths.select(packed(col("e1.u"), col("e2.v")).as("uv"))
        .join(buildSide(
          orientedBuild.select(packed(col("u"), col("v")).as("uv"))),
          Seq("uv"), "left_semi")
    } else {
      wedgePaths.select(col("e1.u").as("a"), col("e2.v").as("c"))
        .join(buildSide(orientedBuild.alias("e3")),
          col("a") === col("e3.u") && col("c") === col("e3.v"), "left_semi")
    }).agg(count(lit(1)).as("n_triangles"))
  }

  /** Node degrees (node, d) of an (s1, s2) edge list. */
  private def degrees(e: DataFrame): DataFrame =
    e.select(col("s1").as("node"))
      .union(e.select(col("s2").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))

  /** The degree orientation (u, v) of the (s1, s2) edges `e` with their
    * [[degrees]] `deg` — the ONE spelling of the rule shared by
    * [[triangleStats]], [[buildTriangleBase]] and [[orientedWedgeWork]]:
    * each edge points from the (degree, id)-smaller endpoint to the
    * larger. */
  private def orient(e: DataFrame, deg: DataFrame): DataFrame = {
    // deg has |nodes| rows ≪ |edges| but hides behind an aggregate, so
    // the size estimate defaults pessimistic — broadcast explicitly
    val ed = e
      .join(broadcast(deg.select(col("node").as("s1"), col("d").as("d1"))),
        "s1")
      .join(broadcast(deg.select(col("node").as("s2"), col("d").as("d2"))),
        "s2")
    val lowerFirst = (col("d1") < col("d2")) ||
      ((col("d1") === col("d2")) && (col("s1") < col("s2")))
    ed.select(
      when(lowerFirst, col("s1")).otherwise(col("s2")).as("u"),
      when(lowerFirst, col("s2")).otherwise(col("s1")).as("v"))
  }

  /** Exact Σ out(v)·in(v) of an oriented (u, v) edge table: two
    * node-sized aggregates + a driver scalar. */
  private def wedgeWorkOf(oriented: DataFrame): Long =
    oriented.groupBy(col("u")).agg(count(lit(1)).as("o"))
      .join(oriented.groupBy(col("v")).agg(count(lit(1)).as("i")),
        col("u") === col("v"))
      .agg(coalesce(sum(col("o") * col("i")), lit(0L))).head.getLong(0)

  private def requireWedgeBudget(wedgeWork: Long,
                                 maxOrientedWedges: Long): Unit =
    require(wedgeWork <= maxOrientedWedges,
      s"triangleStats: oriented wedge count $wedgeWork exceeds the " +
        s"$maxOrientedWedges budget — the projection is too dense to " +
        "enumerate; pre-filter hub groups (cap per-key set size at the " +
        "edge build) or raise maxOrientedWedges deliberately")

  /** The one-row triangle stats from a frame carrying n_nodes and
    * n_wedges and the one-row n_triangles count — one AST, so the served
    * and in-query paths divide identically. */
  private def statsRow(degStats: DataFrame, tri: DataFrame,
                       nEdges: Long): DataFrame =
    degStats.crossJoin(tri)
      .select(col("n_nodes"), lit(nEdges).as("n_edges"), col("n_wedges"),
        col("n_triangles"),
        when(col("n_wedges") > 0,
          lit(3.0) * col("n_triangles") / col("n_wedges"))
          .as("clustering"))

  /** Build the durable triangle-base artifact for `edges` under `path`:
    * `oriented/` — the degree-oriented edge table ([[triangleStats]]'s
    * exact orientation rule: each edge points from the (degree, id)-
    * smaller endpoint to the larger) — and `meta/` — ONE row of the
    * graph scalars (n_nodes, n_edges, n_wedges, max_id, wedge_work)
    * the serve path needs, including the EXACT oriented wedge work so
    * [[triangleStatsServed]]'s budget guard is a driver compare instead
    * of two node-sized aggregates per query. The orientation is a
    * corpus-snapshot artifact exactly like the basket pair base: built
    * once per fixture generation (prewarm), consumed by every
    * triangle-count run against that snapshot. */
  def buildTriangleBase(edges: DataFrame, path: String): Unit = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col("s1"), col("s2"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val nEdges = e.count()
      val deg = degrees(e)
      orient(e, deg).write.mode("overwrite").parquet(s"$path/oriented")
      // scalars off the WRITTEN table (one extra scan beats recomputing
      // the orientation joins) — all build-time work
      val wedgeWork = wedgeWorkOf(spark.read.parquet(s"$path/oriented"))
      val maxId =
        if (nEdges == 0L) 0L
        else e.agg(max(greatest(col("s1"), col("s2")))).head.getLong(0)
      val ds = deg.agg(count(lit(1)).as("n_nodes"),
          coalesce(sum(expr("d * (d - 1) div 2")), lit(0L)).cast("long")
            .as("n_wedges")).head
      Seq((ds.getLong(0), nEdges, ds.getLong(1), maxId, wedgeWork))
        .toDF("n_nodes", "n_edges", "n_wedges", "max_id", "wedge_work")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    } finally { e.unpersist(); () }
  }

  /** [[triangleStats]] served from a [[buildTriangleBase]] artifact:
    * the orientation joins, degree aggregates, and the wedge-work guard
    * all collapse into a meta read + one driver compare, so a serve-path
    * run is ONE wedge-join-count over the oriented parquet scan. Output
    * is row-identical to [[triangleStats]] on the same edges (the
    * clustering division runs the same AST on the same operands);
    * GraphSpec pins the equality. */
  def triangleStatsServed(spark: org.apache.spark.sql.SparkSession,
                          root: String,
                          broadcastEdgeLimit: Long = 20000000L,
                          wedgeBroadcastLimit: Long = 20000000L,
                          maxOrientedWedges: Long = DefaultMaxOrientedWedges)
      : DataFrame = {
    import spark.implicits._
    val m = graft.core.Frames.headRow(spark, s"$root/meta")
    val nEdges = m.getAs[Long]("n_edges")
    if (nEdges == 0L) {
      return Seq((0L, 0L, 0L, 0L)).toDF(
          "n_nodes", "n_edges", "n_wedges", "n_triangles")
        .withColumn("clustering", lit(null).cast("double"))
    }
    requireWedgeBudget(m.getAs[Long]("wedge_work"), maxOrientedWedges)
    // spread ONLY the probe/stream side: each of its rows fans out to
    // its out-degree in the wedge join, so partitioning must follow the
    // fan-out, not the scanned bytes. The two BUILD sides stay plain
    // parquet scans — spreading them too would pay the repartition
    // shuffle three times per run (measured: 2.7 s vs the direct path's
    // 1.4 at sf0.1 before this split)
    val raw = graft.core.Frames.parquet(spark, s"$root/oriented")
    val tri = closedWedgeCount(graft.core.Tables.spread(raw), raw,
      nEdges, m.getAs[Long]("max_id"),
      broadcastEdgeLimit, wedgeBroadcastLimit)
    statsRow(Seq((m.getAs[Long]("n_nodes"), m.getAs[Long]("n_wedges")))
      .toDF("n_nodes", "n_wedges"), tri, nEdges)
  }

  /** Exact Σ out(v)·in(v) under degree orientation — the number of
    * wedge-join candidate rows [[triangleStats]] will materialize for
    * `edges` (its guard computes the same number internally). Two
    * node-sized aggregates + a driver scalar; used by
    * [[triangleStatsAuto]] to DECIDE before committing to the join. */
  def orientedWedgeWork(edges: DataFrame): Long = {
    val e = edges.select(col("s1"), col("s2"))
    wedgeWorkOf(orient(e, degrees(e)))
  }

  /** [[triangleStats]] with the refusal replaced by the DEGRADE its
    * error message names: when the exact co-occurrence graph's oriented
    * wedge work exceeds `maxOrientedWedges`, the edge list is REBUILT
    * from the raw baskets through [[cappedBasketPairs]] (per-group item
    * sets hash-sampled to `cap`) and the stats are computed on that
    * bounded projection instead — a lower-bound estimate with the bias
    * stated, not an hours-long stage or an exception. The output carries
    * `degraded`: false ⇒ the numbers are exact; true ⇒ triangle/wedge
    * counts are lower bounds over the capped graph (each pair in a
    * capped group survives w.p. ≈ (cap/n)², uniformly).
    *
    * The decision reuses [[triangleStats]]'s OWN guard (its eager counts
    * run at call time, so the refusal surfaces here synchronously): the
    * healthy path is byte-for-byte the r8 exact path — no extra persist,
    * count, or wedge probe (the guard itself skips the probe while
    * E^{3/2} is inside the budget). The capped rebuild keeps the SAME
    * budget: if even the capped graph blows it (cap set too high), the
    * require still fails with the knob named — degrade once, then
    * guard, never silently explode twice. */
  def triangleStatsAuto(exactEdges: DataFrame, baskets: DataFrame,
                        groupCol: String, itemCol: String, cap: Int,
                        maxOrientedWedges: Long = DefaultMaxOrientedWedges): DataFrame =
    try
      triangleStats(exactEdges, maxOrientedWedges = maxOrientedWedges)
        .withColumn("degraded", lit(false))
    catch {
      case ex: IllegalArgumentException
          if ex.getMessage != null &&
            ex.getMessage.contains("oriented wedge count") =>
        val capped = cappedBasketPairs(baskets, groupCol, itemCol, cap)
          .select(col("a").as("s1"), col("b").as("s2"))
        triangleStats(capped, maxOrientedWedges = maxOrientedWedges)
          .withColumn("degraded", lit(true))
    }

  /** CAPPED co-occurrence pair build — the scale-safe degrade the
    * [[triangleStats]] wedge guard's error message names: a group
    * (order/basket/session) with more than `cap` distinct items keeps
    * only the `cap` items with the smallest (portable-hash(group:item),
    * item) before the quadratic in-row pair expansion. The hash sample
    * is uniform per (group, item), coordination-free, stable under
    * replay and reproduced exactly by the SQL twin — so the capped
    * projection is still a hash-oracle-able operator, not a lossy
    * heuristic.
    *
    * BIAS, stated: pair counts touching a capped group are a LOWER
    * bound — each pair inside a capped group survives with probability
    * ≈ (cap/n)², uniformly (no item is favored). That is the standard
    * trade for bounding a densifying projection: a hub group
    * contributes O(cap²) instead of O(n²) pair rows, turning the
    * worst-case clique blow-up into a constant. Rows carry
    * `from_capped` (did ANY contributing group get capped?) so
    * downstream consumers can see exactly which counts are bounded
    * estimates vs exact.
    *
    * Scale shape: one groupBy(group) collect_set (the same single
    * shuffle the uncapped build pays), the sample + expansion in-row,
    * one pair-count agg — per-group work is now O(cap²) worst case, so
    * the wedge budget in [[triangleStats]] becomes a static guarantee:
    * Σ out·in ≤ E·cap regardless of how dense the raw projection is. */
  def cappedBasketPairs(df: DataFrame, groupCol: String, itemCol: String,
                        cap: Int): DataFrame =
    cappedPairsFromBaskets(basketSets(df, groupCol, itemCol), cap)

  /** The basket projection itself — one row per group with ≥2 distinct
    * items, `(ok, parts)` with `parts = array_sort(collect_set(item))`.
    * This is the single shuffle every basket-derived build pays
    * (pair counts, capped pairs, the triangle bases); factoring it out
    * lets a deployment materialize it ONCE per corpus snapshot (see
    * [[graft.queries.BasketBase.baskets]]) and serve every downstream
    * projection as a scan — the checkpoint-the-projection pattern the
    * pair-count base already uses, pushed one derivation earlier. */
  def basketSets(df: DataFrame, groupCol: String, itemCol: String): DataFrame =
    df.select(col(groupCol).as("ok"), col(itemCol).cast("long").as("pk"))
      .groupBy(col("ok"))
      .agg(array_sort(collect_set(col("pk"))).as("parts"))
      .filter(size(col("parts")) >= 2)

  /** [[cappedBasketPairs]]'s sample + pair expansion over an already
    * built `(ok, parts)` basket table — shuffle-free (the explode and
    * the hash sample are in-row; only the final pair-count agg
    * exchanges). Serving gr5 from the durable basket artifact via this
    * entry point retired the per-query collect_set rebuild (r12). */
  def cappedPairsFromBaskets(baskets0: DataFrame, cap: Int): DataFrame = {
    require(cap >= 2, "a pair build needs cap >= 2")
    import graft.functions.PortableHash
    val baskets = baskets0
      .withColumn("was_capped", size(col("parts")) > cap)
    val keyed = transform(col("parts"), pk =>
      struct(
        PortableHash.hash60(concat(col("ok").cast("string"), lit(":"),
          pk.cast("string"))).as("h"),
        pk.as("pk")))
    val sampled = array_sort(
      transform(slice(array_sort(keyed), 1, cap), s => s.getField("pk")))
    baskets
      .withColumn("parts",
        when(col("was_capped"), sampled).otherwise(col("parts")))
      .select(explode(expr(
        """flatten(transform(sequence(1, size(parts) - 1), i ->
          |  transform(sequence(i + 1, size(parts)), j ->
          |    struct(element_at(parts, i) AS a,
          |           element_at(parts, j) AS b))))""".stripMargin))
        .as("p"), col("was_capped"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n_ab"), max(col("was_capped")).as("from_capped"))
  }

  /** Fixed-round synchronous k-core peel (Seidman 1983; the
    * Batagelj–Zaveršnik sequential peel re-expressed as BSP rounds so
    * every round is one degree aggregation + two node semi-joins over
    * the live edge set — no sequential vertex deletion, no
    * driver-resident graph). Round r drops every node whose degree
    * among round-(r−1) survivors is < k. Survivor sets shrink
    * monotonically (once a node's degree falls below k it can never
    * recover — edges only disappear), so COUNT equality between the
    * last two rounds proves SET equality; the `require` makes the
    * emitted frame the TRUE k-core on any fixture that converges
    * within `rounds` rather than a silent approximation (a
    * data-dependent loop-to-fixpoint is not twin-replayable; a fixed
    * unroll with a proven fixpoint is — the sim9/tx35/pl27 unroll
    * discipline). The live edge set is materialized every SECOND
    * round (r16, measured at the 10× replica): the r15 fully-lazy
    * form (derive every live_r from the round-0 checkpoint) made each
    * round's degree aggregation re-scan the FULL edge set — broadcast
    * semi-joins never shrink scan bytes — and regressed gr7 2.9 → 5.3 s
    * at sf1.0 while winning ~0.4 s at sf0.1; alternating checkpoints
    * restore shrinking scans (≤ one round stale, exact by survivor
    * monotonicity: live_{r-2} ⋉ surv_r ⋉ surv_r = live_r) at half the
    * materialization cost (sf1.0 ~2.6 s, sf0.1 ~1.6 s — within ~0.1 s
    * of the lazy form locally). At cluster scale these are checkpoints
    * to durable storage. Input: one row per undirected edge (a, b);
    * output: (node, deg_in_core) over the fixpoint edge set. */
  def kcore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(rounds >= 2, "need >= 2 rounds for the fixpoint check")
    // Survivor sets shrink monotonically (a node outside surv_{r-1}
    // has no edges in round r's live set, so its degree is 0 < k ⇒
    // surv_r ⊆ surv_{r-1}), hence deriving live_r by semi-joining an
    // OLDER live set on surv_r is exact. The r15 form exploited that
    // to never re-materialize edges (derive every round from live0) —
    // see the class doc: correct, locally faster, but a 2× scale
    // regression because every round then re-scans the full edge set.
    // r16: checkpoint the live set on even rounds — scans shrink with
    // the peel again, at half the r14 shape's materialization count.
    val live0 = edges.select(col("a"), col("b"))
      .unionAll(edges.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint()
    var live = live0
    var prevSurvivors = -1L
    var lastSurvivors = -2L
    for (r <- 1 to rounds) {
      // surv's per-round localCheckpoint stays (optimization r15,
      // probed): dropping it to save 8 materialization jobs turned the
      // two semi-joins' build sides into unsized agg subtrees — the
      // planner lost the known-small relation and the joins regressed
      // off the broadcast path (gr7 2.1 → 3.5-5.0 s at sf0.1).
      val surv = live.groupBy(col("a")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("a").as("n"))
        .localCheckpoint()
      if (r >= rounds - 1) {
        prevSurvivors = lastSurvivors
        lastSurvivors = surv.count()
      }
      val derived = live
        .join(surv.select(col("n").as("a")), Seq("a"), "left_semi")
        .join(surv.select(col("n").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
      live = if (r % 2 == 0) derived.localCheckpoint() else derived
    }
    require(prevSurvivors == lastSurvivors,
      s"k-core peel did not reach fixpoint in $rounds rounds " +
        s"(survivors ${prevSurvivors} -> ${lastSurvivors}); raise rounds")
    live.groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("deg_in_core"))
  }
}
