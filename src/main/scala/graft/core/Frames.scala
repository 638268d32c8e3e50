package graft.core

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The one session-scoped frame memo, and the repo's cache contract.
  *
  * Who owns what:
  *
  *  - **This memo — lazy frames, per (session, path).**
  *    `spark.read.parquet` runs a footer schema-inference JOB on every
  *    call, so an un-memoized read taxes every DataFrame construction
  *    (one job per table reference; PlanQualitySpec pins construction
  *    laziness). Fixture tables ([[Tables.load]]), artifact reads
  *    ([[parquet]]/[[orc]]) and single-row meta tables ([[headRow]]) all
  *    read through it. Only the inferred schema and file listing are
  *    pinned: data always comes from the files at execution time. Keys
  *    carry the loader's tag (`t:` adapted fixture table, `p:` parquet,
  *    `o:` orc, `r:` head row), so an adapted `events` frame never shares
  *    an entry with a raw parquet read of the same file. Entries of
  *    STOPPED sessions are swept on every lookup — a strong key would
  *    otherwise pin a dead session's analyzed plans for the JVM lifetime,
  *    and a WeakHashMap cannot help because each memoized frame strongly
  *    references its session (the value→key leak).
  *  - **[[FixtureCache]] — durable artifacts and the values read from
  *    them.** Derived tables live under a fixture-fingerprint path, so a
  *    regenerated fixture resolves to a NEW path and a memo entry over a
  *    generation dir can never go stale. It is the one owner of
  *    temp-then-rename (generation builds, and the in-place index table
  *    swap [[FixtureCache.swapTables]]) and the one JVM memo of
  *    file-derived driver values ([[FixtureCache.memo]]: collected
  *    models, keyed by a freshness token of their files).
  *  - **[[ManagedPersist]] — GC-scoped Dataset persists.** Unpersisted
  *    once the frames they serve become unreachable.
  *
  * Who must call [[invalidate]]: anything that rewrites files IN PLACE
  * under a memoized path.
  *  - Index mutators (DedupIndex/TextIndex/VectorIndex append, compact,
  *    delete) call it inside their write methods, after every write;
  *    a table rewrite goes through [[FixtureCache.swapTables]] and a
  *    crash repair through [[FixtureCache.healSwaps]], which invalidate
  *    each table they move. A new mutator that forgets it serves a stale
  *    schema and partition listing.
  *  - A fixture dir regenerated in place mid-JVM goes through
  *    [[Tables.invalidate]] (an `events` ts physical-type flip would
  *    otherwise keep the old schema until JVM exit).
  */
object Frames {

  private type Memo[A] =
    java.util.concurrent.ConcurrentHashMap[(SparkSession, String), A]

  private val frames = new Memo[DataFrame]()
  // a separate map on purpose: headRow's computeIfAbsent calls parquet(),
  // and a nested computeIfAbsent on ONE ConcurrentHashMap throws
  // "Recursive update"
  private val rows = new Memo[Row]()

  def parquet(spark: SparkSession, path: String): DataFrame =
    frame(spark, "p:", path)(spark.read.parquet(path))

  def orc(spark: SparkSession, path: String): DataFrame =
    frame(spark, "o:", path)(spark.read.orc(path))

  /** The memoized frame under (session, `tag` + `path`); `read` runs on a
    * miss only. Every tag is two characters (see [[invalidate]]). */
  private[core] def frame(spark: SparkSession, tag: String, path: String)
                         (read: => DataFrame): DataFrame = {
    sweepStopped()
    frames.computeIfAbsent((spark, tag + path), _ => read)
  }

  /** First row of a (single-row) parquet meta table: a map read in place
    * of a per-call collect JOB. */
  def headRow(spark: SparkSession, path: String): Row = {
    sweepStopped()
    rows.computeIfAbsent((spark, "r:" + path),
      _ => parquet(spark, path).collect().head)
  }

  /** Drop every session's frames and rows at or under `pathPrefix`. The
    * boundary is a path separator: invalidating /data/idx keeps
    * /data/idx2. */
  def invalidate(pathPrefix: String): Unit = {
    val root = pathPrefix.stripSuffix("/")
    sweep { case (_, key) =>
      val p = key.drop(2)
      p == root || p.startsWith(root + "/")
    }
  }

  private def sweepStopped(): Unit = sweepWhere(_.sparkContext.isStopped)

  /** The stopped-session sweep with an injectable predicate, so a spec
    * can exercise it without stopping the suite-shared SparkContext. */
  private[graft] def sweepWhere(dead: SparkSession => Boolean): Unit =
    sweep(k => dead(k._1))

  private def sweep(drop: ((SparkSession, String)) => Boolean): Unit = {
    frames.keySet().removeIf(drop(_))
    rows.keySet().removeIf(drop(_))
  }

  /** Test hook: the live keys of both maps. */
  private[graft] def memoKeys: Set[(SparkSession, String)] = {
    val b = Set.newBuilder[(SparkSession, String)]
    frames.keySet().forEach(k => b += k)
    rows.keySet().forEach(k => b += k)
    b.result()
  }
}
