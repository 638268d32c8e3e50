package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.FixtureCache
import graft.operators.Scd2

/** Streaming SCD2 / CDC apply — the streaming twin of the batch
  * `pl13_scd2_merge` operator: maintain a type-2 dimension against an
  * unbounded CDC feed by running [[graft.operators.Scd2.merge]] inside
  * `foreachBatch` against a persisted dimension.
  *
  * Exactly-once without a transactional store: the dimension is persisted
  * as parquet VERSIONS keyed by micro-batch id (`<dimPath>/v<batchId>`).
  * A replayed micro-batch (restart from an older checkpoint, failure
  * between foreachBatch and checkpoint commit) finds its version already
  * written and SKIPS — the idempotence pattern foreachBatch's
  * at-least-once contract requires. Version dirs double as time travel;
  * `latestVersion` resolves the read side.
  *
  * Micro-batch semantics, chosen to make stream ≡ batch provable:
  *  - within a batch, only the LATEST update per key applies (max
  *    `effCol`, ties to the lexicographically-greatest attr tuple —
  *    deterministic regardless of arrival order);
  *  - an update whose effective time is ≤ the current row's valid_from
  *    is STALE (a late CDC event the dimension has already moved past)
  *    and is dropped before the merge — so replays and cross-batch
  *    reordering converge to the same history instead of writing
  *    negative-duration versions.
  *
  * Scale shape: per micro-batch ONE broadcast-sized join of the batch
  * against the current slice (the stale guard), then the single
  * full-outer merge join of [[Scd2.merge]] — the closed-history bulk of
  * the dimension is a never-shuffled pass-through there. The parquet
  * version write is the same one rewrite any lakehouse MERGE performs;
  * on a real deployment `dimPath` would be a table format with
  * copy-on-write semantics and `pruneVersions` its vacuum.
  */
object Scd2Stream {

  /** One listing/parse of the version dirs, shared by the read side and
    * the vacuum so their completeness policies cannot diverge:
    * (batchId, path, complete) where complete = `_SUCCESS` present. */
  private def listVersions(fs: org.apache.hadoop.fs.FileSystem,
                           base: org.apache.hadoop.fs.Path)
      : Seq[(Long, org.apache.hadoop.fs.Path, Boolean)] =
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v"))
      .flatMap(s => s.getPath.getName.drop(1).toLongOption.map(id =>
        (id, s.getPath, fs.exists(new org.apache.hadoop.fs.Path(
          s.getPath, "_SUCCESS")))))
      .sortBy(_._1)

  /** Resolve the newest applied version dir under `dimPath`, if any. */
  def latestVersion(spark: SparkSession, dimPath: String): Option[String] =
    listVersions(FixtureCache.fs(spark, dimPath),
        new org.apache.hadoop.fs.Path(dimPath))
      .filter(_._3).lastOption.map(_._2.toString)

  /** Read the current dimension state (empty-with-schema before the
    * first batch; `init` supplies the seed history/schema). */
  def currentDim(spark: SparkSession, dimPath: String,
                 init: DataFrame): DataFrame =
    latestVersion(spark, dimPath)
      .map(spark.read.parquet(_)).getOrElse(init)

  /** Apply one CDC micro-batch to the persisted dimension. Idempotent by
    * batchId: an already-applied batch returns without touching state. */
  def applyBatch(batch: DataFrame, batchId: Long, dimPath: String,
                 init: DataFrame, keyCols: Seq[String],
                 attrCols: Seq[String], effCol: String): Unit = {
    val spark = batch.sparkSession
    val fs = FixtureCache.fs(spark, dimPath)
    val vdir = new org.apache.hadoop.fs.Path(s"$dimPath/v$batchId")
    if (fs.exists(new org.apache.hadoop.fs.Path(vdir, "_SUCCESS"))) return
    val cur = currentDim(spark, dimPath, init)

    // latest-per-key collapse, deterministic under any arrival order
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy((col(effCol).desc +: attrCols.map(col(_).desc)): _*)
    val collapsed = batch
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")

    // stale guard: drop updates the dimension has already moved past
    val curSlice = cur.filter(col("is_current"))
      .select((keyCols.map(col) :+ col("valid_from").as("_cur_vf")): _*)
    val fresh = collapsed.join(curSlice, keyCols, "left")
      .filter(col("_cur_vf").isNull || col(effCol) > col("_cur_vf"))
      .drop("_cur_vf")

    val merged = Scd2.merge(cur, fresh, keyCols, attrCols, effCol)
    merged.write.mode("overwrite").parquet(vdir.toString)
  }

  /** Wire a streaming CDC DataFrame into the dimension: each micro-batch
    * runs [[applyBatch]]. Caller starts the returned writer. */
  def sink(updates: DataFrame, dimPath: String, init: DataFrame,
           keyCols: Seq[String], attrCols: Seq[String], effCol: String,
           checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[_] =
    updates.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, id: Long) =>
        applyBatch(b, id, dimPath, init, keyCols, attrCols, effCol)
      }

  /** Streaming point-in-time enrichment — the q70 batch query's
    * streaming twin, and the read side of this module's maintained
    * dimension: each micro-batch of FACTS joins the persisted SCD2
    * history on key + validity range, so a fact is labeled with the
    * dimension version valid AT ITS OWN EVENT TIME even when the
    * dimension has since moved on (the feature-store label-leakage
    * guard, online). Late facts are the whole point: a fact replayed
    * hours later still lands on its historical version, not today's.
    *
    * Per batch: one equi join on the keys with the validity range as a
    * residual predicate (q70's plan class — never a cartesian); the
    * dimension read resolves [[latestVersion]] at batch time, so
    * enrichment always sees the newest COMMITTED history from the
    * concurrent [[sink]]. Unmatched facts keep NULL attrs (status
    * 'none' semantics) rather than being dropped. */
  def pitEnrich(facts: DataFrame, dimPath: String, init: DataFrame,
      keyCols: Seq[String], tsCol: String, checkpoint: String,
      out: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    facts.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, id: Long) =>
        val dim0 = currentDim(b.sparkSession, dimPath, init)
        // prefix the dim's key columns so the join output is unambiguous
        val dim = keyCols.foldLeft(dim0)((d, k) =>
          d.withColumnRenamed(k, s"_dim_$k"))
        val cond = keyCols.map(k => b(k) === dim(s"_dim_$k"))
          .reduce(_ && _) &&
          dim("valid_from") <= b(tsCol) &&
          (dim("valid_to").isNull || b(tsCol) < dim("valid_to"))
        out(b.join(dim, cond, "left")
          .drop(keyCols.map(k => s"_dim_$k"): _*), id)
      }.start()

  /** Drop all but the newest `keep` COMPLETE versions (the vacuum).
    * Only `_SUCCESS`-complete versions count toward `keep` — a partial
    * dir (crash mid-write) must never displace the last good version,
    * or the read side would silently reset to the seed. Stale partials
    * (older than the newest complete version) are garbage and deleted;
    * a partial NEWER than every complete version may be an in-flight
    * write and is left alone. */
  def pruneVersions(spark: SparkSession, dimPath: String, keep: Int): Unit = {
    val fs = FixtureCache.fs(spark, dimPath)
    val versions = listVersions(fs, new org.apache.hadoop.fs.Path(dimPath))
    val complete = versions.filter(_._3)
    val keepIds = complete.takeRight(keep).map(_._1).toSet
    val newestComplete = complete.lastOption.map(_._1).getOrElse(Long.MinValue)
    versions.foreach { case (id, p, ok) =>
      if ((ok && !keepIds.contains(id)) || (!ok && id < newestComplete))
        fs.delete(p, true)
    }
  }
}
