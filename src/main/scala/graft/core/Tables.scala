package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated fixture tables (see /root/repo/TESTDATA.md).
  *
  * One parquet file per table. At 100 TB these would be partitioned/bucketed
  * datasets; the loader is the single place where a production deployment
  * would swap in a catalog table or a bucketed layout, so every operator
  * downstream is storage-agnostic.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The fixture table `name` under `dir`, read through the [[Frames]]
    * memo (see there for the cache contract). */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    Frames.frame(spark, "t:", s"$dir/$name.parquet")(load0(spark, dir, name))

  /** Drop every session's memoized frames under the fixture `dir`. */
  def invalidate(dir: String): Unit = Frames.invalidate(dir)

  private def load0(spark: SparkSession, dir: String,
                    name: String): DataFrame =
    if (name == "events") {
      // events.ts has shipped as parquet TIMESTAMP(NANOS) in some fixture
      // generations and TIMESTAMP(MICROS) in others. Adapt to whatever the
      // file actually stores: with nanosAsLong set (a no-op for micros
      // files) a nanos column scans as LongType, which we truncate to µs —
      // exactly what DuckDB/pyarrow do when downcasting ns → µs; a native
      // timestamp column passes through (NTZ casts to LTZ identically under
      // the UTC session the harness pins).
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$dir/$name.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampType => raw
        case _ => raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      }
    } else spark.read.parquet(s"$dir/$name.parquet")

  /** Round-robin repartition to the session's shuffle parallelism, placed
    * before per-row-CPU-heavy stages (decimal folds, regex, HOFs).
    *
    * Why: a single-row-group parquet file scans as ONE task, so everything
    * narrow above it runs single-threaded regardless of core count. On a
    * real cluster the scan is already parallel (many files/row groups) and
    * callers there would drop this exchange; results are unaffected either
    * way — every aggregate downstream is partitioning-invariant by the
    * ExactNum contract. */
  def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions)
}
