package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.internal.SQLConf

/** One place for the local-harness SparkSession contract shared by the
  * harness mains (Verify/Bench), the dev tools (JobProbe/
  * BenchScale) and the streaming benchmark (streambench/).
  */
object Sessions {

  /** The checkpoint file manager of every streaming query on a graft
    * session: Spark's `FileSystem`-based one in place of its default
    * `FileContext`-based one. [[local]] and the test session both set this
    * pair; it is a fixed value, not an option.
    *
    * Why: the default renames each checkpoint file through
    * `FileContext.rename`, which on `file:` asks
    * `RawLocalFileSystem.getFileLinkStatus` about the destination, and
    * Hadoop 3.4's `FileUtil.readLink` forks a `readlink` process for that.
    * Every offset-log, commit-log and state-store delta/checksum file
    * then pays one fork, and each state-store commit waits on them: on a
    * 4-core host a 500 ms-trigger metrics query spends ~290 ms of a
    * ~410 ms trigger committing a one-row state. This manager renames
    * through `FileSystem.rename` and never asks for link status.
    *
    * Why it is safe:
    *  - its no-overwrite create (`exists(dst)`, then rename) is the same
    *    check-then-rename the `FileContext` path does on `file:` (the
    *    local `AbstractFileSystem` has no atomic 3-argument rename either);
    *  - on HDFS `rename` refuses an existing destination, which it turns
    *    into the same `FileAlreadyExistsException`;
    *  - Spark's state-file checksums still wrap it, the `.crc` files are
    *    kept, and a checkpoint written by either manager reads back under
    *    the other.
    *
    * Only streaming checkpoint I/O reads this key; batch queries never do.
    */
  val CheckpointManagerConf: (String, String) =
    SQLConf.STREAMING_CHECKPOINT_FILE_MANAGER_CLASS.parent.key ->
      classOf[FileSystemBasedCheckpointFileManager].getName

  /** Local session sized for the fixture layout.
    *
    * Scan-split size, fixed at Spark's default 128 MB: with 128 MB bins +
    * 4 MB openCostInBytes the 32-part fixture tables bin-pack into 1-2
    * scan partitions, so narrow CPU-heavy stages above a scan (decode,
    * shingling, distinct's partial agg) can serialize. An A/B at both
    * sf0.1 and sf1.0 showed neither a 4 MB nor the 128 MB setting
    * dominating — small bins win on CPU-per-row paths but tax every
    * other query with empty-split / task-launch overhead (sf0.1 +9 s,
    * and a 5x blow-up on iterative k-means) — so the size stays Spark's
    * and the CPU-heavy paths get explicit [[Tables.spread]] calls at
    * their scan instead (the same repartition a cluster job would carry
    * for a pathological small-files table).
    *
    * Single-file single-row-group fixtures (the sf0.001-0.1 test data)
    * cannot split below one row group; [[Tables.spread]] is the lever
    * there too.
    */
  def local(cpus: String, utc: Boolean = false): SparkSession = {
    var b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.files.maxPartitionBytes", "128m")
      // ObjectHashAggregate (collect_set/collect_list aggs) falls back
      // to SORT-BASED aggregation after this many distinct groups per
      // task — Spark's default 128 turns any fact-scale collect into a
      // full sort. 64k groups × bounded payloads is well inside the
      // executor heap at every tested SF.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "65536")
      // Static conf (first-session only). Spark's generated-class cache
      // defaults to 100 entries; one window-heavy query alone compiles
      // ~135 classes (JobProbe CodegenMetrics), so a multi-query run
      // evicts and re-janino-compiles its own classes — on local[32]
      // every task of the next stage blocks behind each ~0.5-1 s
      // compile. 4096 entries keep ~30 such queries' classes resident
      // at a few hundred MB of metaspace at worst, well inside the 8 GB
      // harness JVM.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .config(CheckpointManagerConf._1, CheckpointManagerConf._2)
    if (utc) b = b.config("spark.sql.session.timeZone", "UTC")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
