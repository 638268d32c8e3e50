package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated name substrings — run only the
    // matching queries (local iteration; the driver passes two args)
    val (sfDir, outDir) = (args(0), args(1))
    val nameFilter: String => Boolean =
      if (args.length > 2) { val pats = args(2).split(",").toSeq
        (n: String) => pats.exists(n.contains) }
      else (_: String) => true
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.Sessions.local(cpus, utc = true)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => nameFilter(kv._1))
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // persisted intermediates (LSH signature/shingle tables) must not
      // accumulate across the 85+ queries a single session runs.
      spark.catalog.clearCache()
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // exact-value twins + error bounds for the spec-approximate sketches —
    // a SEPARATE file (the driver's oracle_sql.json parse is untouched);
    // tools/check.py picks it up for the bounded-error gate.
    val bounded = SparkEntry.boundedOracles
      .map { case (k, (sql, rtol, keys, exactCols)) =>
        s"${q(k)}: {${q("sql")}: ${q(sql)}, ${q("rtol")}: $rtol, " +
          s"${q("keys")}: ${keys.map(q).mkString("[", ",", "]")}, " +
          s"${q("exact_cols")}: ${exactCols.map(q).mkString("[", ",", "]")}}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/bounded_oracles.json"), bounded)
    spark.stop()
  }

  /** JSON string literal: escapes backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in oracle SQL would otherwise make the
    * checker's json.load fail and silently zero the correctness run. */
  private[graft] def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
