package graft

import org.apache.spark.sql.SparkSession

/** One shared session for all suites (sbt forks one JVM for tests). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
      .config("spark.ui.enabled", "false")
      .config(graft.core.Sessions.CheckpointManagerConf._1,
        graft.core.Sessions.CheckpointManagerConf._2)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `body` with the given session settings, then restores each to
    * its previous value, or unsets it when it had none. */
  def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
