package graft.streaming

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import java.util.concurrent.ConcurrentHashMap

/** O1/O2/O3 — the observability plane (SURVEY.md §2.8): the reference polls
  * 10 PromQL series every 5 s and pushes formatted values to a dashboard
  * (MetricsService.java:33-112). Spark-native equivalent: a
  * StreamingQueryListener that maps each StreamingQueryProgress onto the
  * same metric ids, with the reference's formatting rules
  * (MetricsService.java:117-140: bytes→MB 2dp, ms 2dp, ratios ×100 1dp).
  *
  * Two reference series have no id here: max operator latency and
  * backpressure (`outPoolUsage`). A progress report carries one trigger
  * duration per micro-batch and Spark has no output-buffer pool, so
  * either value would be a copy of `avg_latency` or a constant 0.
  */
class MetricsReporter extends StreamingQueryListener {

  /** metric id → formatted value; ids mirror MetricsService.java:33-63. */
  val latest = new ConcurrentHashMap[String, String]()

  // Locale.ROOT: these strings feed the Prometheus exposition page,
  // where a comma decimal separator (default-locale %.2f under e.g.
  // de_DE) is a parse error that fails the whole scrape
  private def fmt2(d: Double): String =
    "%.2f".formatLocal(java.util.Locale.ROOT, d)

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()

  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val p = event.progress
    latest.put("records_in_rate", fmt2(p.inputRowsPerSecond))
    latest.put("records_out_rate", fmt2(p.processedRowsPerSecond))
    val batchMs = Option(p.durationMs.get("triggerExecution"))
      .map(_.doubleValue).getOrElse(0.0)
    latest.put("avg_latency", fmt2(batchMs))
    val stateBytes = p.stateOperators.map(_.memoryUsedBytes).sum
    latest.put("checkpoint_size", fmt2(stateBytes / 1048576.0)) // bytes→MB 2dp
    latest.put("checkpoint_duration",
      fmt2(Option(p.durationMs.get("commitOffsets"))
        .map(_.doubleValue).getOrElse(0.0)))
    val rt = Runtime.getRuntime
    latest.put("heap_used", fmt2((rt.totalMemory - rt.freeMemory) / 1048576.0))
    latest.put("heap_max", fmt2(rt.maxMemory / 1048576.0))
    latest.put("cpu_load",
      fmt2(java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage))
    latest.put("dropped_late_rows",
      p.stateOperators.map(_.numRowsDroppedByWatermark).sum.toString)
  }

  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()

  /** The dashboard JSON payload (same shape MetricsService broadcasts). */
  def snapshotJson: String = {
    import scala.jdk.CollectionConverters._
    latest.asScala.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k": "$v"""" }
      .mkString("{", ", ", "}")
  }
}
