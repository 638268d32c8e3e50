package graft.streaming

import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** O1/O2/O3 — the observability plane (SURVEY.md §2.8): the reference polls
  * 10 PromQL series every 5 s and pushes formatted values to a dashboard
  * (MetricsService.java:33-112). Spark-native equivalent: a
  * StreamingQueryListener that maps the StreamingQueryProgress of every
  * live query on the session onto the same metric ids, with the
  * reference's formatting rules (MetricsService.java:117-140: bytes→MB
  * 2dp, ms 2dp).
  *
  * One reporter watches every query on its session (the reference's job
  * has two), so each series is computed over the last progress of each
  * live query, dropped when the query terminates: processed rows, state
  * memory and drops add up, the durations take the slowest query, and a
  * source that two queries read (two readers of one Kafka topic, by
  * source description) adds its highest rate once. `dropped_late_rows`
  * is a running total — a progress counts one trigger's drops only.
  *
  * Two reference series have no id here: max operator latency and
  * backpressure (`outPoolUsage`). A progress report carries one trigger
  * duration per micro-batch and Spark has no output-buffer pool, so
  * either value would be a copy of `avg_latency` or a constant 0.
  */
class MetricsReporter extends StreamingQueryListener {
  import MetricsReporter._

  private val lastProgress = new ConcurrentHashMap[UUID, StreamingQueryProgress]()
  private val droppedRows = new AtomicLong

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()

  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val p = event.progress
    lastProgress.put(p.id, p)
    droppedRows.addAndGet(p.stateOperators.map(_.numRowsDroppedByWatermark).sum)
  }

  override def onQueryTerminated(event: QueryTerminatedEvent): Unit =
    lastProgress.remove(event.id)

  /** Every series, in id order: (id, help text, Prometheus type, value). */
  def series: Seq[Series] = {
    val live = lastProgress.values.asScala.toSeq
    def sum(f: StreamingQueryProgress => Double) = live.map(f).sum
    def slowest(phase: String) = live
      .map(p => Option(p.durationMs.get(phase)).fold(0.0)(_.doubleValue))
      .maxOption.getOrElse(0.0)
    val inputRate = live.flatMap(_.sources).groupBy(_.description).values
      .map(_.map(_.inputRowsPerSecond).max).sum
    val rt = Runtime.getRuntime
    Seq(
      // ids mirror MetricsService.java:33-63
      Series("avg_latency", "Slowest live query's trigger execution ms",
        Gauge, slowest("triggerExecution")),
      Series("checkpoint_duration", "Slowest live query's offset commit ms",
        Gauge, slowest("commitOffsets")),
      Series("checkpoint_size", "State store memory in MB",
        Gauge, sum(_.stateOperators.map(_.memoryUsedBytes).sum) / MB),
      Series("cpu_load", "Host-wide 1-minute load average over all " +
        "processes, negative when the OS reports none", Gauge,
        java.lang.management.ManagementFactory.getOperatingSystemMXBean
          .getSystemLoadAverage),
      Series("dropped_late_rows", "Rows dropped by watermark", Counter,
        droppedRows.get.toDouble),
      Series("heap_max", "JVM heap max MB", Gauge, rt.maxMemory / MB),
      Series("heap_used", "JVM heap used MB", Gauge,
        (rt.totalMemory - rt.freeMemory) / MB),
      Series("records_in_rate", "Input rows per second, each source once",
        Gauge, inputRate),
      Series("records_out_rate", "Processed rows per second, all queries",
        Gauge, sum(_.processedRowsPerSecond)))
  }

  /** The dashboard JSON payload (same shape MetricsService broadcasts). */
  def snapshotJson: String =
    series.map(s => s""""${s.id}": "${s.text}"""").mkString("{", ", ", "}")
}

object MetricsReporter {
  /** `value` in the reference's units (MB, ms, rows/s); `text` shows a
    * counter as an integer, a gauge to 2dp (MetricsService.java:117-140). */
  final case class Series(id: String, help: String, kind: String, value: Double) {
    def text: String = if (kind == Counter) value.toLong.toString else fmt2(value)
  }

  private val Gauge = "gauge"
  private val Counter = "counter"

  private val MB = 1048576.0

  // Locale.ROOT: these strings feed the Prometheus exposition page,
  // where a comma decimal separator (default-locale %.2f under e.g.
  // de_DE) is a parse error that fails the whole scrape
  private def fmt2(d: Double): String =
    "%.2f".formatLocal(java.util.Locale.ROOT, d)
}
