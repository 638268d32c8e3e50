package graft.bench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import graft.streaming.MetricsReporter

/** Task and shuffle counters of the traced pass (tasks/shuffle layers). */
final class ExecListener extends SparkListener {
  @volatile var active = false
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val started = mutable.Map.empty[Int, (String, Long)]
  private val jobs = mutable.ArrayBuffer.empty[(String, Long, Long)]

  private def add(k: String, v: Double): Unit = c(k) += v

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (active) synchronized {
      add("exec.jobs", 1)
      val q = Option(e.properties).flatMap(p =>
        Option(p.getProperty("sql.streaming.queryId"))).getOrElse("")
      started(e.jobId) = (q, e.time)
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    started.remove(e.jobId).foreach { case (q, t0) => jobs += ((q, t0, e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (active) synchronized(add("exec.stages", 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (active && e.taskMetrics != null) synchronized {
      val m = e.taskMetrics
      add("exec.tasks", 1)
      add("exec.task_run_ms", m.executorRunTime.toDouble)
      add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
      add("exec.gc_ms", m.jvmGCTime.toDouble)
      add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("shuffle.records", m.shuffleWriteMetrics.recordsWritten.toDouble)
      add("scan.bytes_read", m.inputMetrics.bytesRead.toDouble)
      taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        m.executorRunTime
    }

  def reset(): Unit = synchronized {
    c.clear(); taskMs.clear(); started.clear(); jobs.clear()
  }

  /** Finished jobs of the pass: (streaming query id or "", start, end ms). */
  def jobTimes: Seq[(String, Long, Long)] = synchronized(jobs.toSeq)

  /** Counters so far, plus the median over stages of (slowest task /
    * median task) — the skew of the stages that had at least two tasks. */
  def snapshot: Map[String, Double] = synchronized {
    val skews = taskMs.values.filter(_.length >= 2).map { ts =>
      val s = ts.sorted
      val med = s(s.length / 2).toDouble
      if (med <= 0) 1.0 else s.last / med
    }.toSeq
    c.toMap + ("exec.task_ms_max_over_median" -> Stats.pct(skews, 50))
  }
}

object ExecListener {
  val Keys: Seq[String] = Seq("exec.jobs", "exec.stages", "exec.tasks",
    "exec.task_run_ms", "exec.task_cpu_ms", "exec.gc_ms", "exec.spill_bytes",
    "exec.task_ms_max_over_median", "shuffle.write_bytes",
    "shuffle.read_bytes", "shuffle.records")
}

/** Every streaming progress event, by query name. */
final class ProgressLog extends StreamingQueryListener {
  private val q = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val rows = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    q.add(e.progress)
    rows.computeIfAbsent(e.progress.name, _ => new AtomicLong)
      .addAndGet(e.progress.numInputRows)
  }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  def all: Seq[StreamingQueryProgress] = q.asScala.toSeq
  def size: Int = q.size
  /** Input rows of every trigger of query `name` reported so far. */
  def inputRows(name: String): Long =
    Option(rows.get(name)).map(_.get).getOrElse(0L)
}

/** The repo's metrics plane, attached as the reference attaches it; when
  * `timing` is on, each progress callback into it is counted and timed. */
final class TimedReporter(inner: MetricsReporter) extends StreamingQueryListener {
  @volatile var timing = false
  val calls = new AtomicLong
  val nanos = new AtomicLong
  override def onQueryStarted(e: QueryStartedEvent): Unit = inner.onQueryStarted(e)
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    if (!timing) inner.onQueryProgress(e)
    else {
      val t0 = System.nanoTime()
      inner.onQueryProgress(e)
      nanos.addAndGet(System.nanoTime() - t0)
      calls.incrementAndGet()
    }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    inner.onQueryTerminated(e)
}

object Stats {
  /** Nearest-rank percentile; 0 for an empty sample. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Mean of the middle half (the interquartile mean); 0 for an empty
    * sample. Steadier than the median on a few dozen samples, and a
    * stray pause in the outer quarters does not move it. */
  def midMean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val mid = s.slice(s.length / 4, s.length - s.length / 4)
      mid.sum / mid.length
    }
}

/** The share of CPU time the hypervisor stole (`/proc/stat`, all CPUs). */
object Steal {
  /** (steal, total) jiffies so far, or None where `/proc/stat` is absent. */
  def sample(): Option[(Long, Long)] =
    try {
      val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat"))
        .get(0).trim.split("\\s+").drop(1).map(_.toLong)
      Some((if (f.length > 7) f(7) else 0L, f.take(8).sum))
    } catch { case _: Exception => None }

  /** Percent of the CPU time between two samples that was stolen; 0 when
    * either sample is missing. */
  def pct(a: Option[(Long, Long)], b: Option[(Long, Long)]): Double = (a, b) match {
    case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 => 100.0 * (s1 - s0) / (t1 - t0)
    case _ => 0.0
  }
}
