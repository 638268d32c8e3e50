package graft.bench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, Encoders, Observation, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import graft.SparkEntry
import graft.core.{Sessions, Tables}
import graft.functions.JsonCodec
import graft.operators.{RiskLabeler, WindowMetrics}
import graft.queries.ReferenceQueries
import graft.sources.Sources
import graft.streaming.{Generator, MetricsReporter, Pipelines}

/** Streaming benchmark of the two reference pipelines.
  *
  * One JVM runs one workload (`paced` or `batch`) and writes a
  * JSON result file; `streambench/run.py` builds, launches, checks the
  * reference keys against DuckDB and prints the final line. See
  * `streambench/README.md` for the metrics and what each should move.
  *
  * Arguments (all `--key value`): workload, seed, seconds, trace (0|1),
  * work (scratch dir), out (result file), cpus, and constants (the path of
  * `streambench/constants.json`, which holds the fixed sizes).
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val consts = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new File(need("constants")))
    def const(k: String) =
      Option(consts.get(k)).getOrElse(sys.error(s"constants: no $k"))
    val settle = Option(const("settle_seconds").get(need("workload")))
      .getOrElse(sys.error(s"constants: no settle_seconds.${need("workload")}"))
    val c = Conf(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new File(need("work")), new File(need("out")),
      need("cpus").toInt, const("drain_trigger_events").asInt,
      const("drain_metrics_backlog_events").asInt,
      const("drain_risk_backlog_events").asInt, const("drain_metrics_rounds").asInt,
      const("paced_rate_events_per_s").asDouble, const("paced_tick_ms").asInt,
      const("batch_events").asInt, const("setup_repeats").asInt,
      settle.asDouble, const("max_steal_pct").asDouble,
      const("extra_tries").asInt, const("retry_budget_s").asDouble)
    require(Seq("paced", "batch").contains(c.workload),
      s"unknown workload ${c.workload}")
    require(c.chunk % Events.PerWindow == 0 && c.backlog % c.chunk == 0 &&
      c.riskBacklog % c.chunk == 0, "sizes must align to whole windows")
    val json = new Bench(c).run()
    Files.write(c.out.toPath, json.getBytes(UTF_8))
    sys.exit(0)
  }
}

final case class Conf(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, work: File, out: File, cpus: Int,
                      chunk: Int, backlog: Int, riskBacklog: Int, rounds: Int,
                      rate: Double, tickMs: Int,
                      batchEvents: Int, setups: Int, settle: Double,
                      maxStealPct: Double, extraTries: Int, retryBudget: Double)

/** The input: the repo's generator, offset by the seed. Event `k` of a run
  * is generator row `offset + k` and carries event time
  * `Base + k * Spacing` — the reference's 2 s spacing, so five events per
  * 10 s window, windows aligned to event indices 5j .. 5j+4. */
final class Events(seed: Long) {
  import Events._
  val offset: Long = Math.floorMod(seed * 1000003L + 17L, 1000000L)

  private def frame(spark: SparkSession, lo: Long, n: Long): DataFrame =
    Generator.batch(spark, offset + lo + n, Base - offset * Spacing)
      .filter(col("timestamp") >= Base + lo * Spacing)

  /** Wire strings of events [lo, lo + n), in event order. */
  def wire(spark: SparkSession, lo: Long, n: Int): Array[String] =
    Generator.toWire(frame(spark, lo, n)).as(Encoders.STRING).collect()

  def staticWire(spark: SparkSession, lo: Long, n: Long): DataFrame =
    Generator.toWire(frame(spark, lo, n))
}

object Events {
  val Base = 1700000000000L
  val Spacing = 2000L
  val WindowMs = 10000L
  val PerWindow: Int = (WindowMs / Spacing).toInt
  def index(ts: Long): Long = (ts - Base) / Spacing
  /** Index of the last event inside the window starting at `ws`. */
  def lastIndex(ws: Long): Long = index(ws) + PerWindow - 1
}

/** One Spark session with the benchmark's listeners attached. */
final class Session(val spark: SparkSession, val id: Int) {
  val progress = new ProgressLog
  val reporter = new TimedReporter(new MetricsReporter)
  val exec = new ExecListener
  /** Streaming query id → query name. */
  val queryNames = new ConcurrentHashMap[String, String]()
  spark.streams.addListener(progress)
  spark.streams.addListener(reporter)
  spark.sparkContext.addSparkListener(exec)
  def drainBus(): Unit = BenchBus.drain(spark.sparkContext)
}

/** A `foreachBatch` sink that calls `onEnter(batchId)` on entry and
  * records when each batch's call returned. */
trait TimedSink {
  @volatile var onEnter: Long => Unit = _ => ()
  @volatile var lastReturn = 0L
  val returns = new ConcurrentHashMap[Long, java.lang.Long]()
  protected def returned(id: Long, t: Long): Unit = { returns.put(id, t); lastReturn = t }
}

/** The metrics pipeline's JDBC sink: `Sources.upsertBatch` into one
  * embedded Derby table, each call timed. The window starts each call
  * wrote are recorded through an `Observation` on the batch, so every
  * stored window can be traced back to its call while the stored schema
  * stays the program's own. */
final class MetricsSink(url: String, trace: Trace) extends TimedSink {
  private val jdbc = Sources.JdbcConfig(url, "app", "app", "remittance_metrics")
  val callMs = new ConcurrentLinkedQueue[java.lang.Double]()
  val failures = new AtomicLong
  /** Batch id → the window starts its call wrote. */
  val written = new ConcurrentHashMap[Long, Seq[Long]]()

  def apply(df: DataFrame, id: Long): Unit = {
    onEnter(id)
    val obs = Observation(s"sink-$id")
    val t0 = System.nanoTime()
    try Sources.upsertBatch(df.observe(obs, collect_list(col("window_start")).as("ws")), jdbc)
    catch { case e: Throwable => failures.incrementAndGet(); throw e }
    val t1 = System.nanoTime()
    returned(id, t1)
    callMs.add((t1 - t0) / 1e6)
    trace.add("sink", 0, t0, t1, Map("query" -> "metrics", "batch" -> id.toString))
    written.put(id, obs.get("ws").asInstanceOf[Seq[Long]])
  }

  /** Every stored window: (window_start, values...). */
  def stored(): Seq[(Long, Seq[Any])] = {
    val conn = java.sql.DriverManager.getConnection(jdbc.url, jdbc.user, jdbc.password)
    try {
      val rs = conn.createStatement().executeQuery(
        s"SELECT window_start, ${Bench.WindowCols.mkString(", ")} FROM ${jdbc.table}")
      val out = mutable.ArrayBuffer.empty[(Long, Seq[Any])]
      while (rs.next())
        out += ((rs.getLong(1), (2 to Bench.WindowCols.length + 1).map(i => rs.getObject(i) match {
          case d: java.lang.Double => d.doubleValue
          case l: java.lang.Long => l.longValue
          case o => o
        })))
      out.toSeq
    } catch {
      case e: java.sql.SQLException if e.getSQLState == "42X05" => Nil // no table yet
    } finally conn.close()
  }
}

/** The risk pipeline's consumer: `foreachBatch` that collects each batch. */
final class RiskSink(trace: Trace) extends TimedSink {
  /** (batch id, return time, (transactionId, timestamp, line) per row). */
  val batches = new ConcurrentLinkedQueue[(Long, Long, Array[(String, Long, String)])]()

  def apply(df: DataFrame, id: Long): Unit = {
    onEnter(id)
    val t0 = System.nanoTime()
    val rows = df.collect()
    val t1 = System.nanoTime()
    returned(id, t1)
    val f = df.schema.fieldIndex _
    val (i, t, l) = (f("transactionId"), f("timestamp"), f("line"))
    batches.add((id, t1, rows.map(r => (r.getString(i), r.getLong(t), r.getString(l)))))
    trace.add("consume", 0, t0, t1, Map("query" -> "risk", "batch" -> id.toString))
  }
}

/** Both queries of the reference topology on one session, each reading
  * its own MemoryStream (two consumers of one topic), sharing one event
  * cursor: both pipelines see the same events. */
final class Streams(s: Session, cpus: Int, ckpt: File, trace: Trace,
                    trigger: Option[Trigger]) {
  private implicit val enc: org.apache.spark.sql.Encoder[String] = Encoders.STRING
  val mSink = new MetricsSink(s"jdbc:derby:memory:streambench${s.id};create=true", trace)
  val rSink = new RiskSink(trace)
  val mMem: MemoryStream[String] = MemoryStream[String](s.spark, cpus)
  val rMem: MemoryStream[String] = MemoryStream[String](s.spark, cpus)
  /** Events fed so far to the metrics / risk query. */
  var mFed = 0L
  var rFed = 0L

  private def start(df: DataFrame, name: String, f: (DataFrame, Long) => Unit) = {
    val w = df.writeStream.queryName(name)
      .option("checkpointLocation", new File(ckpt, s"${name}-${s.id}").getPath)
      .foreachBatch(f)
    val q = trigger.fold(w)(w.trigger).start()
    s.queryNames.put(q.id.toString, name)
    q
  }

  val mQ: StreamingQuery = start(Pipelines.metricsPipeline(mMem.toDF()), "metrics",
    (df: DataFrame, id: Long) => mSink(df, id))
  val rQ: StreamingQuery = start(Pipelines.riskPipeline(rMem.toDF()), "risk",
    (df: DataFrame, id: Long) => rSink(df, id))

  /** Wait until both queries have started: each has reported the
    * progress of its first trigger, which found no data. Query start-up
    * runs on the stream threads, so without this it would spill into
    * whatever comes next. */
  def awaitReady(): Unit = {
    val deadline = System.nanoTime() + 60000000000L
    while (Seq(mQ, rQ).exists(q => q.isActive && q.lastProgress == null)) {
      require(System.nanoTime() < deadline, "queries did not start within 60 s")
      LockSupport.parkNanos(200000L)
    }
  }

  def stop(): Unit = { mQ.stop(); rQ.stop() }
}

object Bench {
  /** Window columns compared between Derby and the batch twin. */
  val WindowCols: Seq[String] = Seq("window_end", "cnt", "success_cnt",
    "failure_cnt", "avg_amount", "avg_rate", "min_amount", "max_amount", "line")
  val MbPhases: Seq[String] = Seq("latestOffset", "walCommit", "getBatch",
    "queryPlanning", "addBatch", "commitOffsets")
}

final class Bench(c: Conf) {
  import Bench._
  private val trace = new Trace(c.trace)
  private val originNs = System.nanoTime()
  private val originWallMs = System.currentTimeMillis()
  private val events = new Events(c.seed)
  private val e2e = mutable.LinkedHashMap.empty[String, Double]
  private val layer = mutable.LinkedHashMap.empty[String, Double]
  private val info = mutable.LinkedHashMap.empty[String, String]
  private val errors = mutable.ArrayBuffer.empty[String]
  private var windows = Check.Empty
  private var risk = Check.Empty
  private var current: Option[Session] = None
  private val ckpt = new File(c.work, "checkpoints")
  private val addBatchSpan = mutable.Map.empty[(String, Long), Int]

  private def now = System.nanoTime()

  /** Wall seconds of each phase of the run, for the capture line. */
  private val phases = mutable.LinkedHashMap.empty[String, Double]
  private def timedPhase[T](name: String)(f: => T): T = {
    val t0 = now
    try f finally phases(name) = (now - t0) / 1e9
  }
  private def ms(ns: Long) = ns / 1e6

  /** Add one measured pass's values to the capture list `key`: a list of
    * lists, one per pass, in pass order. */
  private def record(key: String, xs: Seq[Double]): Unit =
    info(key) = info.get(key).fold("[")(_.stripSuffix("]") + ",") +
      xs.map(Json.num).mkString("[", ",", "]") + "]"

  private def wallToNs(wallMs: Long): Long =
    originNs + (wallMs - originWallMs) * 1000000L

  // ---------------------------------------------------------------- sessions

  private var sessions = 0

  private def closeSession(): Unit = { current.foreach(_.spark.stop()); current = None }

  private def openSession(cpus: Int): Session = {
    closeSession()
    sessions += 1
    val s = new Session(Sessions.local(cpus.toString, utc = true), sessions)
    current = Some(s)
    s
  }

  /** Run the measured pass `f` and, while the hypervisor stole more than
    * `c.maxStealPct` of the CPU time during it, run it again: at most
    * `c.extraTries` more times, in untraced runs only, and only while the
    * run is younger than `c.retryBudget` seconds, which bounds a run's
    * length when the steal lasts. Keeps the result of the least-stolen try.
    * Co-tenants on the host steal in bursts, and a stolen pass reads the
    * host, not the program. The steal share of every try goes to the
    * capture line as `pass_steal_pct`. */
  private def quiet(f: => Map[String, Double]): Map[String, Double] = {
    val tries = mutable.ArrayBuffer.empty[(Double, Map[String, Double])]
    def again = !c.trace && tries.last._1 > c.maxStealPct &&
      tries.length <= c.extraTries && ms(now - originNs) < c.retryBudget * 1e3
    do {
      val s0 = Steal.sample()
      val r = f
      tries += ((Steal.pct(s0, Steal.sample()), r))
    } while (again)
    info("pass_steal_pct") = tries.map(t => Json.num(t._1)).mkString("[", ",", "]")
    tries.minBy(_._1)._2
  }

  /** Set up `c.setups` times (session, then the workload's queries or
    * cached frame), keep the last, report the median as `setup_s`. The
    * previous set-up is torn down before the clock starts. The warm-up is
    * the settling pass that follows (see `passes`). */
  private def setUp[T](parent: Int)(build: Session => T)(drop: T => Unit): (Session, T) = {
    var last: Option[(Session, T)] = None
    val times = (1 to c.setups).map { k =>
      last.foreach(l => drop(l._2))
      closeSession()
      val t0 = now
      last = Some(trace.span("setup", parent, Map("rep" -> k.toString)) { _ =>
        val s = openSession(c.cpus)
        (s, build(s))
      })
      ms(now - t0) / 1e3
    }
    e2e("setup_s") = Stats.median(times)
    info("setup_s_all") = times.map(Json.num).mkString("[", ",", "]")
    last.get
  }

  // ---------------------------------------------------------------- run

  def run(): String = {
    trace.span("run", 0, Map("workload" -> c.workload, "seed" -> c.seed.toString)) { id =>
      if (c.workload == "paced") pacedWorkload(id) else batchWorkload(id)
    }
    current.foreach(_.spark.stop())
    info("phase_s") = phases.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
      .mkString("{", ",", "}")
    if (c.trace) {
      val self = trace.selfMs
      SpanNames.foreach(n => layer(s"self_ms.$n") = self.getOrElse(n, 0.0))
      val tf = new File(c.work, "spans.json")
      Files.write(tf.toPath, trace.toJson(originNs).getBytes(UTF_8))
    }
    def outcome(o: Check.Outcome) = Json.obj(Seq(
      "attempted" -> o.attempted.toString, "failed" -> o.failed.toString,
      "missing" -> o.missing.toString, "unequal" -> o.unequal.toString,
      "extra" -> o.extra.toString))
    def nums(m: collection.Map[String, Double]) =
      Json.obj(m.toSeq.map { case (k, v) => k -> Json.num(v) })
    Json.obj(Seq(
      "e2e" -> nums(e2e), "layer" -> nums(layer),
      "windows" -> outcome(windows), "risk" -> outcome(risk),
      "errors" -> errors.map(Json.str).mkString("[", ",", "]"),
      "info" -> Json.obj(info.toSeq.map { case (k, v) =>
        k -> (if (v.startsWith("[") || v.startsWith("{")) v else Json.str(v)) })))
  }

  private val SpanNames: Seq[String] = Seq("run", "setup", "pass", "round",
    "trigger") ++ MbPhases ++ Seq("sink", "consume", "job", "feed", "check", "probe",
    "batch.job", "ref.key", "ref.plan", "ref.exec")

  /** A shortened settling pass (`pass(parent, true)`, discarded) lets the
    * JIT and the lazy paths settle; then the measured pass runs with
    * tracing off, again if the host stole from it (see `quiet`). In a
    * traced run, a further pass on the same session with
    * tracing on gives the per-layer numbers, and the difference of the two
    * measured passes' end-to-end values is the tracing overhead. */
  private def passes(s: Session, parent: Int)(pass: (Int, Boolean) => Map[String, Double]): Unit = {
    trace.on = false
    timedPhase("settle")(pass(parent, true))
    val plain = timedPhase("pass")(quiet(pass(parent, false)))
    val (tails, heads) = plain.partition { case (k, _) => k.endsWith("_p99_ms") || k.endsWith(".samples") }
    e2e ++= heads
    layer ++= tails
    tails.foreach { case (k, v) => if (k.endsWith(".samples")) info(k) = v.toLong.toString }
    if (c.trace) {
      s.drainBus(); s.exec.reset(); s.exec.active = true; s.reporter.timing = true
      trace.on = true
      val cg0 = codegen()
      val t = timedPhase("traced_pass")(
        trace.span("pass", parent, Map("traced" -> "1"))(pass(_, false)))
      s.drainBus(); s.exec.active = false; s.reporter.timing = false
      jobSpans(s)
      val ex = s.exec.snapshot
      (ExecListener.Keys :+ "scan.bytes_read").foreach(k => layer(k) = ex.getOrElse(k, 0.0))
      layer("codegen.compiles_in_pass") = codegen()._1 - cg0._1
      layer("reporter.calls") = s.reporter.calls.get.toDouble
      layer("reporter.ms_total") = ms(s.reporter.nanos.get)
      plain.foreach { case (k, v) => layer(s"overhead.$k") = t.getOrElse(k, v) - v }
    }
  }

  /** Each Spark job of the traced pass as a `job` span inside the span
    * that ran it: a sink or consumer call of its streaming query, else a
    * batch job, drain round or the pass itself. Job times are wall
    * milliseconds, hence the slop. */
  private def jobSpans(s: Session): Unit = s.exec.jobTimes.foreach { case (qid, a, b) =>
    val q = Option(s.queryNames.get(qid))
    trace.addInside("job", wallToNs(a), wallToNs(b), q.fold(Map.empty[String, String])(
      n => Map("query" -> n)), 2000000L) { p =>
      if (q.isDefined) (p.name == "sink" || p.name == "consume") && p.attrs.get("query") == q
      else p.name == "batch.job" || p.name == "round" || p.name == "pass"
    }
  }

  /** (compiles, compile ms) since JVM start, from Spark's codegen metrics. */
  private def codegen(): (Double, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount.toDouble, h.getSnapshot.getValues.map(_.toDouble).sum)
  }

  /** Latency percentiles with their sample counts. */
  private def latencyMetrics(m: Seq[Double], r: Seq[Double]): Map[String, Double] =
    Map("window_latency_p50_ms" -> Stats.pct(m, 50),
      "window_latency_p99_ms" -> Stats.pct(m, 99),
      "window_latency.samples" -> m.length.toDouble,
      "risk_latency_p50_ms" -> Stats.pct(r, 50),
      "risk_latency_p99_ms" -> Stats.pct(r, 99),
      "risk_latency.samples" -> r.length.toDouble)

  // ---------------------------------------------------------------- streams

  private def newStreams(s: Session, trigger: Option[Trigger]) =
    new Streams(s, s.spark.sparkContext.defaultParallelism, ckpt, trace, trigger)

  /** Latency of every window whose last event lies in [lo, hi), written by
    * a sink call not in `before`: from that event's due time to the return
    * of the sink call that stored the window. */
  private def windowLatencies(st: Streams, before: Set[Long], lo: Long, hi: Long,
                              due: Long => Long): Seq[Double] =
    st.mSink.written.asScala.toSeq.filterNot(w => before(w._1)).flatMap { case (bid, wss) =>
      val t = st.mSink.returns.get(bid).longValue
      wss.map(Events.lastIndex).filter(l => l >= lo && l < hi).map(l => ms(t - due(l)))
    }

  /** Latency of every risk row of event index in [lo, hi) consumed by a
    * batch after the first `skip`: due time to the consuming call's return. */
  private def riskLatencies(st: Streams, skip: Int, lo: Long, hi: Long,
                            due: Long => Long): Seq[Double] =
    st.rSink.batches.asScala.toSeq.drop(skip).flatMap { case (_, t, rows) =>
      rows.toSeq.flatMap { case (_, ts, _) =>
        val i = Events.index(ts)
        if (i >= lo && i < hi) Some(ms(t - due(i))) else None
      }
    }

  /** Micro-batch, state-store and sink figures of the progress events
    * recorded since index `p0`, plus trigger and phase spans under
    * `parent` (phases laid out in execution order from `durationMs`). */
  private def streamLayers(s: Session, st: Streams, p0: Int, sinkBefore: Set[Long],
                           parent: Int): Unit = {
    val ps = s.progress.all.drop(p0)
    def d(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    Seq("metrics", "risk").foreach { q =>
      val qs = ps.filter(_.name == q)
      layer(s"mb.$q.triggers") = qs.length
      layer(s"mb.$q.nodata_triggers") = qs.count(_.numInputRows == 0)
      Seq("latestOffset" -> "latest_offset_ms", "queryPlanning" -> "query_planning_ms",
        "getBatch" -> "get_batch_ms", "addBatch" -> "add_batch_ms",
        "walCommit" -> "wal_commit_ms", "commitOffsets" -> "commit_offsets_ms",
        "triggerExecution" -> "trigger_ms").foreach { case (k, name) =>
        layer(s"mb.$q.$name") = qs.map(d(_, k)).sum
      }
      qs.foreach { p =>
        val start = wallToNs(java.time.Instant.parse(p.timestamp).toEpochMilli)
        val attrs = Map("query" -> q, "batch" -> p.batchId.toString,
          "rows" -> p.numInputRows.toString)
        val tid = trace.add("trigger", parent, start,
          start + (d(p, "triggerExecution") * 1e6).toLong, attrs)
        var at = start
        MbPhases.foreach { ph =>
          val len = (d(p, ph) * 1e6).toLong
          if (len > 0) {
            val pid = trace.add(ph, tid, at, at + len, attrs)
            if (ph == "addBatch") addBatchSpan((q, p.batchId)) = pid
            at += len
          }
        }
      }
    }
    val mq = ps.filter(_.name == "metrics")
    layer("mb.metrics.nodata_batch_ms") =
      mq.filter(_.numInputRows == 0).map(d(_, "triggerExecution")).sum
    val so = mq.flatMap(_.stateOperators.headOption)
    layer("state.rows_total") = so.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0)
    layer("state.rows_updated") = so.map(_.numRowsUpdated).sum.toDouble
    layer("state.rows_removed") = so.map(_.numRowsRemoved).sum.toDouble
    layer("state.memory_bytes") = so.map(_.memoryUsedBytes.toDouble).maxOption.getOrElse(0.0)
    layer("state.commit_ms") = so.map(_.commitTimeMs).sum.toDouble
    layer("state.update_ms") = so.map(_.allUpdatesTimeMs).sum.toDouble
    layer("state.removal_ms") = so.map(_.allRemovalsTimeMs).sum.toDouble
    layer("state.dropped_by_watermark") = so.map(_.numRowsDroppedByWatermark).sum.toDouble
    trace.reparent { sp =>
      if (sp.name == "sink" || sp.name == "consume")
        addBatchSpan.get((sp.attrs("query"), sp.attrs("batch").toLong))
      else None
    }
    val calls = st.mSink.returns.asScala.keySet.toSet -- sinkBefore
    val callMs = st.mSink.callMs.asScala.map(_.doubleValue).toSeq.takeRight(calls.size)
    layer("sink.calls") = calls.size
    layer("sink.rows") = calls.toSeq.map(b => st.mSink.written.get(b).length).sum
    layer("sink.ms_total") = callMs.sum
    layer("sink.ms_p50") = Stats.median(callMs)
    layer("sink.failures") = st.mSink.failures.get.toDouble
  }

  // ---------------------------------------------------------------- drain

  /** Timed drain, in triggers of `chunk` events; the next chunk is offered
    * as soon as the current trigger reaches its sink, so triggers run back
    * to back as with a real backlog.
    *  - metrics: `rounds` backlogs of `backlog` events into the one sink
    *    table, which grows from round to round as in a long-running job;
    *    the rate is all rounds' events over their summed time, each from
    *    first offer to last window stored.
    *  - risk: one backlog of `riskBacklog` events (the same events first,
    *    then more); the rate is `chunk` over the median chunk service time
    *    (the stateless triggers are alike, and each is short). */
  private def drainPass(s: Session, st: Streams, parent: Int,
                        settle: Boolean): Map[String, Double] = {
    val (rounds, riskBacklog) =
      if (settle) (1, math.max(c.chunk, c.riskBacklog / 3 / c.chunk * c.chunk))
      else (c.rounds, c.riskBacklog)
    s.drainBus()
    val mAdd, rAdd = new java.util.TreeMap[java.lang.Long, java.lang.Long]()
    val mRet0 = st.mSink.returns.asScala.keySet.toSet
    val r0 = st.rSink.batches.size
    val p0 = s.progress.size
    val (mLo, rLo) = (st.mFed, st.rFed)
    val mRoundNs = (1 to rounds).map { _ =>
      val lo = st.mFed
      st.mFed += c.backlog
      round(parent, "metrics", events.wire(s.spark, lo, c.backlog), lo, mAdd,
        st.mMem, st.mQ, st.mSink)._1
    }
    val rChunkNs = round(parent, "risk", events.wire(s.spark, rLo, riskBacklog), rLo,
      rAdd, st.rMem, st.rQ, st.rSink)._2
    st.rFed += riskBacklog
    s.drainBus()
    val mLat = windowLatencies(st, mRet0, mLo, st.mFed, i => mAdd.floorEntry(i).getValue)
    val rLat = riskLatencies(st, r0, rLo, st.rFed, i => rAdd.floorEntry(i).getValue)
    if (trace.on) {
      streamLayers(s, st, p0, mRet0, parent)
      layer("gen.events") = (st.mFed - mLo + riskBacklog).toDouble
    }
    Map("metrics_events_per_s" -> c.backlog.toDouble * rounds / (mRoundNs.sum / 1e9),
      "risk_events_per_s" -> c.chunk / (Stats.median(rChunkNs.map(_.toDouble)) / 1e9)) ++
      latencyMetrics(mLat, rLat)
  }

  /** One backlog through one query. Returns the round's time, from the
    * first offer to the return of the last sink call, and each chunk's
    * service time, from its offer to the return of the sink call of the
    * trigger that read it. */
  private def round(parent: Int, q: String, wire: Array[String], lo: Long,
                    addNs: java.util.TreeMap[java.lang.Long, java.lang.Long],
                    mem: MemoryStream[String], query: StreamingQuery,
                    sink: TimedSink): (Long, Seq[Long]) = {
    val chunks = wire.grouped(c.chunk).toArray
    val offered = new Array[Long](chunks.length)
    val batchOf = Array.fill(chunks.length)(-1L)
    var next = 0
    def push(): Unit = {
      val i = next; next += 1
      offered(i) = now
      addNs.put(lo + i.toLong * c.chunk, offered(i))
      mem.addData(chunks(i).toSeq)
    }
    trace.span("round", parent, Map("query" -> q)) { _ =>
      // entering the sink of chunk i's trigger: chunk i's offsets are
      // fixed, so offer chunk i + 1 now
      sink.onEnter = id => if (next > 0 && batchOf(next - 1) < 0) {
        batchOf(next - 1) = id
        if (next < chunks.length) push()
      }
      push()
      query.processAllAvailable()
      while (next < chunks.length) { push(); query.processAllAvailable() }
      sink.onEnter = _ => ()
    }
    (sink.lastReturn - offered(0),
      chunks.indices.map(i => sink.returns.get(batchOf(i)).longValue - offered(i)))
  }

  /** The closed-loop drain, per-layer only: its run-to-run spread was too
    * wide to gate on. Both queries on Spark's default trigger (as fast as
    * possible), fed fixed backlogs, first on `local[nproc]` and then on
    * `local[1]`, the single-threaded baseline; each on a session of its
    * own and checked like the paced queries. */
  private def drain(run: Int): Unit = {
    trace.on = false
    def on(cpus: Int): Map[String, Double] = {
      val s = openSession(cpus)
      val st = newStreams(s, None)
      drainPass(s, st, run, settle = true)
      val m = drainPass(s, st, run, settle = false)
      st.stop()
      val (w, r) = checkStreams(s, st)
      windows += w; risk += r
      m
    }
    val n = on(c.cpus)
    val one = on(1)
    Seq("metrics_events_per_s", "risk_events_per_s", "window_latency_p50_ms",
      "risk_latency_p50_ms").foreach(k => layer(s"drain.$k") = n(k))
    layer("scale.cpus") = c.cpus.toDouble
    layer("scale.local1.metrics_events_per_s") = one("metrics_events_per_s")
    layer("scale.local1.risk_events_per_s") = one("risk_events_per_s")
    layer("scale.metrics_ratio") = n("metrics_events_per_s") / one("metrics_events_per_s")
    layer("scale.risk_ratio") = n("risk_events_per_s") / one("risk_events_per_s")
    trace.on = true
  }

  // ---------------------------------------------------------------- paced

  private def pacedWorkload(run: Int): Unit = {
    val (s, st) = setUp(run) { s =>
      val st = newStreams(s, Some(Sources.DefaultTrigger))
      st.awaitReady()
      st
    } (_.stop())
    guarded {
      passes(s, run)(pacedPass(s, st, _, _))
    }
    check(s, st, run)
    if (c.trace) guarded(timedPhase("drain")(drain(run)))
  }

  /** Open loop: one feeder offers event i at t0 + i / rate to both
    * queries, whatever the queries are doing; then both drain. */
  private def pacedPass(s: Session, st: Streams, parent: Int,
                        settle: Boolean): Map[String, Double] = {
    val seconds = if (settle) c.settle else c.seconds
    val total = ((c.rate * seconds).toLong / Events.PerWindow * Events.PerWindow).toInt
    val lo = st.mFed
    require(st.rFed == lo, "paced feeds both queries the same events")
    val wire = events.wire(s.spark, lo, total)
    s.drainBus()
    val mRet0 = st.mSink.returns.asScala.keySet.toSet
    val r0 = st.rSink.batches.size
    val p0 = s.progress.size
    val in0 = Seq("metrics", "risk").map(q => q -> s.progress.inputRows(q)).toMap
    def processed = Seq("metrics", "risk").map(q => s.progress.inputRows(q) - in0(q)).min
    val late = new Array[Double](total)
    val nsPer = 1e9 / c.rate
    val tick = c.tickMs * 1000000L
    val t0 = now + tick
    def due(i: Long): Long = t0 + ((i - lo) * nsPer).toLong
    var fed = 0
    var backlogMax = 0L
    trace.span("feed", parent) { _ =>
      while (fed < total) {
        val t = now
        val upto = if (t < t0) 0 else math.min(total.toLong, (t - t0) / nsPer.toLong + 1).toInt
        if (upto > fed) {
          val slice = wire.slice(fed, upto).toSeq
          st.mMem.addData(slice); st.rMem.addData(slice)
          val ta = now
          var i = fed
          while (i < upto) { late(i) = ms(ta - due(lo + i)); i += 1 }
          fed = upto
        }
        backlogMax = math.max(backlogMax, fed - processed)
        LockSupport.parkNanos(tick - (now - t0).abs % tick)
      }
    }
    st.mQ.processAllAvailable(); st.rQ.processAllAvailable()
    s.drainBus()
    st.mFed += total; st.rFed += total
    val mLat = windowLatencies(st, mRet0, lo, lo + total, due)
    val rLat = riskLatencies(st, r0, lo, lo + total, due)
    val ps = s.progress.all.drop(p0)
    def busyMs(p: StreamingQueryProgress) =
      Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
    /** Busy time of one micro-batch of query `q`, a data trigger plus
      * the no-data batch that directly follows it if any: the mean of the
      * middle half. The feeder's rate fixes how often data arrives, not
      * this cost. */
    def batchMs(q: String) = {
      val qs = ps.filter(_.name == q).toIndexedSeq
      val all = qs.indices.filter(qs(_).numInputRows > 0).map { i =>
        busyMs(qs(i)) + qs.lift(i + 1).filter(_.numInputRows == 0).map(busyMs).getOrElse(0.0)
      }
      if (!settle) record(s"${q}_batch_ms_all", all)
      Stats.midMean(all)
    }
    if (trace.on) {
      streamLayers(s, st, p0, mRet0, parent)
      layer("gen.events") = total
      layer("gen.late_p99_ms") = Stats.pct(late.toSeq, 99)
      layer("source.backlog_max_events") = backlogMax.toDouble
      layer("source.backlog_end_events") = (total - processed).toDouble
    }
    Map("metrics_batch_ms" -> batchMs("metrics"),
      "risk_batch_ms" -> batchMs("risk")) ++ latencyMetrics(mLat, rLat)
  }

  // ---------------------------------------------------------------- batch

  private def batchWorkload(run: Int): Unit = {
    val (s, wire) = setUp(run) { s =>
      val w = events.staticWire(s.spark, 0, c.batchEvents).cache()
      w.count()
      w
    } (_.unpersist())
    guarded {
      passes(s, run) { (parent, settle) =>
        val mMs, rMs = mutable.ArrayBuffer.empty[Double]
        val t0 = now
        while (mMs.isEmpty || now - t0 < (if (settle) c.settle else c.seconds) * 1e9) {
          mMs += timed(parent, "metrics")(noop(Pipelines.metricsPipeline(wire)))
          rMs += timed(parent, "risk")(noop(Pipelines.riskPipeline(wire)))
        }
        if (trace.on) layer("gen.events") = c.batchEvents.toDouble * mMs.length
        if (!settle) { record("metrics_batch_ms_all", mMs.toSeq); record("risk_batch_ms_all", rMs.toSeq) }
        // every row of a job is due at its start and out at its end, so
        // here the latencies repeat the job times
        Map("metrics_batch_ms" -> Stats.midMean(mMs.toSeq),
          "risk_batch_ms" -> Stats.midMean(rMs.toSeq)) ++
          latencyMetrics(mMs.toSeq, rMs.toSeq)
      }
      timedPhase("reference")(reference(s, run))
    }
    if (c.trace) guarded(timedPhase("probes")(probes(s, run)))
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def timed(parent: Int, q: String)(f: => Unit): Double = {
    val t0 = now
    trace.span("batch.job", parent, Map("query" -> q))(_ => f)
    ms(now - t0)
  }

  /** The nine reference keys through `SparkEntry.queries` over the
    * seed-generated `events` table; outputs go to parquet for the DuckDB
    * oracle check. */
  private def reference(s: Session, parent: Int): Unit = {
    val dir = new File(c.work, "tables").getPath
    val out = new File(c.work, "ref")
    val t0 = now
    Tables.load(s.spark, dir, "events")
    layer("core.tables_load_ms") = ms(now - t0)
    val keys = ReferenceQueries.queries.keys.toSeq.sorted
    var total = 0.0
    keys.foreach { k =>
      trace.span("ref.key", parent, Map("key" -> k)) { kid =>
        val df = SparkEntry.queries(k)(s.spark, dir)
        val p0 = now
        trace.span("ref.plan", kid)(_ => df.queryExecution.executedPlan)
        val planWall = ms(now - p0)
        val e0 = now
        trace.span("ref.exec", kid)(_ =>
          df.write.mode("overwrite").parquet(new File(out, k).getPath))
        val exec = ms(now - e0)
        layer(s"ref.$k.plan_ms") =
          df.queryExecution.tracker.phases.values.map(_.durationMs.toDouble).sum
        layer(s"ref.$k.exec_ms") = exec
        total += planWall + exec
      }
    }
    layer("ref.total_s") = total / 1e3
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => keys.contains(k) }
    Files.write(new File(out, "oracle_sql.json").toPath,
      Json.obj(oracle.toSeq.sorted.map { case (k, v) => k -> Json.str(v) }).getBytes(UTF_8))
    info("reference_keys") = keys.size.toString
  }

  /** Layer probes: parse, window aggregate and risk labelling alone, each
    * over 100k cached rows into `noop`, median of three. */
  private def probes(s: Session, parent: Int): Unit = trace.span("probe", parent) { _ =>
    val n = 100000L
    val wire = events.staticWire(s.spark, 0, n).cache()
    wire.count()
    val parsed = JsonCodec.parseTransactions(wire, col("value"))
      .filter(!col("_corrupt")).withColumn("event_time", Pipelines.eventTime).cache()
    parsed.count()
    def med(df: => DataFrame): Double = Stats.median((1 to 3).map { _ =>
      val t0 = now; noop(df); ms(now - t0) })
    layer("parse.ms_per_100k") = med(JsonCodec.parseTransactions(wire, col("value")))
    layer("agg.ms_per_100k") = med(WindowMetrics.tumbling(parsed, col("event_time"),
      col("exchangeRate") =!= 0.0, col("amount"), col("exchangeRate"), "10 seconds"))
    layer("risk.ms_per_100k") = med(RiskLabeler.formatted(
      RiskLabeler.labelWithLatency(parsed, col("amount"), col("timestamp")),
      col("transactionId"), col("amount")))
    parsed.unpersist(); wire.unpersist()
    val (n0, t) = codegen()
    layer("codegen.compiles") = n0
    layer("codegen.compile_ms") = t
  }

  // ---------------------------------------------------------------- checks

  private def guarded(f: => Unit): Unit =
    try f catch { case e: Throwable =>
      errors += s"${e.getClass.getName}: ${e.getMessage}".take(2000)
    }

  /** Stop the queries, compare their outputs, then (traced) probe layers. */
  private def check(s: Session, st: Streams, run: Int): Unit = {
    trace.span("check", run) { _ =>
      guarded(st.stop())
      val (w, r) = timedPhase("check")(checkStreams(s, st))
      windows += w; risk += r
    }
    if (c.trace) guarded(timedPhase("probes")(probes(s, run)))
  }

  /** Derby windows against batch `metricsPipeline` (the same
    * `WindowMetrics.tumbling`) over every event fed; risk lines against
    * `riskPipelineDeterministic`. The last window is still open (no later
    * event has passed its end), so it is not expected. */
  private def checkStreams(s: Session, st: Streams): (Check.Outcome, Check.Outcome) = {
    val exp = Pipelines.metricsPipeline(events.staticWire(s.spark, 0, st.mFed))
      .select((col("window_start") +: WindowCols.map(col)): _*).collect()
      .map(r => r.getLong(0) -> (1 to WindowCols.length).map(r.get))
    val lastOpen = exp.map(_._1).maxOption.getOrElse(Long.MinValue)
    val expected = exp.filter(_._1 != lastOpen).toMap
    val got = st.mSink.stored()
    val expRisk = Pipelines.riskPipelineDeterministic(events.staticWire(s.spark, 0, st.rFed))
      .select("transactionId", "line").collect()
      .map(r => r.getString(0) -> Seq[Any](r.getString(1))).toMap
    val gotRisk = st.rSink.batches.asScala.toSeq.flatMap(_._3.toSeq)
      .map { case (tx, _, line) => tx -> Seq[Any](line) }
    (Check.keyed(expected, got), Check.keyed(expRisk, gotRisk))
  }
}
