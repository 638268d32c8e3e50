package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Dev harness (optimization rounds): run one or more SparkEntry queries
  * and attribute wall time to the Spark jobs and stages inside each —
  * the local[N] stand-in for the Spark UI's stage table (the UI is
  * disabled in the bench session contract). For every query: 2 timed
  * noop-sink runs (the Bench shape), then a per-job breakdown of the
  * SECOND run (codegen/JIT warm) with stage task-time totals, shuffle
  * bytes, and peak task counts, so "where do the seconds go" is a
  * printed fact rather than a guess. Each query's formatted plan
  * (`explain("formatted")`: pushdown reaching scans, broadcast vs shuffle
  * joins, whole-stage codegen spans) follows its breakdown, and any
  * failed warm-up step is printed before the first query.
  *
  * `runMain graft.JobProbe <query> [<query> ...]`; SPARK_GRAFT_SF_DIR /
  * SPARK_GRAFT_CPUS as in Bench. Not part of the driver contract.
  */
object JobProbe {

  private case class StageRec(var name: String, var taskTime: Long = 0L,
    var tasks: Int = 0, var shufRead: Long = 0L, var shufWrite: Long = 0L,
    var input: Long = 0L, var submitted: Long = 0L, var completed: Long = 0L)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Sessions.local(cpus)
    SparkEntry.warm(spark, sfDir)._1.foreach { case (step, e) =>
      println(s"JOBPROBE warm-up $step failed: $e")
    }

    val stages = mutable.Map.empty[Int, StageRec]
    val jobs = mutable.ArrayBuffer.empty[(Int, Long, Long, Seq[Int])]
    var collecting = false
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (collecting) {
          // the broadcast-exchange thread pool makes every stage NAME
          // "withThreadLocalCaptured..."; the first graft frame in the
          // stage's callsite details is the one that says WHICH operator
          val site = e.stageInfo.details.linesIterator
            .find(l => l.contains("graft.") && !l.contains("JobProbe"))
            .map(_.trim.stripPrefix("at ")).getOrElse(e.stageInfo.name)
          stages.getOrElseUpdate(e.stageInfo.stageId,
            StageRec(site)).submitted = System.nanoTime()
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (collecting) stages.get(e.stageInfo.stageId).foreach { r =>
          r.completed = System.nanoTime()
          r.name = e.stageInfo.name
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (collecting && e.taskMetrics != null) {
          val r = stages.getOrElseUpdate(e.stageId, StageRec("?"))
          r.taskTime += e.taskMetrics.executorRunTime
          r.tasks += 1
          r.shufRead += e.taskMetrics.shuffleReadMetrics.totalBytesRead
          r.shufWrite += e.taskMetrics.shuffleWriteMetrics.bytesWritten
          r.input += e.taskMetrics.inputMetrics.bytesRead
        }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (collecting)
          jobs += ((e.jobId, System.nanoTime(), -1L, e.stageIds.toSeq))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (collecting) {
          val i = jobs.lastIndexWhere(_._1 == e.jobId)
          if (i >= 0) jobs(i) = jobs(i).copy(_3 = System.nanoTime())
        }
    }
    spark.sparkContext.addSparkListener(listener)

    // the noop write plans its own QueryExecution — a DataFrame's own
    // queryExecution is never executed, so its metrics stay zero; this
    // captures the execution the write actually ran
    @volatile var lastQe: org.apache.spark.sql.execution.QueryExecution = null
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = lastQe = qe
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })

    // janino compile totals straight from Spark's codegen source — the
    // local[N] box has no UI, and "32 tasks blocked on one compile"
    // inflates task time by 32x while wall pays it once; this separates
    // compile seconds from real work per run.
    import org.apache.spark.metrics.source.CodegenMetrics
    def compMs: Long =
      CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues.sum
    def compN: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    // JOBPROBE_RUN1=1: break down run 1 (the cold run — cache builds,
    // codegen, broadcast races) instead of run 2
    val probeRun1 = sys.env.contains("JOBPROBE_RUN1")
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      // run 1: codegen/JIT warm (the Bench best-of-2 shape)
      val (c0, m0) = (compN, compMs)
      if (probeRun1) { stages.clear(); jobs.clear(); collecting = true }
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val w1 = (System.nanoTime() - t0) / 1e9
      val (c1, m1) = (compN, compMs)
      if (probeRun1) collecting = false
      // cache NOT cleared between the two runs — Bench's best-of-2 shape
      // (clearCache() runs after the pair), so run2's breakdown matches
      // the number Bench actually records for the key
      if (!probeRun1) { stages.clear(); jobs.clear(); collecting = true }
      val t1 = if (probeRun1) t0 else System.nanoTime()
      lastQe = null
      val df2 = fn(spark, sfDir)
      df2.write.format("noop").mode("overwrite").save()
      val w2 = (System.nanoTime() - t1) / 1e9
      collecting = false
      val plan = df2.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      // per-operator SQL metrics of run 2 — the SQL-tab stand-in: every
      // plan node (subqueries and AQE final plans included) whose timing
      // metrics crossed 200 ms, heaviest first
      val seen = scala.collection.mutable.ArrayBuffer
        .empty[(Long, String, String)]
      val visited = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[Object, java.lang.Boolean]())
      def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
        val fin = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.executedPlan
          case o => o
        }
        fin.foreach {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
              if a ne fin => walk(a)
          // AQE hides executed operators inside leaf QueryStageExec
          // wrappers; cached relations hide theirs the same way
          case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            walk(qs.plan)
          case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
            walk(im.relation.cachedPlan)
          case n if visited.add(n) =>
            val ms = n.metrics.map { case (k, m) =>
              val v = if (m.metricType == "timing") m.value
                else if (m.metricType == "nsTiming") m.value / 1000000L
                else -1L
              (k, v)
            }.filter(_._2 >= 200L)
            if (ms.nonEmpty) {
              val top = ms.values.max
              // a codegen pipeline's name says nothing about what's
              // inside — append its operator chain
              val label = n match {
                case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
                  s"${n.nodeName}[" + w.collect {
                    case c if !c.isInstanceOf[
                      org.apache.spark.sql.execution.WholeStageCodegenExec] =>
                      c.nodeName.replace("Execution", "")
                  }.take(5).mkString(">") + "]"
                case _ => n.nodeName
              }
              seen += ((top, label,
                ms.map { case (k, v) => s"$k=${v / 1000.0}s" }.mkString(" ")))
            }
            n.subqueries.foreach(walk)
          case _ => ()
        }
      }
      Thread.sleep(300) // listener bus drains before reading lastQe
      if (lastQe != null) walk(lastQe.executedPlan)
      seen.sortBy(-_._1).take(14).foreach { case (_, nn, ms) =>
        println(s"  METRIC $nn: $ms")
      }
      spark.catalog.clearCache()
      Thread.sleep(200) // let listener events drain
      val (c2, m2) = (compN, compMs)
      println(f"\nJOBPROBE $name run1=$w1%.3f run2=$w2%.3f  " +
        f"jobs=${jobs.size} stages=${stages.size}  " +
        f"compile run1=${c1 - c0}%d/${(m1 - m0) / 1000.0}%.2fs " +
        f"run2=${c2 - c1}%d/${(m2 - m1) / 1000.0}%.2fs")
      val jobsSorted = jobs.sortBy(_._2)
      var prevEnd = t1
      jobsSorted.foreach { case (jid, s, e, sids) =>
        val gap = (s - prevEnd) / 1e9
        val dur = if (e > 0) (e - s) / 1e9 else -1.0
        prevEnd = if (e > 0) e else s
        val sstr = sids.flatMap(stages.get).map(r =>
          f"[${r.name.take(46)}%s tt=${r.taskTime / 1000.0}%.1fs " +
          f"n=${r.tasks} in=${r.input / 1048576.0}%.0fM " +
          f"sr=${r.shufRead / 1048576.0}%.1fM]").mkString(" ")
        println(f"  job $jid%3d gap=$gap%6.3f dur=$dur%6.3f $sstr")
      }
      val tailGap = (t1 + ((w2 * 1e9).toLong) -
        (if (jobsSorted.nonEmpty) jobsSorted.map(j => math.max(j._2, j._3)).max else t1)) / 1e9
      println(f"  tail-after-last-job=$tailGap%.3f (plan/driver time outside jobs)")
      println(plan)
    }
    spark.stop()
  }
}
