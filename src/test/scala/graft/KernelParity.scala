package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.{LocalTableScanExec, ProjectExec, WholeStageCodegenExec}
import org.scalatest.Assertions._

/** Evaluates one projection along both of Spark's expression paths and
  * asserts the two agree bit for bit (doubles by their raw bits).
  *
  * A `Seq(...).toDF` frame's projection optimizes into a LocalRelation,
  * which runs interpreted eval only, so the rows go through a temp
  * parquet file first:
  *  - generated code: the projection over the parquet scan, with codegen
  *    fallback off (a compile error fails) and an executed plan that must
  *    hold a WholeStageCodegen around the Project and no LocalTableScan;
  *  - interpreted: the same projection with whole-stage codegen off and
  *    the expression factories in NO_CODEGEN mode.
  *
  * Every setting it touches is restored. Returns the generated-code rows
  * in input order, for the caller's own checks.
  */
object KernelParity {

  def rows(df: DataFrame, cols: Column*): Seq[Row] = {
    val spark = TestSession.spark
    val root = Files.createTempDirectory("graft-kernel-parity").toFile
    val path = new File(root, "rows").toString
    try {
      df.coalesce(1).write.parquet(path)
      def project() = spark.read.parquet(path).select(cols: _*)
      val generated = TestSession.withConf(
          "spark.sql.codegen.wholeStage" -> "true",
          "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
          "spark.sql.codegen.fallback" -> "false") {
        val q = project()
        val out = q.collect().toSeq
        val plan = q.queryExecution.executedPlan
        assert(plan.find {
          case w: WholeStageCodegenExec =>
            w.child.find(_.isInstanceOf[ProjectExec]).isDefined
          case _ => false
        }.isDefined, s"no whole-stage codegen around the projection:\n$plan")
        assert(plan.find(_.isInstanceOf[LocalTableScanExec]).isEmpty,
          s"the projection ran over a local relation:\n$plan")
        out
      }
      val interpreted = TestSession.withConf(
          "spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
        project().collect().toSeq
      }
      val diff = generated.zip(interpreted)
        .filter { case (g, i) => bits(g) != bits(i) }
      assert(generated.length == interpreted.length && diff.isEmpty,
        "generated code and interpreted eval disagree (generated, " +
          s"interpreted):\n${diff.take(3).mkString("\n")}")
      generated
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root)
  }

  private def bits(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case r: Row => r.toSeq.map(bits)
    case s: scala.collection.Seq[_] => s.map(bits)
    case o => o
  }
}
