package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Native Catalyst expression: the FIXED-POINT projection sum behind the
  * LSH signature build — Σ_i CAST(floor((CAST(a_i AS DOUBLE) · b_i) ·
  * 1e12) AS LONG) over the overlapping prefix of two arrays, null
  * elements skipped.
  *
  * Each term is exactly `Similarity.term(x · sg)` (floor to the shared
  * 1e12 fixed-point scale, then the Catalyst double→long cast — the
  * [[ExactNum.floorUnits]] term at [[ExactNum.FixedScale]]), and the
  * per-element terms are INTEGERS, so the sum is associative — this
  * per-row loop is bit-identical to the former shape that exploded the
  * vector to (id, dim, x) rows and ran one SUM aggregate per plane
  * (pinned in VectorDotFixedSpec). What it buys (optimization r15, guide
  * §4): sim5's signature build paid a 64× row explosion into a hash
  * aggregate with planes+1 sum buffers — 29M buffer updates at sf0.1,
  * the key's dominant stage (7.7 s task CPU) — where this expression is
  * a tight codegen'd loop inside the scan-side projection, no explode,
  * no aggregate, no per-row array allocation.
  *
  * Left operand: array<float> (the stored vector). Right operand:
  * array<float> or array<double> (a literal ±1 sign vector, or the
  * vector itself for the squared-norm sum).
  */
case class VectorDotFixed(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def okLeft(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    def okRight(t: DataType) = t match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (okLeft(left.dataType) && okRight(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vector_dot_fixed expects array<float> and array<float|double>, " +
        s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = LongType

  private def rightIsDouble: Boolean = right.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val rd = rightIsDouble
    var acc = 0L
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val p = x.getFloat(i).toDouble *
          (if (rd) y.getDouble(i) else y.getFloat(i).toDouble)
        acc += ExactNum.floorUnits(p, ExactNum.FixedScale)
      }
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val p = ctx.freshName("p")
      val getR = if (rightIsDouble) s"$b.getDouble($i)"
        else s"((double) $b.getFloat($i))"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    double $p = ((double) $a.getFloat($i)) * $getR;
         |    $acc += graft.functions.ExactNum.floorUnits($p, ${ExactNum.FixedScale});
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorDotFixed {
  /** Column API: `vector_dot_fixed(a, b)`. */
  def vector_dot_fixed(a: Column, b: Column): Column =
    Bridge.column(VectorDotFixed(Bridge.expr(a), Bridge.expr(b)))
}
