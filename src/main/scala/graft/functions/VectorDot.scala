package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: dot product of two float-array columns as a
  * sequential left-to-right double fold — semantically identical to
  * `aggregate(zip_with(a, b, (x,y) => xd*yd), 0.0, _+_)` (and to DuckDB's
  * ordered `list_reduce` twin), but with `doGenCode` emitting a tight
  * primitive loop over ArrayData instead of the interpreted HOF path that
  * allocates an intermediate product array per row.
  *
  * This is the SURVEY §7 phase-3 extension point demonstrated at level (b)
  * of the preference order: a custom `Expression` where composition of
  * built-ins leaves performance on the table (pairwise scoring is the
  * hottest loop in the similarity operators).
  */
case class VectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vector_dot expects two array<float|double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType

  // Per-side element width (optimization r15): the PQ/IVF hot paths fold
  // array<double> residuals and codeword arrays — accepting double
  // elements here lets those call sites drop the interpreted HOF fold.
  // CAST(double AS double) is the identity, so widening an operand
  // changes nothing about the fold's IEEE order or results.
  private def isDouble(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val (ld, rd) = (isDouble(left), isDouble(right))
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += (if (ld) x.getDouble(i) else x.getFloat(i).toDouble) *
        (if (rd) y.getDouble(i) else y.getFloat(i).toDouble)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val getL = if (isDouble(left)) s"$a.getDouble($i)"
        else s"((double) $a.getFloat($i))"
      val getR = if (isDouble(right)) s"$b.getDouble($i)"
        else s"((double) $b.getFloat($i))"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $getL * $getR;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorDot {
  /** Column API: `vector_dot(a, b)`. */
  def vector_dot(a: Column, b: Column): Column =
    Bridge.column(VectorDot(Bridge.expr(a), Bridge.expr(b)))
}
