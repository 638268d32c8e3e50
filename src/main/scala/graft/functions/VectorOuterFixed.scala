package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Native Catalyst expression: the per-row UPPER-TRIANGLE outer-product
  * term array behind the covariance matrix — for a vector x of length d,
  * the flat array t[k] = CAST(floor((x_i·x_j)·1e12) AS LONG) over pairs
  * (i ≤ j), enumerated i-major exactly like the HOF form
  * `flatten(transform(sequence(0,d−1), i => transform(sequence(i,d−1),
  * j => floor(x_i·x_j·1e12)::long)))`.
  *
  * Each element is the [[ExactNum.floorUnits]] term of the same double
  * product — the floor + d2l cast the Catalyst `floor(p · 1e12)` AST
  * evaluates — so downstream DECIMAL(38,0) folds are bit-identical
  * (VectorOuterFixedSpec pins term-for-term equality with the HOF
  * construction). What it buys (optimization r15,
  * guide §4 — eliminate non-codegen expressions in the hot path):
  * higher-order functions evaluate their lambda interpreted per element,
  * so the d(d+1)/2-struct nested-transform expansion cost ~300 µs/row at
  * d=64 (sim13's dominant stage, 19.8 s task time at sf0.1) where this
  * is one compiled loop into a primitive long buffer — no per-element
  * dispatch, no struct allocation.
  *
  * The flat index inverts arithmetically (see [[VectorOuterFixed.ijOf]]):
  * offset(i) = i·d − i(i−1)/2, i from a float sqrt estimate corrected
  * ±1 — every operand is ≤ 2^53 so the estimate is off by at most one,
  * and the correction is exact.
  */
case class VectorOuterFixed(child: Expression,
                            withLinear: Boolean = false)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"vector_outer_fixed expects array<float|double>, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def isDouble: Boolean = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def nullSafeEval(v: Any): Any =
    VectorOuterFixed.terms(v.asInstanceOf[ArrayData], isDouble, withLinear)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = " +
        s"graft.functions.VectorOuterFixed.terms($a, $isDouble, $withLinear);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorOuterFixed {

  /** The compiled term loop — shared by eval and generated code.
    * `withLinear` appends the d LINEAR fixed-point terms
    * floor(x_i·1e12) after the d(d+1)/2 quadratic ones (flat index
    * k ∈ [T, T+d) ⇒ dim = k − T), so one explode+agg pass yields the
    * covariance cells AND the per-dim moment sums together —
    * [[graft.operators.Similarity.covarianceMatrix]]'s one-corpus-pass
    * shape. Each linear term is exactly the `floor(x·1e12)::long` the
    * per-dim [[ExactNum.sumFloor]] fold at 12 digits quantized. */
  def terms(v: ArrayData, isDouble: Boolean, withLinear: Boolean): ArrayData = {
    val d = v.numElements()
    val quad = d * (d + 1) / 2
    val out = new Array[Long](if (withLinear) quad + d else quad)
    var k = 0
    var i = 0
    while (i < d) {
      val xi = if (isDouble) v.getDouble(i) else v.getFloat(i).toDouble
      var j = i
      while (j < d) {
        val xj = if (isDouble) v.getDouble(j) else v.getFloat(j).toDouble
        out(k) = ExactNum.floorUnits(xi * xj, ExactNum.FixedScale)
        k += 1
        j += 1
      }
      i += 1
    }
    if (withLinear) {
      var i2 = 0
      while (i2 < d) {
        val xi = if (isDouble) v.getDouble(i2) else v.getFloat(i2).toDouble
        out(quad + i2) = ExactNum.floorUnits(xi, ExactNum.FixedScale)
        i2 += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Column API: `vector_outer_fixed(v)`. */
  def vector_outer_fixed(v: Column, withLinear: Boolean = false): Column =
    Bridge.column(VectorOuterFixed(Bridge.expr(v), withLinear))

  /** (i, j) of flat index `k` (all 0-based, i-major upper triangle) for
    * row-vector length `d`, as Columns: i from the monotone offset
    * function offset(i) = i·d − i(i−1)/2 via a double sqrt estimate
    * corrected ±1 (every operand ≤ 2^53, so the estimate is within one),
    * j = i + k − offset(i). */
  def ijOf(k: Column, d: Column): (Column, Column) = {
    import org.apache.spark.sql.functions._
    // Column `/` is true (double) division; /2 is exact in binary
    // (exponent decrement) and the quotient is an integer ≤ 2^53, so
    // the long cast is exact
    def off(i: Column): Column = i * d - (i * (i - 1L) / 2L).cast("long")
    val b = d.cast("double") * 2.0 + 1.0
    val i0 = floor((b - sqrt(b * b - k.cast("double") * 8.0)) / 2.0)
      .cast("long")
    val i = when(k < off(i0), i0 - 1L)
      .when(k >= off(i0 + 1L), i0 + 1L)
      .otherwise(i0)
    (i, i + (k - off(i)))
  }
}
