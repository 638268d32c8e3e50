package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal,
  RuntimeReplaceable, UnsafeArrayData}
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, LongType}

/** The vector kernels behind [[VectorDot]], [[VectorDotFixed]] and
  * [[VectorOuterFixed]], each reached by one `StaticInvoke` (see
  * [[Kernel]]). `dot` and `dotFixed` decide the element width once,
  * outside the loop: a per-element width test ran ~5% slower in a
  * `sum(vector_dot)` probe over 1.5 M parquet rows × 64 floats. */
object VectorKernels {

  /** Sequential left-to-right double fold of x_i·y_i over the overlapping
    * prefix; float elements widen to double first. */
  def dot(x: ArrayData, y: ArrayData, xDouble: Boolean, yDouble: Boolean): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    if (xDouble && yDouble)
      while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    else if (xDouble)
      while (i < n) { acc += x.getDouble(i) * y.getFloat(i).toDouble; i += 1 }
    else if (yDouble)
      while (i < n) { acc += x.getFloat(i).toDouble * y.getDouble(i); i += 1 }
    else
      while (i < n) { acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    acc
  }

  /** Σ [[ExactNum.floorUnits]](x_i·y_i) at [[ExactNum.FixedScale]] over
    * the overlapping prefix of a float vector `x` and a float or double
    * `y`, pairs with a null element skipped. */
  def dotFixed(x: ArrayData, y: ArrayData, yDouble: Boolean): Long = {
    val n = math.min(x.numElements(), y.numElements())
    val s = ExactNum.FixedScale
    var acc = 0L
    var i = 0
    if (yDouble) while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i))
        acc += ExactNum.floorUnits(x.getFloat(i).toDouble * y.getDouble(i), s)
      i += 1
    } else while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i))
        acc += ExactNum.floorUnits(x.getFloat(i).toDouble * y.getFloat(i).toDouble, s)
      i += 1
    }
    acc
  }

  /** The upper-triangle fixed-point terms of [[VectorOuterFixed]]:
    * floorUnits(x_i·x_j) for i ≤ j, i-major. `withLinear` appends the d
    * LINEAR fixed-point terms floor(x_i·1e12) after the d(d+1)/2
    * quadratic ones (flat index k ∈ [T, T+d) ⇒ dim = k − T), so one
    * explode+agg pass yields the covariance cells AND the per-dim moment
    * sums together — [[graft.operators.Similarity.covarianceMatrix]]'s
    * one-corpus-pass shape. Each linear term is exactly the
    * `floor(x·1e12)::long` the per-dim [[ExactNum.sumFloor]] fold at 12
    * digits quantized. */
  def outerTerms(v: ArrayData, isDouble: Boolean, withLinear: Boolean): ArrayData = {
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

  /** An operand's element width: Some(true) for array<double>,
    * Some(false) for array<float>, None for any other type. */
  private[functions] def doubleWidth(e: Expression): Option[Boolean] =
    e.dataType match {
      case ArrayType(FloatType, _) => Some(false)
      case ArrayType(DoubleType, _) => Some(true)
      case _ => None
    }

  /** A type-checked operand's width flag, as the kernel's literal argument. */
  private[functions] def widthFlag(e: Expression): Literal =
    Literal(doubleWidth(e).contains(true))
}

/** Dot product of two array<float|double> columns as a sequential
  * left-to-right double fold — semantically identical to
  * `aggregate(zip_with(a, b, (x,y) => xd*yd), 0.0, _+_)` (and to DuckDB's
  * ordered `list_reduce` twin) over equal-length, null-free arrays, but
  * one primitive loop ([[VectorKernels.dot]]) instead of the interpreted
  * HOF path that allocates an intermediate product array per row.
  * Arrays of unequal length dot their min-length overlap.
  *
  * This is the SURVEY §7 phase-3 extension point demonstrated at level (b)
  * of the preference order: a custom `Expression` where composition of
  * built-ins leaves performance on the table (pairwise scoring is the
  * hottest loop in the similarity operators). Per-side element width
  * (optimization r15): the PQ/IVF hot paths fold array<double>
  * residuals and codeword arrays, and widening a float to double changes
  * nothing about the fold's IEEE order or results.
  */
case class VectorDot(left: Expression, right: Expression)
    extends RuntimeReplaceable with BinaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = Kernel.check(
    VectorKernels.doubleWidth(left).isDefined &&
      VectorKernels.doubleWidth(right).isDefined,
    s"vector_dot expects two array<float|double> arguments, got " +
      s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override lazy val replacement: Expression = Kernel.invoke(VectorKernels,
    "dot", DoubleType, left, right, VectorKernels.widthFlag(left),
    VectorKernels.widthFlag(right))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorDot {
  /** Column API: `vector_dot(a, b)`. */
  def vector_dot(a: Column, b: Column): Column =
    Bridge.column(VectorDot(Bridge.expr(a), Bridge.expr(b)))
}

/** The FIXED-POINT projection sum behind the LSH signature build —
  * Σ_i CAST(floor((CAST(a_i AS DOUBLE) · b_i) · 1e12) AS LONG) over the
  * overlapping prefix of two arrays, null elements skipped
  * ([[VectorKernels.dotFixed]]).
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
  * a tight loop inside the scan-side projection, no explode, no
  * aggregate, no per-row array allocation.
  *
  * Left operand: array<float> (the stored vector). Right operand:
  * array<float> or array<double> (a literal ±1 sign vector, or the
  * vector itself for the squared-norm sum).
  */
case class VectorDotFixed(left: Expression, right: Expression)
    extends RuntimeReplaceable with BinaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = Kernel.check(
    VectorKernels.doubleWidth(left).contains(false) &&
      VectorKernels.doubleWidth(right).isDefined,
    s"vector_dot_fixed expects array<float> and array<float|double>, " +
      s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override lazy val replacement: Expression = Kernel.invoke(VectorKernels,
    "dotFixed", LongType, left, right, VectorKernels.widthFlag(right))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorDotFixed {
  /** Column API: `vector_dot_fixed(a, b)`. */
  def vector_dot_fixed(a: Column, b: Column): Column =
    Bridge.column(VectorDotFixed(Bridge.expr(a), Bridge.expr(b)))
}

/** The per-row UPPER-TRIANGLE outer-product term array behind the
  * covariance matrix ([[VectorKernels.outerTerms]]) — for a vector x of
  * length d, the flat array t[k] = CAST(floor((x_i·x_j)·1e12) AS LONG)
  * over pairs (i ≤ j), enumerated i-major exactly like the HOF form
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
    extends RuntimeReplaceable with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = Kernel.check(
    VectorKernels.doubleWidth(child).isDefined,
    s"vector_outer_fixed expects array<float|double>, got " +
      child.dataType.simpleString)

  override lazy val replacement: Expression = Kernel.invoke(VectorKernels,
    "outerTerms", ArrayType(LongType, containsNull = false), child,
    VectorKernels.widthFlag(child), Literal(withLinear))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorOuterFixed {

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
