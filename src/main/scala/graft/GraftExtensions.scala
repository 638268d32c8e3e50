package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.{VectorDot, VectorDotFixed}

/** The engine's SparkSessionExtensions entry point — the one way its SQL
  * functions (`vector_dot`, `vector_dot_fixed`) are registered. Each
  * resolves to its `RuntimeReplaceable` expression, which the optimizer
  * swaps for a `StaticInvoke` of one static kernel
  * ([[graft.functions.VectorKernels]]). Wire with:
  *
  * {{{
  * SparkSession.builder().withExtensions(new GraftExtensions)...
  * // or spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * Catalyst `Rule`/`SparkStrategy` injection would hang off the same hook;
  * reference parity needs none (SURVEY.md §4.2) so only the function
  * surface is populated.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("vector_dot"),
      new ExpressionInfo(classOf[VectorDot].getName, "vector_dot"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        VectorDot(exprs(0), exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("vector_dot_fixed"),
      new ExpressionInfo(classOf[VectorDotFixed].getName, "vector_dot_fixed"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        VectorDotFixed(exprs(0), exprs(1))))
  }
}
