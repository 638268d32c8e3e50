package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.DataType

/** The one shape of every custom Catalyst expression in this package: a
  * `RuntimeReplaceable` whose replacement is a `StaticInvoke` of one
  * static JVM kernel, so interpreted eval and whole-stage codegen run the
  * same method. Plan-time constants (element widths, flags, bucket
  * counts, word lists) ride as literal arguments, which compare by value
  * in plan equality and the cached-frame lookup. `kernels` is the Scala
  * object holding the method (`StaticInvoke` calls its static forwarder). */
private[functions] object Kernel {
  def invoke(kernels: AnyRef, method: String, dataType: DataType,
             args: Expression*): Expression =
    StaticInvoke(kernels.getClass, dataType, method, args,
      returnNullable = false)

  /** The type-check result of a kernel expression: success, or `message`. */
  def check(ok: Boolean, message: => String): TypeCheckResult =
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(message)
}
