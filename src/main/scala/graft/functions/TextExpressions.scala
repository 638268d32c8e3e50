package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Thin Catalyst wrappers over [[TextKernels]]: each is one static kernel
  * reached by `StaticInvoke` (see [[Kernel]]), so the kernels run inside
  * whole-stage codegen with no regex, no boxing and no UDF serialization
  * — level (b) of SURVEY §7's extension-preference order, same as
  * [[VectorDot]]/[[Hash60]]. `constants` are the kernel's plan-time
  * arguments after the string. */
private[functions] abstract class TextKernelExpr(
    override val prettyName: String, kernel: String, resultType: DataType,
    constants: Literal*)
    extends RuntimeReplaceable with UnaryLike[Expression] {
  override def checkInputDataTypes(): TypeCheckResult = Kernel.check(
    child.dataType.isInstanceOf[StringType],
    s"$prettyName expects a string argument, got ${child.dataType.simpleString}")
  override lazy val replacement: Expression =
    Kernel.invoke(TextKernels, kernel, resultType, child +: constants: _*)
}

/** [[TextKernels.normalize]] as an expression. */
case class AsciiNormalize(child: Expression)
    extends TextKernelExpr("ascii_normalize", "normalize", StringType) {
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** [[TextKernels.tokenCount]] as an expression. */
case class TokenCount(child: Expression)
    extends TextKernelExpr("token_count", "tokenCount", LongType) {
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** [[TextKernels.punctCount]] as an expression. */
case class PunctCount(child: Expression)
    extends TextKernelExpr("punct_count", "punctCount", LongType) {
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** `\b(w1|w2|…)\b` occurrence count for all-word-char alternatives; the
  * word list is fixed at plan time and rides as an array<string> literal
  * (no per-row parsing). */
case class WordSetCount(child: Expression, words: Seq[String])
    extends TextKernelExpr("word_set_count", "wordSetCount", LongType,
      Literal.create(words, ArrayType(StringType, containsNull = false))) {
  require(words.nonEmpty && words.forall(_.matches("[a-zA-Z0-9_]+")),
    s"word list must be non-empty all-word-char literals, got $words")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** [[TextKernels.subwordCount]] as an expression. */
case class SubwordCount(child: Expression)
    extends TextKernelExpr("subword_count", "subwordCount", LongType) {
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** [[TextKernels.tokenWeightSum]] as an expression — the classifier
  * margin fold (the bucket count is fixed at plan time). */
case class TokenWeightSum(child: Expression, buckets: Long)
    extends TextKernelExpr("token_weight_sum", "tokenWeightSum", LongType,
      Literal(buckets)) {
  require(buckets > 0, s"buckets must be positive, got $buckets")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** [[TextKernels.tokens]] as an expression. */
case class Tokens(child: Expression)
    extends TextKernelExpr("tokens", "tokens",
      ArrayType(StringType, containsNull = false)) {
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object TextExpressions {
  def ascii_normalize(c: Column): Column = Bridge.column(AsciiNormalize(Bridge.expr(c)))
  def token_count(c: Column): Column = Bridge.column(TokenCount(Bridge.expr(c)))
  def punct_count(c: Column): Column = Bridge.column(PunctCount(Bridge.expr(c)))
  def word_set_count(c: Column, words: Seq[String]): Column =
    Bridge.column(WordSetCount(Bridge.expr(c), words))
  def tokens_fast(c: Column): Column = Bridge.column(Tokens(Bridge.expr(c)))
  def token_weight_sum(c: Column, buckets: Long): Column =
    Bridge.column(TokenWeightSum(Bridge.expr(c), buckets))
  def subword_count(c: Column): Column = Bridge.column(SubwordCount(Bridge.expr(c)))
}
