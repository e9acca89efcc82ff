package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the document rolling hash
  * (polynomial fold, base 131 mod 1e9+7 — graft.llm.TextAnalysis
  * .rollingHashSql documents the SQL twin): one pass over the
  * UTF8String with NO per-character string allocation, versus the
  * higher-order-function form (`aggregate(transform(split(text, ''),
  * ascii), ...)`) which materializes a single-char string array per
  * document and folds it interpreted. Bit-identical to the HOF form
  * (property-tested), ~free inside whole-stage codegen — the second
  * showcase of the Expression tier after [[ParseDuration]].
  */
case class RollingHash(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"rolling_hash_native requires a string argument, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "rolling_hash_native"

  override def nullSafeEval(input: Any): Any =
    RollingHash.compute(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.RollingHash.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

object RollingHash {
  private final val Mod = 1000000007L
  private final val Base = 131L

  /** h_i = (h_{i-1} * 131 + codepoint_i) mod 1e9+7 over the string's
    * characters. ASCII inputs (every byte < 0x80) fold directly over
    * the UTF8 bytes — no decode, no allocation; anything else decodes
    * once and folds over code points, matching `ascii()`'s value for
    * each split("")-produced character. */
  def compute(s: UTF8String): Long = {
    val n = s.numBytes()
    var allAscii = true
    var i = 0
    var h = 0L
    while (allAscii && i < n) {
      val b = s.getByte(i)
      if (b < 0) allAscii = false
      else {
        h = (h * Base + b) % Mod
        i += 1
      }
    }
    if (allAscii) h
    else {
      // rare path: restart over code points
      val str = s.toString
      h = 0L
      i = 0
      while (i < str.length) {
        val cp = str.codePointAt(i)
        h = (h * Base + cp) % Mod
        i += Character.charCount(cp)
      }
      h
    }
  }

  /** Column-API entry point. */
  def rollingHashNative(c: Column): Column =
    ColumnBridge.column(RollingHash(ColumnBridge.expression(c)))
}
