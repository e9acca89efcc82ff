package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for Unicode NFC normalization — the
  * canonical-composition step every text-curation pipeline runs before
  * hashing or deduplicating multilingual content (a decomposed
  * "e"+U+0301 and the precomposed U+00E9 must fingerprint alike, or
  * every dedup family silently treats them as different documents).
  * Spark ships no normalization builtin, so this is the natural fifth
  * member of the Expression tier: ASCII input (the overwhelming common
  * case, NFC by construction) passes through with a byte scan and ZERO
  * allocation; only strings containing a non-ASCII byte pay the
  * `java.text.Normalizer` call. DuckDB twin: `nfc_normalize(text)` —
  * both sides implement Unicode canonical composition, so planted
  * combining-mark fixtures hash-match. Codegen'd (a static call inside
  * whole-stage codegen), usable from SQL via [[graft.plans.GraftExtensions]].
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nfc_normalize_native requires a string argument, got ${child.dataType}")
  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "nfc_normalize_native"

  override def nullSafeEval(input: Any): Any =
    NfcNormalize.compute(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.NfcNormalize.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcNormalize {
  /** ASCII fast path: every byte < 0x80 is already NFC — return the
    * input UTF8String untouched (no decode, no allocation). Otherwise
    * decode once, normalize, re-encode. */
  def compute(s: UTF8String): UTF8String = {
    val n = s.numBytes()
    var i = 0
    while (i < n) {
      if (s.getByte(i) < 0) {
        val str = s.toString
        val norm = java.text.Normalizer
          .normalize(str, java.text.Normalizer.Form.NFC)
        return if (norm == str) s else UTF8String.fromString(norm)
      }
      i += 1
    }
    s
  }

  /** Column-API entry point. */
  def nfcNormalize(c: Column): Column =
    ColumnBridge.column(NfcNormalize(ColumnBridge.expression(c)))
}
