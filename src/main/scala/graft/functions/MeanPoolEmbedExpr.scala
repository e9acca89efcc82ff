package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native mean-pooled hash embedding of a text, `dim` doubles wide: one
  * walk pre-tokenizes the text with the Qwen2 rules, trims each piece of
  * `" \t\r\n"` and drops the empty ones (`TextAnalysis.qwen2Pretokenize`),
  * hashes each token once and adds its value for every dimension.
  * Element i is the mean over tokens of `xxhash64(token, i) / 2^63`
  * (0.0 for no token), summed in token order — bit-identical to the
  * column form `aggregate(transform(qwen2Pretokenize(text),
  * t => xxhash64(t, lit(i)).cast("double")), 0.0, (acc, x) => acc +
  * x / 2^63) / greatest(size(tokens), 1)`, which tokenizes the text and
  * folds it once per dimension in interpreted higher-order functions.
  * The array is never null; a null text gives `dim` null elements. */
case class MeanPoolEmbed(child: Expression, dim: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(dim >= 1, s"mean_pool_embed requires dim >= 1, got dim=$dim")

  // unannotated: the element type, AbstractDataType, is private to Spark
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "mean_pool_embed"

  override def eval(input: InternalRow): Any =
    MeanPoolEmbed.compute(child.eval(input).asInstanceOf[UTF8String], dim)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} = graft.functions.MeanPoolEmbed.compute(
        ${c.isNull} ? null : ${c.value}, $dim);""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MeanPoolEmbed =
    copy(child = newChild)
}

object MeanPoolEmbed {

  private val Pretoken = Pattern.compile(graft.llm.TextAnalysis.Qwen2PretokenRe)
  private val TrimChars = UTF8String.fromString(" \t\r\n")

  /** The embedding of one text; `dim` nulls for a null text. */
  def compute(s: UTF8String, dim: Int): ArrayData = {
    if (s == null) return new GenericArrayData(new Array[Any](dim))
    val sums = new Array[Double](dim)
    var n = 0
    val m = Pretoken.matcher(s.toString)
    while (m.find()) {
      val t = UTF8String.fromString(m.group()).trim(TrimChars)
      if (t.numBytes > 0) {
        val h = XXH64.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset, t.numBytes,
          MinHashLsh.XxSeed)
        var i = 0
        while (i < dim) {
          sums(i) += XXH64.hashInt(i, h).toDouble / 9.223372036854776e18
          i += 1
        }
        n += 1
      }
    }
    val tokens = math.max(n, 1).toDouble
    var i = 0
    while (i < dim) { sums(i) /= tokens; i += 1 }
    UnsafeArrayData.fromPrimitiveArray(sums)
  }

  /** Column-API entry point. */
  def meanPoolEmbed(text: Column, dim: Int): Column =
    ColumnBridge.column(MeanPoolEmbed(ColumnBridge.expression(text), dim))
}
