package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** Native Catalyst expression for the vector dot product — the hot
  * kernel of every cosine/ANN scoring path (graft.llm.Similarity).
  *
  * The higher-order-function form (`aggregate(zip_with(a, b, ...),
  * 0.0, ...)`) evaluates its lambda interpreted, one closure call per
  * element per row-pair; this expression compiles to a primitive loop
  * over the two ArrayData buffers inside whole-stage codegen — the
  * third showcase of the Expression tier after [[ParseDuration]] and
  * [[RollingHash]].
  *
  * Semantics are bit-identical to the HOF form (property-tested):
  * elements cast to double, products accumulated in index order from
  * 0.0; a length mismatch or a null element yields NULL (zip_with
  * pads the shorter side with null, which nulls the HOF sum).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  private def elemOk(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) |
         ArrayType(IntegerType, _) | ArrayType(LongType, _) => true
    case _                                                  => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "dot_native requires two array<float|double|int|bigint> arguments, " +
        s"got ${left.dataType} and ${right.dataType}")

  override def dataType: DataType = DoubleType
  // NULL on length mismatch / null element, even for non-null inputs
  override def nullable: Boolean = true
  override def prettyName: String = "dot_native"

  /** Element-type code for the primitive accessor dispatch:
    * 0=float, 1=double, 2=int, 3=long. */
  private def elemCode(e: Expression): Int =
    e.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType   => 0
      case DoubleType  => 1
      case IntegerType => 2
      case _           => 3
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (DotProduct.invalid(x, y)) null
    else DotProduct.compute(x, y, elemCode(left), elemCode(right))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val lT = elemCode(left)
      val rT = elemCode(right)
      s"""
         |if (graft.functions.DotProduct.invalid($a, $b)) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.DotProduct.compute($a, $b, $lT, $rT);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DotProduct = copy(left = newLeft, right = newRight)
}

object DotProduct {

  /** True when the HOF twin would return NULL: unequal lengths (the
    * zip_with pad) or any null element. */
  def invalid(a: ArrayData, b: ArrayData): Boolean = {
    val n = a.numElements()
    if (n != b.numElements()) return true
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return true
      i += 1
    }
    false
  }

  /** Σ a_i·b_i with per-element double casts, accumulated in index
    * order from 0.0 — the exact float semantics of the HOF form.
    * Type codes: 0=float, 1=double, 2=int, 3=long. */
  def compute(a: ArrayData, b: ArrayData, aType: Int, bType: Int): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = get(a, i, aType)
      val y = get(b, i, bType)
      acc += x * y
      i += 1
    }
    acc
  }

  private def get(a: ArrayData, i: Int, t: Int): Double = t match {
    case 0 => a.getFloat(i).toDouble
    case 1 => a.getDouble(i)
    case 2 => a.getInt(i).toDouble
    case _ => a.getLong(i).toDouble
  }

  /** Column-API entry point. */
  def dotNative(a: Column, b: Column): Column =
    ColumnBridge.column(
      DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
