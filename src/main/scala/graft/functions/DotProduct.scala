package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnShim.{column, expression}
import org.apache.spark.sql.types._

/**
 * Double-precision dot product of two numeric arrays — the hot kernel of
 * every similarity-search / embedding-dedup operator.
 *
 * The HOF formulation `aggregate(zip_with(a, b, _*_), 0.0, _+_)` allocates
 * an intermediate products array per row and walks generic element
 * accessors; this expression is a single fused loop in both interpreted
 * and generated code (no allocation). Semantics match the HOF chain
 * EXACTLY, including its null behavior: a null element poisons the sum to
 * null (null product + acc = null), and mismatched lengths yield null
 * (zip_with pads the shorter side with null). On well-formed inputs the
 * accumulation is left-to-right in double — bit-identical results, so the
 * DuckDB oracles keep matching.
 */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  /** Nullable regardless of input nullability: null ELEMENTS or a length
    * mismatch yield null even when both array columns are non-null. */
  override def nullable: Boolean = true

  private def elemOk(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType | DoubleType | IntegerType | LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product requires two arrays of numeric type, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  private def getAsDouble(arr: ArrayData, i: Int, dt: DataType): Double = dt match {
    case FloatType => arr.getFloat(i).toDouble
    case DoubleType => arr.getDouble(i)
    case IntegerType => arr.getInt(i).toDouble
    case LongType => arr.getLong(i).toDouble
    case other => throw new IllegalStateException(other.simpleString)
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val lt = elemType(left); val rt = elemType(right)
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += getAsDouble(x, i, lt) * getAsDouble(y, i, rt)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  private def genGet(arr: String, i: String, dt: DataType): String = dt match {
    case FloatType => s"(double) $arr.getFloat($i)"
    case DoubleType => s"$arr.getDouble($i)"
    case IntegerType => s"(double) $arr.getInt($i)"
    case LongType => s"(double) $arr.getLong($i)"
    case other => throw new IllegalStateException(other.simpleString)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |if ($x.numElements() != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $x.numElements(); $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += ${genGet(x, i, elemType(left))} * ${genGet(y, i, elemType(right))};
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
  override def prettyName: String = "dot_product"
}

object DotProduct {
  /** Column API: dot_product(a, b). */
  def dot(a: Column, b: Column): Column = column(DotProduct(expression(a), expression(b)))
}
