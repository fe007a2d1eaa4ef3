package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnShim.{column, expression}
import org.apache.spark.sql.types._

/**
 * Jaccard similarity |A∩B| / |A∪B| of two string arrays — the verification
 * kernel of every LSH near-dup pipeline.
 *
 * The HOF form `size(array_intersect(a,b)) / (size(a)+size(b)-size(
 * array_intersect(a,b)))` builds the intersection ARRAY twice per pair;
 * this expression computes only the two counts with one hash set per side
 * and no array materialization. Duplicates are ignored (set semantics,
 * same as array_intersect on distinct inputs); null elements are ignored;
 * an empty union yields 0.0 (matching [[graft.ext.Dedup.jaccard]]).
 */
case class JaccardSim(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"jaccard_sim requires two array<string>, got ${l.simpleString} and ${r.simpleString}")
    }

  /** Shared by eval and generated code (called from codegen via the
    * static-invoke-style fully-qualified name). */
  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Double.valueOf(
      JaccardSim.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.functions.JaccardSim.compute($x, $y);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardSim =
    copy(left = l, right = r)
  override def prettyName: String = "jaccard_sim"
}

object JaccardSim {

  /** One hash-set pass per side; no intersection array is built. */
  def compute(a: ArrayData, b: ArrayData): Double = {
    val setA = new java.util.HashSet[Object](math.max(8, a.numElements() * 2))
    var i = 0
    while (i < a.numElements()) {
      if (!a.isNullAt(i)) setA.add(a.getUTF8String(i))
      i += 1
    }
    val setB = new java.util.HashSet[Object](math.max(8, b.numElements() * 2))
    i = 0
    while (i < b.numElements()) {
      if (!b.isNullAt(i)) setB.add(b.getUTF8String(i))
      i += 1
    }
    var inter = 0
    val it = setB.iterator()
    while (it.hasNext) if (setA.contains(it.next())) inter += 1
    val union = setA.size() + setB.size() - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** Column API: jaccard_sim(a, b). */
  def jaccard(a: Column, b: Column): Column = column(JaccardSim(expression(a), expression(b)))
}
