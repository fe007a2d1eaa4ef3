package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnShim.{column, expression}
import org.apache.spark.sql.types._

/**
 * Product-quantization encoder: the m per-subspace nearest-centroid codes
 * of a dim-length embedding, against a codebook carried as a flat
 * `m × ksub × (dim/m)` double array (row-major by (subspace, centroid,
 * component)).
 *
 * This is the fused-loop replacement for the HOF formulation in
 * `ext.Similarity.pqCodes` (nested `aggregate`/`zip_with` over centroid
 * array literals): Spark HOFs are interpreted (CodegenFallback), so the
 * HOF encode pays ~m·ksub·dsub generic expression evaluations per row —
 * the dominant cost of PQ training AND serving (q_knn_pq_recall spent
 * ~20 s mostly here at sf0.1). Here the argmin runs as three tight
 * primitive loops in both interpreted and generated code, with the
 * codebook attached once as a reference object — encoding a 100 TB
 * corpus really is one narrow codegen'd scan.
 *
 * Semantics match pqCodes' checked form EXACTLY: wrong input length and
 * null elements raise (same messages), null input yields null, distance
 * ties pick the lowest centroid id, accumulation is left-to-right double.
 */
case class PqEncode(child: Expression, book: Seq[Double], dim: Int, m: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _)
      if dim >= 1 && m >= 1 && dim % m == 0 &&
        book.nonEmpty && book.length % dim == 0 =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(FloatType | DoubleType, _) =>
      TypeCheckResult.TypeCheckFailure(
        s"pq_encode: need dim ($dim) divisible by m ($m) and a codebook " +
          s"of k*dim doubles, got ${book.length}")
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_encode requires array<float|double>, got ${other.simpleString}")
  }

  private lazy val flat: Array[Double] = book.toArray
  private def ksub: Int = book.length / dim
  private def dsub: Int = dim / m

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    if (arr.numElements() != dim)
      throw new IllegalArgumentException(s"pq: embedding size != dim=$dim")
    val x = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      if (arr.isNullAt(i))
        throw new IllegalArgumentException("pq: embedding contains null elements")
      x(i) = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      i += 1
    }
    val codes = new Array[Int](m)
    val k = ksub; val d = dsub; val b = flat
    var s = 0
    while (s < m) {
      var best = -1
      var bd = Double.MaxValue
      var j = 0
      while (j < k) {
        var dist = 0.0
        val off = (s * k + j) * d
        val base = s * d
        var p = 0
        while (p < d) {
          val diff = x(base + p) - b(off + p)
          dist += diff * diff
          p += 1
        }
        if (dist < bd) { bd = dist; best = j }
        j += 1
      }
      codes(s) = best
      s += 1
    }
    new GenericArrayData(codes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val flatRef = ctx.addReferenceObj("pqBook", flat, "double[]")
    val get = if (isFloat) (a: String, i: String) => s"(double) $a.getFloat($i)"
              else (a: String, i: String) => s"$a.getDouble($i)"
    nullSafeCodeGen(ctx, ev, arr => {
      val x = ctx.freshName("x")
      val codes = ctx.freshName("codes")
      val s = ctx.freshName("s"); val j = ctx.freshName("j")
      val p = ctx.freshName("p"); val i = ctx.freshName("i")
      val bd = ctx.freshName("bd"); val best = ctx.freshName("best")
      val dist = ctx.freshName("dist"); val off = ctx.freshName("off")
      val base = ctx.freshName("base"); val diff = ctx.freshName("diff")
      s"""
        |if ($arr.numElements() != $dim)
        |  throw new IllegalArgumentException("pq: embedding size != dim=$dim");
        |double[] $x = new double[$dim];
        |for (int $i = 0; $i < $dim; $i++) {
        |  if ($arr.isNullAt($i))
        |    throw new IllegalArgumentException("pq: embedding contains null elements");
        |  $x[$i] = ${get(arr, i)};
        |}
        |int[] $codes = new int[$m];
        |for (int $s = 0; $s < $m; $s++) {
        |  int $best = -1;
        |  double $bd = Double.MAX_VALUE;
        |  for (int $j = 0; $j < $ksub; $j++) {
        |    double $dist = 0.0;
        |    int $off = ($s * $ksub + $j) * $dsub;
        |    int $base = $s * $dsub;
        |    for (int $p = 0; $p < $dsub; $p++) {
        |      double $diff = $x[$base + $p] - $flatRef[$off + $p];
        |      $dist += $diff * $diff;
        |    }
        |    if ($dist < $bd) { $bd = $dist; $best = $j; }
        |  }
        |  $codes[$s] = $best;
        |}
        |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($codes);
      """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)

  override def prettyName: String = "pq_encode"
}

object PqEncode {

  private def evalInt(e: Expression): Int = {
    require(e.foldable, s"pq_encode: scalar argument must be a literal, got $e")
    e.eval().asInstanceOf[Number].intValue()
  }

  private def evalDoubles(e: Expression): Seq[Double] = {
    require(e.foldable, s"pq_encode: codebook argument must be a literal array")
    e.eval().asInstanceOf[ArrayData].toDoubleArray().toIndexedSeq
  }

  /** SQL builder: pq_encode(vec, flat_book, dim, m) — the codebook and
    * shape arrive as foldable literals and are folded into the expression
    * at build time. */
  def fromExprs(exprs: Seq[Expression]): PqEncode =
    PqEncode(exprs(0), evalDoubles(exprs(1)), evalInt(exprs(2)), evalInt(exprs(3)))

  /** Column API: the codebook goes straight into the expression. */
  def encode(vec: Column, flatBook: Array[Double], dim: Int, m: Int): Column =
    column(PqEncode(expression(vec), flatBook.toIndexedSeq, dim, m))
}
