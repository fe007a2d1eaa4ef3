package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnShim.{column, expression}
import org.apache.spark.sql.types._

/**
 * Fused MinHash signature: k per-seed minima over a shingle array in a
 * SINGLE pass with ONE string hash per shingle.
 *
 * The HOF formulation ([[graft.ext.Dedup.minhashSignature]]) evaluates
 * `xxhash64(shingle, seed)` once per (shingle, seed) — k full string
 * hashes per shingle (k=128 for the high-recall LSH setting). This
 * expression hashes each shingle once (xxhash64, seed 42 — same kernel
 * as `functions.xxhash64`) and derives the k signature slots with a
 * pairwise-independent affine mix h*A(i)+B(i) (A,B from splitmix64,
 * A forced odd so the map is a bijection on Z/2^64) — the standard
 * one-hash minwise scheme. ~k× less hashing on the dedup hot path.
 *
 * Semantics: null elements are skipped; an empty (or all-null) array
 * yields Long.MaxValue in every slot — identical to the HOF's fold
 * initial value. Signature VALUES differ from the HOF scheme by design;
 * both are valid minhash families, and the LSH operators are gated by
 * strategy equivalence to exact Jaccard, not by signature bytes.
 */
case class MinHashSignature(left: Expression, right: Expression)
    extends BinaryExpression {

  private lazy val k: Int = right.eval().asInstanceOf[Number].intValue()

  private lazy val (aArr, bArr): (Array[Long], Array[Long]) = MinHashSignature.mixFor(k)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case ArrayType(StringType, _) =>
      if (!right.foldable || right.dataType != IntegerType)
        TypeCheckResult.TypeCheckFailure("minhash_sig: k must be an int literal")
      else if (right.eval() == null || right.eval().asInstanceOf[Number].intValue() < 1)
        TypeCheckResult.TypeCheckFailure("minhash_sig: k must be >= 1")
      else TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires array<string>, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any, kv: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val acc = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val h = XxHash64Function.hash(arr.getUTF8String(i), StringType, 42L)
        var j = 0
        while (j < k) {
          val v = h * aArr(j) + bArr(j)
          if (v < acc(j)) acc(j) = v
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", aArr, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", bArr, "long[]")
    nullSafeCodeGen(ctx, ev, (arr, _) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val acc = ctx.freshName("acc")
      val h = ctx.freshName("hash")
      val v = ctx.freshName("v")
      val s = ctx.freshName("str")
      s"""
         |long[] $acc = new long[$k];
         |java.util.Arrays.fill($acc, Long.MAX_VALUE);
         |for (int $i = 0; $i < $arr.numElements(); $i++) {
         |  if (!$arr.isNullAt($i)) {
         |    org.apache.spark.unsafe.types.UTF8String $s = $arr.getUTF8String($i);
         |    long $h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
         |      $s.getBaseObject(), $s.getBaseOffset(), $s.numBytes(), 42L);
         |    for (int $j = 0; $j < $k; $j++) {
         |      long $v = $h * $aRef[$j] + $bRef[$j];
         |      if ($v < $acc[$j]) $acc[$j] = $v;
         |    }
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($acc);
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): MinHashSignature =
    copy(left = l, right = r)
  override def prettyName: String = "minhash_sig"
}

object MinHashSignature {
  /** Column API: fused k-slot minhash signature of a shingle array. */
  def signature(shingles: Column, k: Int): Column =
    column(MinHashSignature(expression(shingles), Literal(k)))

  /** Reference-model mix, for spec-side expected-value computation. */
  private[graft] def mixFor(k: Int): (Array[Long], Array[Long]) = {
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    (Array.tabulate(k)(i => mix(2L * i) | 1L), Array.tabulate(k)(i => mix(2L * i + 1)))
  }
}
