package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnShim.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/**
 * 64-bit SimHash over an array of tokens — a single-pass custom Catalyst
 * Expression (preference order (b) from the build rules: composing HOFs
 * would re-hash every token 64× to extract each bit; a native expression
 * does one xxhash64 per token and accumulates all 64 bit-weights at once).
 *
 * Hashing matches `functions.xxhash64(token)` (seed 42), so HOF-based
 * reimplementations agree bit-for-bit.
 *
 * Near-duplicate test: popcount(simhash(a) XOR simhash(b)) <= r — see
 * [[graft.ext.Dedup.simhashPairs]].
 */
case class SimHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash64 requires array<string>, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val weights = new Array[Int](64)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val h = XxHash64Function.hash(arr.getUTF8String(i), StringType, 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) weights(b) += 1 else weights(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (weights(b) >= 0) out |= (1L << b)
      b += 1
    }
    java.lang.Long.valueOf(out)
  }

  /** Whole-stage-codegen body: same loop as [[nullSafeEval]], emitted as
    * Java so simhash stays inside the fused stage (no interpreted
    * fallback). `XXH64.hashUnsafeBytes` with seed 42 is exactly what
    * `functions.xxhash64` lowers to for strings. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val w = ctx.freshName("weights")
      val h = ctx.freshName("hash")
      val s = ctx.freshName("str")
      s"""
         |int[] $w = new int[64];
         |for (int $i = 0; $i < $arr.numElements(); $i++) {
         |  if (!$arr.isNullAt($i)) {
         |    org.apache.spark.unsafe.types.UTF8String $s = $arr.getUTF8String($i);
         |    long $h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
         |      $s.getBaseObject(), $s.getBaseOffset(), $s.numBytes(), 42L);
         |    for (int $b = 0; $b < 64; $b++) {
         |      if ((($h >>> $b) & 1L) == 1L) $w[$b]++; else $w[$b]--;
         |    }
         |  }
         |}
         |${ev.value} = 0L;
         |for (int $b = 0; $b < 64; $b++) {
         |  if ($w[$b] >= 0) ${ev.value} |= (1L << $b);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash = copy(newChild)
  override def prettyName: String = "simhash64"
}

object SimHash {
  /** Column API: simhash64(tokensArray). */
  def simhash64(tokens: Column): Column = column(SimHash(expression(tokens)))

  /** Hamming distance between two simhash values. */
  def hammingDist(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.bit_count(a.bitwiseXOR(b)).cast(LongType)
}
