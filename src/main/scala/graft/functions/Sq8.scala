package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnShim.{column, expression}
import org.apache.spark.sql.types._

/**
 * 8-bit scalar quantization (SQ8) of an embedding vector into ONE binary
 * blob: `[scale: 8B big-endian double][zero: 8B big-endian double][one
 * code byte per element]` — 16 + dim bytes, ~4× smaller than float32 and
 * ~8× smaller than the double arrays the HOF pipeline carries. The FAISS
 * `SQ8` storage tier, complementing [[PqEncode]] (PQ compresses more but
 * needs a trained codebook; SQ8 is codebook-free and per-vector exact to
 * half a quantization step).
 *
 * Quantization is deliberately ENGINE-PORTABLE — every step is exact
 * IEEE double arithmetic an oracle can replay from the raw floats:
 * `zero = min(x)`, `scale = (max(x) − zero) / 255`,
 * `code_i = scale == 0 ? 0 : min(255, floor((x_i − zero)/scale + 0.5))`
 * (explicit `floor(t + 0.5)` rather than an engine-specific round-half
 * mode), `decode_i = zero + code_i·scale`. Constant vectors get
 * scale = 0 and decode exactly to the constant.
 *
 * Same contract family as [[PqEncode]]: null input → null; null
 * ELEMENTS raise; fused primitive loops in both interpreted and
 * generated code (`doGenCode`), so encoding a 100 TB corpus is one
 * narrow codegen'd scan whose output column is 4× cheaper to shuffle,
 * cache, and store.
 */
case class Sq8Encode(child: Expression) extends UnaryExpression {

  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sq8_encode requires array<float|double>, got ${other.simpleString}")
  }

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0)
      throw new IllegalArgumentException("sq8: empty embedding")
    val x = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i))
        throw new IllegalArgumentException("sq8: embedding contains null elements")
      x(i) = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      i += 1
    }
    var mn = x(0); var mx = x(0)
    i = 1
    while (i < n) {
      if (x(i) < mn) mn = x(i)
      if (x(i) > mx) mx = x(i)
      i += 1
    }
    val scale = (mx - mn) / 255.0
    val out = new Array[Byte](16 + n)
    val sb = java.lang.Double.doubleToLongBits(scale)
    val zb = java.lang.Double.doubleToLongBits(mn)
    var t = 0
    while (t < 8) {
      out(t) = (sb >>> (56 - 8 * t)).toByte
      out(8 + t) = (zb >>> (56 - 8 * t)).toByte
      t += 1
    }
    i = 0
    while (i < n) {
      val c =
        if (scale == 0.0) 0
        else {
          val f = math.floor((x(i) - mn) / scale + 0.5).toInt
          if (f > 255) 255 else f
        }
      out(16 + i) = c.toByte
      i += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (isFloat) (a: String, i: String) => s"(double) $a.getFloat($i)"
              else (a: String, i: String) => s"$a.getDouble($i)"
    nullSafeCodeGen(ctx, ev, arr => {
      val n = ctx.freshName("n"); val x = ctx.freshName("x")
      val i = ctx.freshName("i"); val t = ctx.freshName("t")
      val mn = ctx.freshName("mn"); val mx = ctx.freshName("mx")
      val scale = ctx.freshName("scale"); val out = ctx.freshName("out")
      val sb = ctx.freshName("sb"); val zb = ctx.freshName("zb")
      val f = ctx.freshName("f")
      s"""
        |int $n = $arr.numElements();
        |if ($n == 0)
        |  throw new IllegalArgumentException("sq8: empty embedding");
        |double[] $x = new double[$n];
        |for (int $i = 0; $i < $n; $i++) {
        |  if ($arr.isNullAt($i))
        |    throw new IllegalArgumentException("sq8: embedding contains null elements");
        |  $x[$i] = ${get(arr, i)};
        |}
        |double $mn = $x[0]; double $mx = $x[0];
        |for (int $i = 1; $i < $n; $i++) {
        |  if ($x[$i] < $mn) $mn = $x[$i];
        |  if ($x[$i] > $mx) $mx = $x[$i];
        |}
        |double $scale = ($mx - $mn) / 255.0;
        |byte[] $out = new byte[16 + $n];
        |long $sb = Double.doubleToLongBits($scale);
        |long $zb = Double.doubleToLongBits($mn);
        |for (int $t = 0; $t < 8; $t++) {
        |  $out[$t] = (byte) ($sb >>> (56 - 8 * $t));
        |  $out[8 + $t] = (byte) ($zb >>> (56 - 8 * $t));
        |}
        |for (int $i = 0; $i < $n; $i++) {
        |  int $f = 0;
        |  if ($scale != 0.0) {
        |    $f = (int) Math.floor(($x[$i] - $mn) / $scale + 0.5);
        |    if ($f > 255) $f = 255;
        |  }
        |  $out[16 + $i] = (byte) $f;
        |}
        |${ev.value} = $out;
      """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Sq8Encode =
    copy(child = newChild)

  override def prettyName: String = "sq8_encode"
}

/** Inverse of [[Sq8Encode]]: blob → `array<double>` of
  * `zero + code_i·scale` — exact to half a quantization step of the
  * source vector, and BIT-exact to the quantizer's own arithmetic (the
  * oracle property). Null input → null; a blob shorter than the 16-byte
  * header raises. */
case class Sq8Decode(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sq8_decode requires binary, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any = {
    val b = v.asInstanceOf[Array[Byte]]
    if (b.length < 16)
      throw new IllegalArgumentException(
        s"sq8: blob shorter than the 16-byte header (${b.length})")
    var sb = 0L; var zb = 0L
    var t = 0
    while (t < 8) {
      sb = (sb << 8) | (b(t) & 0xffL)
      zb = (zb << 8) | (b(8 + t) & 0xffL)
      t += 1
    }
    val scale = java.lang.Double.longBitsToDouble(sb)
    val zero = java.lang.Double.longBitsToDouble(zb)
    val n = b.length - 16
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      out(i) = zero + (b(16 + i) & 0xff) * scale
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, blob => {
      val sb = ctx.freshName("sb"); val zb = ctx.freshName("zb")
      val t = ctx.freshName("t"); val i = ctx.freshName("i")
      val scale = ctx.freshName("scale"); val zero = ctx.freshName("zero")
      val n = ctx.freshName("n"); val out = ctx.freshName("out")
      s"""
        |if ($blob.length < 16)
        |  throw new IllegalArgumentException(
        |    "sq8: blob shorter than the 16-byte header (" + $blob.length + ")");
        |long $sb = 0L; long $zb = 0L;
        |for (int $t = 0; $t < 8; $t++) {
        |  $sb = ($sb << 8) | ((long) $blob[$t] & 0xffL);
        |  $zb = ($zb << 8) | ((long) $blob[8 + $t] & 0xffL);
        |}
        |double $scale = Double.longBitsToDouble($sb);
        |double $zero = Double.longBitsToDouble($zb);
        |int $n = $blob.length - 16;
        |double[] $out = new double[$n];
        |for (int $i = 0; $i < $n; $i++) {
        |  $out[$i] = $zero + ((int) $blob[16 + $i] & 0xff) * $scale;
        |}
        |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
      """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Sq8Decode =
    copy(child = newChild)

  override def prettyName: String = "sq8_decode"
}

object Sq8 {
  /** Column API: sq8_encode(vec) → 16+dim-byte blob. */
  def encode(vec: Column): Column = column(Sq8Encode(expression(vec)))

  /** Column API: sq8_decode(blob) → array<double>. */
  def decode(blob: Column): Column = column(Sq8Decode(expression(blob)))
}
