package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, FloatType}

/** Codegen'd `array<float>` ⇄ packed-bytes codec (round 17) — the
  * storage format of the persisted ANN index ([[graft.operators
  * .AnnIndex]]): 4 bytes per element, big-endian IEEE-754 bit pattern
  * (`floatToRawIntBits`), the contiguous-float layout every serious
  * vector index uses on disk. The frame format's column types are
  * scalar (string/long/float/double/boolean/binary), so a persisted
  * embedding travels as ONE binary cell instead of one row per
  * element — and the roundtrip is bit-exact, which is what lets a
  * search over the PERSISTED index hash-match the plan-time-built
  * one (q359 vs q62).
  *
  * Null elements are refused at runtime (an embedding with null
  * components has no meaningful dot product; the corpus columns are
  * non-null by contract) — failing loudly beats encoding a silent
  * placeholder.
  */
case class PackFloats(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = BinaryType

  override def prettyName: String = "pack_floats"

  override def inputTypes = Seq(ArrayType(FloatType))

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Byte](n * 4)
    var i = 0
    while (i < n) {
      require(!arr.isNullAt(i), s"$prettyName: null element at position $i")
      val bits = java.lang.Float.floatToRawIntBits(arr.getFloat(i))
      out(i * 4) = (bits >>> 24).toByte
      out(i * 4 + 1) = (bits >>> 16).toByte
      out(i * 4 + 2) = (bits >>> 8).toByte
      out(i * 4 + 3) = bits.toByte
      i += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val bits = ctx.freshName("bits")
      s"""
         |int $n = $a.numElements();
         |byte[] $out = new byte[$n * 4];
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) {
         |    throw new IllegalArgumentException("pack_floats: null element at position " + $i);
         |  }
         |  int $bits = java.lang.Float.floatToRawIntBits($a.getFloat($i));
         |  $out[$i * 4] = (byte) ($bits >>> 24);
         |  $out[$i * 4 + 1] = (byte) ($bits >>> 16);
         |  $out[$i * 4 + 2] = (byte) ($bits >>> 8);
         |  $out[$i * 4 + 3] = (byte) $bits;
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PackFloats =
    copy(child = newChild)
}

/** Inverse of [[PackFloats]]: packed big-endian IEEE-754 bytes →
  * `array<float>` (bit-exact roundtrip). Trailing bytes that don't
  * complete a 4-byte element are refused — a truncated vector is
  * corruption, not data.
  */
case class UnpackFloats(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)

  override def prettyName: String = "unpack_floats"

  override def inputTypes = Seq(BinaryType)

  override def nullSafeEval(a: Any): Any = {
    val b = a.asInstanceOf[Array[Byte]]
    require(b.length % 4 == 0,
      s"$prettyName: ${b.length} bytes is not a whole number of floats")
    val n = b.length / 4
    val out = new Array[Float](n)
    var i = 0
    while (i < n) {
      val bits = ((b(i * 4) & 0xff) << 24) | ((b(i * 4 + 1) & 0xff) << 16) |
        ((b(i * 4 + 2) & 0xff) << 8) | (b(i * 4 + 3) & 0xff)
      out(i) = java.lang.Float.intBitsToFloat(bits)
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val bits = ctx.freshName("bits")
      s"""
         |if ($a.length % 4 != 0) {
         |  throw new IllegalArgumentException(
         |    "unpack_floats: " + $a.length + " bytes is not a whole number of floats");
         |}
         |int $n = $a.length / 4;
         |float[] $out = new float[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  int $bits = (($a[$i * 4] & 0xff) << 24) | (($a[$i * 4 + 1] & 0xff) << 16) |
         |    (($a[$i * 4 + 2] & 0xff) << 8) | ($a[$i * 4 + 3] & 0xff);
         |  $out[$i] = java.lang.Float.intBitsToFloat($bits);
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): UnpackFloats =
    copy(child = newChild)
}
