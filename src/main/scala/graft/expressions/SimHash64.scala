package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** SimHash signature from a token-hash array in one per-row pass: for
  * each of `bits` bit positions, the signature bit is the majority
  * (strictly more ones than zeros) of that bit across all token hashes.
  *
  * Semantically identical to the aggregation form
  * `sum(CASE WHEN (th >> b) & 1 = 1 THEN 1 ELSE -1 END) > 0` per bit
  * over exploded tokens — which is exactly the DuckDB oracle's CTE —
  * but with no explode, no shuffle, and no 60-aggregate whole-stage
  * codegen class (whose Janino compile alone stalled ~10 s at 32
  * threads). A document is one row in, one long out.
  *
  * Returns null for an empty array (the aggregation form emits no row
  * for a tokenless doc; callers filter those the same way).
  */
case class SimHash64(child: Expression, bits: Int)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  require(bits > 0 && bits <= 60, s"bits must be in (0, 60], got $bits")

  override def dataType: DataType = LongType

  override def nullable: Boolean = true // empty input yields null

  override def prettyName: String = "simhash64"

  override def inputTypes = Seq(ArrayType(LongType))

  override def nullSafeEval(input: Any): Any = {
    val h = input.asInstanceOf[ArrayData]
    val n = h.numElements()
    if (n == 0) return null
    val counts = new Array[Int](bits)
    var i = 0
    while (i < n) {
      val th = h.getLong(i)
      var b = 0
      while (b < bits) {
        counts(b) += (((th >> b) & 1L) * 2 - 1).toInt
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < bits) {
      if (counts(b) > 0) sig |= 1L << b
      b += 1
    }
    sig
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}
