package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Shared MinHash scheme constants — referenced by this expression, by
  * `operators.Dedup`'s generated DuckDB oracle SQL, and by the SQL
  * registration in `GraftFunctions`, so the three can never drift.
  */
object MinHashScheme {
  val numHashes = 16
  val prime = 2305843009213693951L // 2^61 - 1
  val tokenMod = 2147483648L       // 2^31 — per-token hash reduction
  val base1 = 1024L                // g1 polynomial base
  val base2 = 8191L                // g2 polynomial base
}

/** Full MinHash signature in one pass over a token-hash array.
  *
  * Input: array<long> of per-token 31-bit hashes. For each 3-token
  * window the two shingle hashes are base-1024 / base-8191 polynomials
  * g1, g2; the k-th MinHash (k < numHashes) is
  * min over windows of (g1 + k·g2) mod (2^61 − 1).
  *
  * Replaces numHashes separate `zip_with` higher-order calls (an
  * interpreted lambda per element per hash — ~6M boxed evaluations at
  * sf0.1) with one primitive JVM loop per row. CodegenFallback is fine
  * here: the per-row call does all the work internally, so there is no
  * per-element interpretation overhead to eliminate.
  *
  * Returns null for arrays with fewer than 3 elements (no window), so
  * the expression is ALWAYS nullable regardless of its child.
  * Arithmetic is identical to the DuckDB oracle's
  * `list_min(list_transform(...))` mirror — signatures stay bit-exact.
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  import MinHashScheme.{base1, base2, prime}

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true // n < 3 inputs yield null

  override def prettyName: String = "minhash_signature"

  override def inputTypes = Seq(ArrayType(LongType))

  override def nullSafeEval(input: Any): Any = {
    val h = input.asInstanceOf[ArrayData]
    val n = h.numElements()
    if (n < 3) return null
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i + 2 < n) {
      val a = h.getLong(i); val b = h.getLong(i + 1); val c = h.getLong(i + 2)
      val g1 = (a * base1 + b) * base1 + c
      val g2 = (a * base2 + b) * base2 + c
      var k = 0
      while (k < numHashes) {
        val v = (g1 + k * g2) % prime
        if (v < mins(k)) mins(k) = v
        k += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}
