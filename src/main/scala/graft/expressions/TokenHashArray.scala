package graft.expressions

import java.security.MessageDigest
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Tokenize-and-hash in one pass: lowercased text split on
  * `[^a-z0-9]+`, empties dropped, each token md5'd and reduced to a
  * 60-bit long (first 15 hex digits, base-16) mod `mod` — the fused
  * form of `transform(tokens(c), x -> portableHash(x) % mod)`.
  *
  * Bit-parity contract (these are oracle-checked hashes):
  *  - lowercase via `UTF8String.toLowerCase` — the exact primitive
  *    behind Spark's `lower`;
  *  - split via `java.util.regex` with limit -1 — the engine behind
  *    Spark's `split` (leading empty token included, then filtered,
  *    matching `filter(split(lower(c), ...), x -> x <> '')`);
  *  - md5 of the token's UTF-8 bytes, lowercase-hex, first 15 digits
  *    parsed base-16 — identical to
  *    `conv(substring(md5(c), 1, 15), 16, 10)` and to DuckDB's
  *    `('0x'||substring(md5(x),1,15))::BIGINT`.
  *
  * Why it exists: the HOF form interprets an md5 expression tree per
  * token (Expression.eval + UTF8String boxing per element) — ~27
  * task-seconds per corpus pass at sf0.1. One JVM loop per row removes
  * all per-element interpretation; CodegenFallback is fine since the
  * per-row call does the whole array's work.
  */
case class TokenHashArray(child: Expression, mod: Long)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "token_hashes"

  // default collation only: a collated string is rejected
  override def inputTypes = Seq(StringType)

  private val splitter = java.util.regex.Pattern.compile("[^a-z0-9]+")

  override def nullSafeEval(input: Any): Any = {
    val lowered = input.asInstanceOf[UTF8String].toLowerCase.toString
    val parts = splitter.split(lowered, -1)
    val md = MessageDigest.getInstance("MD5")
    val out = new Array[Long](parts.length)
    var n = 0
    var i = 0
    while (i < parts.length) {
      val t = parts(i)
      if (t.nonEmpty) {
        val digest = md.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        md.reset()
        // first 15 hex digits = first 7 bytes + high nibble of byte 8
        var v = 0L
        var b = 0
        while (b < 7) { v = (v << 8) | (digest(b) & 0xffL); b += 1 }
        v = (v << 4) | ((digest(7) & 0xf0L) >> 4)
        out(n) = if (mod > 0) v % mod else v   // mod <= 0 → raw 60-bit hash
        n += 1
      }
      i += 1
    }
    new GenericArrayData(if (n == parts.length) out else java.util.Arrays.copyOf(out, n))
  }

  override protected def withNewChildInternal(newChild: Expression): TokenHashArray =
    copy(child = newChild)
}
