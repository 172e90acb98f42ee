package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.internal.types.StringTypeWithCollation
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization (canonical decomposition followed by
  * canonical composition, UAX #15) as a native codegen'd expression —
  * the standard first step of a text-curation pipeline, where byte-wise
  * dedup and hashing require combining sequences (`e` + U+0301) and
  * precomposed forms (`é`) to collapse to one representation.
  *
  * Spark has no built-in normalization function, so this is a custom
  * `UnaryExpression` with real `doGenCode` (not `CodegenFallback`):
  * the call stays inside whole-stage codegen, and the static helper
  * takes the `Normalizer.isNormalized` fast path — for already-NFC
  * text (all ASCII, i.e. most of a web corpus) it returns the input
  * `UTF8String` untouched, no String materialization at all.
  */
case class NfcNormalize(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  // any string type, whatever its collation
  override def inputTypes = Seq(StringTypeWithCollation(supportsTrimCollation = true))

  override def nullSafeEval(s: Any): Any =
    NfcNormalize.normalize(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.NfcNormalize.normalize($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcNormalize {
  /** Static entry point shared by interpreted eval and generated code. */
  def normalize(s: UTF8String): UTF8String = {
    // ASCII can't change under NFC; skip even the CharSequence walk.
    // (numBytes == numChars() iff every byte is single-byte ASCII.)
    if (s.numBytes == s.numChars) return s
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}
