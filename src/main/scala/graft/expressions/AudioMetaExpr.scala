package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.multimodal.AudioHeaders

/** `audio_meta(payload)` — parse a WAV (RIFF/WAVE PCM) container
  * header (see [[graft.multimodal.AudioHeaders]]) out of a binary
  * column into a typed struct, NULL when the bytes are not a
  * recognizable PCM WAV. Same design as [[ImageMetaExpr]]: a native
  * codegen'd expression, so the parse stays inside the whole-stage
  * span, touches only header bytes of a potentially huge payload, and
  * `WHERE audio_meta(p) IS NOT NULL` prunes like any predicate.
  */
case class AudioMetaExpr(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = AudioMetaExpr.schema
  override def nullable: Boolean = true
  override def prettyName: String = "audio_meta"

  override def inputTypes = Seq(BinaryType)

  override def nullSafeEval(bytes: Any): Any =
    AudioMetaExpr.metaRow(bytes.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.expressions.AudioMetaExpr.metaRow($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): AudioMetaExpr =
    copy(child = newChild)
}

object AudioMetaExpr {

  val schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("bits_per_sample", IntegerType, nullable = false),
    StructField("n_samples", LongType, nullable = false)))

  /** Static entry point shared by interpreted eval and generated code;
    * null ⇒ not a PCM WAV (the expression's NULL).
    */
  def metaRow(bytes: Array[Byte]): InternalRow =
    AudioHeaders.decodeWav(bytes) match {
      case Some(m) => InternalRow(UTF8String.fromString(m.format),
                                  m.sampleRate, m.channels, m.bitsPerSample, m.nSamples)
      case None => null
    }
}
