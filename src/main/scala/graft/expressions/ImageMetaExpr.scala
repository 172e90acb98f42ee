package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.multimodal.ImageHeaders

/** `image_meta(payload)` — parse an image container header (PNG IHDR /
  * JPEG SOFn / GIF LSD, see [[graft.multimodal.ImageHeaders]]) out of a
  * binary column into a typed struct, NULL when the bytes are not a
  * recognizable image. A native codegen'd expression (not a UDF): the
  * parse stays inside the whole-stage-codegen span, touches only the
  * header bytes of the (potentially megabytes-long) payload, and its
  * null-ness is an ordinary Catalyst fact — so `WHERE image_meta(p) IS
  * NOT NULL` or a width filter prunes like any other predicate.
  */
case class ImageMetaExpr(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = ImageMetaExpr.schema
  override def nullable: Boolean = true
  override def prettyName: String = "image_meta"

  override def inputTypes = Seq(BinaryType)

  override def nullSafeEval(bytes: Any): Any =
    ImageMetaExpr.metaRow(bytes.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.expressions.ImageMetaExpr.metaRow($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): ImageMetaExpr =
    copy(child = newChild)
}

object ImageMetaExpr {

  val schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("bit_depth", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false)))

  /** Static entry point shared by interpreted eval and generated code;
    * null ⇒ not an image (the expression's NULL).
    */
  def metaRow(bytes: Array[Byte]): InternalRow =
    ImageHeaders.decode(bytes) match {
      case Some(m) => InternalRow(UTF8String.fromString(m.format),
                                  m.width, m.height, m.bitDepth, m.channels)
      case None => null
    }
}
