package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** The domain every kernel in this file shares with the HOF it
  * replaced: `aggregate(zip_with(a, b, f), zero, +)` is NULL when the
  * arrays differ in length (zip_with null-pads the shorter side) or
  * when any element is null — a null term nulls the whole fold. The
  * kernels answer null there too; only inside the domain do they run
  * their loop. Eval and codegen both ask [[ZipDomain.length]].
  */
trait ZipKernel extends BinaryExpression {
  override def nullable: Boolean = true

  private def elementNulls(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _                          => true
  }

  /** Elements to fold, or -1 where the HOF's result is null. */
  protected def foldLength(x: ArrayData, y: ArrayData): Int =
    ZipDomain.length(x, y, elementNulls(left), elementNulls(right))

  /** Codegen twin of [[foldLength]]: binds the length to a fresh `n`,
    * nulls the result outside the domain, else runs `loop(n)`.
    */
  protected def foldCode(ctx: CodegenContext, ev: ExprCode, a: String, b: String)
                        (loop: String => String): String = {
    val n = ctx.freshName("n")
    s"""
       |int $n = graft.expressions.ZipDomain.length($a, $b, ${elementNulls(left)}, ${elementNulls(right)});
       |if ($n < 0) {
       |  ${ev.isNull} = true;
       |} else {
       |  ${loop(n)}
       |}
     """.stripMargin
  }
}

/** Standalone (not a trait companion) so generated Java can call
  * `ZipDomain.length` statically.
  */
object ZipDomain {
  /** `x.numElements()` when both arrays have that length and (where the
    * element type admits nulls) no null element; -1 otherwise.
    */
  def length(x: ArrayData, y: ArrayData, xNulls: Boolean, yNulls: Boolean): Int = {
    val n = x.numElements()
    if (n != y.numElements()) return -1
    var i = 0
    while ((xNulls || yNulls) && i < n) {
      if ((xNulls && x.isNullAt(i)) || (yNulls && y.isNullAt(i))) return -1
      i += 1
    }
    n
  }
}

/** Codegen'd fold over two numeric arrays, Σ aᵢ·bᵢ or Σ (aᵢ−bᵢ)²,
  * for one row of [[ZipFold.table]]. It replaces the HOF
  * `aggregate(zip_with(a, b, f), zero, +)`, which evaluates an
  * interpreted lambda per element (~64 boxed calls per pair, which
  * dominated the pairwise-similarity benchmarks), with a tight
  * primitive loop inside whole-stage codegen.
  *
  * Numeric contract (DuckDB-oracle parity): each float is widened to
  * double BEFORE the multiply or the subtraction (d = x−y, then d·d),
  * and the sum is accumulated strictly left to right — the IEEE
  * sequence of the HOF fold and of DuckDB's
  * `list_sum(list_transform(v::DOUBLE[], ...))`, so every result (LSH
  * plane bits, k-means assignments, cosines) is bit-identical. Integer
  * elements fold exactly in 64 bits and throw on overflow, as the
  * ANSI-mode HOF does.
  *
  * Input types are enforced at analysis time: the kernels are also
  * SQL-registered (GraftFunctions), where reading array<double> data
  * through `getFloat` would otherwise return silent garbage.
  */
case class ZipFold(op: ZipFold.Op, left: Expression, right: Expression)
    extends ZipKernel with ExpectsInputTypes {

  override def dataType: DataType = if (op.exact) LongType else DoubleType

  override def prettyName: String = op.name

  override def inputTypes = Seq(ArrayType(op.leftType), ArrayType(op.rightType))

  // plans print `name(left, right)`, without the table row
  override protected def stringArgs: Iterator[Any] = Iterator(left, right)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = foldLength(x, y)
    if (n < 0) return null
    var s = 0.0
    var l = 0L
    var i = 0
    while (i < n) {
      if (op.exact) l = Math.addExact(l, Math.multiplyExact(x.getLong(i), y.getLong(i)))
      else {
        val u = ZipFold.widen(x, i, op.leftType)
        val v = ZipFold.widen(y, i, op.rightType)
        s += (if (op.sqDist) { val d = u - v; d * d } else u * v)
      }
      i += 1
    }
    if (op.exact) l else s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => foldCode(ctx, ev, a, b) { n =>
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      def read(arr: String, t: DataType): String = t match {
        case FloatType  => s"((double) $arr.getFloat($i))"
        case DoubleType => s"$arr.getDouble($i)"
        case _          => s"$arr.getLong($i)"
      }
      val (x, y) = (read(a, op.leftType), read(b, op.rightType))
      val (acc, zero) = if (op.exact) ("long", "0L") else ("double", "0.0")
      val step =
        if (op.exact) s"$s = Math.addExact($s, Math.multiplyExact($x, $y));"
        else if (op.sqDist) {
          val d = ctx.freshName("d")
          s"double $d = $x - $y;\n$s += $d * $d;"
        } else s"$s += $x * $y;"
      s"""
         |$acc $s = $zero;
         |for (int $i = 0; $i < $n; $i++) {
         |  $step
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZipFold =
    copy(left = newLeft, right = newRight)
}

object ZipFold {
  /** One kernel: its SQL name, its op (dot product or squared
    * distance) and the element type of each side.
    */
  final case class Op(name: String, sqDist: Boolean, leftType: DataType, rightType: DataType) {
    /** Long elements fold exactly in a long; float and double in a double. */
    val exact: Boolean = leftType == LongType
  }

  val table: Map[String, Op] = Seq(
    Op("float_dot", sqDist = false, FloatType, FloatType),
    Op("float_double_dot", sqDist = false, FloatType, DoubleType),
    Op("long_dot", sqDist = false, LongType, LongType),
    Op("double_dot", sqDist = false, DoubleType, DoubleType),
    Op("float_sqdist", sqDist = true, FloatType, FloatType),
    Op("double_sqdist", sqDist = true, DoubleType, DoubleType)).map(o => o.name -> o).toMap

  def apply(name: String, left: Expression, right: Expression): ZipFold =
    ZipFold(table(name), left, right)

  private def widen(d: ArrayData, i: Int, t: DataType): Double =
    if (t == FloatType) d.getFloat(i).toDouble else d.getDouble(i)
}
