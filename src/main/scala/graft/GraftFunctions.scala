package graft

import org.apache.spark.sql.{AnalysisException, GraftSqlBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
import graft.expressions.{AudioMetaExpr, ImageMetaExpr, IntersectionSize, JaroWinkler, MinHashScheme, MinHashSignature, NfcNormalize, PackFloats, SimHash64, TokenHashArray, UnpackFloats, ZipFold}

/** SQL-surface registration for graft's custom Catalyst expressions,
  * so `spark.sql("SELECT float_dot(a, b) ...")` works alongside the
  * Column API.
  */
object GraftFunctions {

  private[graft] val builders: Seq[(String, Seq[Expression] => Expression)] =
    Seq("float_dot", "float_double_dot", "long_dot").map(k => binary(k)(ZipFold(k, _, _))) ++ Seq(
      unary("minhash_signature")(MinHashSignature(_, MinHashScheme.numHashes)),
      // token_hashes(text[, mod]) — mod defaults to 0 (raw 60-bit hashes).
      // The mod arg accepts any FOLDABLE integral expression (so -1,
      // 2+2, or a short literal all work, not just bare Int/Long
      // literals), evaluated once at analysis time.
      "token_hashes" -> (exprs => checkArity("token_hashes", exprs, 1 to 2) match {
        case Seq(text)      => TokenHashArray(text, 0L)
        case Seq(text, mod) => TokenHashArray(text, foldToLong(mod, "token_hashes", "mod"))
      }),
      unary("simhash64")(SimHash64(_, 60)),
      unary("nfc_normalize")(NfcNormalize(_)),
      binary("intersection_size")(IntersectionSize(_, _)),
      unary("pack_floats")(PackFloats(_)),
      unary("unpack_floats")(UnpackFloats(_)),
      binary("jaro_winkler")(JaroWinkler(_, _)),
      unary("image_meta")(ImageMetaExpr(_)),
      unary("audio_meta")(AudioMetaExpr(_)),
      // SQL surface over Spark's internal bloom expressions (the names
      // Catalyst itself uses, which FunctionRegistry does not expose;
      // the analyzer wraps a bare AggregateFunction from a builder).
      // bloom arg of might_contain must be a constant or scalar
      // subquery: `might_contain((SELECT bloom_filter_agg(...) FROM t), x)`.
      "bloom_filter_agg" -> (exprs => checkArity("bloom_filter_agg", exprs, 1 to 3) match {
        case Seq(c)       => new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c)
        case Seq(c, n)    => new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, n)
        case Seq(c, n, b) => new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, n, b)
      }),
      "might_contain" -> (exprs => {
        val Seq(bloom, v) = checkArity("might_contain", exprs, 2 to 2)
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(bloom, v)
      }))

  /** Builders of fixed arity 1 and 2, checked by [[checkArity]]. */
  private def unary(fn: String)(build: Expression => Expression): (String, Seq[Expression] => Expression) =
    fn -> { exprs => val Seq(a) = checkArity(fn, exprs, 1 to 1); build(a) }

  private def binary(fn: String)(build: (Expression, Expression) => Expression)
      : (String, Seq[Expression] => Expression) =
    fn -> { exprs => val Seq(a, b) = checkArity(fn, exprs, 2 to 2); build(a, b) }

  /** Clean arity failure (AnalysisException naming the function) for
    * builders — not an IndexOutOfBounds crash, and no silently-dropped
    * extra arguments.
    */
  private def checkArity(fn: String, exprs: Seq[Expression], allowed: Range): Seq[Expression] = {
    if (!allowed.contains(exprs.length))
      throw new AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> s"`$fn`",
          "expectedNum" -> (if (allowed.size == 1) allowed.start.toString
                            else s"${allowed.start} to ${allowed.last}"),
          "actualNum" -> exprs.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))
    exprs
  }

  /** Constant-fold an integral function argument to Long, or raise an
    * AnalysisException naming the function (not a builder crash).
    */
  private def foldToLong(e: Expression, fn: String, param: String): Long = {
    def bad() = new AnalysisException(
      errorClass = "INVALID_PARAMETER_VALUE.LONG",
      messageParameters = Map(
        "parameter" -> s"`$param`", "functionName" -> s"`$fn`",
        "invalidValue" -> scala.util.Try(e.sql).getOrElse(e.toString)))
    e.dataType match {
      case ByteType | ShortType | IntegerType | LongType if e.foldable =>
        e.eval() match {
          case n: Number => n.longValue()
          case _         => throw bad() // NULL literal
        }
      case _ => throw bad()
    }
  }

  /** Idempotent per-session registration (temp functions). */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, b) => GraftSqlBridge.registerFunction(spark, name, b) }
}

/** Builder-time variant: `SparkSession.builder().withExtensions(new
  * GraftExtensions)` (or `spark.sql.extensions=graft.GraftExtensions`)
  * injects the functions into every session derived from the builder.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, b) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftFunctions.type].getName, name), b))
    }
    e.injectOptimizerRule(_ => graft.plans.RewriteSetIntersectionSize)
    e.injectPlannerStrategy(_ => graft.plans.KeyedJoinStrategy)
  }
}
