package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Randomized (seeded, deterministic) cross-checks of the custom
  * expressions against their built-in reference formulations — covers
  * unicode text, duplicates, and empty edges the fixed corpus can't.
  */
class ExpressionPropertySpec extends AnyFunSuite with SparkFixture {

  private val rnd = new scala.util.Random(20260812L)

  private val fragments = Array(
    "alpha", "beta9", "GAMMA", "", " ", ", ", "—", "\n", "É", "ß", "中文", "!!",
    "x", "longertoken12345", "MiXeD", "0", "—dash—", "tab\t", "a-b", "\u0000ctl")

  private def randomText(): String =
    Seq.fill(rnd.nextInt(30))(fragments(rnd.nextInt(fragments.length))).mkString(" ")

  /** Runs `check` on `in` with the kernel column `fast` beside its
    * reference `ref` as `hof`, twice: as the optimizer leaves it
    * (ConvertToLocalRelation folds a projection over local data through
    * `eval`), then with that rule excluded and `fast` computed in a
    * projection of its own, which the executed plan must run inside
    * whole-stage codegen — so `doGenCode` meets the reference too. The
    * reference is computed after, off a checkpoint: a higher-order
    * function is not code-generated and keeps its projection out of the
    * stage.
    */
  private def onEvalAndCodegen(in: DataFrame, fast: Column, ref: Column)(check: DataFrame => Unit): Unit = {
    check(in.select(fast.as("fast"), ref.as("hof")))
    val key = "spark.sql.optimizer.excludedRules"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    try {
      val kernel = in.select(fast.as("fast") +: in.columns.toSeq.map(col): _*)
      val plan = kernel.queryExecution.executedPlan
      val generated = plan.collect { case w: WholeStageCodegenExec => w.child }
        .flatMap(_.flatMap(_.expressions))
      assert(generated.exists(_.exists(_.isInstanceOf[graft.expressions.ZipFold])),
        s"vector kernel outside whole-stage codegen:\n$plan")
      check(kernel.localCheckpoint().select(col("fast"), ref.as("hof")))
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("TokenHashArray matches the HOF tokenize+portableHash pipeline on arbitrary text") {
    import spark.implicits._
    val texts = Seq.fill(500)(randomText()) :+ "" :+ "   " :+ "\u0000\u0001" :+ "ÉßÇ中文"
    val diff = texts.toDF("text").select(
        tokenHashArray(col("text"), 2147483648L).as("fused"),
        transform(tokens(col("text")), x => portableHash(x) % 2147483648L).as("hof"))
      .filter(not(col("fused") === col("hof")))
      .count()
    assert(diff == 0, s"$diff random texts diverged between fused and HOF hashing")
  }

  test("intersection_size equals size(array_intersect) for long sets, including duplicate inputs") {
    import spark.implicits._
    val pairs = Seq.fill(500)((
      Seq.fill(rnd.nextInt(40))(rnd.nextInt(60).toLong),
      Seq.fill(rnd.nextInt(40))(rnd.nextInt(60).toLong))) :+ ((Seq.empty[Long], Seq(1L, 2L)))
    // expression inputs are array_distinct'd (its documented set
    // contract); the reference tolerates raw duplicates
    val diff = pairs.toDF("a", "b").select(
        intersectionSize(array_distinct(col("a")), array_distinct(col("b"))).as("fast"),
        size(array_intersect(col("a"), col("b"))).as("ref"))
      .filter(col("fast") =!= col("ref"))
      .count()
    assert(diff == 0, s"$diff random set pairs diverged from size(array_intersect)")
  }

  test("FloatDoubleDotProduct is bit-identical to the sequential HOF fold it replaced") {
    // planeBit's numeric contract (round 11): widening float x double
    // multiplies accumulated strictly left-to-right — any divergence
    // would silently move LSH band bits and break the banded oracles.
    import spark.implicits._
    val rows = Seq.fill(300)((
      Seq.fill(64)(rnd.nextGaussian().toFloat),
      Seq.fill(64)(rnd.nextGaussian()))) :+ ((Seq.empty[Float], Seq.empty[Double]))
    onEvalAndCodegen(rows.toDF("v", "p"),
        org.apache.spark.sql.GraftSqlBridge.column(
          graft.expressions.ZipFold("float_double_dot",
            org.apache.spark.sql.GraftSqlBridge.expression(col("v")),
            org.apache.spark.sql.GraftSqlBridge.expression(col("p")))),
        aggregate(zip_with(col("v"), col("p"), (x, y) => x.cast("double") * y),
                  lit(0.0), (acc, t) => acc + t)) { out =>
      val diff = out.filter(col("fast") =!= col("hof")).count() // exact bit equality, no tolerance
      assert(diff == 0, s"$diff random (float, double) vectors diverged from the HOF fold")
    }
  }

  test("FloatSqDist is bit-identical to the sequential HOF sq-dist fold it replaced") {
    // q81's numeric contract (round 18): each float widened to double
    // BEFORE the subtraction, d·d accumulated strictly left-to-right —
    // any divergence would move k-means assignments off the oracle.
    import spark.implicits._
    import graft.functions.VectorFunctions.sqDistF
    val rows = Seq.fill(300)((
      Seq.fill(64)(rnd.nextGaussian().toFloat),
      Seq.fill(64)(rnd.nextGaussian().toFloat))) :+ ((Seq.empty[Float], Seq.empty[Float]))
    onEvalAndCodegen(rows.toDF("a", "b"),
        sqDistF(col("a"), col("b")),
        aggregate(zip_with(col("a"), col("b"),
            (x, y) => (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
          lit(0.0), (acc, t) => acc + t)) { out =>
      val diff = out.filter(col("fast") =!= col("hof")).count() // exact bit equality, no tolerance
      assert(diff == 0, s"$diff random float vector pairs diverged from the HOF sq-dist fold")
    }
  }

  test("LongDotProduct equals the HOF integer fold on the int8 domain, including empty") {
    // On the int8 domain (|x| <= 127) no 64-bit overflow is reachable;
    // past it the kernel throws, as the ANSI-mode HOF does.
    import spark.implicits._
    import graft.functions.VectorFunctions.longDot
    val rows = Seq.fill(300)((
      Seq.fill(64)((rnd.nextInt(255) - 127).toLong),
      Seq.fill(64)((rnd.nextInt(255) - 127).toLong))) :+
      ((Seq.empty[Long], Seq.empty[Long]))
    def hof(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, t) => acc + t)
    onEvalAndCodegen(rows.toDF("a", "b"), longDot(col("a"), col("b")), hof(col("a"), col("b"))) { out =>
      val diff = out.filter(col("fast") =!= col("hof")).count()
      assert(diff == 0, s"$diff random long vectors diverged from the HOF integer fold")
    }
    // the overflow row Long.MaxValue * 2, once as local data (the
    // optimizer folds it through eval) and once off a range (codegen)
    val overflow = Seq(Seq((Seq(Long.MaxValue), Seq(2L))).toDF("a", "b"),
      spark.range(1).select(array(col("id") + Long.MaxValue).as("a"), array(lit(2L)).as("b")))
    for (df <- overflow; fold <- Seq[(Column, Column) => Column](longDot, hof)) {
      val e = intercept[Exception](df.select(fold(col("a"), col("b"))).collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ArithmeticException]), s"expected an overflow, got $e")
    }
  }

  test("vector kernels are null exactly where their HOF folds are: ragged lengths, null elements") {
    // outside the equal-length, null-free domain aggregate(zip_with(…))
    // is NULL (zip_with null-pads, a null term nulls the fold); every
    // kernel must agree row for row, eval and codegen alike
    import spark.implicits._
    import org.apache.spark.sql.GraftSqlBridge.{column, expression}
    def vec[T](draw: => T): Seq[Option[T]] =
      Seq.fill(Seq(0, 3, 3, 3, 4)(rnd.nextInt(5)))(if (rnd.nextInt(8) == 0) None else Some(draw))
    // plus full 64-dim null-free rows, where the folds must agree bit for bit
    def full[T](draw: => T): Seq[Option[T]] = Seq.fill(64)(Some(draw))
    val rows = Seq.fill(400)((vec(rnd.nextGaussian().toFloat), vec(rnd.nextGaussian().toFloat),
      vec(rnd.nextGaussian()), vec(rnd.nextGaussian()),
      vec((rnd.nextInt(255) - 127).toLong), vec((rnd.nextInt(255) - 127).toLong))) ++
      Seq.fill(100)((full(rnd.nextGaussian().toFloat), full(rnd.nextGaussian().toFloat),
        full(rnd.nextGaussian()), full(rnd.nextGaussian()),
        full((rnd.nextInt(255) - 127).toLong), full((rnd.nextInt(255) - 127).toLong)))
    val df = rows.toDF("fa", "fb", "da", "db", "la", "lb")
    def kernel(name: String, a: String, b: String): Column =
      column(graft.expressions.ZipFold(name, expression(col(a)), expression(col(b))))
    def hof(a: String, b: String, zero: Column)(f: (Column, Column) => Column): Column =
      aggregate(zip_with(col(a), col(b), f), zero, (acc, t) => acc + t)
    def d(c: Column): Column = c.cast("double")
    val cases: Seq[(String, Column, Column)] = Seq(
      ("float_dot", kernel("float_dot", "fa", "fb"),
        hof("fa", "fb", lit(0.0))((x, y) => d(x) * d(y))),
      ("float_double_dot", kernel("float_double_dot", "fa", "db"),
        hof("fa", "db", lit(0.0))((x, y) => d(x) * y)),
      ("long_dot", kernel("long_dot", "la", "lb"),
        hof("la", "lb", lit(0L))(_ * _)),
      ("double_sqdist", kernel("double_sqdist", "da", "db"),
        hof("da", "db", lit(0.0))((x, y) => (x - y) * (x - y))),
      ("float_sqdist", kernel("float_sqdist", "fa", "fb"),
        hof("fa", "fb", lit(0.0))((x, y) => (d(x) - d(y)) * (d(x) - d(y)))),
      ("double_dot", kernel("double_dot", "da", "db"),
        hof("da", "db", lit(0.0))(_ * _)))
    cases.foreach { case (name, fast, ref) =>
      onEvalAndCodegen(df, fast, ref) { out =>
        assert(out.filter(!(col("fast") <=> col("hof"))).count() == 0,
          s"$name diverged from its HOF fold")
        val nulls = out.filter(col("hof").isNull).count()
        assert(nulls > 0 && nulls < rows.length, s"$name: $nulls null rows — both domains must be hit")
      }
    }
  }

  test("SimHash64 equals the explode+aggregate bit-majority form on arbitrary token sets") {
    import spark.implicits._
    val docs = Seq.fill(200)(randomText()).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .filter(size(tokens(col("text"))) > 0)
    val fused = docs.select(col("doc_id"),
      org.apache.spark.sql.GraftSqlBridge.column(graft.expressions.SimHash64(
        org.apache.spark.sql.GraftSqlBridge.expression(tokenHashArray(col("text"), 0L)), 60)).as("sh"))
    val th = docs.select(col("doc_id"), explode(tokenHashArray(col("text"), 0L)).as("th"))
    val bitAggs = (0 until 60).map(b =>
      sum(when(shiftright(col("th"), b).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)).as(s"s$b"))
    val assembled = (0 until 60).map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(0L)).reduce(_ + _)
    val ref = th.groupBy("doc_id").agg(bitAggs.head, bitAggs.tail: _*)
      .select(col("doc_id"), assembled.as("ref_sh"))
    val joined = fused.join(ref, "doc_id")
    assert(joined.count() > 0)
    val diff = joined.filter(col("sh") =!= col("ref_sh")).count()
    assert(diff == 0, s"$diff random docs diverged between SimHash64 and the aggregate form")
  }

  test("NfcNormalize matches java.text.Normalizer NFC on arbitrary unicode (codegen path)") {
    import spark.implicits._
    val texts = Seq.fill(300)(randomText()) ++ Seq(
      "café",            // decomposed → composes to café
      "café",             // already composed → unchanged
      "ö Å ṩ", // multiple combining marks + s-dot
      "", "plain ascii only", "😀 é") // surrogate pair + combining
    val rows = texts.toDF("text").select(col("text"),
        org.apache.spark.sql.GraftSqlBridge.column(graft.expressions.NfcNormalize(
          org.apache.spark.sql.GraftSqlBridge.expression(col("text")))).as("norm"))
      .collect()
    rows.foreach { r =>
      val expected = java.text.Normalizer.normalize(r.getString(0), java.text.Normalizer.Form.NFC)
      assert(r.getString(1) == expected,
        s"NFC mismatch for ${r.getString(0).map(c => f"\\u$c%04x").mkString}")
    }
  }

  test("nfc_normalize is SQL-registered, composes decomposed sequences, and passes null through") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT nfc_normalize('café') AS composed, nfc_normalize(cast(NULL AS string)) AS n")
      .collect()(0)
    assert(r.getString(0) == "café", "decomposed e+U+0301 must compose to U+00E9")
    assert(r.isNullAt(1), "null input must stay null")
  }
}
