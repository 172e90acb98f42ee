package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** A frame table answers a pushed filter exactly as Spark's own filter
  * would ([[graft.sources.FrameFilter]]): the pushed scan, stats
  * pruning, both DELETE paths and the sidecar-answered MIN/MAX, each
  * checked against the same rows filtered by Spark in memory.
  */
class FrameFilterSpec extends AnyFunSuite with SparkFixture {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", DoubleType), StructField("s", StringType)))

  private val Smile = "😀" // U+1F600, above U+FFFF
  private val Repl = "�"
  private val Big = 9007199254740993L // 2^53 + 1

  private var tables = 0

  /** A fresh catalog table holding `rows`, written as `segments` segments. */
  private def table(rows: Seq[Row], segments: Int, props: String = ""): String = {
    tables += 1
    val cat = s"ffs$tables"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.FrameCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.base",
      Files.createTempDirectory(s"frame-filter-$tables").toString)
    spark.sql(s"CREATE NAMESPACE $cat.ns")
    spark.sql(s"CREATE TABLE $cat.ns.t (id BIGINT, v DOUBLE, s STRING) $props")
    memory(rows).repartition(segments).createOrReplaceTempView(s"ffs_src_$tables")
    spark.sql(s"INSERT INTO $cat.ns.t SELECT * FROM ffs_src_$tables")
    s"$cat.ns.t"
  }

  private def memory(rows: Seq[Row]): DataFrame = spark.createDataFrame(rows.asJava, schema)

  private def canon(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** Spark's own answer: the rows filtered in memory. */
  private def answer(rows: Seq[Row], pred: String): Seq[String] = canon(memory(rows).where(pred))

  private def survivors(rows: Seq[Row], pred: String): Seq[String] =
    canon(memory(rows).where(s"NOT COALESCE(($pred), false)"))

  private def segments(q: DataFrame): String =
    "Segments=\\d+/\\d+".r.findFirstIn(q.queryExecution.executedPlan.toString).getOrElse("none")

  test("probe: id = 2^53+1 returns and DELETEs only that row, not 2^53") {
    val rows = Seq(Row(1L, 0.0, "a"), Row(Big - 1, 0.0, "a"), Row(Big, 0.0, "a"))
    val t = table(rows, 1)
    val pred = s"id = $Big"
    assert(canon(spark.table(t).where(pred)) == answer(rows, pred))
    spark.sql(s"DELETE FROM $t WHERE $pred") // the straddle rewrite's record test
    assert(canon(spark.table(t)) == survivors(rows, pred))
  }

  test("probe: s > U+FFFD keeps a U+1F600 segment and row") {
    val rows = Seq(Row(1L, 0.0, Smile))
    val above = spark.table(table(rows, 1)).where(s"s > '$Repl'")
    assert(canon(above) == answer(rows, s"s > '$Repl'") && canon(above).size == 1)
    assert(segments(above) == "Segments=1/1")
  }

  test("probe: DELETE WHERE s < U+FFFD leaves a U+1F600 segment whole") {
    val rows = Seq(Row(1L, 0.0, Smile))
    val t = table(rows, 1)
    spark.sql(s"DELETE FROM $t WHERE s < '$Repl'") // the metadata-only classifier
    assert(canon(spark.table(t)) == survivors(rows, s"s < '$Repl'"))
  }

  test("probe: v = 0.0 matches a stored -0.0") {
    val rows = Seq(Row(1L, -0.0, "a"), Row(2L, 1.0, "a"))
    val t = table(rows, 1)
    assert(canon(spark.table(t).where("v = 0.0")) == answer(rows, "v = 0.0"))
    assert(answer(rows, "v = 0.0").size == 1)
  }

  test("probe: sidecar-answered min(s), max(s) over {U+FFFD, U+1F600}") {
    val rows = Seq(Row(1L, 0.0, Repl), Row(2L, 0.0, Smile))
    val agg = spark.sql(s"SELECT min(s), max(s) FROM ${table(rows, 1)}")
    assert(agg.queryExecution.executedPlan.toString.contains("complete, sidecar-only"))
    assert(canon(agg) == canon(memory(rows).selectExpr("min(s)", "max(s)")))
  }

  test("a runtime IN on a binary column keeps every segment") {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.{Predicate => VPredicate}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    // the sidecar counts every binary value as a null: its stats cannot
    // describe the column, so a DPP-style filter on it must prune nothing
    val bin = StructType(Seq(StructField("id", LongType), StructField("b", BinaryType)))
    val dir = Files.createTempDirectory("frame-filter-binary").toString
    val avro = graft.sources.AvroFrames.avroSchemaFor(bin, "t")
    Seq(1L, 2L).foreach { i => // one segment per append
      spark.createDataFrame(Seq(Row(i, Array[Byte](i.toByte))).asJava, bin).coalesce(1)
        .write.format("graft.sources.AvroFrameDataSource")
        .option("path", dir).option("avroSchema", avro).option("schemaId", "7").mode("append").save()
    }
    val scan = new graft.sources.AvroFrameScanBuilder(bin, new CaseInsensitiveStringMap(
      java.util.Map.of("path", dir, "avroSchema", avro, "schemaId", "7")))
      .build().asInstanceOf[graft.sources.AvroFrameScan]
    assert(scan.filterAttributes().map(_.describe()).contains("b"))
    assert(scan.planInputPartitions().length == 2)
    scan.filter(Array(new VPredicate("IN",
      Array(Expressions.column("b"), Expressions.literal(Array[Byte](1))))))
    assert(scan.planInputPartitions().length == 2, "a binary runtime filter must not prune")
  }

  // ---------------------------------------------------------------- property

  private val ids = Seq(Big, Big - 1, Big - 2, -Big, -Big + 1, -Big + 2, 0L, 1L, -1L)
  private val doubles = Seq(0.0, -0.0, Double.NaN, 1.5, -1.5)
  private val strings = Seq(Repl, Smile, "é", "a", "ab", "b", "z" + Smile)

  private def row(r: scala.util.Random): Row = {
    def pick[T](xs: Seq[T]): Any = if (r.nextInt(6) == 0) null else xs(r.nextInt(xs.size))
    Row(pick(ids), pick(doubles), pick(strings))
  }

  private def lit(col: String, r: scala.util.Random): String = col match {
    case "id" => ids(r.nextInt(ids.size)).toString
    case "v" => doubles(r.nextInt(doubles.size)) match {
      case d if d.isNaN => "CAST('NaN' AS DOUBLE)"
      case d            => s"CAST('$d' AS DOUBLE)"
    }
    case _ => s"'${strings(r.nextInt(strings.size))}'"
  }

  /** A random tree of supported leaves as SQL. */
  private def pred(r: scala.util.Random, depth: Int): String = r.nextInt(if (depth == 0) 5 else 8) match {
    case 0 | 1 =>
      val c = Seq("id", "v", "s")(r.nextInt(3))
      s"$c ${Seq("=", "<", "<=", ">", ">=")(r.nextInt(5))} ${lit(c, r)}"
    case 2 =>
      val c = Seq("id", "v", "s")(r.nextInt(3))
      s"$c IN (${Seq.fill(1 + r.nextInt(3))(lit(c, r)).mkString(", ")})"
    case 3 => s"${Seq("id", "v", "s")(r.nextInt(3))} IS ${if (r.nextBoolean()) "" else "NOT "}NULL"
    case 4 =>
      val cps = strings(r.nextInt(strings.size)).codePoints.toArray
      val p = new String(cps, 0, math.min(cps.length, 1 + r.nextInt(2)))
      s"s LIKE '${Seq(s"$p%", s"%$p", s"%$p%")(r.nextInt(3))}'"
    case 5 => s"(${pred(r, depth - 1)}) AND (${pred(r, depth - 1)})"
    case 6 => s"(${pred(r, depth - 1)}) OR (${pred(r, depth - 1)})"
    case _ => s"NOT (${pred(r, depth - 1)})"
  }

  test("property: pushed scans and both DELETE paths agree with Spark over adversarial values") {
    val r = new scala.util.Random(14)
    val rows = Seq.fill(60)(row(r))
    val scanned = table(rows, 4)
    // the writer's bounds are Spark's extremes (doubles compared by value: -0.0 = 0.0)
    val extremes = "min(id), max(id), min(v), max(v), min(s), max(s)"
    val agg = spark.sql(s"SELECT $extremes FROM $scanned")
    assert(agg.queryExecution.executedPlan.toString.contains("complete, sidecar-only"))
    agg.head.toSeq.zip(memory(rows).selectExpr(extremes.split(", ").toSeq: _*).head.toSeq).foreach {
      case (a: Double, b: Double) => assert(a == b || a.isNaN && b.isNaN, s"$a vs $b")
      case (a, b)                 => assert(a == b)
    }
    (1 to 40).foreach { i =>
      val p = pred(r, 3)
      assert(canon(spark.table(scanned).where(p)) == answer(rows, p), s"scan, tree $i: $p")
    }
    (1 to 6).foreach { i =>
      val p = pred(r, 2)
      val expected = survivors(rows, p)
      val cow = table(rows, 3)
      spark.sql(s"DELETE FROM $cow WHERE $p")
      assert(canon(spark.table(cow)) == expected, s"copy-on-write DELETE, tree $i: $p")
      val mor = table(rows, 3, "TBLPROPERTIES ('deleteMode'='merge-on-read', 'dvFoldThreshold'='2.0')")
      spark.sql(s"DELETE FROM $mor WHERE $p")
      assert(canon(spark.table(mor)) == expected, s"merge-on-read DELETE, tree $i: $p")
    }
  }
}
