package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive result fingerprint: (row count, sum of per-row
  * hashes masked to 31 bits). Floating values are rendered to six
  * significant digits first, so partition-order summation differences
  * in the last bits cannot flip a checksum; `-0.0` folds into `0.0`.
  */
object Checksum {

  def of(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      norm(col(s"`${f.name.replace("`", "``")}`"), f.dataType).as(s"c$i")
    }
    val row = if (cols.isEmpty) lit(0) else to_json(struct(cols: _*))
    val r = df.select(xxhash64(row).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").bitwiseAND(0x7fffffffL)), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      val d = c.cast(DoubleType) + lit(0.0)
      when(d.isNull || isnan(d), d.cast(StringType)).otherwise(format_string("%.5e", d))
    case s: StructType =>
      if (s.isEmpty) c.cast(StringType)
      else struct(s.fields.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case MapType(kt, vt, _) =>
      // map entries sorted by key so insertion order cannot matter
      array_sort(transform(map_entries(c), e =>
        struct(norm(e.getField("key"), kt).cast(StringType).as("k"),
          norm(e.getField("value"), vt).as("v"))))
    case BinaryType => base64(c)
    case _: TimestampType | _: TimestampNTZType | _: DateType => c.cast(StringType)
    case _ => c
  }
}
