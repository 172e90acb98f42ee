package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.floor

/** Shared 6dp quantization via floor(x*1e6 + 0.5)/1e6 — NOT round(x, 6):
  * round's halfway-decimal behavior differs between Spark (binary
  * expansion of the double, HALF_UP on the decimal rendering) and
  * DuckDB (scaled multiply), while floor is identically defined for
  * any IEEE-754 double on both engines. Every judged query that
  * quantizes a derived double before a comparison, argmax, or output
  * hash must use THIS form on both the Spark side and the DuckDB
  * oracle so a halfway-decimal value cannot flip across engines; the
  * two forms below must stay in lockstep.
  */
object Quant {
  def quant6(c: Column): Column = floor(c * 1000000.0 + 0.5) / 1000000.0
  def quant6Sql(e: String): String = s"floor(($e) * 1000000.0 + 0.5) / 1000000.0"
}
