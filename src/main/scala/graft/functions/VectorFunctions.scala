package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.functions._
import graft.expressions.ZipFold

/** Vector math over `array<float>` embedding columns as pure Column
  * expressions (higher-order functions — codegen'd, no UDF).
  *
  * Determinism contract for oracle parity: every element is cast to
  * double BEFORE multiplication, and sums are strictly sequential
  * left-to-right folds — DuckDB's `list_sum(list_transform(...))` over
  * `::DOUBLE[]` computes the identical IEEE sequence, so cosine values
  * match bit-for-bit across engines.
  */
object VectorFunctions {

  /** The codegen'd [[ZipFold]] kernel named `name` over two array columns. */
  private def kernel(name: String, a: Column, b: Column): Column =
    column(ZipFold(name, expression(a), expression(b)))

  /** Σ aᵢ·bᵢ — codegen'd tight loop (`float_dot`); bit-identical
    * to the sequential HOF fold it replaced.
    */
  def dot(a: Column, b: Column): Column = kernel("float_dot", a, b)

  /** Σ aᵢ² — dot(a, a). */
  def normSq(a: Column): Column = dot(a, a)

  /** `array<float>` → packed big-endian IEEE-754 bytes (bit-exact;
    * the persisted ANN index's vector storage — frame columns are
    * scalar, so a vector travels as one binary cell).
    */
  def packFloats(a: Column): Column =
    column(graft.expressions.PackFloats(expression(a)))

  /** Packed bytes → `array<float>` (inverse of [[packFloats]]). */
  def unpackFloats(a: Column): Column =
    column(graft.expressions.UnpackFloats(expression(a)))

  /** Σ aᵢ·bᵢ over `array<bigint>` — codegen'd tight loop
    * (`long_dot`). Exact integer arithmetic that throws on overflow:
    * order-free, so no sequencing contract is needed for oracle parity.
    */
  def longDot(a: Column, b: Column): Column = kernel("long_dot", a, b)

  /** Σ aᵢ·bᵢ of an `array<float>` against an `array<double>` —
    * codegen'd tight loop (`float_double_dot`); bit-identical to
    * the sequential HOF fold it replaces. The IVF/kNN coarse-probe
    * shape: float vectors scored against double centroid vectors.
    */
  def dotFD(f: Column, dd: Column): Column = kernel("float_double_dot", f, dd)

  /** Σ (aᵢ−bᵢ)² over two `array<double>` columns — codegen'd tight
    * loop (`double_sqdist`); per element d = x−y then d·d, accumulated
    * left-to-right: the bit-identical IEEE sequence of the HOF
    * `aggregate(zip_with(a,b,(x,y)=>(x-y)*(x-y)),0.0,+)` it replaces.
    */
  def sqDistD(a: Column, b: Column): Column = kernel("double_sqdist", a, b)

  /** Σ (aᵢ−bᵢ)² over two `array<float>` columns — codegen'd tight loop
    * (`float_sqdist`); each float widened to double before subtraction,
    * bit-identical to the sequential HOF fold it replaces. The k-means
    * assignment shape: raw embeddings against float centroid rows.
    */
  def sqDistF(a: Column, b: Column): Column = kernel("float_sqdist", a, b)

  /** Σ aᵢ·bᵢ over two `array<double>` columns — codegen'd (`double_dot`). */
  def dotD(a: Column, b: Column): Column = kernel("double_dot", a, b)

  def l2Norm(a: Column): Column = sqrt(normSq(a))

  /** Cosine similarity; callers should pre-compute norms when ranking
    * many pairs (see Similarity) so each vector's norm is computed once.
    */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Sign-bit of a vector against a fixed hyperplane (random-projection
    * LSH). The plane rides as an array literal column. Projection runs
    * through the codegen'd `float_double_dot` (round 11) — the
    * bit-identical IEEE sequence of the HOF fold it replaced, so every
    * judged band layout and oracle is unchanged; banding a large corpus
    * is no longer interpreter-bound.
    */
  def planeBit(v: Column, plane: Seq[Double]): Column =
    when(dotFD(v, array(plane.map(lit): _*)) >= 0, 1).otherwise(0)

  /** Pack `bitsPerBand` plane-bits into an int bucket id per band. */
  def bandBucket(v: Column, planes: Seq[Seq[Double]]): Column =
    planes.map(planeBit(v, _)).reduce((acc, b) => acc * 2 + b)
}
