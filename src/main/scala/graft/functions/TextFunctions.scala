package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text building blocks for the dedup / text-analysis
  * operators. Everything here composes Spark built-ins (codegen'd,
  * whole-stage-compatible, no UDFs) so the operators stay on the
  * Tungsten fast path at scale.
  *
  * Two hash families:
  *  - `xxhash64(...)` where speed matters and cross-engine parity does
  *    not (pure-Spark paths);
  *  - `portableHash` (md5-prefix → 60-bit long) where the DuckDB oracle
  *    must reproduce the value exactly: DuckDB computes the identical
  *    `('0x'||substring(md5(s),1,15))::BIGINT`.
  */
object TextFunctions {

  /** Lowercased alphanumeric tokens; empty strings filtered out.
    * DuckDB mirror over a `text` column: [[tokensSql]].
    */
  def tokens(c: Column): Column =
    filter(split(lower(c), "[^a-z0-9]+"), t => t =!= "")

  /** DuckDB mirror of `tokens(col("text"))`, for oracle SQL. */
  val tokensSql: String =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')"

  def distinctTokens(c: Column): Column = array_distinct(tokens(c))

  /** Word k-shingles joined with a single space. Guarded: fewer than k
    * tokens → empty array (Spark's `sequence(0, negative)` would count
    * DOWN, not produce an empty range).
    */
  def shingles(toks: Column, k: Int): Column =
    when(size(toks) < k, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(toks) - k),
        i => array_join(slice(toks, i + lit(1), lit(k)), " ")))

  /** Character n-grams of a string (1-based sliding substrings). */
  def charNgrams(c: Column, n: Int): Column =
    when(length(c) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(c) - (n - 1)),
        i => c.substr(i, lit(n))))

  /** 60-bit hash reproducible in DuckDB (oracle parity): first 15 hex
    * digits of md5, parsed base-16. Always positive (< 2^60).
    *
    * Wrapped in coalesce so the expression is NON-NULLABLE by
    * construction (inputs here are never null, so the 0 branch never
    * fires). This matters: when a join keys on a value derived from a
    * nullable expression, Catalyst's InferFiltersFromConstraints
    * synthesizes `isnotnull(<derived key>)` and pushes it below the
    * repartition — alias-substituted into the FULL hash pipeline, it
    * re-evaluated every md5 per row, interpreted, inside the
    * single-task scan stage (measured 65 s vs 2.5 s on q61's map
    * stage). Non-nullable keys make the constraint vacuous.
    */
  def portableHash(c: Column): Column =
    coalesce(conv(substring(md5(c), 1, 15), 16, 10).cast("long"), lit(0L))

  /** Seeded portable hash — the seed is mixed into the hashed string,
    * giving independent hash functions for MinHash signatures.
    */
  def portableHash(c: Column, seed: Int): Column =
    portableHash(concat_ws("#", lit(seed.toString), c))

  /** MinHash value for one seed over a shingle array: min over shingles
    * of the seeded portable hash. Empty array → null (caller filters).
    */
  def minhash(shinglesCol: Column, seed: Int): Column =
    array_min(transform(shinglesCol, s =>
      portableHash(concat_ws("#", lit(seed.toString), s))))

  /** Count of tokens present in a fixed vocabulary list. */
  def vocabHits(toks: Column, vocab: Seq[String]): Column =
    size(filter(toks, t => array_contains(lit(vocab.toArray), t)))

  /** Fused `transform(tokens(c), x -> portableHash(x) % mod)` as one
    * JVM loop per row (see TokenHashArray); `mod <= 0` skips the mod.
    * Bit-identical to the HOF form — asserted in LlmOpsSpec.
    */
  def tokenHashArray(c: Column, mod: Long): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.expressions.TokenHashArray(
        org.apache.spark.sql.GraftSqlBridge.expression(c), mod))

  /** PII scrubbing (emails → `<EMAIL>`, URLs → `<URL>`, phone-shaped
    * digit groups → `<PHONE>`). Patterns stay inside RE2's dialect so
    * an engine using RE2 (DuckDB, Go) reproduces them; Spark evaluates
    * them with java.util.regex, codegen'd, no UDF. URL must be
    * replaced before EMAIL (a URL can embed user@host).
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlRe = "https?://[^\\s]+"
  val PhoneRe = "\\b\\d{3}[-. ]\\d{3,4}[-. ]\\d{4}\\b"

  def piiRedact(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, UrlRe, "<URL>"),
        EmailRe, "<EMAIL>"),
      PhoneRe, "<PHONE>")

  /** (emails, urls, phones) occurrence counts, for filter thresholds.
    * Emails/phones are counted AFTER removing URLs, mirroring
    * [[piiRedact]]'s replacement order — an email embedded in a URL
    * path is one URL, not a phantom email the redacted text never
    * contained.
    */
  def piiCounts(c: Column): Column = {
    val noUrls = regexp_replace(c, UrlRe, " ")
    struct(
      size(regexp_extract_all(noUrls, lit(EmailRe), lit(0))).as("emails"),
      size(regexp_extract_all(c, lit(UrlRe), lit(0))).as("urls"),
      size(regexp_extract_all(noUrls, lit(PhoneRe), lit(0))).as("phones"))
  }

  /** `size(array_intersect(a, b))` for distinct-element long arrays,
    * without materializing the intersection (see IntersectionSize).
    */
  def intersectionSize(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.expressions.IntersectionSize(
        org.apache.spark.sql.GraftSqlBridge.expression(a),
        org.apache.spark.sql.GraftSqlBridge.expression(b)))
}
