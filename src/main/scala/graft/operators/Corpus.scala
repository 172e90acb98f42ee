package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{QueryGroup, Tables}
import graft.functions.TextFunctions._
import graft.Tables.GraftCheckpointOps
import graft.functions.SketchFunctions

/** Corpus-preparation operators a large-scale training-data pipeline
  * runs between raw ingest and training (round 3; beyond the
  * reference's surface, which has no text processing at all —
  * `Processor.java:141-147` prints records):
  *
  *  - q69 document chunking: fixed-size overlapping token windows
  *    (size 32, stride 24) — the RAG / context-packing primitive.
  *    Pure per-row explode: embarrassingly parallel, no shuffle.
  *  - q70 TF-IDF top terms per document. idf is the raw ratio
  *    `N/df` (not `ln(N/df)`): integer-derived doubles and one IEEE
  *    division are bit-deterministic across engines, while `ln` is
  *    only correctly-rounded-ish and can differ by 1 ulp between
  *    libm and the JVM — rank order is preserved per document for
  *    any monotone idf. Two key-partitioned aggregations
  *    ((doc,term) then term) + a term-keyed join; the 1-row corpus
  *    count is broadcast.
  *  - q71 policy filtering + redaction: per-doc banned-term hit
  *    count (token-exact), keep/drop decision, and a redacted text
  *    via anchored `regexp_replace` — the same shape as PII
  *    scrubbing (see CorpusSpec for email/phone/URL regexes over
  *    constructed rows; the synthetic corpus has no digits).
  *    Per-row only, no shuffle.
  *  - q72 inverted index: term → (document frequency, sorted
  *    postings capped at 1000). At 100 TB you keep the (term, doc)
  *    pair relation and never assemble hot-term postings arrays;
  *    the cap bounds the assembled form the API exposes.
  *  - q73 bloom-prefiltered incremental dedup: membership sketch of
  *    the corpus' fingerprints (40-char-prefix md5) built
  *    distributed, collected once (~sketch bytes, never data),
  *    re-broadcast as a literal; batch rows the sketch rules out
  *    skip the join entirely, only maybe-dups are verified with an
  *    exact anti-join. Result is EXACT (bloom has no false
  *    negatives) ⇒ plain anti-join oracle. At scale the verify
  *    join's left side shrinks to true-dups + the ~1% false-positive
  *    residue of the batch, instead of the whole batch.
  *  - q74 corpus bigram top-k: n-gram LM / tokenizer-training
  *    counts. Partial map-side aggregation then a global
  *    TakeOrdered(50) — no full sort at any scale.
  */
object Corpus extends QueryGroup {

  private val chunkSize = 32
  private val chunkStride = 24
  private val policyTerms = Seq("slow", "merge", "drop")

  override protected val entries: Vector[(String, (SparkSession, String) => DataFrame, Option[String])] = Vector(

    ("q69_doc_chunks", (s, d) => {
      // token array bound ONCE via the single-element-array lambda (see
      // q89): empty docs yield an empty chunk array dropped by explode,
      // so no Filter exists to push the tokenize into the scan's
      // DataFilters. The `when` also guards sequence(1, 0, stride),
      // which would throw on an empty token array. Chunk starts are the
      // stepped sequence 1, 1+stride, …; transform's index IS chunk_id.
      val chunks = (t: Column) => when(size(t) > 0,
          transform(sequence(lit(1), size(t), lit(chunkStride)), (st, i) =>
            struct(i.cast("long").as("chunk_id"),
              slice(t, st, lit(chunkSize)).as("chunk"))))
        .otherwise(array().cast("array<struct<chunk_id:bigint,chunk:array<string>>>"))
      Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"),
          explode(flatten(transform(array(tokens(col("text"))), chunks))).as("c"))
        .select(
          col("doc_id"),
          col("c.chunk_id").as("chunk_id"),
          size(col("c.chunk")).cast("long").as("chunk_tokens"),
          array_join(col("c.chunk"), " ").as("chunk_text"))
        .orderBy("doc_id", "chunk_id")
    }, Some(s"""
      WITH toks AS (SELECT doc_id, $tokensSql AS t FROM documents),
      nz AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
      st AS (SELECT doc_id, t,
                    unnest(generate_series(0, (n - 1) // $chunkStride)) AS chunk_id
             FROM nz)
      SELECT doc_id, chunk_id::BIGINT AS chunk_id,
             len(t[chunk_id * $chunkStride + 1 : chunk_id * $chunkStride + $chunkSize])::BIGINT AS chunk_tokens,
             array_to_string(t[chunk_id * $chunkStride + 1 : chunk_id * $chunkStride + $chunkSize], ' ') AS chunk_text
      FROM st
      ORDER BY doc_id, chunk_id
    """)),

    ("q70_tfidf_topk", (s, d) => {
      val tf = Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      // df as a whole-partition window count over the tf relation: the
      // tokenize+explode subtree is computed ONCE (a tf self-join for
      // df re-evaluated it — DeduplicateRelations defeats exchange
      // reuse across the two instances)
      tf.withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
        .crossJoin(broadcast(nDocs))
        .withColumn("score",
          col("tf").cast("double") * col("n_docs").cast("double") / col("df").cast("double"))
        .withColumn("rk",
          row_number().over(Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))))
        .filter(col("rk") <= 5)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          col("score"), col("rk").cast("long").as("rk"))
        .orderBy("doc_id", "rk")
    }, Some(s"""
      WITH tk AS (SELECT doc_id, unnest($tokensSql) AS term FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
      df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      n AS (SELECT count(*) AS n_docs FROM documents),
      r AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
                   tf.tf::DOUBLE * n.n_docs::DOUBLE / df.df::DOUBLE AS score
            FROM tf JOIN df USING (term) CROSS JOIN n),
      w AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
            FROM r)
      SELECT doc_id, term, tf, df, score, rk FROM w WHERE rk <= 5
      ORDER BY doc_id, rk
    """)),

    ("q71_policy_filter", (s, d) => {
      val pattern = "\\b(" + policyTerms.mkString("|") + ")\\b"
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(filter(tokens(col("text")), t => t.isin(policyTerms: _*)))
            .cast("long").as("policy_hits"),
          regexp_replace(col("text"), pattern, "<POLICY>").as("redacted"))
        .withColumn("keep", col("policy_hits") <= 2)
        .select("doc_id", "policy_hits", "keep", "redacted")
        .orderBy("doc_id")
    }, Some(s"""
      SELECT doc_id,
             len(list_filter($tokensSql,
                 t -> t IN (${policyTerms.map("'" + _ + "'").mkString(", ")})))::BIGINT AS policy_hits,
             len(list_filter($tokensSql,
                 t -> t IN (${policyTerms.map("'" + _ + "'").mkString(", ")}))) <= 2 AS keep,
             regexp_replace(text, '\\b(${policyTerms.mkString("|")})\\b', '<POLICY>', 'g') AS redacted
      FROM documents
      ORDER BY doc_id
    """)),

    ("q72_inverted_index", (s, d) => {
      Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), explode(distinctTokens(col("text"))).as("term"))
        .groupBy("term")
        .agg(count(lit(1)).as("df"), sort_array(collect_list(col("doc_id"))).as("plist"))
        .filter(col("df") >= 5)
        // comparator-safe serialized postings (capped); the scale form
        // is the un-assembled (term, doc_id) pair relation anyway
        .withColumn("postings",
          expr("array_join(transform(slice(plist, 1, 1000), x -> cast(x as string)), ',')"))
        .select("term", "df", "postings")
        .orderBy("term")
    }, Some(s"""
      WITH pairs AS (SELECT doc_id, unnest(list_distinct($tokensSql)) AS term FROM documents)
      SELECT term, count(*) AS df,
             array_to_string((list_sort(list(doc_id)))[1:1000], ',') AS postings
      FROM pairs
      GROUP BY term
      HAVING count(*) >= 5
      ORDER BY term
    """)),

    ("q73_bloom_incremental_dedup", (s, d) => {
      val digested = Tables.documents(s, d)
        .select(col("doc_id"), md5(substring(col("text"), 1, 40)).as("digest"))
      val corpus = digested.filter(col("doc_id") % 10 =!= 7)
      val batch = digested.filter(col("doc_id") % 10 === 7)
      // distributed sketch build; ONE binary row comes back (the
      // sketch, not data) and goes out again as a foldable literal
      val bf = corpus
        .agg(SketchFunctions.bloomFilterAgg(xxhash64(col("digest")), 100000L, 1L << 20).as("bf"))
        .head.getAs[Array[Byte]]("bf")
      // coalesce: an EMPTY corpus aggregates to a null sketch and
      // might_contain then returns NULL, which both filter branches
      // would drop — the correct reading of "no sketch" is "nothing
      // was ever seen", matching the anti-join-on-empty-set oracle
      val flagged = batch.withColumn("maybe_dup",
        coalesce(SketchFunctions.mightContain(lit(bf), xxhash64(col("digest"))), lit(false)))
      val newFast = flagged.filter(!col("maybe_dup")).select("doc_id", "digest")
      val newVerified = flagged.filter(col("maybe_dup"))
        .join(corpus.select("digest"), Seq("digest"), "left_anti")
        .select("doc_id", "digest")
      newFast.union(newVerified).orderBy("doc_id")
    }, Some("""
      SELECT doc_id, md5(substr(text, 1, 40)) AS digest
      FROM documents
      WHERE doc_id % 10 = 7
        AND md5(substr(text, 1, 40)) NOT IN
            (SELECT md5(substr(text, 1, 40)) FROM documents WHERE doc_id % 10 <> 7)
      ORDER BY doc_id
    """)),

    // Benchmark decontamination (the Pile/GPT-3 hygiene step): count
    // each training doc's distinct word-3-grams (8-13 in production; 3 so
    // the small synthetic vocab yields real overlap) that also appear in
    // the benchmark set (here: doc_id % 100 == 0 stands in for the
    // eval suite), flag docs above 5% overlap. The benchmark gram set
    // is tiny → broadcast semi-join; the corpus side shuffles once per
    // keyed aggregation. At 100 TB the benchmark set stays broadcast
    // (eval suites are MBs) — per-doc cost is linear in grams.
    ("q85_decontamination", (s, d) => {
      val grams = Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"),
          explode(array_distinct(shingles(tokens(col("text")), 3))).as("g"))
      // one pass over the corpus: a left join against the (tiny,
      // broadcast) benchmark gram set feeds BOTH counts from a single
      // groupBy — bench grams are distinct so the join never multiplies
      // rows, count(hit) counts exactly the matched grams. (The
      // previous two-aggregation form re-evaluated the tokenize→
      // shingle→explode subtree per aggregation: DeduplicateRelations
      // defeats exchange reuse across plan instances, same disease as
      // q70's df self-join.) Only the 1% bench slice tokenizes twice.
      val bench = grams.filter(col("doc_id") % 100 === 0)
        .select("g").distinct().withColumn("hit", lit(1))
      grams.filter(col("doc_id") % 100 =!= 0)
        .join(broadcast(bench), Seq("g"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_matched"))
        .withColumn("contaminated", col("n_matched") * 20 >= col("n_grams"))
        .select("doc_id", "n_grams", "n_matched", "contaminated")
        .orderBy("doc_id")
    }, Some(s"""
      WITH toks AS (SELECT doc_id, $tokensSql AS t FROM documents),
      g AS (SELECT doc_id,
                   unnest(list_distinct([array_to_string(t[i : i + 2], ' ')
                                         for i in generate_series(1, len(t) - 2)])) AS g
            FROM toks WHERE len(t) >= 3),
      bench AS (SELECT DISTINCT g FROM g WHERE doc_id % 100 = 0),
      corpus AS (SELECT * FROM g WHERE doc_id % 100 <> 0),
      m AS (SELECT doc_id, count(*) AS n_matched FROM corpus
            WHERE g IN (SELECT g FROM bench) GROUP BY doc_id),
      t2 AS (SELECT doc_id, count(*) AS n_grams FROM corpus GROUP BY doc_id)
      SELECT t2.doc_id, t2.n_grams, COALESCE(m.n_matched, 0) AS n_matched,
             COALESCE(m.n_matched, 0) * 20 >= t2.n_grams AS contaminated
      FROM t2 LEFT JOIN m USING (doc_id)
      ORDER BY doc_id
    """)),

    // Gopher-style repetition quality filter (Rae et al. 2021 §A1.1):
    // per-doc top-bigram mass fraction and duplicate-trigram fraction,
    // plus a keep flag. ONE tokenize pass for both gram orders — the
    // 2- and 3-grams ride the same explode as tag-prefixed keys, then
    // one (doc,gram) count and one per-doc rollup (two keyed shuffles,
    // linear at any scale). Thresholds are data-scaled: production
    // Gopher drops top2frac > 0.20; this synthetic corpus peaks at
    // ~0.07, so the judged flag uses 0.04 (top2*25 <= n2) to exercise
    // both outcomes. Integer-only comparisons — no float thresholds to
    // drift cross-engine.
    ("q89_repetition_stats", (s, d) => {
      // the token array is bound ONCE via a single-element-array lambda
      // and short docs yield an empty gram array (dropped by explode)
      // instead of a Filter: a `.filter(size(tokens(text)) >= 3)` would
      // be pushed into the scan's DataFilters with the tokenize inlined
      // — evaluated per row, interpreted, in the 1-task pre-fanOut scan
      // stage (the round-2 measured trap), and again in the projection
      val grams = (t: Column) => when(size(t) >= 3, concat(
          transform(sequence(lit(1), size(t) - 1), i =>
            concat(lit("2|"), element_at(t, i), lit(" "), element_at(t, i + 1))),
          transform(sequence(lit(1), size(t) - 2), i =>
            concat(lit("3|"), element_at(t, i), lit(" "), element_at(t, i + 1),
              lit(" "), element_at(t, i + 2)))))
        .otherwise(array().cast("array<string>"))
      Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"),
          explode(flatten(transform(array(tokens(col("text"))), grams))).as("gr"))
        .groupBy("doc_id", "gr").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(
          max(when(col("gr").startsWith("2|"), col("c"))).as("top2"),
          sum(when(col("gr").startsWith("2|"), col("c"))).as("n2"),
          sum(when(col("gr").startsWith("3|"), col("c"))).as("n3"),
          count(when(col("gr").startsWith("3|"), lit(1))).as("d3"))
        .select(col("doc_id"), col("top2"), col("n2"),
          (col("n3") - col("d3")).as("dup3"), col("n3"),
          (col("top2") * 25 <= col("n2")).as("keep"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH toks AS (SELECT doc_id, $tokensSql AS t FROM documents),
      nz AS (SELECT doc_id, t FROM toks WHERE len(t) >= 3),
      g AS (SELECT doc_id, unnest(
             ['2|' || t[i] || ' ' || t[i + 1] for i in generate_series(1, len(t) - 1)] ||
             ['3|' || t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] for i in generate_series(1, len(t) - 2)]) AS gr
           FROM nz),
      c AS (SELECT doc_id, gr, count(*) AS c FROM g GROUP BY 1, 2)
      SELECT doc_id,
             max(CASE WHEN gr LIKE '2|%' THEN c END)::BIGINT AS top2,
             sum(CASE WHEN gr LIKE '2|%' THEN c END)::BIGINT AS n2,
             (sum(CASE WHEN gr LIKE '3|%' THEN c END)
              - count(CASE WHEN gr LIKE '3|%' THEN 1 END))::BIGINT AS dup3,
             sum(CASE WHEN gr LIKE '3|%' THEN c END)::BIGINT AS n3,
             max(CASE WHEN gr LIKE '2|%' THEN c END) * 25
               <= sum(CASE WHEN gr LIKE '2|%' THEN c END) AS keep
      FROM c GROUP BY doc_id
      ORDER BY doc_id
    """)),

    ("q74_bigram_topk", (s, d) => {
      // lambda-bound token array (see q69/q89): short docs produce an
      // empty bigram array instead of a scan-pushed tokenize Filter
      val bigrams = (t: Column) => when(size(t) >= 2,
          transform(sequence(lit(1), size(t) - 1), i =>
            concat(element_at(t, i), lit(" "), element_at(t, i + 1))))
        .otherwise(array().cast("array<string>"))
      Tables.fanOut(Tables.documents(s, d))
        .select(explode(flatten(transform(array(tokens(col("text"))), bigrams))).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("bigram")).limit(50)
    }, Some(s"""
      WITH toks AS (SELECT $tokensSql AS t FROM documents),
      idx AS (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
              FROM toks WHERE len(t) >= 2),
      b AS (SELECT t[i] || ' ' || t[i + 1] AS bigram FROM idx)
      SELECT bigram, count(*) AS cnt FROM b
      GROUP BY bigram
      ORDER BY cnt DESC, bigram
      LIMIT 50
    """)),

    // ExactSubstr-style duplicate-span statistics (the dedup shape of
    // Lee et al. 2021, "Deduplicating Training Data Makes Language
    // Models Better", at K=8 token granularity): every K-gram whose
    // first corpus occurrence (lowest (doc_id, pos)) is elsewhere marks
    // a duplicate span [pos, pos+K-1]; overlapping spans merge via
    // gaps-and-islands and the merged token mass is what ExactSubstr
    // would cut from the doc. Two keyed shuffles (gram, then doc) and
    // two per-doc windows — linear at any scale; no pair join exists
    // anywhere (the gram relation IS the index). Production would key
    // the gram shuffle on a 128-bit fingerprint instead of the joined
    // string; the string keeps the oracle engine-portable here. Docs
    // with no duplicated span produce no row (explode semantics), which
    // is the useful output: the removal worklist.
    ("q91_dup_spans", (s, d) => {
      val K = 8
      // lambda-bound token array (see q69/q89): short docs yield an
      // empty gram array, not a scan-pushed tokenize Filter
      val gramsOf = (t: Column) => when(size(t) >= K,
          transform(sequence(lit(1), size(t) - (K - 1)), i =>
            struct(i.as("pos"), array_join(slice(t, i, lit(K)), " ").as("g"),
              size(t).as("n"))))
        .otherwise(array().cast("array<struct<pos:int,g:string,n:int>>"))
      val grams = Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"),
          explode(flatten(transform(array(tokens(col("text"))), gramsOf))).as("c"))
        .select(col("doc_id"), col("c.pos").as("pos"), col("c.g").as("g"), col("c.n").as("n"))
      val dup = grams
        .withColumn("rn", row_number().over(Window.partitionBy("g").orderBy("doc_id", "pos")))
        .filter(col("rn") > 1)
        .select(col("doc_id"), col("n"), col("pos").as("s"), (col("pos") + (K - 1)).as("e"))
      val wDoc = Window.partitionBy("doc_id").orderBy("s")
      dup
        .withColumn("brk", when(col("s") > coalesce(
            max(col("e")).over(wDoc.rowsBetween(Window.unboundedPreceding, -1)), lit(-1)),
          1).otherwise(0))
        .withColumn("island", sum(col("brk")).over(wDoc))
        .groupBy(col("doc_id"), col("island"))
        .agg(max("n").as("n"), min("s").as("ms"), max("e").as("me"))
        .groupBy("doc_id")
        .agg(max("n").cast("long").as("n_tokens"),
          count(lit(1)).as("n_dup_spans"),
          sum(col("me") - col("ms") + 1).cast("long").as("dup_tokens"))
        .withColumn("dup_frac",
          col("dup_tokens").cast("double") / col("n_tokens").cast("double"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH toks AS (SELECT doc_id, $tokensSql AS t FROM documents),
      base AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) >= 8),
      idx AS (SELECT doc_id, t, n, unnest(generate_series(1, n - 7)) AS pos FROM base),
      gs AS (SELECT doc_id, n, pos, array_to_string(t[pos : pos + 7], ' ') AS g FROM idx),
      dup AS (SELECT doc_id, n, pos AS s, pos + 7 AS e FROM gs
              QUALIFY row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) > 1),
      mk AS (SELECT *, CASE WHEN s > coalesce(max(e) OVER (
                 PARTITION BY doc_id ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
               THEN 1 ELSE 0 END AS brk FROM dup),
      isl AS (SELECT *, sum(brk) OVER (
                PARTITION BY doc_id ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM mk),
      m AS (SELECT doc_id, island, max(n) AS n, min(s) AS ms, max(e) AS me
            FROM isl GROUP BY 1, 2)
      SELECT doc_id, max(n)::BIGINT AS n_tokens, count(*)::BIGINT AS n_dup_spans,
             sum(me - ms + 1)::BIGINT AS dup_tokens,
             (sum(me - ms + 1)::DOUBLE / max(n)::DOUBLE) AS dup_frac
      FROM m GROUP BY doc_id ORDER BY doc_id
    """)),

    // End-to-end curation export — the "ship it to the trainer" query
    // composing the library's corpus operators in ONE plan: exact dedup
    // (first doc per md5 digest wins), policy + length gates, and
    // overlapping chunking with provenance (source, lang) carried
    // through. One scan, one digest-keyed shuffle (the unavoidable
    // dedup cost — text crosses the wire exactly once), then pure
    // per-row work: the gates live INSIDE the chunk lambda (fail ⇒
    // empty array ⇒ dropped by explode), so no Filter exists for
    // Catalyst to push a tokenize into the scan (the q69/q89 pattern).
    ("q94_curation_export", (s, d) => {
      val banned = array(policyTerms.map(lit): _*)
      val chunksIf = (t: Column) => when(
          size(t) >= 8 && !arrays_overlap(t, banned),
          transform(sequence(lit(1), size(t), lit(chunkStride)), (st, i) =>
            struct(i.cast("long").as("chunk_id"),
              slice(t, st, lit(chunkSize)).as("chunk"))))
        .otherwise(array().cast("array<struct<chunk_id:bigint,chunk:array<string>>>"))
      Tables.fanOut(Tables.documents(s, d))
        .withColumn("rn", row_number().over(
          Window.partitionBy(md5(col("text"))).orderBy("doc_id")))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("source"), col("lang"),
          explode(flatten(transform(array(tokens(col("text"))), chunksIf))).as("c"))
        .select(col("doc_id"), col("source"), col("lang"),
          col("c.chunk_id").as("chunk_id"),
          size(col("c.chunk")).cast("long").as("chunk_tokens"),
          array_join(col("c.chunk"), " ").as("chunk_text"))
        .orderBy("doc_id", "chunk_id")
    }, Some(s"""
      WITH surv AS (
        SELECT doc_id, source, lang, text FROM documents
        QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
      ),
      toks AS (SELECT doc_id, source, lang, $tokensSql AS t FROM surv),
      ok AS (SELECT * FROM toks
             WHERE len(t) >= 8 AND len(list_intersect(t, ['slow', 'merge', 'drop'])) = 0),
      st AS (SELECT doc_id, source, lang, t,
                    unnest(generate_series(0, (len(t) - 1) // $chunkStride)) AS chunk_id
             FROM ok)
      SELECT doc_id, source, lang, chunk_id::BIGINT AS chunk_id,
             len(t[chunk_id * $chunkStride + 1 : chunk_id * $chunkStride + $chunkSize])::BIGINT AS chunk_tokens,
             array_to_string(t[chunk_id * $chunkStride + 1 : chunk_id * $chunkStride + $chunkSize], ' ') AS chunk_text
      FROM st
      ORDER BY doc_id, chunk_id
    """)),

    // Tokenizer vocab-coverage curve — the "how big must the vocab be"
    // step of tokenizer training: rank terms by corpus frequency and
    // report the smallest vocab whose cumulative frequency covers each
    // target per-mille. Integer arithmetic end to end (counts, integer
    // cumsum, cross-multiplied threshold compare — no float division),
    // so fully hash-oracled. The global-order window runs over the
    // POST-AGGREGATION vocab relation (Zipf-small next to the corpus;
    // the q66 two-pass prefix sum is the shape if vocab itself ever
    // needs partitioning).
    // ------------------------------------------------------------ decontamination n-gram sweep (round 10)
    // How sensitive is the q85 contamination verdict to the shingle
    // order? Sweep n ∈ {3, 5, 8} over ONE tokenize pass (the token
    // arrays are checkpointed; each n derives its distinct shingles
    // from the materialized relation — the q231 sweep discipline):
    // per n, docs checked, docs contaminated at the ≥5% matched-gram
    // threshold, and the total match mass. Short n over-flags
    // (common phrases), long n under-flags (one changed token breaks
    // the gram) — this table is how the n=13-style production choice
    // gets justified on a corpus rather than folklore.
    ("q240_decontamination_sweep", (s, d) => {
      val ns = Seq(3, 5, 8)
      val toks = Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), tokens(col("text")).as("t"))
        .graftCheckpoint() // one tokenize serves every n
      val grams = ns.map { n =>
        toks.select(col("doc_id"), lit(n).as("n"),
          explode(array_distinct(shingles(col("t"), n))).as("g"))
      }.reduce((a, b) => a.unionByName(b))
      val bench = grams.filter(col("doc_id") % 100 === 0)
        .select("n", "g").distinct().withColumn("hit", lit(1))
      // NO broadcast hint on the bench side (VERDICT r10): this
      // fixture derives the benchmark from 1% of the corpus, so its
      // distinct-gram set grows with the data — an unconditional
      // broadcast would OOM the build side at 100x. A production
      // decontamination benchmark is usually a FIXED external suite,
      // and AQE broadcasts a runtime-small side on its own; when the
      // bench side is data-proportional (as here), the (n, g)-keyed
      // shuffle join is the scale-correct plan.
      grams.filter(col("doc_id") % 100 =!= 0)
        .join(bench, Seq("n", "g"), "left")
        .groupBy("n", "doc_id")
        .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_matched"))
        .groupBy("n")
        .agg(count(lit(1)).as("n_docs_checked"),
             sum(when(col("n_matched") * 20 >= col("n_grams"), 1L).otherwise(0L))
               .as("n_contaminated"),
             sum("n_matched").as("total_matched_grams"))
        .withColumn("contamination_rate",
          round(col("n_contaminated") / col("n_docs_checked").cast("double"), 6))
        .orderBy("n")
    }, Some {
      val gramCtes = Seq(3, 5, 8).map { n =>
        s"""g$n AS (
          SELECT doc_id, $n AS n,
                 unnest(list_distinct([array_to_string(t[i : i + ${n - 1}], ' ')
                                       for i in generate_series(1, len(t) - ${n - 1})])) AS g
          FROM toks WHERE len(t) >= $n)"""
      }.mkString(",\n      ")
      s"""
      WITH toks AS (SELECT doc_id, $tokensSql AS t FROM documents),
      $gramCtes,
      grams AS (SELECT * FROM g3 UNION ALL SELECT * FROM g5 UNION ALL SELECT * FROM g8),
      bench AS (SELECT DISTINCT n, g FROM grams WHERE doc_id % 100 = 0),
      corpus AS (SELECT * FROM grams WHERE doc_id % 100 <> 0),
      per_doc AS (
        SELECT c.n, c.doc_id, count(*)::BIGINT AS n_grams,
               count(b.g)::BIGINT AS n_matched
        FROM corpus c LEFT JOIN bench b ON b.n = c.n AND b.g = c.g
        GROUP BY c.n, c.doc_id)
      SELECT n, count(*)::BIGINT AS n_docs_checked,
             sum(CASE WHEN n_matched * 20 >= n_grams THEN 1 ELSE 0 END)::BIGINT AS n_contaminated,
             sum(n_matched)::BIGINT AS total_matched_grams,
             round(sum(CASE WHEN n_matched * 20 >= n_grams THEN 1 ELSE 0 END)
                   / count(*)::DOUBLE, 6) AS contamination_rate
      FROM per_doc
      GROUP BY n
      ORDER BY n
    """
    }),

    // ------------------------------------------------------------ OOV rate at a fixed vocab budget (round 10)
    // q99 asks "how big must the vocab be"; this asks the converse a
    // tokenizer DEPLOYMENT asks: at a FIXED top-1000 vocabulary, what
    // share of each source's token instances falls outside it? A
    // source with a high OOV rate is the one that will fragment into
    // byte-fallback pieces (inflating its effective sequence length —
    // q185's fertility is the learned-merge sibling). ONE tokenize
    // pass: the (source, token) counts are checkpointed and feed both
    // the global tf (top-1000 via TakeOrdered, broadcast back as a
    // semi-join flag) and the per-source ledger. Integer counts
    // end-to-end except the final share.
    ("q237_oov_rate_by_source", (s, d) => {
      val vocabSize = 1000
      val srcTok = Tables.fanOut(Tables.documents(s, d))
        .select(col("source"), explode(tokens(col("text"))).as("term"))
        .groupBy("source", "term").agg(count(lit(1)).as("cnt"))
        .graftCheckpoint() // global tf + per-source ledger both read it
      val vocab = srcTok.groupBy("term").agg(sum("cnt").as("tf"))
        .orderBy(col("tf").desc, col("term")).limit(vocabSize)
        .select(col("term"), lit(1L).as("in_vocab"))
      srcTok.join(broadcast(vocab), Seq("term"), "left")
        .groupBy("source")
        .agg(sum("cnt").as("n_tokens"),
             sum(when(col("in_vocab").isNull, col("cnt")).otherwise(0L)).as("n_oov"),
             countDistinct(when(col("in_vocab").isNull, col("term"))).as("n_oov_types"))
        .withColumn("oov_rate", round(col("n_oov") / col("n_tokens").cast("double"), 6))
        .orderBy("source")
    }, Some(s"""
      WITH st AS (
        SELECT source, term, count(*)::BIGINT AS cnt
        FROM (SELECT source, unnest($tokensSql) AS term FROM documents)
        GROUP BY source, term),
      vocab AS (
        SELECT term FROM (
          SELECT term, sum(cnt) AS tf FROM st GROUP BY term
          ORDER BY tf DESC, term LIMIT 1000)),
      flagged AS (
        SELECT st.*, v.term IS NOT NULL AS in_vocab
        FROM st LEFT JOIN vocab v USING (term))
      SELECT source,
             sum(cnt)::BIGINT AS n_tokens,
             sum(CASE WHEN NOT in_vocab THEN cnt ELSE 0 END)::BIGINT AS n_oov,
             count(DISTINCT CASE WHEN NOT in_vocab THEN term END)::BIGINT AS n_oov_types,
             round(sum(CASE WHEN NOT in_vocab THEN cnt ELSE 0 END)
                   / sum(cnt)::DOUBLE, 6) AS oov_rate
      FROM flagged
      GROUP BY source
      ORDER BY source
    """)),

    ("q99_vocab_coverage", (s, d) => {
      val thresholds = Seq(500, 900, 950, 990)
      val tf = Tables.fanOut(Tables.documents(s, d))
        .select(explode(tokens(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("tf"))
      // rank + cumulative frequency via the two-pass prefix sum
      // (PrefixSum.cumSums, round 10): the vocab grows with the
      // corpus (Heaps), so the global-order window would serialize it
      // on one task at scale. Integer counts ⇒ exact under any
      // association order; rank rides the same pass as cumsum-of-1.
      // The grand total reads the operator's CHECKPOINTED base — the
      // corpus is still tokenized exactly once (q85 discipline).
      val ranked = PrefixSum.cumSums(tf, Seq(col("tf").desc, col("term")),
        Seq(col("tf") -> "cum", lit(1L) -> "rank"))
      val tot = ranked.agg(sum("tf").as("total"))
      ranked.crossJoin(broadcast(tot))
        .select(col("rank"), col("cum"), col("total"),
          explode(array(thresholds.map(lit): _*)).as("threshold_permille"))
        .filter(col("cum") * 1000 >= col("threshold_permille") * col("total"))
        .groupBy("threshold_permille")
        .agg(min("rank").cast("long").as("vocab_size"))
        .orderBy("threshold_permille")
    }, Some(s"""
      WITH tk AS (SELECT unnest($tokensSql) AS term FROM documents),
      tf AS (SELECT term, count(*) AS tf FROM tk GROUP BY term),
      r AS (SELECT term, tf,
                   row_number() OVER (ORDER BY tf DESC, term) AS rank,
                   sum(tf) OVER (ORDER BY tf DESC, term
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                   sum(tf) OVER () AS total
            FROM tf),
      x AS (SELECT r.rank, r.cum, r.total, t.threshold_permille
            FROM r
            CROSS JOIN (SELECT unnest([500, 900, 950, 990]) AS threshold_permille) t
            WHERE r.cum * 1000 >= t.threshold_permille * r.total)
      SELECT threshold_permille, min(rank)::BIGINT AS vocab_size
      FROM x GROUP BY threshold_permille ORDER BY threshold_permille
    """)),

    // ------------------------------------------------------------ paragraph-level filter + rebuild (round 7)
    // Hierarchical document cleaning — the FineWeb/C4-style step where
    // quality filtering happens BELOW document granularity: split each
    // document into segments (here: '.'-delimited sentences), drop
    // segments failing a quality gate (trimmed length < 10 — a stand-in
    // for any per-segment scorer), and REASSEMBLE the survivors in
    // original order. The explode→filter→reassemble round trip is the
    // operator; the gate is pluggable. Reassembly = groupBy(doc) over
    // (pos, seg) structs + array_sort + array_join — collect_list alone
    // is NOT order-stable under shuffles, sorting by the carried
    // position is what makes the rebuild deterministic. One explode
    // pass, one doc-keyed shuffle; segment state per doc is bounded by
    // document length, so groups never outgrow an executor.
    ("q129_paragraph_rebuild", (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), posexplode(split(col("text"), "\\.")).as(Seq("pos", "seg")))
        .withColumn("seg", trim(col("seg")))
        .withColumn("keep", length(col("seg")) >= 10)
        .groupBy("doc_id")
        .agg(
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(!col("keep"), 1L).otherwise(0L)).as("n_dropped"),
          array_join(
            transform(array_sort(collect_list(when(col("keep"), struct(col("pos"), col("seg"))))),
              x => x("seg")),
            ". ").as("rebuilt"))
        .filter(col("n_kept") > 0)
        .orderBy("doc_id")
    }, Some("""
      WITH seg AS (
        SELECT doc_id,
               generate_subscripts(string_split(text, '.'), 1) AS pos,
               trim(unnest(string_split(text, '.'))) AS seg
        FROM documents)
      SELECT doc_id,
             count(*) FILTER (length(seg) >= 10) AS n_kept,
             count(*) FILTER (length(seg) < 10) AS n_dropped,
             string_agg(seg, '. ' ORDER BY pos) FILTER (length(seg) >= 10) AS rebuilt
      FROM seg
      GROUP BY doc_id
      HAVING count(*) FILTER (length(seg) >= 10) > 0
      ORDER BY doc_id
    """)),

    // ------------------------------------------------------------ shingle novelty (round 7)
    // Per-document novelty scoring — what fraction of a document's
    // distinct word-3-shingles appear in NO earlier document (earlier =
    // smaller doc_id; in production, earlier crawl snapshot)? The
    // standard "how much of this is new text" curation signal, and the
    // aggregate sibling of q91's duplicate-span stats. Plan: ONE
    // tokenize+explode pass to the (doc_id, shingle) relation, a
    // shingle-keyed aggregate for each shingle's FIRST owner
    // (min(doc_id)), and a doc-keyed roll-up counting shingles whose
    // first owner is the document itself. Both shuffles key on
    // high-cardinality columns (shingle, then doc) — no skew, no
    // broadcast of anything data-sized, novelty of every document in
    // two map-reduce rounds at any scale. Self-novelty counts via
    // first_owner = doc_id, so repeated text WITHIN a doc still counts
    // once (distinct shingles), matching the dedup intuition.
    ("q132_shingle_novelty", (s, d) => {
      val sh = Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"),
          explode(array_distinct(shingles(tokens(col("text")), 3))).as("g"))
      val firstOwner = sh.groupBy("g").agg(min("doc_id").as("first_doc"))
      sh.join(firstOwner, "g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
             sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
        .withColumn("novelty",
          round(col("n_novel").cast("double") / col("n_shingles"), 6))
        .orderBy("doc_id")
    }, Some(s"""
      WITH toks AS (SELECT doc_id, $tokensSql AS t FROM documents),
      sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
        FROM toks),
      fo AS (SELECT g, min(doc_id) AS first_doc FROM sh GROUP BY g)
      SELECT sh.doc_id, count(*) AS n_shingles,
             count(*) FILTER (fo.first_doc = sh.doc_id) AS n_novel,
             round(count(*) FILTER (fo.first_doc = sh.doc_id) / count(*)::DOUBLE, 6) AS novelty
      FROM sh JOIN fo USING (g)
      GROUP BY sh.doc_id
      ORDER BY sh.doc_id
    """)),

    // ------------------------------------------------- curation funnel attrition (round 8)
    // The observability complement to q94: q94 SHIPS the survivors;
    // this reports WHERE THE DATA WENT — every document attributed to
    // its FIRST failing gate (exact-dup → language → length → entropy
    // → kept), counts per stage. The number a curation run is judged
    // by ("you dropped 40% of source X") and the first thing to audit
    // when a corpus shrinks unexpectedly. One text-bearing pass
    // computes digest + token entropy together (the md5 rides the
    // token explode so text is read once); the gate pass reads only
    // (doc_id, lang, n_chars) — a column-pruned scan with zero text
    // bytes — and joins back doc-keyed. Gate thresholds reuse the
    // library's own: q169's entropy < 2.0 flag, q94's first-by-digest.
    ("q181_curation_funnel", (s, d) => {
      val tf = Tables.fanOut(Tables.documents(s, d).select(col("doc_id"), col("text")))
        .select(col("doc_id"), md5(col("text")).as("dig"),
                explode(tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "dig", "tok").agg(count(lit(1)).as("c"))
      val per = tf.groupBy("doc_id", "dig").agg(
          sum("c").as("n_tok"),
          sum(col("c").cast("double") * log(col("c").cast("double"))).as("clogc"))
        .select(col("doc_id"), col("dig"),
          (log(col("n_tok").cast("double")) - col("clogc") / col("n_tok")).as("entropy"))
      val staged = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
        .join(per, Seq("doc_id"), "left")
        .withColumn("rn", row_number().over(Window.partitionBy("dig").orderBy("doc_id")))
        .withColumn("stage_id",
          when(col("rn") > 1, 1L)
          .when(!col("lang").isin("en", "de", "fr"), 2L)
          .when(col("n_chars") < 100 || col("n_chars") > 100000, 3L)
          .when(coalesce(col("entropy"), lit(0.0)) < 2.0, 4L)
          .otherwise(5L))
      staged.groupBy("stage_id").agg(count(lit(1)).as("n_docs"))
        .withColumn("stage", expr(
          """CASE stage_id WHEN 1 THEN 'exact_dup' WHEN 2 THEN 'bad_lang'
             WHEN 3 THEN 'bad_length' WHEN 4 THEN 'low_entropy'
             ELSE 'kept' END"""))
        .select("stage_id", "stage", "n_docs")
        .orderBy("stage_id")
    }, Some(s"""
      WITH tf AS (
        SELECT doc_id, md5(text) AS dig, tok, count(*)::BIGINT AS c
        FROM (SELECT doc_id, text, unnest($tokensSql) AS tok FROM documents)
        GROUP BY 1, 2, 3),
      per AS (
        SELECT doc_id, dig,
               ln(sum(c)::DOUBLE) - sum(c::DOUBLE * ln(c::DOUBLE)) / sum(c) AS entropy
        FROM tf GROUP BY doc_id, dig),
      ranked AS (
        SELECT d.doc_id, d.lang, d.n_chars, p.entropy,
               row_number() OVER (PARTITION BY p.dig ORDER BY d.doc_id) AS rn
        FROM documents d LEFT JOIN per p USING (doc_id)),
      staged AS (
        SELECT CASE WHEN rn > 1 THEN 1
                    WHEN lang NOT IN ('en', 'de', 'fr') THEN 2
                    WHEN n_chars < 100 OR n_chars > 100000 THEN 3
                    WHEN coalesce(entropy, 0) < 2.0 THEN 4
                    ELSE 5 END AS stage_id
        FROM ranked)
      SELECT stage_id::BIGINT AS stage_id,
             CASE stage_id WHEN 1 THEN 'exact_dup' WHEN 2 THEN 'bad_lang'
                  WHEN 3 THEN 'bad_length' WHEN 4 THEN 'low_entropy'
                  ELSE 'kept' END AS stage,
             count(*)::BIGINT AS n_docs
      FROM staged GROUP BY stage_id
      ORDER BY stage_id
    """)),

    // ------------------------------------------------------------ quality-cut retention curve (round 11)
    // The budget question behind every quality filter: if the corpus
    // is ranked best-first by a quality score and cut at the top q%,
    // how many TOKENS survive? (Docs and tokens fall at different
    // rates — high-quality docs skew short, so a 50% doc cut can be a
    // 30% token cut; this curve is the evidence a filtering threshold
    // gets chosen on.) Score = type-token ratio (exact IEEE division
    // of integers — rank order engine-identical). Scale shape: rank
    // AND cumulative tokens come from ONE two-pass PrefixSum over the
    // checkpointed doc metrics (the doc dimension is unbounded — no
    // global row_number/sum window), and the ten cut rows are found
    // by an equi-join against a 10-row broadcast of cut ranks.
    ("q247_quality_cut_curve", (s, d) => {
      val docs = Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), tokens(col("text")).as("t"))
        .select(col("doc_id"), size(col("t")).cast("long").as("nt"),
                size(array_distinct(col("t"))).cast("long").as("ty"))
        .filter(col("nt") > 0)
        .withColumn("ttr", col("ty").cast("double") / col("nt"))
        .graftCheckpoint() // totals + the rank pass both read it
      val ranked = PrefixSum.cumSums(docs, Seq(col("ttr").desc, col("doc_id")),
        Seq(lit(1L) -> "rk", col("nt") -> "cum_tokens"))
      val tot = docs.agg(count(lit(1)).as("n"), sum("nt").as("tot_tokens"))
      import s.implicits._
      val cuts = (10 to 100 by 10).toDF("pct")
        .crossJoin(broadcast(tot))
        .withColumn("rk", expr("(n * pct + 99) DIV 100")) // ceil(n·q/100)
        .select("pct", "rk", "tot_tokens")
      ranked.join(broadcast(cuts), "rk")
        .select(col("pct"), col("rk").as("n_docs_kept"),
          col("cum_tokens").as("tokens_kept"),
          Quant.quant6(col("cum_tokens").cast("double") / col("tot_tokens"))
            .as("token_share"))
        .orderBy("pct")
    }, Some(s"""
      WITH docs AS (
        SELECT doc_id, len($tokensSql)::BIGINT AS nt,
               len(list_distinct($tokensSql))::BIGINT AS ty
        FROM documents),
      m AS (SELECT doc_id, nt, ty::DOUBLE / nt AS ttr FROM docs WHERE nt > 0),
      tot AS (SELECT count(*) AS n, sum(nt) AS tot_tokens FROM m),
      r AS (SELECT doc_id, nt,
                   row_number() OVER (ORDER BY ttr DESC, doc_id) AS rk,
                   sum(nt) OVER (ORDER BY ttr DESC, doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
            FROM m),
      cuts AS (SELECT unnest(generate_series(10, 100, 10)) AS pct)
      SELECT c.pct::INT AS pct, r.rk AS n_docs_kept, r.cum_tokens::BIGINT AS tokens_kept,
             floor(r.cum_tokens::DOUBLE / tot.tot_tokens * 1000000.0 + 0.5) / 1000000.0
               AS token_share
      FROM cuts c CROSS JOIN tot
      JOIN r ON r.rk = (tot.n * c.pct + 99) // 100
      ORDER BY pct
    """))
  )
}
