package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{QueryGroup, Tables}
import graft.functions.TextFunctions._
import graft.Tables.GraftCheckpointOps

/** Text-analysis operators over the documents table: token statistics,
  * quality scoring, n-gram-heuristic language ID, and rolling-hash
  * fingerprinting. All pure Column expressions (codegen'd, linear
  * scans, no shuffles except the final aggregations) — per-document
  * work is embarrassingly parallel at any scale.
  *
  * Determinism: ratios are int/int double divisions (exact IEEE, same
  * bits on both engines); weighted sums keep identical association
  * order in Spark and oracle SQL; hashes are `portableHash`.
  */
object TextAnalysis extends QueryGroup {

  /** Stopword lists for the n-gram language heuristic. Deliberately
    * tiny — the heuristic's mechanics (per-language vocabulary hit
    * counts + deterministic argmax) are the operator; production would
    * swap in real lists.
    */
  private val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is", "row", "table"),
    "de" -> Seq("der", "die", "das", "und", "ist", "mit", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une"),
    "es" -> Seq("el", "los", "las", "y", "es", "un", "una"),
    "zh" -> Seq("de", "shi", "bu", "le", "zai"))

  private def sqlList(ws: Seq[String]): String = ws.map(w => s"'$w'").mkString("[", ", ", "]")

  override protected val entries: Vector[(String, (SparkSession, String) => DataFrame, Option[String])] = Vector(

    // ------------------------------------------------------------ per-doc token statistics
    ("q37_token_stats", (s, d) => {
      // Filter on the raw-text token count so the scan-pushed predicate
      // stays cheap (see Dedup.tokenHashes for the pushdown trap).
      Tables.fanOut(Tables.documents(s, d))
        .filter(size(tokens(col("text"))) > 0)
        .select(col("doc_id"), col("lang"), tokens(col("text")).as("t"), length(col("text")).as("n_chars2"))
        .select(col("doc_id"), col("lang"),
                size(col("t")).cast("long").as("n_tokens"),
                size(array_distinct(col("t"))).cast("long").as("n_distinct"),
                (aggregate(col("t"), lit(0), (acc, x) => acc + length(x)).cast("double") / size(col("t"))).as("avg_token_len"),
                (size(array_distinct(col("t"))).cast("double") / size(col("t"))).as("type_token_ratio"))
        .orderBy("doc_id")
    }, Some("""
      WITH toks AS (
        SELECT doc_id, lang, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') t
        FROM documents
      )
      SELECT doc_id, lang,
             len(t)                                               AS n_tokens,
             len(list_distinct(t))                                AS n_distinct,
             list_sum(list_transform(t, x -> len(x)))::DOUBLE / len(t) AS avg_token_len,
             len(list_distinct(t))::DOUBLE / len(t)               AS type_token_ratio
      FROM toks WHERE len(t) > 0
      ORDER BY doc_id
    """)),

    // ------------------------------------------------------------ quality scoring
    ("q38_quality_score", (s, d) => {
      val t = col("t")
      val nTok = size(t).cast("double")
      val stopRatio = vocabHits(t, stopwords.head._2).cast("double") / size(t)
      val alnumRatio = length(regexp_replace(lower(col("text")), "[^a-z0-9 ]", "")).cast("double") / length(col("text"))
      val lenScore = least(lit(1.0), nTok / 100.0)
      Tables.fanOut(Tables.documents(s, d))
        .filter(size(tokens(col("text"))) > 0)
        .select(col("doc_id"), col("text"), tokens(col("text")).as("t"))
        .select(col("doc_id"),
                stopRatio.as("stopword_ratio"),
                alnumRatio.as("alnum_ratio"),
                lenScore.as("len_score"),
                (stopRatio * 0.4 + alnumRatio * 0.3 + lenScore * 0.3).as("quality"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH toks AS (
        SELECT doc_id, text, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') t
        FROM documents
      )
      SELECT doc_id,
             len(list_filter(t, x -> list_contains(${sqlList(stopwords.head._2)}, x)))::DOUBLE / len(t) AS stopword_ratio,
             len(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))::DOUBLE / len(text)   AS alnum_ratio,
             least(1.0, len(t)::DOUBLE / 100.0)                                            AS len_score,
             (len(list_filter(t, x -> list_contains(${sqlList(stopwords.head._2)}, x)))::DOUBLE / len(t)) * 0.4
               + (len(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))::DOUBLE / len(text)) * 0.3
               + least(1.0, len(t)::DOUBLE / 100.0) * 0.3                                  AS quality
      FROM toks WHERE len(t) > 0
      ORDER BY doc_id
    """)),

    // ------------------------------------------------------------ language ID (vocabulary-hit argmax)
    ("q39_lang_id", (s, d) => {
      val t = col("t")
      val scored = Tables.fanOut(Tables.documents(s, d))
        .filter(size(tokens(col("text"))) > 0)
        .select(col("doc_id"), col("lang"), tokens(col("text")).as("t"))
        .select(col("doc_id") +: col("lang") +:
          stopwords.map { case (l, ws) => vocabHits(t, ws).as(s"score_$l") }: _*)
      // deterministic argmax: first language (in declared order) with the max score
      val maxScore = greatest(stopwords.map { case (l, _) => col(s"score_$l") }: _*)
      val pred = stopwords.foldRight(lit("und")) { case ((l, _), acc) =>
        when(col(s"score_$l") === maxScore && maxScore > 0, lit(l)).otherwise(acc)
      }
      scored.withColumn("pred_lang", pred)
        .groupBy("lang", "pred_lang")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "pred_lang")
    }, Some {
      val scores = stopwords.map { case (l, ws) =>
        s"len(list_filter(t, x -> list_contains(${sqlList(ws)}, x))) AS score_$l"
      }.mkString(",\n               ")
      val maxExpr = "greatest(" + stopwords.map { case (l, _) => s"score_$l" }.mkString(", ") + ")"
      val predExpr = stopwords.map { case (l, _) =>
        s"WHEN score_$l = $maxExpr AND $maxExpr > 0 THEN '$l'"
      }.mkString("CASE ", " ", " ELSE 'und' END")
      s"""
      WITH toks AS (
        SELECT doc_id, lang, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') t
        FROM documents
      ),
      scored AS (
        SELECT doc_id, lang,
               $scores
        FROM toks WHERE len(t) > 0
      )
      SELECT lang, $predExpr AS pred_lang, count(*) AS n_docs
      FROM scored
      GROUP BY 1, 2
      ORDER BY lang, pred_lang
    """
    }),

    // ------------------------------------------------------------ rolling-hash fingerprint (winnowing-lite)
    // True rolling hash: one md5 per TOKEN (reduced to 31 bits), then
    // each 4-gram hash is a base-1024 polynomial over 4 consecutive
    // token hashes — pure int64 arithmetic, no per-shingle string
    // building (the shingle-string variant spent ~9 s/5k docs in
    // slice+join allocations; max value 2^31·1024³ < 2^63, overflow-free
    // on both engines).
    ("q40_fingerprint", (s, d) => {
      Tables.fanOut(Tables.documents(s, d))
        .filter(size(tokens(col("text"))) >= 4)
        .select(col("doc_id"), tokenHashArray(col("text"), 2147483648L).as("h"))
        .select(col("doc_id"),
                transform(sequence(lit(1), size(col("h")) - 3), i =>
                  ((element_at(col("h"), i) * 1024 + element_at(col("h"), i + 1)) * 1024
                    + element_at(col("h"), i + 2)) * 1024 + element_at(col("h"), i + 3)).as("g"))
        .select(col("doc_id"),
                array_join(slice(array_sort(array_distinct(col("g"))), 1, 5)
                  .cast("array<string>"), "-").as("fingerprint"))
        .orderBy("doc_id")
    }, Some("""
      WITH h AS (
        SELECT doc_id,
               list_transform(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''),
                              x -> ('0x'||substring(md5(x),1,15))::BIGINT % 2147483648) h
        FROM documents
      ),
      g AS (
        SELECT doc_id,
               list_transform(generate_series(1, len(h) - 3), i ->
                 ((h[i] * 1024 + h[i+1]) * 1024 + h[i+2]) * 1024 + h[i+3]) g
        FROM h WHERE len(h) >= 4
      )
      SELECT doc_id,
             array_to_string(list_sort(list_distinct(g))[1:5], '-') AS fingerprint
      FROM g
      ORDER BY doc_id
    """)),

    // ------------------------------------------------------------ token-count estimation (BPE-ish pre-tokenizer)
    // Word-or-punctuation pieces via the GPT-style pre-tokenizer split,
    // plus the chars/4 heuristic LLM pipelines use for budget estimates.
    ("q54_token_estimate", (s, d) => {
      Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"),
                size(split(col("text"), "\\s+")).cast("long").as("ws_tokens"),
                size(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long").as("bpe_pieces"),
                ((length(col("text")) + 3) / 4).cast("long").as("est_tokens_chars4"))
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id,
             len(string_split_regex(text, '\s+'))                              AS ws_tokens,
             len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]'))     AS bpe_pieces,
             (length(text) + 3) // 4                                           AS est_tokens_chars4
      FROM documents
      ORDER BY doc_id
    """)),

    // ------------------------------------------------------------ unigram-rarity quality score (round 4)
    // The inverse-frequency half of a perplexity-style curation signal
    // (rare-token-heavy docs are outliers; common-token-only docs are
    // boilerplate). Per token: floor(1e9 / tf) — inverse corpus
    // frequency in integer nano-units, so the per-doc sum is LONG
    // arithmetic: order-free across partitions and bit-identical
    // cross-engine (a float sum would depend on shuffle arrival order;
    // ln() differs by ulps between libm and the JVM, the q70 lesson).
    // Deliberately N-free: normalizing by corpus size would cost a
    // second full tokenize pass (the q85 disease) for a constant that
    // doesn't change within-corpus ranking. ONE tokenize pass: corpus
    // tf is a term-partitioned window count over the exploded relation,
    // then one doc-keyed aggregation — two keyed shuffles, linear at
    // any scale.
    ("q93_unigram_rarity", (s, d) => {
      Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .withColumn("tf", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("term")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
             sum(floor(lit(1000000000L) / col("tf")).cast("long")).as("rarity_nano"))
        .select(col("doc_id"), col("n_tokens"), col("rarity_nano"),
          (col("rarity_nano").cast("double") / col("n_tokens").cast("double"))
            .as("rarity_per_token"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH tk AS (
        SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
        FROM documents
      ),
      tf AS (SELECT doc_id, count(*) OVER (PARTITION BY term) AS tf FROM tk),
      agg AS (
        SELECT doc_id, count(*) AS n_tokens,
               sum(floor(1000000000 / tf))::BIGINT AS rarity_nano
        FROM tf GROUP BY doc_id
      )
      SELECT doc_id, n_tokens, rarity_nano,
             rarity_nano::DOUBLE / n_tokens::DOUBLE AS rarity_per_token
      FROM agg ORDER BY doc_id
    """)),

    // ------------------------------------------------- Unicode NFC normalization (round 4)
    // The canonical first step of text curation: byte-level dedup (q31/
    // q32) and every hash-based operator downstream require `é` and
    // `e`+U+0301 to be ONE representation, so normalization must run
    // before any of them. Spark has no normalize function; this drives
    // graft's NfcNormalize — a real-codegen UnaryExpression with an
    // ASCII/`isNormalized` fast path, so the pass is a zero-shuffle
    // narrow map that stays inside WholeStageCodegen (the test corpus
    // is ASCII, so half the rows here are decorated with decomposed
    // combining sequences to force actual composition; the other half
    // exercises the fast path the 100 TB corpus would mostly take).
    // Oracle: DuckDB's built-in nfc_normalize over the same decoration
    // — both engines count code points for length(), so n_before/
    // n_after pin the 3-codepoint collapse and norm_text pins the
    // composed bytes themselves.
    ("q102_nfc_normalize", (s, d) => {
      val decorated = when(col("doc_id") % 2 === 0,
          concat(col("text"), lit(" cafe\u0301 o\u0308 A\u030A")))
        .otherwise(col("text"))
      Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), decorated.as("raw"))
        .select(col("doc_id"),
          org.apache.spark.sql.GraftSqlBridge.column(
            graft.expressions.NfcNormalize(
              org.apache.spark.sql.GraftSqlBridge.expression(col("raw")))).as("norm_text"),
          length(col("raw")).cast("long").as("n_before"))
        .withColumn("n_after", length(col("norm_text")).cast("long"))
        .orderBy("doc_id")
    }, Some("""
      WITH raw AS (
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0
                    THEN text || ' cafe' || chr(769) || ' o' || chr(776) || ' A' || chr(778)
                    ELSE text END AS raw
        FROM documents
      )
      SELECT doc_id, nfc_normalize(raw) AS norm_text,
             length(raw) AS n_before, length(nfc_normalize(raw)) AS n_after
      FROM raw ORDER BY doc_id
    """)),

    // ------------------------------------------------------------ token co-occurrence PMI (round 7)
    // Pointwise mutual information over document-level co-occurrence —
    // the classic collocation / topic-signal statistic (and the
    // word2vec-era objective's exact form): PMI(u,v) =
    // ln(N·c_uv / (c_u·c_v)) where counts are DOCUMENT frequencies.
    // Pair enumeration is the scale hazard (all token pairs is
    // vocab²); it's bounded by restricting to a FIXED top-|V| df
    // vocabulary (the standard practice — PMI on rare words is noise
    // anyway): the (doc, term) relation filters against the broadcast
    // vocab BEFORE the self-join, so pair candidates are ≤ C(|V∩doc|,2)
    // per doc and the join is an equi-join on doc_id, never all-pairs.
    // Top-50 vocab deterministically tie-broken (df DESC, term). N and
    // the per-term df ride the broadcast — nothing data-sized crosses
    // the driver. ln() of exact-integer ratios; 6dp round (q49
    // precedent: sub-ulp libm noise sits 9 digits below).
    ("q135_token_pmi", (s, d) => {
      val vocabK = 50; val minPairDf = 5; val topOut = 30
      val dt = Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), explode(distinctTokens(col("text"))).as("term"))
      val vocab = dt.groupBy("term").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("term")).limit(vocabK)
      val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      val fx = dt.join(broadcast(vocab), "term")
      val fy = fx.select(col("doc_id").as("doc_id2"), col("term").as("v"), col("df").as("df_v"))
      fx.select(col("doc_id"), col("term").as("u"), col("df").as("df_u"))
        .join(fy, col("doc_id") === col("doc_id2") && col("u") < col("v"))
        .groupBy("u", "v")
        .agg(count(lit(1)).as("c_uv"), first("df_u").as("df_u"), first("df_v").as("df_v"))
        .filter(col("c_uv") >= minPairDf)
        .crossJoin(broadcast(nDocs))
        .select(col("u"), col("v"), col("c_uv"),
          round(log(col("n_docs").cast("double") * col("c_uv") /
            (col("df_u") * col("df_v"))), 6).as("pmi"))
        .orderBy(col("pmi").desc, col("u"), col("v")).limit(topOut)
    }, Some(s"""
      WITH dt AS (SELECT doc_id, unnest(list_distinct($tokensSql)) AS term FROM documents),
      vocab AS (
        SELECT term, count(*) AS df FROM dt GROUP BY term
        ORDER BY df DESC, term LIMIT 50),
      f AS (SELECT dt.doc_id, dt.term, v.df FROM dt JOIN vocab v USING (term)),
      pairs AS (
        SELECT a.term AS u, b.term AS v, count(*) AS c_uv,
               any_value(a.df) AS df_u, any_value(b.df) AS df_v
        FROM f a JOIN f b ON a.doc_id = b.doc_id AND a.term < b.term
        GROUP BY a.term, b.term
        HAVING count(*) >= 5)
      SELECT u, v, c_uv,
             round(ln((SELECT count(*) FROM documents)::DOUBLE * c_uv / (df_u * df_v)), 6) AS pmi
      FROM pairs
      ORDER BY pmi DESC, u, v LIMIT 30
    """)),

    // ------------------------------------------------------------ interpolated-LM scoring (round 7)
    // Language-model quality scoring — the CCNet-style filter: train a
    // bigram LM on the corpus itself, score every document by mean
    // token log-probability, p(w|u) = 0.75·c₂(u,w)/c₁(u) + 0.25·c₁(w)/T
    // (interpolation keeps the mass zero-free; self-trained, every
    // doc bigram exists in the model). Production pipelines threshold
    // this score to drop gibberish/boilerplate; q93's unigram rarity
    // is the order-0 version, this adds sequence structure. Plan: ONE
    // tokenize pass produces the (doc, u, w) bigram relation via a
    // zero-join zip_with over adjacent slices (no posexplode
    // self-join); the model IS three aggregates of that relation
    // (c₂ by (u,w), c₁ by token, T one row) — vocabulary-sized,
    // joined back by term keys (hash equi-joins that scale with
    // vocabulary, broadcast nothing data-sized); the per-doc score is
    // one doc-keyed mean. Bigram keys shuffle ~|corpus| rows twice —
    // the irreducible cost of fitting the model and scoring in one
    // judged query; a production run would persist the model and pay
    // only the scoring joins.
    ("q138_lm_score", (s, d) => {
      val toks = Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 2)
      val bigrams = toks.select(col("doc_id"),
        explode(zip_with(
          slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (a, b) => struct(a.as("u"), b.as("w")))).as("bg"))
        .select(col("doc_id"), col("bg.u").as("u"), col("bg.w").as("w"))
      val uni = Tables.fanOut(Tables.documents(s, d))
        .select(explode(tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c1"))
      val tot = uni.agg(sum("c1").as("t_tokens"))
      val c2 = bigrams.groupBy("u", "w").agg(count(lit(1)).as("c2"))
      bigrams
        .join(c2, Seq("u", "w"))
        .join(uni.select(col("tok").as("u"), col("c1").as("c1_u")), Seq("u"))
        .join(uni.select(col("tok").as("w"), col("c1").as("c1_w")), Seq("w"))
        .crossJoin(broadcast(tot))
        .select(col("doc_id"),
          log(lit(0.75) * col("c2").cast("double") / col("c1_u") +
              lit(0.25) * col("c1_w").cast("double") / col("t_tokens")).as("lp"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), round(avg("lp"), 6).as("lm_score"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH toks AS (SELECT doc_id, $tokensSql AS t FROM documents WHERE len($tokensSql) >= 2),
      bg AS (
        SELECT doc_id, t[i] AS u, t[i+1] AS w
        FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks)),
      uni AS (
        SELECT unnest($tokensSql) AS tok FROM documents),
      c1 AS (SELECT tok, count(*) AS c1 FROM uni GROUP BY tok),
      tot AS (SELECT sum(c1)::DOUBLE AS t_tokens FROM c1),
      c2 AS (SELECT u, w, count(*) AS c2 FROM bg GROUP BY u, w)
      SELECT bg.doc_id, count(*) AS n_bigrams,
             round(avg(ln(0.75 * c2.c2::DOUBLE / cu.c1 + 0.25 * cw.c1::DOUBLE / tot.t_tokens)), 6) AS lm_score
      FROM bg
      JOIN c2 ON bg.u = c2.u AND bg.w = c2.w
      JOIN c1 cu ON bg.u = cu.tok
      JOIN c1 cw ON bg.w = cw.tok
      CROSS JOIN tot
      GROUP BY bg.doc_id
      ORDER BY bg.doc_id
    """)),

    // ------------------------------------------------------------ readability scoring (round 7)
    // Flesch reading-ease per document from pure regex counts — the
    // traditional-NLP quality feature alongside q38's ratios and
    // q138's LM score: words (token count), sentences ([.!?]+ runs,
    // floored at 1), syllables approximated by vowel-group runs (the
    // standard cheap proxy). score = 206.835 − 1.015·(words/sent) −
    // 84.6·(syll/words). Zero joins, zero shuffles beyond the final
    // sort — a pure codegen'd projection over one scan, the cheapest
    // possible operator shape.
    ("q153_readability", (s, d) => {
      val words = size(tokens(col("text"))).cast("long")
      val sents = greatest(lit(1L), regexp_count(col("text"), lit("[.!?]+")).cast("long"))
      val sylls = regexp_count(lower(col("text")), lit("[aeiou]+")).cast("long")
      Tables.documents(s, d)
        .select(col("doc_id"), words.as("n_words"), sents.as("n_sents"), sylls.as("n_sylls"))
        .filter(col("n_words") > 0)
        .withColumn("flesch",
          round(lit(206.835) - lit(1.015) * (col("n_words").cast("double") / col("n_sents"))
            - lit(84.6) * (col("n_sylls").cast("double") / col("n_words")), 4))
        .orderBy("doc_id")
    }, Some(s"""
      WITH c AS (
        SELECT doc_id,
               len($tokensSql)::BIGINT AS n_words,
               greatest(1, len(regexp_extract_all(text, '[.!?]+')))::BIGINT AS n_sents,
               len(regexp_extract_all(lower(text), '[aeiou]+'))::BIGINT AS n_sylls
        FROM documents)
      SELECT doc_id, n_words, n_sents, n_sylls,
             round(206.835 - 1.015 * (n_words::DOUBLE / n_sents)
                   - 84.6 * (n_sylls::DOUBLE / n_words), 4) AS flesch
      FROM c WHERE n_words > 0
      ORDER BY doc_id
    """)),

    // ------------------------------------------------------------ token-entropy quality (round 8)
    // Per-document Shannon entropy of the token distribution (nats) +
    // type-token ratio — the information-theoretic quality signal the
    // ratio features (q38) and repetition counts (q89) approximate:
    // boilerplate and keyword-stuffed spam have LOW entropy even when
    // their repetition n-grams vary. H = ln(n) − Σc·ln(c)/n (the
    // numerically stable rearrangement — one pass over the per-doc
    // term-frequency table, no per-token probabilities materialized).
    // One (doc, tok) aggregate then one doc aggregate, both map-side
    // partial; per-doc work is independent at any scale.
    ("q169_token_entropy", (s, d) => {
      val tf = Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      tf.groupBy("doc_id")
        .agg(sum("c").as("n_tok"), count(lit(1)).as("n_types"),
             sum(col("c").cast("double") * log(col("c").cast("double"))).as("clogc"))
        .select(col("doc_id"), col("n_tok"), col("n_types"),
                round(col("n_types").cast("double") / col("n_tok"), 6).as("ttr"),
                round(log(col("n_tok").cast("double")) - col("clogc") / col("n_tok"), 6)
                  .as("entropy"))
        .withColumn("low_entropy", col("entropy") < 2.0)
        .orderBy("doc_id")
    }, Some(s"""
      WITH tf AS (
        SELECT doc_id, tok, count(*)::BIGINT AS c
        FROM (SELECT doc_id, unnest($tokensSql) AS tok FROM documents)
        GROUP BY 1, 2)
      SELECT doc_id, sum(c)::BIGINT AS n_tok, count(*)::BIGINT AS n_types,
             round(count(*)::DOUBLE / sum(c), 6) AS ttr,
             round(ln(sum(c)::DOUBLE) - sum(c::DOUBLE * ln(c::DOUBLE)) / sum(c), 6) AS entropy,
             (round(ln(sum(c)::DOUBLE) - sum(c::DOUBLE * ln(c::DOUBLE)) / sum(c), 6) < 2.0) AS low_entropy
      FROM tf GROUP BY doc_id
      ORDER BY doc_id
    """)),

    // ------------------------------------------------------------ distinctive source terms (round 8)
    // Monroe log-odds-ratio keyword extraction: the top-5 terms that
    // characterize each source AGAINST the rest of the corpus —
    // "what is this crawl slice about" triage that plain TF-IDF can't
    // answer when the vocabulary is shared (every term's df = all
    // sources ⇒ idf 0). score(source, tok) =
    // ln((a+½)/(A−a+½)) − ln((b+½)/(B−b+½)) with a = tf in source,
    // A = source total, b/B = the complement — smoothed, defined for
    // every cell, positive exactly when the term is over-represented.
    // One (source, tok) aggregate; the per-source totals and global
    // per-token counts are schema/vocab-bounded relations joined back
    // broadcast; top-5 via a per-source window over ≤|sources|·|vocab|
    // rows. Scale: everything after the first aggregate is bounded by
    // the vocabulary, not the corpus.
    ("q170_source_keywords", (s, d) => {
      // tf is read FOUR times (scored + the three totals) — checkpoint
      // the ≤|sources|·|vocab| aggregate so the corpus is scanned once,
      // not once per consumer (q123 discipline; Catalyst has no
      // automatic CTE materialization for DataFrame reuse)
      val tf = Tables.fanOut(Tables.documents(s, d))
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("a"))
        .graftCheckpoint()
      val tots = tf.groupBy("source").agg(sum("a").as("tot_s"))
      val gtok = tf.groupBy("tok").agg(sum("a").as("g"))
      val gtot = tf.agg(sum("a").as("tot_g"))
      val scored = tf
        .join(broadcast(tots), "source")
        .join(broadcast(gtok), "tok")
        .crossJoin(broadcast(gtot))
        .withColumn("score",
          log((col("a") + 0.5) / (col("tot_s") - col("a") + 0.5)) -
          log((col("g") - col("a") + 0.5) / (col("tot_g") - col("tot_s") - (col("g") - col("a")) + 0.5)))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("score").desc, col("tok"))
      scored.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .select(col("source"), col("rk"), col("tok"),
                col("a").as("tf"), round(col("score"), 6).as("score"))
        .orderBy("source", "rk")
    }, Some(s"""
      WITH tf AS (
        SELECT source, tok, count(*)::BIGINT AS a
        FROM (SELECT source, unnest($tokensSql) AS tok FROM documents)
        GROUP BY 1, 2),
      tots AS (SELECT source, sum(a)::BIGINT AS tot_s FROM tf GROUP BY source),
      gtok AS (SELECT tok, sum(a)::BIGINT AS g FROM tf GROUP BY tok),
      gtot AS (SELECT sum(a)::BIGINT AS tot_g FROM tf),
      scored AS (
        SELECT tf.source, tf.tok, tf.a,
               ln((tf.a + 0.5) / (t.tot_s - tf.a + 0.5)) -
               ln((gk.g - tf.a + 0.5) / (gt.tot_g - t.tot_s - (gk.g - tf.a) + 0.5)) AS score
        FROM tf JOIN tots t USING (source) JOIN gtok gk USING (tok), gtot gt),
      ranked AS (
        SELECT source, tok, a, score,
               row_number() OVER (PARTITION BY source ORDER BY score DESC, tok) AS rk
        FROM scored)
      SELECT source, rk, tok, a AS tf, round(score, 6) AS score
      FROM ranked WHERE rk <= 5
      ORDER BY source, rk
    """)),

    // ------------------------------------------------------------ Heaps'-law vocabulary growth (round 8)
    // Fit V(N) ≈ k·N^β — vocabulary size as a power law of cumulative
    // token count (Heaps/Herdan) — the corpus-planning number behind
    // tokenizer vocab budgets and dedup sizing ("how many NEW types
    // will the next 10 TB bring?"). The cumulative curve is computed
    // at BUCKET granularity, not per doc: docs partition into 100
    // doc_id-ordered buckets (bounds from a broadcast 1-row max —
    // sanctioned), each bucket contributes its token count and its
    // count of FIRST-SEEN types (min first-occurrence per type — one
    // vocab-sized aggregate), and the running sums run over the
    // 100-row bucket relation — schema-bounded, so the otherwise
    // global cumulative window never touches data-sized input at any
    // scale. ln-ln least squares via the q155 regression aggregates.
    ("q174_heaps_law", (s, d) => {
      val buckets = 100
      val toks = Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .graftCheckpoint() // feeds both the first-seen and volume aggregates
      val mx = toks.agg(max("doc_id").as("m"))
      // floor(double-division) == integer // here: operands < 2^53 so
      // the double quotient is exact enough for floor to agree with
      // DuckDB's integer division on every positive input
      def bucketOf(c: Column, m: Column): Column =
        least(lit(buckets - 1L), floor(c * buckets / (m + 1))).cast("long")
      val firstSeen = toks.groupBy("tok").agg(min("doc_id").as("first_doc"))
      val newTypes = firstSeen.crossJoin(broadcast(mx))
        .groupBy(bucketOf(col("first_doc"), col("m")).as("bucket"))
        .agg(count(lit(1)).as("new_types"))
      val vol = toks.crossJoin(broadcast(mx))
        .groupBy(bucketOf(col("doc_id"), col("m")).as("bucket"))
        .agg(count(lit(1)).as("n_tok"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("bucket")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
                     org.apache.spark.sql.expressions.Window.currentRow)
      vol.join(newTypes, Seq("bucket"), "left")
        .withColumn("cum_tok", sum("n_tok").over(w))
        .withColumn("vocab", sum(coalesce(col("new_types"), lit(0L))).over(w))
        .agg(count(lit(1)).as("n_points"),
             round(expr("regr_slope(ln(vocab), ln(cum_tok))"), 6).as("beta"),
             round(expr("regr_intercept(ln(vocab), ln(cum_tok))"), 6).as("ln_k"),
             // zero-variance guard (round 12): on a degenerate corpus
             // where every type is first seen in bucket 0 the vocab
             // curve is CONSTANT and r² is 0/0 — DuckDB's regr_r2
             // then returns thread-order-dependent noise (observed
             // 0.146/0.296/1.0 across runs at sf0.001) while Spark
             // returns 1.0. count(DISTINCT) is integer-exact in both
             // engines, so pin the degenerate case to 1.0 (a constant
             // is fit perfectly by slope 0).
             round(expr("CASE WHEN count(DISTINCT vocab) <= 1 THEN 1.0 " +
                        "ELSE regr_r2(ln(vocab), ln(cum_tok)) END"), 6).as("r2"))
    }, Some(s"""
      WITH toks AS (
        SELECT doc_id, unnest($tokensSql) AS tok FROM documents),
      mx AS (SELECT max(doc_id) AS m FROM toks),
      fs AS (SELECT tok, min(doc_id) AS first_doc FROM toks GROUP BY tok),
      nt AS (
        SELECT least(99, first_doc * 100 // (m + 1))::BIGINT AS bucket,
               count(*)::BIGINT AS new_types
        FROM fs, mx GROUP BY 1),
      vol AS (
        SELECT least(99, doc_id * 100 // (m + 1))::BIGINT AS bucket,
               count(*)::BIGINT AS n_tok
        FROM toks, mx GROUP BY 1),
      curve AS (
        SELECT v.bucket, v.n_tok,
               sum(v.n_tok) OVER w AS cum_tok,
               sum(coalesce(nt.new_types, 0)) OVER w AS vocab
        FROM vol v LEFT JOIN nt USING (bucket)
        WINDOW w AS (ORDER BY v.bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      SELECT count(*)::BIGINT AS n_points,
             round(regr_slope(ln(vocab), ln(cum_tok)), 6) AS beta,
             round(regr_intercept(ln(vocab), ln(cum_tok)), 6) AS ln_k,
             round(CASE WHEN count(DISTINCT vocab) <= 1 THEN 1.0
                        ELSE regr_r2(ln(vocab), ln(cum_tok)) END, 6) AS r2
      FROM curve
    """)),

    // ------------------------------------------------------------ Zipf rank-frequency fit (round 8)
    // Zipf's law: term frequency ≈ C·rank^(−s). Fit ln(freq) against
    // ln(rank) over the top-200 vocabulary — Heaps' (q174) sibling:
    // Heaps predicts how fast NEW types arrive, Zipf how skewed the
    // head is, and the head skew is what sizes stopword lists, cache
    // tiers and the q97 heavy-hitter sketch. The top-200 cut runs as
    // TakeOrderedAndProject (per-partition partial top-k, no global
    // vocab sort ever materializes on one task); the rank window then
    // sees a 200-row relation — schema-bounded at any corpus size.
    ("q175_zipf_law", (s, d) => {
      val tf = Tables.fanOut(Tables.documents(s, d))
        .select(explode(tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
      val top = tf.orderBy(col("c").desc, col("tok")).limit(200)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("c").desc, col("tok"))
      top.withColumn("rank", row_number().over(w).cast("long"))
        .agg(count(lit(1)).as("n_points"),
             round(expr("regr_slope(ln(c), ln(rank))"), 6).as("slope"),
             round(expr("regr_intercept(ln(c), ln(rank))"), 6).as("intercept"),
             round(expr("regr_r2(ln(c), ln(rank))"), 6).as("r2"))
    }, Some(s"""
      WITH tf AS (
        SELECT tok, count(*)::BIGINT AS c
        FROM (SELECT unnest($tokensSql) AS tok FROM documents) GROUP BY tok),
      top AS (SELECT tok, c FROM tf ORDER BY c DESC, tok LIMIT 200),
      r AS (SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS rank FROM top)
      SELECT count(*)::BIGINT AS n_points,
             round(regr_slope(ln(c), ln(rank)), 6) AS slope,
             round(regr_intercept(ln(c), ln(rank)), 6) AS intercept,
             round(regr_r2(ln(c), ln(rank)), 6) AS r2
      FROM r
    """)),

    // ------------------------------------------------------------ PMI collocations (round 8)
    // Pointwise mutual information over adjacent-token pairs — the
    // classic collocation detector ("new york", "machine learning"):
    // PMI = ln(p(xy)/(p(x)p(y))), high when a pair co-occurs far above
    // chance — q74's raw bigram counts rank "of the" first; PMI ranks
    // the pairs that MEAN something. Computed as a sum/difference of
    // single lns (ln cb + 2·ln N1 − ln N2 − ln cx − ln cy, identical
    // association order in both engines — no float aggregation at
    // all), with a min-count floor of 5 against the low-frequency PMI
    // explosion. Unigram and bigram counts come out of ONE corpus scan
    // via q89's tagged-gram trick ("1|tok" / "2|w1 w2" in a single
    // explode + aggregate, checkpointed, split by prefix afterwards —
    // everything downstream is vocabulary-bounded); both unigram
    // join-backs are vocab-keyed equi-joins; the totals are 1-row
    // broadcasts; top-20 via TakeOrdered.
    ("q176_pmi_collocations", (s, d) => {
      // lambda-bound token array (q69/q89 discipline): the otherwise-
      // branch keeps short docs out of a scan-pushed tokenize Filter
      val grams = (t: Column) => concat(
          transform(t, x => concat(lit("1|"), x)),
          when(size(t) >= 2,
            transform(sequence(lit(1), size(t) - 1), i =>
              concat(lit("2|"), element_at(t, i), lit(" "), element_at(t, i + 1))))
          .otherwise(array().cast("array<string>")))
      val counts = Tables.fanOut(Tables.documents(s, d))
        .select(explode(flatten(transform(array(tokens(col("text"))), grams))).as("g"))
        .groupBy("g").agg(count(lit(1)).as("c"))
        .graftCheckpoint() // one corpus pass feeds uni, big, and both totals
      val uni = counts.filter(col("g").startsWith("1|"))
        .select(expr("substr(g, 3)").as("tok"), col("c").as("cu"))
      val big = counts.filter(col("g").startsWith("2|"))
        .select(split(expr("substr(g, 3)"), " ").as("ws"), col("c").as("cb"))
        .select(element_at(col("ws"), 1).as("w1"), element_at(col("ws"), 2).as("w2"),
                col("cb"))
      val n1 = uni.agg(sum("cu").as("n1"))
      val n2 = big.agg(sum("cb").as("n2"))
      big.filter(col("cb") >= 5)
        .join(uni.select(col("tok").as("w1"), col("cu").as("cu1")), "w1")
        .join(uni.select(col("tok").as("w2"), col("cu").as("cu2")), "w2")
        .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
        .withColumn("pmi",
          log(col("cb").cast("double")) + lit(2.0) * log(col("n1").cast("double")) -
          log(col("n2").cast("double")) - log(col("cu1").cast("double")) -
          log(col("cu2").cast("double")))
        .orderBy(col("pmi").desc, col("w1"), col("w2")).limit(20)
        .select(col("w1"), col("w2"), col("cb"), round(col("pmi"), 6).as("pmi"))
    }, Some(s"""
      WITH toks AS (SELECT $tokensSql AS t FROM documents),
      g AS (SELECT unnest(
              ['1|' || x for x in t] ||
              ['2|' || t[i] || ' ' || t[i + 1] for i in generate_series(1, len(t) - 1)]) AS g
            FROM toks),
      counts AS (SELECT g, count(*)::BIGINT AS c FROM g GROUP BY g),
      uni AS (SELECT substr(g, 3) AS tok, c AS cu FROM counts WHERE g LIKE '1|%'),
      big AS (SELECT split_part(substr(g, 3), ' ', 1) AS w1,
                     split_part(substr(g, 3), ' ', 2) AS w2, c AS cb
              FROM counts WHERE g LIKE '2|%'),
      n1 AS (SELECT sum(cu)::BIGINT AS n1 FROM uni),
      n2 AS (SELECT sum(cb)::BIGINT AS n2 FROM big),
      scored AS (
        SELECT w1, w2, cb,
               ln(cb::DOUBLE) + 2.0 * ln(n1::DOUBLE) - ln(n2::DOUBLE)
                 - ln(u1.cu::DOUBLE) - ln(u2.cu::DOUBLE) AS pmi
        FROM big JOIN uni u1 ON u1.tok = big.w1
                 JOIN uni u2 ON u2.tok = big.w2, n1, n2
        WHERE cb >= 5)
      SELECT w1, w2, cb, round(pmi, 6) AS pmi
      FROM scored ORDER BY pmi DESC, w1, w2 LIMIT 20
    """)),

    // ------------------------------------------------------------ per-source KL drift (round 8)
    // KL(source ‖ corpus) over unigram distributions — "which crawl
    // slice is most off-distribution" in nats, the text-side sibling
    // of q126's PSI on numeric columns. The corpus mixture CONTAINS
    // each source, so p_corpus > 0 wherever p_source > 0 — no
    // smoothing needed, every term defined. Determinism: the per-term
    // contributions p·ln(p/q) are floored to integer NANO-units
    // before the per-source sum (the q92/q108 fixed-point discipline)
    // — long addition is order-free under shuffle where a double sum
    // over the vocabulary would drift by partial-sum order. One
    // (source, tok) aggregate feeds everything (checkpointed, q170
    // discipline); joins are vocab-keyed; totals broadcast.
    ("q177_source_divergence", (s, d) => {
      val tf = Tables.fanOut(Tables.documents(s, d))
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("a"))
        .graftCheckpoint()
      val tots = tf.groupBy("source").agg(sum("a").as("tot_s"))
      val gtok = tf.groupBy("tok").agg(sum("a").as("g"))
      val gtot = tf.agg(sum("a").as("tot_g"))
      val p = col("a").cast("double") / col("tot_s")
      val q = col("g").cast("double") / col("tot_g")
      tf.join(broadcast(tots), "source")
        .join(gtok, "tok")
        .crossJoin(broadcast(gtot))
        .withColumn("nano", floor(p * log(p / q) * lit(1e9)).cast("long"))
        .groupBy("source")
        .agg(max("tot_s").as("n_tok"), count(lit(1)).as("n_types"),
             round(sum("nano").cast("double") / 1e9, 6).as("kl_nats"))
        .orderBy("source")
    }, Some(s"""
      WITH tf AS (
        SELECT source, tok, count(*)::BIGINT AS a
        FROM (SELECT source, unnest($tokensSql) AS tok FROM documents)
        GROUP BY 1, 2),
      tots AS (SELECT source, sum(a)::BIGINT AS tot_s FROM tf GROUP BY source),
      gtok AS (SELECT tok, sum(a)::BIGINT AS g FROM tf GROUP BY tok),
      gtot AS (SELECT sum(a)::BIGINT AS tot_g FROM tf),
      terms AS (
        SELECT tf.source,
               floor((tf.a::DOUBLE / t.tot_s)
                     * ln((tf.a::DOUBLE / t.tot_s) / (gk.g::DOUBLE / gt.tot_g))
                     * 1e9)::BIGINT AS nano,
               t.tot_s
        FROM tf JOIN tots t USING (source) JOIN gtok gk USING (tok), gtot gt)
      SELECT source, max(tot_s)::BIGINT AS n_tok, count(*)::BIGINT AS n_types,
             round(sum(nano)::DOUBLE / 1e9, 6) AS kl_nats
      FROM terms GROUP BY source
      ORDER BY source
    """)),

    // ------------------------------------------------------------ Chao1 vocabulary richness (round 8)
    // Chao1 species-richness estimate of the UNSEEN vocabulary:
    // V̂ = V_obs + F1(F1−1)/(2(F2+1)) (bias-corrected form, defined
    // when F2 = 0), where F1/F2 are singleton/doubleton type counts —
    // "how much vocabulary does this source have that we haven't
    // sampled yet", the capture-recapture complement to q174's growth
    // CURVE (Heaps extrapolates the trajectory; Chao1 bounds the
    // destination). Two aggregates over the (source, tok) relation;
    // everything after the first is vocab-bounded.
    ("q178_chao1_richness", (s, d) => {
      Tables.fanOut(Tables.documents(s, d))
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("c"))
        .groupBy("source").agg(
          count(lit(1)).as("v_obs"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
          sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
        .withColumn("chao1", round(
          col("v_obs") + col("f1").cast("double") * (col("f1") - 1) /
            (lit(2L) * (col("f2") + 1)), 6))
        .orderBy("source")
    }, Some(s"""
      WITH tf AS (
        SELECT source, tok, count(*)::BIGINT AS c
        FROM (SELECT source, unnest($tokensSql) AS tok FROM documents)
        GROUP BY 1, 2)
      SELECT source, count(*)::BIGINT AS v_obs,
             count(*) FILTER (c = 1)::BIGINT AS f1,
             count(*) FILTER (c = 2)::BIGINT AS f2,
             round(count(*) + (count(*) FILTER (c = 1))::DOUBLE
                     * (count(*) FILTER (c = 1) - 1)
                     / (2 * (count(*) FILTER (c = 2) + 1)), 6) AS chao1
      FROM tf GROUP BY source
      ORDER BY source
    """)),

    // ------------------------------------------------------------ Gini concentration audit (round 8)
    // Gini coefficient of (a) corpus token-frequency mass — "how much
    // of the corpus is its top tokens" in one number, the scalar
    // complement to q175's fitted slope — and (b) per-source document-
    // length inequality (a source whose length mass sits in a few huge
    // docs chunks/packs very differently from a uniform one). Computed
    // on the grouped-data form of the rank formula: the value HISTOGRAM
    // (value, multiplicity) replaces the raw relation, a value-block of
    // m equal xs starting at rank r0 contributes x·(m·r0 + m(m−1)/2),
    // so the rank window runs over the histogram — bounded by DISTINCT
    // values, never corpus-sized — and every term is integer until the
    // final division (order-free sums, exact cross-engine parity). The
    // doc-length pass reads only (source, n_chars) — a column-pruned
    // scan that touches none of the text bytes.
    ("q180_concentration_gini", (s, d) => {
      val tf = Tables.fanOut(Tables.documents(s, d))
        .select(explode(tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("x"))
      val h1 = tf.groupBy("x").agg(count(lit(1)).as("m"))
        .select(lit("token_freq").as("dim"), lit("*").as("source"), col("x"), col("m"))
      val h2 = Tables.documents(s, d)
        .groupBy(col("source"), col("n_chars").as("x")).agg(count(lit(1)).as("m"))
        .select(lit("doc_chars").as("dim"), col("source"), col("x"), col("m"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("dim", "source").orderBy("x")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
                     org.apache.spark.sql.expressions.Window.currentRow)
      h1.unionByName(h2)
        .withColumn("cum", sum("m").over(w))
        .withColumn("s_part", expr("x * (m * (cum - m + 1) + (m * (m - 1)) DIV 2)"))
        .groupBy("dim", "source")
        .agg(sum("m").as("n"), sum(expr("x * m")).as("total"), sum("s_part").as("s"))
        .withColumn("gini", round(
          lit(2.0) * col("s") / (col("n").cast("double") * col("total")) -
          (col("n") + lit(1.0)) / col("n"), 6))
        .select("dim", "source", "n", "total", "gini")
        .orderBy("dim", "source")
    }, Some(s"""
      WITH tf AS (
        SELECT tok, count(*)::BIGINT AS x
        FROM (SELECT unnest($tokensSql) AS tok FROM documents) GROUP BY tok),
      h1 AS (SELECT 'token_freq' AS dim, '*' AS source, x, count(*)::BIGINT AS m
             FROM tf GROUP BY x),
      h2 AS (SELECT 'doc_chars' AS dim, source, n_chars AS x, count(*)::BIGINT AS m
             FROM documents GROUP BY source, n_chars),
      h AS (SELECT * FROM h1 UNION ALL SELECT * FROM h2),
      c AS (SELECT dim, source, x, m,
                   sum(m) OVER (PARTITION BY dim, source ORDER BY x
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM h),
      agg AS (SELECT dim, source, sum(m)::BIGINT AS n, sum(x * m)::BIGINT AS total,
                     sum(x * (m * (cum - m + 1) + (m * (m - 1)) // 2))::BIGINT AS s
              FROM c GROUP BY dim, source)
      SELECT dim, source, n, total,
             round(2.0 * s / (n::DOUBLE * total) - (n + 1.0) / n, 6) AS gini
      FROM agg ORDER BY dim, source
    """)),

    // ------------------------------------------------------------ token burstiness (round 8)
    // Church–Gale burstiness per frequent token: function words spread
    // thin and even (cf/df ≈ 1, dispersion ≈ 1), topical words clump
    // into few documents with many repeats (both ratios high) — the
    // standard signal separating stopword induction (q175's head) from
    // keyword extraction (q170's log-odds). Per token with df ≥ 20:
    // cf (corpus frequency), df (containing docs), burstiness = cf/df,
    // and the variance-to-mean Fisher dispersion of the per-doc count
    // computed over ALL N docs (zeros included) WITHOUT materializing
    // zeros: E[x]=cf/N and E[x²]=Σc²/N need only the containing-doc
    // counts plus the corpus size, so the plan stays one tokenize pass
    // → (tok, doc) count → (tok) rollup; N arrives as the sanctioned
    // 1-row broadcast cross (q170/q174 precedent), its scan pruned to
    // row-group metadata. All moment sums are integers (order-free,
    // exact cross-engine); divisions happen once at the end in
    // identical association. At 100 TB nothing here is corpus-wide but
    // the two keyed aggregations, both map-side-combining.
    ("q184_token_burstiness", (s, d) => {
      val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      val perDoc = Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy("tok", "doc_id").agg(count(lit(1)).as("c"))
      perDoc.groupBy("tok")
        .agg(sum("c").as("cf"), count(lit(1)).as("df"),
             sum(expr("c * c")).as("sumsq"))
        .filter(col("df") >= 20)
        .crossJoin(broadcast(n))
        .select(col("tok"), col("cf"), col("df"),
          round(col("cf").cast("double") / col("df"), 6).as("burstiness"),
          round((col("sumsq").cast("double") / col("n_docs") -
                 (col("cf").cast("double") / col("n_docs")) * (col("cf").cast("double") / col("n_docs"))) /
                (col("cf").cast("double") / col("n_docs")), 6).as("dispersion"))
        .orderBy("tok")
    }, Some(s"""
      WITH pd AS (
        SELECT tok, doc_id, count(*)::BIGINT AS c
        FROM (SELECT doc_id, unnest($tokensSql) AS tok FROM documents)
        GROUP BY tok, doc_id),
      tf AS (
        SELECT tok, sum(c)::BIGINT AS cf, count(*)::BIGINT AS df,
               sum(c * c)::BIGINT AS sumsq
        FROM pd GROUP BY tok HAVING count(*) >= 20),
      n AS (SELECT count(*)::BIGINT AS n_docs FROM documents)
      SELECT tok, cf, df,
             round(cf::DOUBLE / df, 6) AS burstiness,
             round((sumsq::DOUBLE / n_docs - (cf::DOUBLE / n_docs) * (cf::DOUBLE / n_docs))
                     / (cf::DOUBLE / n_docs), 6) AS dispersion
      FROM tf, n
      ORDER BY tok
    """)),

    // ------------------------------------------------------------ source vocabulary overlap (round 8)
    // Pairwise vocabulary Jaccard + containment between every pair of
    // sources — the lexical companion to q177's distributional KL:
    // KL says the sources WEIGHT words differently, this says whether
    // they even share the words (two mirrors have jaccard ≈ 1; a code
    // slice against news has tiny jaccard but possibly high
    // containment of the smaller vocabulary — the signal that decides
    // merge-vs-keep-separate for mixture design, q90/q177's consumers).
    // Plan: the corpus-sized work is ONE distinct (source, token)
    // reduction; the pair counts come from a vocab-bounded self-equi-
    // join on the token (each token fans out to its ≤|sources|²/2
    // source pairs — never a doc-level or all-pairs join), and the
    // identical distinct subplan under both join sides collapses to a
    // ReusedExchange. Set sizes attach by broadcast; |∪| = |A|+|B|−|∩|
    // by arithmetic (q145's identity). At 100 TB: sources ≈ dozens,
    // so pairs ≤ hundreds — output and join fan-out both bounded.
    ("q189_source_vocab_overlap", (s, d) => {
      val sv = Tables.fanOut(Tables.documents(s, d))
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
        .distinct()
      val sizes = sv.groupBy("source").agg(count(lit(1)).as("vsize"))
      val inter = sv.select(col("source").as("source_a"), col("tok"))
        .join(sv.select(col("source").as("source_b"), col("tok")), Seq("tok"))
        .filter(col("source_a") < col("source_b"))
        .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_shared"))
      inter
        .join(broadcast(sizes.select(col("source").as("source_a"), col("vsize").as("vocab_a"))), Seq("source_a"))
        .join(broadcast(sizes.select(col("source").as("source_b"), col("vsize").as("vocab_b"))), Seq("source_b"))
        .select(col("source_a"), col("source_b"), col("vocab_a"), col("vocab_b"), col("n_shared"),
          round(col("n_shared").cast("double") /
                (col("vocab_a") + col("vocab_b") - col("n_shared")), 6).as("jaccard"),
          round(col("n_shared").cast("double") /
                least(col("vocab_a"), col("vocab_b")), 6).as("containment"))
        .orderBy("source_a", "source_b")
    }, Some(s"""
      WITH sv AS (
        SELECT DISTINCT source, tok
        FROM (SELECT source, unnest($tokensSql) AS tok FROM documents)),
      sz AS (SELECT source, count(*)::BIGINT AS vsize FROM sv GROUP BY source),
      inter AS (
        SELECT a.source AS source_a, b.source AS source_b, count(*)::BIGINT AS n_shared
        FROM sv a JOIN sv b USING (tok)
        WHERE a.source < b.source
        GROUP BY a.source, b.source)
      SELECT source_a, source_b, sa.vsize AS vocab_a, sb.vsize AS vocab_b, n_shared,
             round(n_shared::DOUBLE / (sa.vsize + sb.vsize - n_shared), 6) AS jaccard,
             round(n_shared::DOUBLE / least(sa.vsize, sb.vsize), 6) AS containment
      FROM inter
      JOIN sz sa ON sa.source = source_a
      JOIN sz sb ON sb.source = source_b
      ORDER BY source_a, source_b
    """)),

    // ------------------------------------------------------------ multinomial naive Bayes (round 9)
    // Language classifier trained and evaluated in ONE job from
    // SUFFICIENT STATISTICS — the canonical 100 TB model-fitting
    // shape: the corpus is reduced to a (class × token) count table
    // (vocabulary-bounded, NOT corpus-sized), the add-one-smoothed
    // log-likelihood model is a V×C grid built from that table, and
    // scoring joins each doc's token counts against the grid on the
    // token key (a shuffle join that partitions cleanly — the model
    // side is vocab-sized, never collected to the driver). Confusion
    // matrix of resubstitution predictions is the judged output; the
    // diagonal dominating says the NB machinery is real, not a
    // fixture artifact (lang genuinely shapes tokens).
    //
    // Determinism: scores are floor-quantized at 6dp (Quant.quant6 —
    // round()'s halfway behavior differs across engines) BEFORE the
    // argmax in both engines, with class name as tie-break, so a
    // last-ulp libm divergence cannot flip a prediction.
    ("q198_naive_bayes_lang", (s, d) => {
      // per-doc token counts — tokenized ONCE, reused by model build
      // and scoring (localCheckpoint severs the double-tokenize;
      // reliable checkpoint at cluster scale)
      val docTok = Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "lang", "tok").agg(count(lit(1)).as("cnt"))
        .graftCheckpoint()
      val classCnt = docTok.groupBy(col("lang").as("cls"), col("tok"))
        .agg(sum("cnt").as("n_tc"))
      val classTot = classCnt.groupBy("cls").agg(sum("n_tc").as("n_c"))
      val vocab = docTok.select("tok").distinct()
      val vocabSize = vocab.agg(count(lit(1)).as("v"))
      val docsPerClass = docTok.select("doc_id", "lang").distinct()
        .groupBy(col("lang").as("cls")).agg(count(lit(1)).as("n_docs_c"))
      val nDocs = docsPerClass.agg(sum("n_docs_c").as("n_docs"))
      // V×C smoothed model grid: every (token, class) cell exists, so
      // a token unseen in a class still contributes its smoothed mass
      val grid = vocab.crossJoin(broadcast(classTot))
        .join(classCnt, Seq("tok", "cls"), "left")
        .na.fill(0L, Seq("n_tc"))
        .crossJoin(broadcast(vocabSize))
        .select(col("tok"), col("cls"),
          log((col("n_tc") + 1).cast("double") / (col("n_c") + col("v"))).as("loglik"))
      val prior = docsPerClass.crossJoin(broadcast(nDocs))
        .select(col("cls"), log(col("n_docs_c").cast("double") / col("n_docs")).as("logprior"))
      val scores = docTok.join(grid, "tok")
        .groupBy("doc_id", "lang", "cls")
        .agg(sum(col("cnt") * col("loglik")).as("ll"))
        .join(broadcast(prior), "cls")
        .select(col("doc_id"), col("lang"), col("cls"),
          Quant.quant6(col("ll") + col("logprior")).as("score"))
      val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("cls"))
      scores.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .groupBy(col("lang").as("actual"), col("cls").as("predicted"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("actual", "predicted")
    }, Some(s"""
      WITH doc_tok AS (
        SELECT doc_id, lang, tok, count(*)::BIGINT AS cnt
        FROM (SELECT doc_id, lang, unnest($tokensSql) AS tok FROM documents)
        GROUP BY doc_id, lang, tok),
      class_cnt AS (
        SELECT lang AS cls, tok, sum(cnt)::BIGINT AS n_tc
        FROM doc_tok GROUP BY lang, tok),
      class_tot AS (SELECT cls, sum(n_tc)::BIGINT AS n_c FROM class_cnt GROUP BY cls),
      vocab AS (SELECT DISTINCT tok FROM doc_tok),
      vsize AS (SELECT count(*)::BIGINT AS v FROM vocab),
      dpc AS (
        SELECT lang AS cls, count(DISTINCT doc_id)::BIGINT AS n_docs_c
        FROM doc_tok GROUP BY lang),
      ndocs AS (SELECT sum(n_docs_c)::BIGINT AS n_docs FROM dpc),
      grid AS (
        SELECT v.tok, t.cls,
               ln((COALESCE(c.n_tc, 0) + 1)::DOUBLE / (t.n_c + s.v)) AS loglik
        FROM vocab v CROSS JOIN class_tot t CROSS JOIN vsize s
        LEFT JOIN class_cnt c ON c.tok = v.tok AND c.cls = t.cls),
      prior AS (
        SELECT cls, ln(n_docs_c::DOUBLE / n_docs) AS logprior
        FROM dpc CROSS JOIN ndocs),
      scores AS (
        SELECT d.doc_id, d.lang, g.cls,
               floor((sum(d.cnt * g.loglik) + any_value(p.logprior)) * 1000000.0 + 0.5) / 1000000.0 AS score
        FROM doc_tok d
        JOIN grid g USING (tok)
        JOIN prior p ON p.cls = g.cls
        GROUP BY d.doc_id, d.lang, g.cls),
      pred AS (
        SELECT doc_id, lang,
               first(cls ORDER BY score DESC, cls) AS predicted
        FROM scores GROUP BY doc_id, lang)
      SELECT lang AS actual, predicted, count(*)::BIGINT AS n_docs
      FROM pred
      GROUP BY lang, predicted
      ORDER BY actual, predicted
    """)),

    // ------------------------------------------------------------ held-out trigram LM perplexity (round 9)
    // GENERALIZATION eval for the n-gram LM family (q138 scores docs
    // with the model they trained; this holds out doc_id%5==0 and
    // measures per-source perplexity on text the model never saw —
    // the number that actually predicts how a filter LM behaves on
    // fresh crawl). Interpolated trigram with fixed weights
    // (0.55·c₃/c₂ + 0.3·c₂/c₁ + 0.1·c₁/T + 0.05/(V+1)); the
    // vocabulary-floor term keeps unseen words finite without
    // data-dependent discounting, so every probability is a pure
    // ratio of train counts — deterministic on both engines. Count
    // tables are vocabulary-bounded; scoring joins the held-out
    // trigram stream against them on gram keys (shuffle keys =
    // n-gram, the scalable LM-serving shape: no model on the driver).
    ("q205_heldout_trigram_ppl", (s, d) => {
      def grams3(t: Column) = transform(sequence(lit(1), size(t) - 2),
        i => struct(element_at(t, i).as("u"), element_at(t, i + 1).as("v"),
                    element_at(t, i + 2).as("w")))
      def grams2(t: Column) = transform(sequence(lit(1), size(t) - 1),
        i => struct(element_at(t, i).as("u"), element_at(t, i + 1).as("v")))
      // tokenized ONCE for train AND held (round 18, guide §1.2): the
      // checkpoint moved up from the train slice to the full tokenized
      // doc relation — the held side previously re-scanned and
      // re-tokenized the corpus (r18 profile: a second single-task
      // 5000-doc scan stage). One corpus scan total; the per-doc token
      // ARRAYS (not an exploded stream) are what's materialized. The
      // size filter sits ABOVE the checkpoint: below it, the pushed
      // predicate's tokens(text) reference dragged the whole tokenize
      // into the single-task parquet scan stage under the fan-out
      // exchange (r18 profile: tasks=1, cpu≈2 s — the q36 trap in
      // filter-pushdown form); above it, the scan ships raw text, the
      // 32-task post-exchange stage tokenizes, and the filter is a
      // cheap size() check on each checkpoint read.
      val docs = Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), col("source"), tokens(col("text")).as("t"))
        .graftCheckpoint()
        .filter(size(col("t")) >= 3)
      // held-out key is doc_id % 7: the fixture assigns source as
      // doc_id % 20, so a %5 (or any divisor-of-20) split would
      // starve 16 of 20 sources of eval data; 7 is coprime to 20 →
      // every source holds out ~1/7 of its docs
      val train = docs.filter(col("doc_id") % 7 =!= 0)
      val uni = train.select(explode(col("t")).as("w1")).groupBy("w1").agg(count(lit(1)).as("c1"))
      val tot = uni.agg(sum("c1").as("tt"), count(lit(1)).as("vsz"))
      val bi = train.select(explode(grams2(col("t"))).as("g"))
        .groupBy(col("g.u").as("bu"), col("g.v").as("bv")).agg(count(lit(1)).as("c2"))
      val tri = train.select(explode(grams3(col("t"))).as("g"))
        .groupBy(col("g.u").as("tu"), col("g.v").as("tv"), col("g.w").as("tw"))
        .agg(count(lit(1)).as("c3"))
      val held = docs.filter(col("doc_id") % 7 === 0)
        .select(col("source"), explode(grams3(col("t"))).as("g"))
        .select(col("source"), col("g.u").as("u"), col("g.v").as("v"), col("g.w").as("w"))
      val p =
        when(col("c2uv") > 0, lit(0.55) * col("c3") / col("c2uv")).otherwise(lit(0.0)) +
        when(col("c1v") > 0, lit(0.3) * col("c2vw") / col("c1v")).otherwise(lit(0.0)) +
        lit(0.1) * col("c1w") / col("tt") + lit(0.05) / (col("vsz") + 1)
      held
        .join(tri, col("u") === col("tu") && col("v") === col("tv") && col("w") === col("tw"), "left")
        .join(bi.select(col("bu"), col("bv"), col("c2").as("c2uv")),
              col("u") === col("bu") && col("v") === col("bv"), "left")
        .join(bi.select(col("bu").as("b2u"), col("bv").as("b2v"), col("c2").as("c2vw")),
              col("v") === col("b2u") && col("w") === col("b2v"), "left")
        .join(uni.select(col("w1").as("uv"), col("c1").as("c1v")), col("v") === col("uv"), "left")
        .join(uni.select(col("w1").as("uw"), col("c1").as("c1w")), col("w") === col("uw"), "left")
        .na.fill(0L, Seq("c3", "c2uv", "c2vw", "c1v", "c1w"))
        .crossJoin(broadcast(tot))
        .select(col("source"), (-log(p.cast("double"))).as("nll"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_trigrams"),
             round(avg("nll"), 6).as("avg_nll"),
             round(exp(avg("nll")), 4).as("perplexity"))
        .orderBy("source")
    }, Some(s"""
      WITH toks AS (
        SELECT doc_id, source, $tokensSql AS t FROM documents),
      f AS (SELECT * FROM toks WHERE len(t) >= 3),
      train AS (SELECT * FROM f WHERE doc_id % 7 <> 0),
      held_docs AS (SELECT * FROM f WHERE doc_id % 7 = 0),
      uni AS (
        SELECT unnest(t) AS w1 FROM train),
      uni_c AS (SELECT w1, count(*)::BIGINT AS c1 FROM uni GROUP BY w1),
      tot AS (SELECT sum(c1)::BIGINT AS tt, count(*)::BIGINT AS vsz FROM uni_c),
      bi_c AS (
        SELECT u AS bu, v AS bv, count(*)::BIGINT AS c2 FROM (
          SELECT unnest(t[1:len(t)-1]) AS u, unnest(t[2:len(t)]) AS v FROM train)
        GROUP BY u, v),
      tri_c AS (
        SELECT u AS tu, v AS tv, w AS tw, count(*)::BIGINT AS c3 FROM (
          SELECT unnest(t[1:len(t)-2]) AS u, unnest(t[2:len(t)-1]) AS v,
                 unnest(t[3:len(t)]) AS w FROM train)
        GROUP BY u, v, w),
      held AS (
        SELECT source, unnest(t[1:len(t)-2]) AS u, unnest(t[2:len(t)-1]) AS v,
               unnest(t[3:len(t)]) AS w FROM held_docs),
      scored AS (
        SELECT h.source,
               -ln((CASE WHEN COALESCE(b1.c2, 0) > 0
                         THEN 0.55 * COALESCE(t3.c3, 0) / b1.c2 ELSE 0.0 END)
                   + (CASE WHEN COALESCE(u1.c1, 0) > 0
                           THEN 0.3 * COALESCE(b2.c2, 0) / u1.c1 ELSE 0.0 END)
                   + 0.1 * COALESCE(u2.c1, 0) / tt.tt
                   + 0.05 / (tt.vsz + 1)) AS nll
        FROM held h
        LEFT JOIN tri_c t3 ON t3.tu = h.u AND t3.tv = h.v AND t3.tw = h.w
        LEFT JOIN bi_c b1 ON b1.bu = h.u AND b1.bv = h.v
        LEFT JOIN bi_c b2 ON b2.bu = h.v AND b2.bv = h.w
        LEFT JOIN uni_c u1 ON u1.w1 = h.v
        LEFT JOIN uni_c u2 ON u2.w1 = h.w
        CROSS JOIN tot tt)
      SELECT source, count(*)::BIGINT AS n_trigrams,
             round(avg(nll), 6) AS avg_nll,
             round(exp(avg(nll)), 4) AS perplexity
      FROM scored
      GROUP BY source
      ORDER BY source
    """)),

    // ------------------------------------------------------------ feature-hashing collision audit (round 9)
    // The hashing-trick QA: before replacing a vocabulary with
    // hash-bucketed features (the standard move when the vocab won't
    // fit a model — Vowpal/fastText style), measure what 2^k buckets
    // actually cost on THIS corpus: how many distinct tokens collide,
    // what fraction of token MASS lands in collided buckets (mass is
    // what distorts a downstream model — a rare token colliding with
    // 'the' is drowned), and the worst buckets by distinct-token
    // pile-up. One tokenize scan → vocab aggregate (vocab-bounded) →
    // bucket aggregate (≤2^k rows); the audit table is tiny at any
    // corpus size. portableHash keeps bucket assignment bit-identical
    // in the DuckDB oracle.
    ("q214_feature_hash_audit", (s, d) => {
      // bucket count scaled to the fixture's 31-token template vocab so
      // the audit exercises REAL collisions (31 tokens → ~30 expected in
      // 16 buckets); production uses 2^18+ against a multi-million vocab
      // — the ledger shape is identical
      val bits = 4
      val nBuckets = 1 << bits
      val vocab = Tables.fanOut(Tables.documents(s, d))
        .select(explode(tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .select(col("tok"), col("cnt"), (portableHash(col("tok")) % nBuckets).as("bucket"))
      val buckets = vocab.groupBy("bucket")
        .agg(count(lit(1)).as("n_tokens_in_bucket"), sum("cnt").as("mass"))
      val summary = buckets.agg(
        count(lit(1)).as("n_used_buckets"),
        sum("n_tokens_in_bucket").as("n_vocab"),
        sum(when(col("n_tokens_in_bucket") > 1, col("n_tokens_in_bucket")).otherwise(0L))
          .as("n_collided_tokens"),
        sum(when(col("n_tokens_in_bucket") > 1, col("mass")).otherwise(0L))
          .as("collided_mass"),
        sum("mass").as("total_mass"),
        max("n_tokens_in_bucket").as("worst_bucket_tokens"))
      summary.select(
        lit(nBuckets.toLong).as("n_buckets"),
        col("n_used_buckets"), col("n_vocab"), col("n_collided_tokens"),
        round(col("n_collided_tokens").cast("double") / col("n_vocab"), 6)
          .as("token_collision_rate"),
        round(col("collided_mass").cast("double") / col("total_mass"), 6)
          .as("mass_in_collided_buckets"),
        col("worst_bucket_tokens"))
    }, Some(s"""
      WITH vocab AS (
        SELECT tok, count(*)::BIGINT AS cnt,
               ('0x'||substring(md5(tok),1,15))::BIGINT % 16 AS bucket
        FROM (SELECT unnest($tokensSql) AS tok FROM documents)
        GROUP BY tok),
      buckets AS (
        SELECT bucket, count(*)::BIGINT AS n_tokens_in_bucket, sum(cnt)::BIGINT AS mass
        FROM vocab GROUP BY bucket)
      SELECT 16::BIGINT AS n_buckets,
             count(*)::BIGINT AS n_used_buckets,
             sum(n_tokens_in_bucket)::BIGINT AS n_vocab,
             sum(CASE WHEN n_tokens_in_bucket > 1 THEN n_tokens_in_bucket ELSE 0 END)::BIGINT
               AS n_collided_tokens,
             round(sum(CASE WHEN n_tokens_in_bucket > 1 THEN n_tokens_in_bucket ELSE 0 END)::DOUBLE
                   / sum(n_tokens_in_bucket), 6) AS token_collision_rate,
             round(sum(CASE WHEN n_tokens_in_bucket > 1 THEN mass ELSE 0 END)::DOUBLE
                   / sum(mass), 6) AS mass_in_collided_buckets,
             max(n_tokens_in_bucket)::BIGINT AS worst_bucket_tokens
      FROM buckets
    """))
  )

}
