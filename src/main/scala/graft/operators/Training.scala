package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryGroup, Tables}
import graft.functions.TextFunctions.{charNgrams, tokens, tokensSql}
import graft.Tables.GraftCheckpointOps

/** Training-data assembly operators (round 6) — the steps between a
  * curated corpus and tensors on a trainer, none of which the reference
  * has any analog for (its `Processor.java` prints records):
  *
  *  - q113 BPE pair counting: the inner loop of byte-pair-encoding
  *    tokenizer induction — count adjacent symbol pairs across every
  *    token occurrence in the corpus and rank the merge candidates.
  *    One tokenize pass, two explodes (token, then its char 2-grams),
  *    one count aggregation with map-side partials, top-k via
  *    TakeOrderedAndProject. At 100 TB this is the canonical
  *    "train a tokenizer on the corpus" scan: linear, no joins, the
  *    only shuffle carries (pair, partial_count) — 2-char keys over
  *    the [a-z0-9] token alphabet, so ~36² distinct keys per
  *    partition regardless of data size (scales with charset).
  *  - q114 random projection: Johnson–Lindenstrauss sign-matrix
  *    dimensionality reduction of the embedding column (64 → 8 dims).
  *    The projection matrix is a FIXED ±1 sign matrix derived from
  *    MurmurHash3 of (out_dim, in_dim) at PLAN time — both the Spark
  *    plan and the oracle SQL are generated from the same literal
  *    signs, and each output dim sums its 64 products in identical
  *    left-to-right order, so the doubles hash-match bit-for-bit
  *    (the q92/q105 determinism discipline). Purely narrow: no
  *    shuffle at any scale — the 100 TB shape is a map over the
  *    vector column that cuts downstream ANN cost 8×.
  *  - q115 sequence packing: GPT-style training-sequence assembly —
  *    concatenate each source's document stream in doc_id order and
  *    cut fixed 2048-token context windows, emitting every document's
  *    global token offset and the window range it lands in. Packing is
  *    inherently sequential PER STREAM, so the scalable form
  *    partitions by source shard (one running sum per shard via a
  *    partitioned window — Spark plans one hash exchange + per-shard
  *    sort, every shard independent). A single global stream would
  *    funnel 100 TB through one task — the partitioned shape is the
  *    only one that survives scale-up.
  */
object Training extends QueryGroup {

  private val pairTopK = 40
  private val inDims = 64
  private val outDims = 8
  private val ctxLen = 2048

  /** Fixed ±1.0 sign for projection cell (j, i): stable MurmurHash3 of
    * the cell name, evaluated once at plan/SQL-generation time so both
    * engines receive identical literals.
    */
  private def sign(j: Int, i: Int): Double =
    if ((scala.util.hashing.MurmurHash3.stringHash(s"rp_${j}_$i") & 1) == 0) 1.0 else -1.0

  /** `rounds` BPE merge-learning rounds over a (word, cnt) vocabulary,
    * split into a (word, cnt, pos, sym) symbol table — shared by q123
    * (merge-table output) and [[bpeFinalSyms]]. Each round: weighted
    * adjacent-pair count, argmax merge (ties → lexicographic, pinned on
    * both engines), greedy non-overlapping application via the
    * islands+parity trick (see the q123 comment). Every round iterates
    * the VOCAB-sized symbol table, never the corpus; lineage is
    * checkpoint-truncated per round like q64. Returns (per-round
    * winning merges, final symbol table).
    */
  private def bpeRounds(vocab: DataFrame, rounds: Int): (Vector[DataFrame], DataFrame) = {
    val wSeq = Window.partitionBy("word").orderBy("pos")
    var syms = vocab
      .select(col("word"), col("cnt"),
              posexplode(split(col("word"), "")).as(Seq("pos", "sym")))
      .graftCheckpoint()
    var merges = Vector.empty[DataFrame]
    for (r <- 1 to rounds) {
      val adj = syms.withColumn("nxt", lead("sym", 1).over(wSeq))
      val best = adj.filter(col("nxt").isNotNull)
        .groupBy(col("sym").as("a"), col("nxt").as("b"))
        .agg(sum("cnt").as("n"))
        .orderBy(col("n").desc, col("a"), col("b")).limit(1)
        .graftCheckpoint()
      merges :+= best.select(lit(r).cast("long").as("round"), col("a"), col("b"), col("n"))
      val marked = adj.crossJoin(broadcast(best.select("a", "b")))
        .withColumn("raw", col("nxt").isNotNull &&
                           col("sym") === col("a") && col("nxt") === col("b"))
        .withColumn("rrn", sum(when(col("raw"), 1L).otherwise(0L)).over(wSeq))
        .withColumn("grp", when(col("raw"), col("pos") - col("rrn")))
      val wGrp = Window.partitionBy("word", "grp")
      syms = marked
        .withColumn("active",
          col("raw") && (col("rrn") - min("rrn").over(wGrp)) % 2 === 0)
        .withColumn("consumed", coalesce(lag("active", 1).over(wSeq), lit(false)))
        .filter(!col("consumed"))
        .select(col("word"), col("cnt"),
                row_number().over(wSeq).as("pos"),
                when(col("active"), concat(col("sym"), col("nxt")))
                  .otherwise(col("sym")).as("sym"))
        .graftCheckpoint()
    }
    (merges, syms)
  }

  /** Merge rounds of the BPE chain q164/q165/q182/q185 share. */
  private val bpeK = 5

  /** The BPE chain of q164/q165/q182/q185: the (word, cnt) vocabulary
    * of a token stream with a `word` column, then [[bpeK]] merge rounds
    * over it; returns the final symbol table. Every round runs on the
    * vocabulary, never the corpus.
    */
  private def bpeFinalSyms(docToks: DataFrame): DataFrame =
    bpeRounds(docToks.groupBy("word").agg(count(lit(1)).as("cnt")), bpeK)._2

  /** Mechanically generated k-round DuckDB CTE chain mirroring
    * [[bpeRounds]] — the `s0` symbol table split from a CTE named
    * `vocab`, then adj/best/m/g/i/a/s per round; round r's output
    * table is `s{r}` and its winning merge is `best{r}`. Shared by the
    * BPE oracles so every round's argmax AND its application are
    * verified on both engines, not just round 1.
    */
  private def bpeRoundCtesSql(rounds: Int): String = s"""s0 AS (
        SELECT word, cnt, i AS pos, substring(word, i, 1) AS sym
        FROM vocab, LATERAL (SELECT unnest(generate_series(1, length(word))) AS i) t),
      """ + (1 to rounds).map { r =>
    val prev = s"s${r - 1}"
    s"""
      adj$r AS (
        SELECT word, cnt, pos, sym,
               lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
        FROM $prev),
      best$r AS (
        SELECT sym AS a, nxt AS b, sum(cnt)::BIGINT AS n
        FROM adj$r WHERE nxt IS NOT NULL
        GROUP BY 1, 2 ORDER BY n DESC, a, b LIMIT 1),
      m$r AS (
        SELECT *, (nxt IS NOT NULL AND sym = (SELECT a FROM best$r)
                   AND nxt = (SELECT b FROM best$r)) AS raw
        FROM adj$r),
      g$r AS (
        SELECT *, sum(CASE WHEN raw THEN 1 ELSE 0 END)
                    OVER (PARTITION BY word ORDER BY pos) AS rrn
        FROM m$r),
      i$r AS (SELECT *, CASE WHEN raw THEN pos - rrn END AS grp FROM g$r),
      a$r AS (
        SELECT *, raw AND (rrn - min(rrn) OVER (PARTITION BY word, grp)) % 2 = 0 AS active
        FROM i$r),
      s$r AS (
        SELECT word, cnt,
               row_number() OVER (PARTITION BY word ORDER BY pos) AS pos,
               CASE WHEN active THEN sym || nxt ELSE sym END AS sym
        FROM (SELECT *, lag(active) OVER (PARTITION BY word ORDER BY pos) AS consumed
              FROM a$r)
        WHERE consumed IS NULL OR NOT consumed)"""
  }.mkString(",")

  /** DuckDB mirror of [[bpeFinalSyms]] over the corpus tokens: the
    * `vocab` CTE and the round chain, ending in table `s5`.
    */
  private val bpeFinalSql: String = s"""
      WITH vocab AS (
        SELECT tok AS word, count(*)::BIGINT AS cnt
        FROM (SELECT unnest($tokensSql) AS tok FROM documents) GROUP BY tok),
      ${bpeRoundCtesSql(bpeK)}"""

  override protected val entries: Vector[(String, (SparkSession, String) => DataFrame, Option[String])] = Vector(

    ("q113_bpe_pair_counts", (s, d) => {
      val tok = Tables.fanOut(Tables.documents(s, d))
        .select(explode(tokens(col("text"))).as("tok"))
        .filter(length(col("tok")) >= 2)
      tok.select(explode(charNgrams(col("tok"), 2)).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair")).limit(pairTopK)
    }, Some(s"""
      WITH tk AS (SELECT unnest($tokensSql) AS tok FROM documents),
      pairs AS (
        SELECT unnest(list_transform(generate_series(1, length(tok) - 1),
                      i -> substring(tok, i, 2))) AS pair
        FROM tk WHERE length(tok) >= 2)
      SELECT pair, count(*)::BIGINT AS n
      FROM pairs GROUP BY pair
      ORDER BY n DESC, pair
      LIMIT $pairTopK
    """)),

    // ------------------------------------------------------------ full BPE induction (round 7)
    // k REAL merge rounds of byte-pair-encoding — q113 is one pair
    // count; this is the loop: count weighted adjacent pairs, take the
    // argmax merge (ties → lexicographic, pinned on both engines),
    // APPLY it greedily left-to-right non-overlapping, recount. The
    // scale design is the classic BPE trick: the corpus is scanned
    // ONCE into a (word, freq) vocabulary, and all k rounds iterate
    // over the vocab-sized symbol table (millions of rows at 100 TB,
    // not the corpus) — every merge round is pure window/agg work
    // hash-partitioned by word, lineage checkpoint-truncated like q64.
    //
    // Greedy non-overlap is made RELATIONAL with the islands+parity
    // trick: a raw match at pos i can chain with one at i+1 only when
    // a==b (else sym[i+1]=b≠a), so maximal runs of raw matches are
    // grouped (grp = pos - running_raw_count, gaps-and-islands) and
    // the 1st, 3rd, … of each run are the active merges — exactly the
    // left-to-right scan, with no sequential dependence. Consumed
    // right-halves drop via lag(active); positions renumber with
    // row_number. Window keys (word), (word,grp) share one word-hash
    // exchange per round (subset-key reuse).
    ("q123_bpe_merge_rounds", (s, d) => {
      val rounds = 5
      val vocab = Tables.fanOut(Tables.documents(s, d))
        .select(explode(tokens(col("text"))).as("word"))
        .filter(length(col("word")) >= 2)
        .groupBy("word").agg(count(lit(1)).as("cnt"))
      val (merges, _) = bpeRounds(vocab, rounds)
      merges.reduce(_ unionByName _).orderBy("round")
    }, Some {
      val rounds = 5
      val unions = (1 to rounds)
        .map(r => s"SELECT $r::BIGINT AS round, a, b, n FROM best$r")
        .mkString(" UNION ALL ")
      s"""
      WITH vocab AS (
        SELECT tok AS word, count(*)::BIGINT AS cnt
        FROM (SELECT unnest($tokensSql) AS tok FROM documents)
        WHERE length(tok) >= 2 GROUP BY tok),
      ${bpeRoundCtesSql(rounds)}
      $unions ORDER BY round
    """
    }),

    // ------------------------------------------------------------ BPE apply/encode (round 8)
    // The stage q123 (induce merges) and q115 (pack token counts) were
    // missing between them: APPLY the learned merge table corpus-wide
    // and emit real token ids — one row per post-merge symbol position,
    // (doc_id, tok_pos, token_id, sym). Ids are frequency ranks over
    // the final symbol vocabulary (corpus-weighted, ties → symbol), the
    // convention real tokenizers ship. The scale shape is the classic
    // BPE split: the k merge rounds run on the VOCAB-sized symbol
    // table (never the corpus — q123's islands+parity loop, reused, no
    // length filter since 1-char words contribute no pairs and encode
    // unchanged, so the learned merges are IDENTICAL to q123's); the
    // corpus is touched exactly twice, once to build the (word, cnt)
    // vocabulary and once to join each token occurrence against the
    // per-word encoding — an equi-join whose build side is
    // vocabulary-bounded (AQE broadcasts it at any realistic vocab;
    // a billion-key vocab degrades to a shuffled hash join on `word`,
    // still never all-pairs). Only per-doc windows after that
    // (tok_pos numbering) — partitioned by doc_id, no global funnel.
    // The symbol-id ranking window IS single-partition by design: the
    // symbol vocabulary is bounded by charset + k merges (dozens
    // here, ~50K for a production tokenizer), schema-sized, not
    // data-sized.
    ("q164_bpe_encode", (s, d) => {
      // docToks is read TWICE (vocab build + the encode join), and
      // without a barrier each consumer re-ran scan→tokenize→explode
      // (r18 profile: two ~14 s-task-time corpus tokenize stages per
      // run). Checkpoint the token stream once — the Dedup round-18
      // single-tokenize discipline (guide §1.2 "don't recompute").
      val docToks = Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"),
                posexplode(tokens(col("text"))).as(Seq("wpos", "word")))
        .graftCheckpoint()
      val finalSyms = bpeFinalSyms(docToks)
      val symId = finalSyms.groupBy("sym").agg(sum("cnt").as("w"))
        .select(col("sym"), row_number().over(
          Window.orderBy(col("w").desc, col("sym"))).cast("long").as("token_id"))
      val wordSyms = finalSyms.join(symId, "sym")
        .select(col("word"), col("pos"), col("token_id"), col("sym"))
      // EXPLICIT broadcast of the vocab-bounded encoding table: the
      // checkpointed symbol relation carries no size estimate, so the
      // planner instead broadcast the CORPUS token stream (tiny file
      // estimate locally — and data-sized at scale) and ran the whole
      // encode join + per-doc window on the vocab side's single
      // partition (r17 profile: 1.9 s, 1 task). Broadcasting the
      // per-word encoding is the scale-correct side: it is bounded by
      // |vocab| × avg symbols/word, never by the corpus.
      docToks.join(broadcast(wordSyms), "word")
        .withColumn("tok_pos", row_number().over(
          Window.partitionBy("doc_id").orderBy("wpos", "pos")).cast("long"))
        .select(col("doc_id"), col("tok_pos"), col("token_id"), col("sym"))
        .orderBy("doc_id", "tok_pos")
    }, Some(s"""$bpeFinalSql,
      sw AS (SELECT sym, sum(cnt)::BIGINT AS w FROM s5 GROUP BY sym),
      sid AS (SELECT sym, row_number() OVER (ORDER BY w DESC, sym) AS token_id FROM sw),
      ws AS (SELECT f.word, f.pos, i.token_id, f.sym FROM s5 f JOIN sid i USING (sym)),
      dt AS (
        SELECT doc_id, i AS wpos, toks[i] AS word
        FROM (SELECT doc_id, $tokensSql AS toks FROM documents) d,
             LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i) t)
      SELECT doc_id,
             row_number() OVER (PARTITION BY doc_id ORDER BY wpos, pos) AS tok_pos,
             token_id, sym
      FROM dt JOIN ws USING (word)
      ORDER BY doc_id, tok_pos
    """)),

    // ------------------------------------------------------------ BPE-count packing (round 8)
    // q115's packing re-run on REAL post-merge token counts — the
    // handoff the two training stages need to be a pipeline: per-word
    // encoded length from the final symbol table (vocab-bounded), one
    // equi-join to the corpus token stream, per-doc sum, then the
    // per-source running-window cut into fixed 512-id context windows
    // (same partitioned-by-shard shape as q115 — no global stream).
    ("q165_bpe_packing", (s, d) => {
      val ctx = 512
      // token stream checkpointed once — vocab and the corpus-side
      // join both read it (q164 discipline, round 18)
      val docToks = Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), col("source"),
                explode(tokens(col("text"))).as("word"))
        .graftCheckpoint()
      val finalSyms = bpeFinalSyms(docToks)
      val wordLen = finalSyms.groupBy("word").agg(count(lit(1)).as("n_sym"))
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // broadcast the vocab-bounded per-word length (q164 discipline:
      // the un-estimable checkpoint side otherwise flips the broadcast
      // onto the corpus token stream)
      docToks.join(broadcast(wordLen), "word")
        .groupBy("doc_id", "source").agg(sum("n_sym").as("n_tok"))
        .withColumn("tok_end", sum("n_tok").over(w))
        .select(col("doc_id"), col("source"), col("n_tok"),
                (col("tok_end") - col("n_tok")).as("tok_start"),
                expr(s"(tok_end - n_tok) DIV $ctx").as("seq_first"),
                expr(s"(tok_end - 1) DIV $ctx").as("seq_last"))
        .orderBy("doc_id")
    }, Some(s"""$bpeFinalSql,
      wl AS (SELECT word, count(*)::BIGINT AS n_sym FROM s5 GROUP BY word),
      dt AS (
        SELECT doc_id, source, unnest($tokensSql) AS word FROM documents),
      dl AS (
        SELECT doc_id, source, sum(n_sym)::BIGINT AS n_tok
        FROM dt JOIN wl USING (word) GROUP BY 1, 2),
      c AS (
        SELECT doc_id, source, n_tok,
               sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tok_end
        FROM dl)
      SELECT doc_id, source, n_tok,
             (tok_end - n_tok)::BIGINT AS tok_start,
             ((tok_end - n_tok) // 512)::BIGINT AS seq_first,
             ((tok_end - 1) // 512)::BIGINT AS seq_last
      FROM c ORDER BY doc_id
    """)),

    // ------------------------------------------------------------ packing-efficiency audit (round 8)
    // The QC read-out over q165's packing: per source — how many
    // 512-id context windows the stream fills, how much of the last
    // window is padding waste, and how many documents SPLIT across a
    // window boundary (split_frac is the score that decides between
    // greedy-concat and length-binned packing: every split doc puts a
    // document boundary mid-sequence, every avoided split costs
    // padding). Same vocab-bounded BPE chain as q164/q165 (merge
    // rounds never touch the corpus), one extra per-source aggregate
    // over the packed relation; all ratios are exact int/int double
    // divisions — hash-clean.
    ("q182_packing_audit", (s, d) => {
      val ctx = 512
      // token stream checkpointed once — vocab and the corpus-side
      // join both read it (q164 discipline, round 18)
      val docToks = Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), col("source"),
                explode(tokens(col("text"))).as("word"))
        .graftCheckpoint()
      val finalSyms = bpeFinalSyms(docToks)
      val wordLen = finalSyms.groupBy("word").agg(count(lit(1)).as("n_sym"))
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // broadcast the vocab-bounded per-word length (q164 discipline)
      docToks.join(broadcast(wordLen), "word")
        .groupBy("doc_id", "source").agg(sum("n_sym").as("n_tok"))
        .withColumn("tok_end", sum("n_tok").over(w))
        .select(col("source"), col("n_tok"), col("tok_end"),
                expr(s"(tok_end - n_tok) DIV $ctx").as("seq_first"),
                expr(s"(tok_end - 1) DIV $ctx").as("seq_last"))
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum("n_tok").as("total_tok"),
          max(expr(s"(tok_end + $ctx - 1) DIV $ctx")).as("n_seqs"),
          sum(when(col("seq_last") > col("seq_first"), 1L).otherwise(0L)).as("split_docs"))
        .withColumn("waste_tok", col("n_seqs") * ctx - col("total_tok"))
        .withColumn("util", round(
          col("total_tok").cast("double") / (col("n_seqs") * ctx), 6))
        .withColumn("split_frac", round(
          col("split_docs").cast("double") / col("n_docs"), 6))
        .orderBy("source")
    }, Some(s"""$bpeFinalSql,
      wl AS (SELECT word, count(*)::BIGINT AS n_sym FROM s5 GROUP BY word),
      dt AS (
        SELECT doc_id, source, unnest($tokensSql) AS word FROM documents),
      dl AS (
        SELECT doc_id, source, sum(n_sym)::BIGINT AS n_tok
        FROM dt JOIN wl USING (word) GROUP BY 1, 2),
      c AS (
        SELECT doc_id, source, n_tok,
               sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tok_end
        FROM dl),
      p AS (
        SELECT source, n_tok, tok_end,
               (tok_end - n_tok) // 512 AS seq_first,
               (tok_end - 1) // 512 AS seq_last
        FROM c),
      a AS (
        SELECT source, count(*)::BIGINT AS n_docs, sum(n_tok)::BIGINT AS total_tok,
               max((tok_end + 511) // 512)::BIGINT AS n_seqs,
               count(*) FILTER (seq_last > seq_first)::BIGINT AS split_docs
        FROM p GROUP BY source)
      SELECT source, n_docs, total_tok, n_seqs, split_docs,
             (n_seqs * 512 - total_tok)::BIGINT AS waste_tok,
             round(total_tok::DOUBLE / (n_seqs * 512), 6) AS util,
             round(split_docs::DOUBLE / n_docs, 6) AS split_frac
      FROM a ORDER BY source
    """)),

    // ------------------------------------------------------------ tokenizer fertility (round 8)
    // THE standard tokenizer-evaluation metric: fertility = subword
    // tokens emitted per word, and chars-per-token (compression), per
    // source — how well the q123-learned merge table fits each slice
    // of the corpus (a tokenizer trained on web text visibly inflates
    // on code or non-English slices; fertility per slice is how that's
    // caught before a training run burns context budget on it). Same
    // vocab-bounded chain as q164/q165: the merge rounds run on the
    // VOCABULARY (never the corpus), per-word encoded length comes
    // from the final symbol table, and one equi-join + per-source
    // aggregate produces the readout. Word/char totals are integers;
    // the two ratios divide once at the end (exact cross-engine).
    ("q185_bpe_fertility", (s, d) => {
      // token stream checkpointed once (q164 discipline, round 18)
      val docToks = Tables.fanOut(Tables.documents(s, d))
        .select(col("source"), explode(tokens(col("text"))).as("word"))
        .graftCheckpoint()
      val finalSyms = bpeFinalSyms(docToks)
      val wordLen = finalSyms.groupBy("word").agg(count(lit(1)).as("n_sym"))
      // broadcast the vocab-bounded per-word length (q164 discipline)
      docToks.join(broadcast(wordLen), "word")
        .groupBy("source").agg(
          count(lit(1)).as("n_words"),
          sum("n_sym").as("n_tokens"),
          sum(length(col("word")).cast("long")).as("n_chars"))
        .select(col("source"), col("n_words"), col("n_tokens"), col("n_chars"),
          round(col("n_tokens").cast("double") / col("n_words"), 6).as("fertility"),
          round(col("n_chars").cast("double") / col("n_tokens"), 6).as("chars_per_token"))
        .orderBy("source")
    }, Some(s"""$bpeFinalSql,
      wl AS (SELECT word, count(*)::BIGINT AS n_sym FROM s5 GROUP BY word),
      dt AS (SELECT source, unnest($tokensSql) AS word FROM documents),
      a AS (
        SELECT source, count(*)::BIGINT AS n_words, sum(n_sym)::BIGINT AS n_tokens,
               sum(length(word))::BIGINT AS n_chars
        FROM dt JOIN wl USING (word) GROUP BY source)
      SELECT source, n_words, n_tokens, n_chars,
             round(n_tokens::DOUBLE / n_words, 6) AS fertility,
             round(n_chars::DOUBLE / n_tokens, 6) AS chars_per_token
      FROM a ORDER BY source
    """)),

    ("q114_random_projection", (s, d) => {
      val projCols = (0 until outDims).map { j =>
        (0 until inDims).map(i =>
          col("embedding").getItem(i).cast("double") * lit(sign(j, i)))
          .reduce(_ + _).as(s"p$j")
      }
      Tables.embeddings(s, d)
        .select(col("vec_id") +: projCols: _*)
        .orderBy("vec_id")
    }, {
      val projSql = (0 until outDims).map { j =>
        (0 until inDims).map(i => s"v[${i + 1}] * ${sign(j, i)}::DOUBLE")
          .mkString(" + ") + s" AS p$j"
      }.mkString(",\n             ")
      Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings)
      SELECT vec_id,
             $projSql
      FROM e ORDER BY vec_id
    """)
    }),

    ("q115_sequence_packing", (s, d) => {
      // ROWS frame pinned explicitly (doc_id is unique so RANGE would
      // coincide, but the oracle mirrors ROWS — keep them in lockstep)
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
                size(tokens(col("text"))).cast("long").as("n_tok"))
        .filter(col("n_tok") > 0)
        .withColumn("tok_end", sum("n_tok").over(w))
        .select(col("doc_id"), col("source"), col("n_tok"),
                (col("tok_end") - col("n_tok")).as("tok_start"),
                expr(s"(tok_end - n_tok) DIV $ctxLen").as("seq_first"),
                expr(s"(tok_end - 1) DIV $ctxLen").as("seq_last"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH t AS (
        SELECT doc_id, source, len($tokensSql)::BIGINT AS n_tok
        FROM documents),
      c AS (
        SELECT doc_id, source, n_tok,
               sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tok_end
        FROM t WHERE n_tok > 0)
      SELECT doc_id, source, n_tok,
             (tok_end - n_tok)::BIGINT AS tok_start,
             ((tok_end - n_tok) // $ctxLen)::BIGINT AS seq_first,
             ((tok_end - 1) // $ctxLen)::BIGINT AS seq_last
      FROM c ORDER BY doc_id
    """))
  )
}
