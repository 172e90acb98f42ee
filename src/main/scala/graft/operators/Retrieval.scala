package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{QueryGroup, Tables}
import graft.functions.TextFunctions.{tokens, tokensSql}
import graft.functions.VectorFunctions.{dot, l2Norm}
import graft.Tables.GraftCheckpointOps

/** Retrieval operators (round 5) — the query side of a training-data /
  * RAG pipeline, beyond the reference's surface (`Processor.java`
  * prints records; it has no search capability):
  *
  *  - q106 BM25 top-k: Okapi BM25 (k1=1.2, b=0.75) of every document
  *    against a fixed term query. ONE tokenize pass (the q85/q93
  *    discipline): per-doc tf for each query term AND the document
  *    length come out of a single doc-keyed aggregation over the
  *    exploded token relation; corpus stats (N, Σdl, per-term df) are
  *    ONE row aggregated from that same relation and broadcast back.
  *    The stats branch consumes the per-doc aggregation's SHUFFLE
  *    OUTPUT via ReusedExchange (identical exchanges ⇒ one physical
  *    tokenize even though DeduplicateRelations clones the logical
  *    subtree) — pinned by a PlanSpec assert on the executed plan.
  *    Top-k via orderBy+limit (TakeOrderedAndProject — never a global
  *    sort).
  *  - q107 hybrid retrieval with reciprocal-rank fusion: the standard
  *    two-tower serving shape — a semantic candidate list (cosine vs a
  *    query embedding, the q41 machinery) and a lexical candidate list
  *    (q106's BM25), each cut to its top-100, fused by
  *    RRF(d) = Σᵢ 1/(60 + rankᵢ(d)) over a full-outer join of the two
  *    lists. Fusing bounded candidate LISTS (not full rankings) is the
  *    scale contract: each side is a top-k, the fusion join is
  *    O(fuseK), and at 100 TB the candidate generators are the only
  *    full-corpus passes.
  *
  * Oracle determinism: BM25 scores are doubles built exclusively from
  * integer-derived values (tf, df, N, dl, Σdl) through a FIXED
  * arithmetic tree written identically in the DataFrame code and the
  * DuckDB SQL — every division/multiplication in the same order, the
  * per-term contributions summed left-to-right in fixed term order
  * (join, hash, spark, window) — so both engines execute the same IEEE
  * operation sequence and the doubles hash-match bit-for-bit (the q70
  * raw-ratio-idf lesson: ln() differs by ulps across libms, so idf is
  * the raw ratio N/df — monotone in df, same ranking, deterministic).
  * RRF scores are 1/(60+rank) of integer ranks — same argument.
  */
object Retrieval extends QueryGroup {

  /** Fixed term query, in contribution-sum order. */
  private val queryTerms = Seq("join", "hash", "spark", "window")
  private val semQueryId = 0 // query embedding: vec_id 0
  private val fuseK = 100    // per-list candidate depth fed to RRF
  private val topK = 20

  /** (doc_id, score): BM25 of every document against [[queryTerms]].
    * Single tokenize pass; the 1-row corpus-stats aggregate is
    * broadcast (a 1-row BroadcastNestedLoopJoin — the q70 pattern).
    */
  private def bm25Scored(s: SparkSession, d: String): DataFrame = {
    val tk = Tables.fanOut(Tables.documents(s, d))
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tfAggs = queryTerms.map(t =>
      sum(when(col("term") === t, 1L).otherwise(0L)).as(s"tf_$t"))
    val perDoc = tk.groupBy("doc_id")
      .agg(count(lit(1)).as("dl"), tfAggs: _*)
    val statAggs = queryTerms.map(t =>
      sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t"))
    val stats = perDoc.agg(count(lit(1)).as("n_docs"),
      sum("dl").as("sum_dl") +: statAggs: _*)
    // Per-term BM25 contribution — this tree must stay in lockstep
    // with bm25Cte's SQL: (N/df) * (tf*2.2) / (tf + 1.2*(0.25 + 0.75*(dl/avgdl))).
    // df=0 guard: a query term absent from the whole corpus would make
    // idf = N/0 → Inf, and Inf * 0 (tf is also 0 then) → NaN for EVERY
    // document; DuckDB's ÷0 behavior also differs by version. A term
    // nobody has simply contributes nothing.
    def contrib(t: String): Column = {
      val tf = col(s"tf_$t").cast("double")
      val idf = col("n_docs").cast("double") / col(s"df_$t").cast("double")
      val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
      when(col(s"df_$t") > 0,
        idf * (tf * lit(2.2)) / (tf + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl))))
        .otherwise(lit(0.0))
    }
    perDoc.crossJoin(broadcast(stats))
      .select(col("doc_id"), queryTerms.map(contrib).reduce(_ + _).as("score"))
  }

  /** DuckDB mirror of [[bm25Scored]] as a `bm25(doc_id, score)` CTE. */
  private val bm25Cte: String = {
    val tfCases = queryTerms.map(t =>
      s"sum(CASE WHEN term = '$t' THEN 1 ELSE 0 END) AS tf_$t").mkString(", ")
    val dfCases = queryTerms.map(t =>
      s"sum(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS df_$t").mkString(", ")
    val contribs = queryTerms.map(t =>
      s"""CASE WHEN df_$t > 0 THEN
            (n_docs::DOUBLE / df_$t::DOUBLE) * (tf_$t::DOUBLE * 2.2::DOUBLE)
            / (tf_$t::DOUBLE + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE * (dl::DOUBLE / (sum_dl::DOUBLE / n_docs::DOUBLE))))
          ELSE 0.0::DOUBLE END""")
      .mkString("\n        + ")
    s"""tk AS (SELECT doc_id, unnest($tokensSql) AS term FROM documents),
    per_doc AS (
      SELECT doc_id, count(*) AS dl, $tfCases
      FROM tk GROUP BY doc_id),
    stats AS (
      SELECT count(*) AS n_docs, sum(dl) AS sum_dl, $dfCases
      FROM per_doc),
    bm25 AS (
      SELECT doc_id,
        $contribs AS score
      FROM per_doc, stats)"""
  }

  override protected val entries: Vector[(String, (SparkSession, String) => DataFrame, Option[String])] = Vector(

    ("q106_bm25_topk", (s, d) => {
      val top = bm25Scored(s, d)
        .orderBy(col("score").desc, col("doc_id")).limit(topK)
      top.withColumn("rk",
          row_number().over(Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
        .select("rk", "doc_id", "score")
        .orderBy("rk")
    }, Some(s"""
      WITH $bm25Cte
      SELECT rk, doc_id, score
      FROM (SELECT doc_id, score,
                   row_number() OVER (ORDER BY score DESC, doc_id) AS rk
            FROM bm25) t
      WHERE rk <= $topK
      ORDER BY rk
    """)),

    ("q107_hybrid_rrf", (s, d) => {
      // semantic list: cosine of every embedding vs vec 0's, top fuseK.
      // Norms precomputed once; the 1-row query vector is broadcast.
      val e = Tables.fanOut(Tables.embeddings(s, d))
        .select(col("vec_id"), col("embedding"), l2Norm(col("embedding")).as("nrm"))
      val qv = e.filter(col("vec_id") === semQueryId)
        .select(col("embedding").as("qv"), col("nrm").as("qn"))
      val semTop = e.filter(col("vec_id") =!= semQueryId).crossJoin(broadcast(qv))
        .select(col("vec_id").as("id"),
                (dot(col("qv"), col("embedding")) / (col("qn") * col("nrm"))).as("cos"))
        .orderBy(col("cos").desc, col("id")).limit(fuseK)
      val sem = semTop.withColumn("r_sem",
          row_number().over(Window.orderBy(col("cos").desc, col("id"))).cast("long"))
        .select("id", "r_sem")
      val lexTop = bm25Scored(s, d)
        .orderBy(col("score").desc, col("doc_id")).limit(fuseK)
      val lex = lexTop.withColumn("r_lex",
          row_number().over(Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
        .select(col("doc_id").as("id"), col("r_lex"))
      // RRF over the union of the two candidate lists; absent rank
      // contributes 0 (the list simply didn't retrieve the doc)
      sem.join(lex, Seq("id"), "full_outer")
        .select(col("id"),
          (coalesce(lit(1.0) / (lit(60.0) + col("r_sem").cast("double")), lit(0.0)) +
           coalesce(lit(1.0) / (lit(60.0) + col("r_lex").cast("double")), lit(0.0))).as("rrf"))
        .orderBy(col("rrf").desc, col("id")).limit(topK)
        .withColumn("rk",
          row_number().over(Window.orderBy(col("rrf").desc, col("id"))).cast("long"))
        .select("rk", "id", "rrf")
        .orderBy("rk")
    }, Some(s"""
      WITH $bm25Cte,
      e AS (
        SELECT vec_id, embedding::DOUBLE[] v,
               sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) nrm
        FROM embeddings),
      qv AS (SELECT v, nrm FROM e WHERE vec_id = $semQueryId),
      sem AS (
        SELECT c.vec_id AS id,
               row_number() OVER (ORDER BY
                 (list_sum(list_transform(generate_series(1, 64), i -> qv.v[i] * c.v[i])) / (qv.nrm * c.nrm)) DESC,
                 c.vec_id) AS r_sem
        FROM e c, qv
        WHERE c.vec_id <> $semQueryId
        QUALIFY r_sem <= $fuseK),
      lex AS (
        SELECT doc_id AS id,
               row_number() OVER (ORDER BY score DESC, doc_id) AS r_lex
        FROM bm25
        QUALIFY r_lex <= $fuseK),
      fused AS (
        SELECT coalesce(s.id, l.id) AS id,
               coalesce(1.0::DOUBLE / (60.0::DOUBLE + s.r_sem::DOUBLE), 0.0::DOUBLE)
             + coalesce(1.0::DOUBLE / (60.0::DOUBLE + l.r_lex::DOUBLE), 0.0::DOUBLE) AS rrf
        FROM sem s FULL JOIN lex l ON s.id = l.id)
      SELECT rk, id, rrf
      FROM (SELECT id, rrf,
                   row_number() OVER (ORDER BY rrf DESC, id) AS rk
            FROM fused) t
      WHERE rk <= $topK
      ORDER BY rk
    """)),

    // ------------------------------------------------------------ positional phrase search (round 7)
    // Exact-phrase matching — the retrieval operation q72's
    // document-level inverted index cannot answer (it knows WHICH docs
    // contain "table" and "hash", not whether they're ADJACENT). The
    // POSITIONAL index (doc_id, pos, term) is built in one
    // tokenize+posexplode pass; a phrase "w1 w2" is then the equi-join
    // of the w1 postings with the w2 postings on (doc_id, pos+1) —
    // never a string re-scan of the documents. Both sides are
    // term-filtered BEFORE the join (isin over the phrase vocabulary),
    // so the join input is |postings of query terms|, not |corpus
    // positions| — the standard phrase-query plan of a search engine,
    // and at 100 TB exactly the persisted-index probe shape. Longer
    // phrases chain one join per extra term; the phrase table is a
    // literal relation (broadcast), so many phrases batch in ONE pass
    // over the postings.
    ("q125_phrase_search", (s, d) => {
      val phrases = Seq(("table", "hash"), ("customer", "join"))
      val pos = Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "term")))
      val w1s = phrases.map(_._1); val w2s = phrases.map(_._2)
      val phraseDf = s.createDataFrame(phrases).toDF("w1", "w2")
      val a = pos.filter(col("term").isin(w1s: _*))
        .select(col("doc_id"), col("pos"), col("term").as("w1"))
      val b = pos.filter(col("term").isin(w2s: _*))
        .select(col("doc_id").as("doc_id2"), col("pos").as("pos2"), col("term").as("w2"))
      a.join(b, col("doc_id") === col("doc_id2") && col("pos2") === col("pos") + 1)
        .join(broadcast(phraseDf), Seq("w1", "w2"))
        .select(col("doc_id"), concat_ws(" ", col("w1"), col("w2")).as("phrase"))
        .groupBy("phrase", "doc_id")
        .agg(count(lit(1)).as("n_hits"))
        .orderBy("phrase", "doc_id")
    }, Some(s"""
      WITH toks AS (SELECT doc_id, $tokensSql AS t FROM documents),
      pos AS (SELECT doc_id, generate_subscripts(t, 1) AS pos, unnest(t) AS term
              FROM toks),
      ph(w1, w2) AS (VALUES ('table', 'hash'), ('customer', 'join'))
      SELECT a.w1 || ' ' || b.w2 AS phrase, a.doc_id AS doc_id, count(*) AS n_hits
      FROM (SELECT doc_id, pos, term AS w1 FROM pos WHERE term IN ('table', 'customer')) a
      JOIN (SELECT doc_id, pos, term AS w2 FROM pos WHERE term IN ('hash', 'join')) b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      JOIN ph ON a.w1 = ph.w1 AND b.w2 = ph.w2
      GROUP BY 1, 2
      ORDER BY phrase, doc_id
    """)),

    // ------------------------------------------------------------ MMR diversified re-rank (round 7)
    // Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR'98) —
    // the diversity-aware re-ranker RAG/few-shot serving puts after
    // candidate retrieval: greedily pick argmax of
    // λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s), so the 5 returned
    // items are relevant AND mutually dissimilar (plain top-k returns
    // 5 near-copies when the corpus has near-dups). Two-stage scale
    // shape: candidate generation is the DISTRIBUTED part (top-20
    // cosine via TakeOrderedAndProject over the full corpus — the
    // q41/q107 machinery); the greedy loop then runs k=5 rounds over
    // the TINY candidate relation (localCheckpointed: 20 rows, so
    // each round plans against a snapshot, not the corpus lineage).
    // Each round is executor-side (crossJoin against the ≤k-row
    // broadcast selected set, aggregate max-sim, TakeOrdered(1));
    // only the WINNER'S ID (one long per round) crosses the driver to
    // parameterize the next round's filter — selection state, not
    // data (the q90/q97 boundary rule). The k result rows stay
    // in-plan as a union of the per-round 1-row winners. Oracle: the
    // same greedy unrolled as k generated CTE steps (the q123
    // generated-oracle pattern), correlated max-sim subquery per
    // step; scores on both engines share one IEEE op order (q62
    // precedent), rel quant6-quantized on output.
    ("q137_mmr_rerank", (s, d) => {
      val k = 5; val nCand = 20; val lam = 0.7; val mu = 0.3
      val e = Tables.fanOut(Tables.embeddings(s, d))
        .select(col("vec_id"), col("embedding"), l2Norm(col("embedding")).as("nrm"))
      val qv = e.filter(col("vec_id") === semQueryId)
        .select(col("embedding").as("qv"), col("nrm").as("qn"))
      val cand = e.filter(col("vec_id") =!= semQueryId).crossJoin(broadcast(qv))
        .select(col("vec_id"), col("embedding"), col("nrm"),
                (dot(col("qv"), col("embedding")) / (col("qn") * col("nrm"))).as("rel"))
        .orderBy(col("rel").desc, col("vec_id")).limit(nCand)
        .graftCheckpoint()
      var selectedIds = Vector.empty[Long]
      var steps = Vector.empty[DataFrame]
      var exhausted = false
      for (i <- 1 to k if !exhausted) {
        val remaining = cand.filter(!col("vec_id").isin(selectedIds: _*))
        val scored =
          if (selectedIds.isEmpty) remaining.withColumn("mmr", col("rel"))
          else {
            val sel = cand.filter(col("vec_id").isin(selectedIds: _*))
              .select(col("embedding").as("sv"), col("nrm").as("sn"))
            remaining.crossJoin(broadcast(sel))
              .groupBy("vec_id")
              .agg(first("rel").as("rel"),
                   max(dot(col("embedding"), col("sv")) / (col("nrm") * col("sn"))).as("maxsim"))
              .withColumn("mmr", lit(lam) * col("rel") - lit(mu) * col("maxsim"))
          }
        val winner = scored.orderBy(col("mmr").desc, col("vec_id")).limit(1)
          .select(col("vec_id"), col("rel")).graftCheckpoint()
        // a fixture with < k candidates must yield a partial ranking,
        // not an IndexOutOfBounds at plan-build time
        winner.collect().headOption match {
          case Some(row) =>
            selectedIds :+= row.getAs[Long]("vec_id")
            steps :+= winner.withColumn("rk", lit(i.toLong))
          case None => exhausted = true
        }
      }
      val ranked =
        if (steps.isEmpty) cand.select(lit(1L).as("rk"), col("vec_id"), col("rel")).limit(0)
        else steps.reduce(_.unionByName(_))
      ranked
        .select(col("rk"), col("vec_id"),
                (floor(col("rel") * 1000000.0 + 0.5) / 1000000.0).as("rel"))
        .orderBy("rk")
    }, Some {
      val k = 5
      // maxsim as join+group (not a correlated subquery: DuckDB lambdas
      // can't capture outer-query columns inside list_transform)
      val simCS = "list_sum(list_transform(generate_series(1, 64), j -> c.v[j] * s.v[j])) / (c.nrm * s.nrm)"
      val steps = (1 until k).map { i =>
        s"""sel$i AS (
          SELECT vec_id, v, nrm, rel, ${i + 1}::BIGINT AS rk FROM (
            SELECT c.vec_id, any_value(c.v) AS v, any_value(c.nrm) AS nrm, any_value(c.rel) AS rel,
                   max($simCS) AS maxsim
            FROM cand c, selu${i - 1} s
            WHERE c.vec_id NOT IN (SELECT vec_id FROM selu${i - 1})
            GROUP BY c.vec_id) t
          ORDER BY (0.7 * rel - 0.3 * maxsim) DESC, vec_id LIMIT 1),
        selu$i AS (SELECT * FROM selu${i - 1} UNION ALL SELECT * FROM sel$i)"""
      }.mkString(",\n")
      s"""
      WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] v,
               sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) nrm
        FROM embeddings),
      qv AS (SELECT v, nrm FROM e WHERE vec_id = $semQueryId),
      cand AS (
        SELECT vec_id, v, nrm, rel FROM (
          SELECT c.vec_id, c.v, c.nrm,
                 list_sum(list_transform(generate_series(1, 64), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm) AS rel,
                 row_number() OVER (ORDER BY
                   list_sum(list_transform(generate_series(1, 64), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm) DESC,
                   c.vec_id) AS crk
          FROM e c, qv q WHERE c.vec_id <> $semQueryId) t
        WHERE crk <= 20),
      selu0 AS (
        SELECT vec_id, v, nrm, rel, 1::BIGINT AS rk FROM cand
        ORDER BY rel DESC, vec_id LIMIT 1),
      $steps
      SELECT rk, vec_id, floor(rel * 1000000.0 + 0.5) / 1000000.0 AS rel
      FROM selu${k - 1}
      ORDER BY rk
    """})
  )
}
