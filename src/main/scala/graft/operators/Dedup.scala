package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryGroup, Tables}
import graft.functions.TextFunctions._
import graft.Tables.GraftCheckpointOps

/** Deduplication operators for a training-data pipeline, smallest to
  * largest hammer:
  *
  *  - q31 exact dedup: hash-groupBy on the raw text (one shuffle of
  *    (text, id) — at 100 TB you'd group on a digest instead, which is
  *    exactly q32).
  *  - q32 digest dedup: sha256 of whitespace-normalized text; the
  *    shuffle key drops from ~KB of text to 32 bytes.
  *  - q33 MinHash signatures: 16 seeded hashes over word 3-shingles,
  *    folded into 4 LSH band keys — all Spark built-ins (transform /
  *    array_min), fully codegen'd, zero UDFs, linear scan.
  *  - q34 MinHash-LSH near-dup pairs: band-equality self-join produces
  *    candidates (the only shuffle — keyed by 8-byte band hash), then
  *    exact shingle-Jaccard verifies ≥ 0.8. At scale this is the
  *    standard shingle→minhash→band→bucket-join plan: candidates are
  *    O(collisions), never O(n²).
  *  - q35/q36 SimHash: 60-bit signature from per-bit token-hash
  *    majorities; near-dup pairs = Hamming distance ≤ 8 (bit_count of
  *    XOR). Pair generation blocks on 9 disjoint bit chunks (pigeonhole:
  *    ≤8 differing bits leave ≥1 chunk identical), equi-joins on
  *    (chunk_id, chunk_bits), then verifies the exact Hamming bound —
  *    lossless, and candidates stay O(collisions) at any scale.
  *
  * Every query — including the sketches — is DuckDB-oracle-checked:
  * hashes use `portableHash` (md5-prefix → 60-bit long), which DuckDB
  * reproduces bit-for-bit, so LSH bucketing and SimHash bits match
  * exactly across engines.
  */
object Dedup extends QueryGroup {

  import graft.expressions.MinHashScheme

  private val numHashes = MinHashScheme.numHashes
  private val numBands = 4
  private val rowsPerBand = numHashes / numBands
  private val simBits = 60

  // ------------------------------------------------------------------ shared signature plan
  /** MinHash cost model, tuned against the benchmark: ONE md5 per token
    * (reduced to 31 bits), then each word-3-shingle gets two
    * independent hashes as base-1024/base-8191 polynomials over the
    * 3 consecutive token hashes — no per-shingle md5, no shingle string
    * building (both dominated earlier benches). The 16 MinHash functions
    * are Carter–Wegman mixes hash_k = (g1 + k·g2) mod P.
    *
    * Duplicate shingles need no dedup before the min: identical
    * shingles yield identical (g1,g2) pairs, and min() over a multiset
    * equals min() over its set.
    *
    * int64 safety on both engines: th < 2^31 ⇒ g1 < 2^51,
    * g2 < 2^58; k ≤ 15 ⇒ g1 + k·g2 < 2^62; P = 2^61 − 1.
    */
  private val prime = MinHashScheme.prime

  /** DuckDB mirror of the signature plan. */
  private val bandsCte: String = {
    val mh = (0 until numHashes).map(k =>
      s"list_min(list_transform(generate_series(1, len(g1)), i -> (g1[i] + $k * g2[i]) % $prime)) mh$k")
      .mkString(",\n             ")
    val bands = (0 until numBands).map { b =>
      val cols = (0 until rowsPerBand).map(r => s"mh${b * rowsPerBand + r}::VARCHAR").mkString("||'#'||")
      s"('0x'||substring(md5($cols),1,15))::BIGINT b$b"
    }.mkString(",\n             ")
    s"""th AS (
      SELECT doc_id,
             list_transform(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''),
                            x -> ('0x'||substring(md5(x),1,15))::BIGINT % ${MinHashScheme.tokenMod}) h
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_transform(generate_series(1, len(h) - 2), i -> (h[i] * ${MinHashScheme.base1} + h[i+1]) * ${MinHashScheme.base1} + h[i+2]) g1,
             list_transform(generate_series(1, len(h) - 2), i -> (h[i] * ${MinHashScheme.base2} + h[i+1]) * ${MinHashScheme.base2} + h[i+2]) g2
      FROM th WHERE len(h) >= 3
    ),
    mh AS (
      SELECT doc_id, list_distinct(g1) s,
             $mh
      FROM sh
    ),
    bands AS (
      SELECT doc_id, s,
             $bands
      FROM mh
    )"""
  }

  /** Word-3-shingle g1 hashes of the tokenized text (shared by the
    * signature build and the exact-Jaccard verify). The lambda is
    * coalesce-wrapped so the ELEMENT type is non-nullable (element_at
    * is nullable by signature, never null here) — otherwise a join on
    * an exploded shingle infers an isnotnull over this whole pipeline
    * and re-evaluates it below the exchange (see portableHash).
    */
  private def polyG1: Column = transform(sequence(lit(1), size(col("h")) - 2), i =>
    coalesce((element_at(col("h"), i) * MinHashScheme.base1 + element_at(col("h"), i + 1)) * MinHashScheme.base1 + element_at(col("h"), i + 2),
             lit(0L)))

  /** Filtering on the token COUNT (no hashing) keeps the predicate
    * that Catalyst pushes into the scan cheap — filtering on `size(h)`
    * after the projection alias-substitutes the whole md5 pipeline
    * into the scan's DataFilters, where it runs once per row,
    * single-threaded, before the fan-out repartition.
    */
  private def tokenHashes(s: SparkSession, d: String): DataFrame =
    Tables.fanOut(Tables.documents(s, d))
      .filter(size(tokens(col("text"))) >= 3)
      .select(col("doc_id"), tokenHashArray(col("text"), MinHashScheme.tokenMod).as("h"))

  /** [[tokenHashes]] materialized ONCE per query (round 18, guide
    * §1.2 "don't recompute"): the band/signature build and the shingle
    * verify each re-scanned the corpus text and re-tokenized (two full
    * tokenize+md5 passes per dedup query; q206 paid three). One
    * checkpointed (doc_id, h) relation now feeds every consumer — the
    * plan shows ONE tokenize scan. At 100 TB the checkpoint trades an
    * executor-local write/read of the token-hash arrays (~input-sized
    * ints, compressible) for a second full parquet text scan plus the
    * tokenize+md5 CPU pass — the same materialize-once call q231/q285
    * already made for their pair relations.
    */
  private def tokenHashesCp(s: SparkSession, d: String): DataFrame =
    tokenHashes(s, d).graftCheckpoint()

  /** Spark side of the same signature plan: the 16 minima come from the
    * one-pass MinHashSignature expression, folded into 4 band keys.
    * `hashes` is any (doc_id, h) relation — [[tokenHashes]] for a
    * single-scan query (q33), [[tokenHashesCp]] when the query also
    * verifies shingles.
    */
  private def bandsFrom(hashes: DataFrame): DataFrame = {
    val sig = org.apache.spark.sql.GraftSqlBridge.column(
      graft.expressions.MinHashSignature(
        org.apache.spark.sql.GraftSqlBridge.expression(col("h")), numHashes))
    val base = hashes.select(col("doc_id"), col("h"), sig.as("sig"))
    val withMh = (0 until numHashes).foldLeft(base) { (df, k) =>
      df.withColumn(s"mh$k", element_at(col("sig"), k + 1))
    }
    (0 until numBands).foldLeft(withMh) { (df, b) =>
      val cols = (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}"))
      df.withColumn(s"b$b", portableHash(concat_ws("#", cols: _*)))
    }.drop("h", "sig")
  }

  private def bandsDf(s: SparkSession, d: String): DataFrame =
    bandsFrom(tokenHashes(s, d))

  /** Exploded LSH band keys for ANY (doc_id, text, ...) relation —
    * (passthrough columns, band_id, band_hash), one row per band; docs
    * with < 3 tokens produce no bands (no shingle window exists). The
    * EXACT signature plan of the batch queries (token hashes →
    * one-pass MinHashSignature → portable band hashes), exposed so the
    * streaming near-dup gate (streaming/StreamNearDup) shares it and
    * the two surfaces can never drift — StreamingDepthSpec asserts a
    * doc keyed here collides with its batch-side twin.
    */
  private[graft] def bandKeys(docs: DataFrame, passthrough: Seq[String]): DataFrame = {
    val keep = passthrough.map(col)
    val base = docs.filter(size(tokens(col("text"))) >= 3)
      .select(col("doc_id") +: keep :+
        tokenHashArray(col("text"), MinHashScheme.tokenMod).as("h"): _*)
    val sig = org.apache.spark.sql.GraftSqlBridge.column(
      graft.expressions.MinHashSignature(
        org.apache.spark.sql.GraftSqlBridge.expression(col("h")), numHashes))
    val withSig = base.select(col("doc_id") +: keep :+ sig.as("sig"): _*)
    val bands = (0 until numBands).map { b =>
      val cols = (0 until rowsPerBand).map(r => element_at(col("sig"), b * rowsPerBand + r + 1))
      portableHash(concat_ws("#", cols: _*))
    }
    withSig
      .select(col("doc_id") +: keep :+
        posexplode(array(bands: _*)).as(Seq("band_id", "band_hash")): _*)
  }

  /** Distinct-shingle sets, computed ONLY for the doc_ids in `ids`,
    * from the per-query token-hash checkpoint: a broadcast semi-join
    * keyed by doc_id prunes the checkpoint to candidate docs before
    * the shingle projection. Round 18: the previous shape re-scanned
    * the corpus parquet and re-tokenized the candidates — a second
    * full text scan per query; reading the (doc_id, h) checkpoint
    * makes the verify a scan-free derivation of the same relation.
    */
  private def shinglesFrom(hashes: DataFrame, ids: DataFrame): DataFrame =
    hashes.join(broadcast(ids), "doc_id")
      .select(col("doc_id"), array_distinct(polyG1).as("s"))

  /** Min-label propagation over the near-dup graph, shared by q64 and
    * the q67 leakage-safe split: (doc_id, label) where label = min
    * doc_id of the connected component, for every doc that appears in
    * a near-dup pair. Runs on the shared convergence driver
    * (Iterative.convergeWitnessed with the (count, sum, xor) label
    * witness of Iterative.labelWitnessed). The judged cap is 3 — the
    * oracle unrolls 3 CTE steps — and an early fixpoint exit cannot
    * change the result (a fixpoint step is the identity).
    * IterativeSpec replays with a high cap to prove the fixture
    * converges within the judged 3. Lineage is checkpoint-truncated
    * per round (see q64's rationale).
    */
  private[graft] def labelPropagation(s: SparkSession, d: String,
                                      cap: Int,
                                      pairs0: Option[DataFrame] = None): Iterative.Converged[DataFrame] = {
    // pairs0: a caller-supplied checkpointed (doc_a, doc_b) relation —
    // q285 already materializes the identical pair set for its edge /
    // degree / modularity reads, and without the handoff the whole
    // band+verify pipeline (two tokenize scans) ran TWICE per query
    // (r17 profile: four identical heavy stages)
    val pairs = pairs0.getOrElse(
      minhashPairs(s, d).select("doc_a", "doc_b").graftCheckpoint())
    // repartition(src) BEFORE the checkpoint (round 18, guide §2.4 —
    // the strongSym/bfs/pagerank discipline): the symmetric union is
    // partitioned by neither key, so each of the 3 label rounds
    // re-shuffled the full edge relation for its src-keyed join; the
    // preserved partitioning makes every round's edge side
    // exchange-free (and labels0's distinct reuses it via the alias).
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .repartition(col("src")).graftCheckpoint()
    // checkpointed (via labelWitnessed below): round 1 reads `labels` on
    // BOTH sides (nbrMin build and the least() update) — without it
    // the distinct runs twice
    val labels0 = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("label", col("doc_id"))
    // witness observed inside each round's checkpoint job — one
    // barrier per round (round 13; see convergedComponents)
    Iterative.convergeWitnessed(Iterative.labelWitnessed(labels0), cap) { labels =>
      // keyed by src, not dst (round 18, the q242 flip): edges is
      // checkpointed hash-partitioned by src and labels by doc_id, so
      // this join plans with NO exchange on either side; the min is
      // grouped by the OTHER endpoint. On the symmetric edge relation
      // min_{src∈N(dst)} label(src) ≡ the old min_{dst∈N(src)}
      // label(dst) — the identical per-round relation.
      val nbrMin = edges.join(labels, col("src") === col("doc_id"))
        .groupBy("dst").agg(min("label").as("nbr_label"))
      Iterative.labelWitnessed(labels.join(nbrMin, col("doc_id") === col("dst"))
        .select(col("doc_id"), least(col("label"), col("nbr_label")).as("label")))
    }
  }

  private def clusterLabels(s: SparkSession, d: String): DataFrame =
    labelPropagation(s, d, cap = 3).state

  /** MinHash-LSH near-dup pairs (shared by q34 and the q64 clustering):
    * band-equality candidates, exact shingle-Jaccard >= 0.8 verify.
    * The band self-join shuffles ONLY (doc_id, band_id, band_hash);
    * shuffle_hash makes both sides' exchanges identical so the
    * signature build runs once (AQE stage reuse), and the shingle sets
    * for the verify are computed only for docs in a candidate pair —
    * likewise built once thanks to the verify joins' identical
    * shuffle-keyed exchanges.
    */
  private def minhashPairs(s: SparkSession, d: String,
                           hashes0: Option[DataFrame] = None): DataFrame =
    candidateJaccards(s, d, hashes0)
      .filter(col("jaccard") >= 0.8)
      .select("doc_a", "doc_b", "jaccard")

  /** LSH band candidates with their EXACT shingle Jaccard, unfiltered —
    * [[minhashPairs]] is this plus the τ=0.8 cut; q231 sweeps several
    * cuts over ONE candidate generation (thresholds are a slice of the
    * scored candidates, never a reason to rebuild the index).
    * `hashes0`: a caller-supplied token-hash checkpoint — q206 also
    * feeds its exact-baseline gram sets from the same relation, so the
    * query tokenizes once, not per pipeline.
    */
  private def candidateJaccards(s: SparkSession, d: String,
                                hashes0: Option[DataFrame] = None): DataFrame = {
    val hashes = hashes0.getOrElse(tokenHashesCp(s, d))
    val bands = bandsFrom(hashes)
    val exploded = bands.select(col("doc_id"),
        posexplode(array((0 until numBands).map(b => col(s"b$b")): _*)).as(Seq("band_id", "band_hash")))
      .hint("shuffle_hash")
    val candidates = exploded.as("x").join(exploded.as("y"),
        col("x.band_id") === col("y.band_id") &&
        col("x.band_hash") === col("y.band_hash") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val needed = candidates
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id")).distinct()
    val shingles = shinglesFrom(hashes, needed)
    val sa = shingles.select(col("doc_id").as("doc_a"), col("s").as("sa")).hint("shuffle_hash")
    val sb = shingles.select(col("doc_id").as("doc_b"), col("s").as("sb")).hint("shuffle_hash")
    candidates.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("inter", intersectionSize(col("sa"), col("sb")).cast("double"))
      .withColumn("jaccard", col("inter") / (size(col("sa")) + size(col("sb")) - col("inter")))
  }

  /** DuckDB mirror of [[minhashPairs]]: verified near-dup pairs as the
    * `near_pairs` CTE (shared by the q34 and q64 oracles).
    */
  private val pairsCte: String = s"""$bandsCte,
    cand AS (
      SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b, a.s sa, b.s sb
      FROM bands a JOIN bands b
        ON a.doc_id < b.doc_id
       AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
    ),
    near_pairs AS (
      SELECT doc_a, doc_b,
             len(list_intersect(sa, sb))::DOUBLE
               / (len(sa) + len(sb) - len(list_intersect(sa, sb))) AS jaccard
      FROM cand
      WHERE len(list_intersect(sa, sb))::DOUBLE
               / (len(sa) + len(sb) - len(list_intersect(sa, sb))) >= 0.8
    )"""

  /** DuckDB mirror of [[clusterLabels]]: k=3 min-label propagation as
    * chained CTEs over `near_pairs` (shared by the q64 and q67 oracles).
    */
  private val propagationCtes: String = {
    val props = (1 to 3).map { i =>
      s"""l$i AS (
        SELECT v.doc_id, least(v.label, min(u.label)) AS label
        FROM l${i - 1} v JOIN edges e ON e.src = v.doc_id JOIN l${i - 1} u ON u.doc_id = e.dst
        GROUP BY v.doc_id, v.label
      )"""
    }.mkString(",\n      ")
    s"""edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM near_pairs
        UNION ALL
        SELECT doc_b, doc_a FROM near_pairs
      ),
      l0 AS (SELECT DISTINCT src AS doc_id, src AS label FROM edges),
      $props"""
  }

  /** Generated SimHash SQL: per-bit majority over token hashes. */
  private val simhashCte: String = {
    val bitSums = (0 until simBits).map(b =>
      s"sum(CASE WHEN (th >> $b) & 1 = 1 THEN 1 ELSE -1 END) s$b").mkString(",\n             ")
    val assemble = (0 until simBits).map(b =>
      s"(CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
    s"""tok AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) tk
      FROM documents
    ),
    th AS (
      SELECT doc_id, ('0x'||substring(md5(tk),1,15))::BIGINT th FROM tok
    ),
    bits AS (
      SELECT doc_id,
             $bitSums
      FROM th GROUP BY doc_id
    ),
    sim AS (
      SELECT doc_id, $assemble AS simhash FROM bits
    )"""
  }

  /** Spark side of SimHash: one-pass per-row bit-majority signature over
    * the fused token-hash array (SimHash64 — no explode, no shuffle, no
    * 60-aggregate codegen class; semantics and oracle unchanged). The
    * cheap token-count filter mirrors the aggregation form's behavior
    * of emitting no row for a tokenless doc.
    */
  private def simhashDf(s: SparkSession, d: String): DataFrame =
    Tables.fanOut(Tables.documents(s, d))
      .filter(size(tokens(col("text"))) > 0)
      .select(col("doc_id"),
        org.apache.spark.sql.GraftSqlBridge.column(
          graft.expressions.SimHash64(
            org.apache.spark.sql.GraftSqlBridge.expression(tokenHashArray(col("text"), 0L)),
            simBits)).as("simhash"))

  // ------------------------------------------------------------------ queries
  override protected val entries: Vector[(String, (SparkSession, String) => DataFrame, Option[String])] = Vector(

    ("q31_dedup_exact", (s, d) => {
      Tables.documents(s, d)
        .groupBy("text")
        .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
        .select("doc_id", "n_copies")
        .orderBy("doc_id")
    }, Some("""
      SELECT min(doc_id) AS doc_id, count(*) AS n_copies
      FROM documents GROUP BY text ORDER BY doc_id
    """)),

    ("q32_dedup_hash", (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
                sha2(regexp_replace(lower(col("text")), "\\s+", " "), 256).as("digest"))
        .groupBy("digest")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("keep_id")
    }, Some("""
      SELECT sha256(regexp_replace(lower(text), '\s+', ' ', 'g')) AS digest,
             min(doc_id) AS keep_id, count(*) AS n_copies
      FROM documents GROUP BY 1 ORDER BY keep_id
    """)),

    ("q33_minhash_signatures", (s, d) => {
      bandsDf(s, d)
        .select(col("doc_id"), col("b0"), col("b1"), col("b2"), col("b3"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH $bandsCte
      SELECT doc_id, b0, b1, b2, b3 FROM bands ORDER BY doc_id
    """)),

    ("q34_minhash_lsh_pairs", (s, d) => {
      minhashPairs(s, d).orderBy("doc_a", "doc_b")
    }, Some(s"""
      WITH $pairsCte
      SELECT doc_a, doc_b, jaccard FROM near_pairs ORDER BY doc_a, doc_b
    """)),

    // ------------------------------------------------------------ dedup threshold sweep (round 10)
    // HOW aggressive should the near-dup cut be? Score the LSH
    // candidates ONCE (checkpointed — the expensive half: band join +
    // shingle verify), then slice the scored pairs at τ ∈ {0.7, 0.8,
    // 0.9} — per threshold: surviving pairs, docs touched, mean
    // Jaccard. The parameter-sweep discipline at 100 TB: thresholds
    // are a FILTER over scored candidates, never a reason to rerun
    // candidate generation (a naive sweep would triple the dominant
    // cost). τ=0.8's row is exactly q34's pair set, tying the sweep to
    // the production cut.
    ("q231_dedup_threshold_sweep", (s, d) => {
      val taus = Seq(0.7, 0.8, 0.9)
      val cj = candidateJaccards(s, d)
        .select("doc_a", "doc_b", "jaccard")
        .graftCheckpoint() // one candidate generation serves every τ
      val tagged = cj
        .select(explode(array(taus.map(lit): _*)).as("tau"),
                col("doc_a"), col("doc_b"), col("jaccard"))
        .filter(col("jaccard") >= col("tau"))
      val pairsAgg = tagged.groupBy("tau")
        .agg(count(lit(1)).as("n_pairs"),
             round(avg("jaccard"), 6).as("mean_jaccard"))
      val docsAgg = tagged
        .select(col("tau"), explode(array(col("doc_a"), col("doc_b"))).as("doc"))
        .groupBy("tau").agg(countDistinct(col("doc")).as("n_docs_in_pairs"))
      pairsAgg.join(docsAgg, "tau").orderBy("tau")
    }, Some(s"""
      WITH $bandsCte,
      cand AS (
        SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b, a.s sa, b.s sb
        FROM bands a JOIN bands b
          ON a.doc_id < b.doc_id
         AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)),
      cj AS (
        SELECT doc_a, doc_b,
               len(list_intersect(sa, sb))::DOUBLE
                 / (len(sa) + len(sb) - len(list_intersect(sa, sb))) AS jaccard
        FROM cand),
      taus(tau) AS (VALUES (0.7::DOUBLE), (0.8::DOUBLE), (0.9::DOUBLE)),
      tagged AS (SELECT t.tau, cj.doc_a, cj.doc_b, cj.jaccard
                 FROM cj, taus t WHERE cj.jaccard >= t.tau),
      pa AS (SELECT tau, count(*)::BIGINT AS n_pairs,
                    round(avg(jaccard), 6) AS mean_jaccard
             FROM tagged GROUP BY tau),
      da AS (SELECT tau, count(DISTINCT doc)::BIGINT AS n_docs_in_pairs
             FROM (SELECT tau, unnest([doc_a, doc_b]) AS doc FROM tagged)
             GROUP BY tau)
      SELECT pa.tau, pa.n_pairs, pa.mean_jaccard, da.n_docs_in_pairs
      FROM pa JOIN da USING (tau)
      ORDER BY tau
    """)),

    // ------------------------------------------------------------ dedup token savings (round 10)
    // What dedup buys in TRAINING BUDGET, not documents: per source,
    // estimated token mass before dedup vs after keep-canonical
    // (q112's contract: min-id per near-dup component survives,
    // untouched docs pass) — the number that prices dedup against GPU
    // hours (q186 counts docs; tokens are what the loss sees).
    // Estimated tokens are the q54/q66 integer length proxy, so the
    // ledger is integer-exact; the labels are the checkpoint-truncated
    // q64 propagation, joined (doc_id, source, length)-pruned — text
    // is never re-read for the kept decision.
    ("q239_dedup_token_savings", (s, d) => {
      val est = expr("(length(text) + 3) DIV 4")
      val docs = Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), col("source"), est.as("est_tokens"))
      val canon = clusterLabels(s, d)
      docs.join(canon, Seq("doc_id"), "left")
        .withColumn("kept", col("label").isNull || col("label") === col("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
             sum("est_tokens").as("raw_tokens"),
             sum(when(col("kept"), col("est_tokens")).otherwise(0L)).as("kept_tokens"))
        .withColumn("saved_tokens", col("raw_tokens") - col("kept_tokens"))
        .withColumn("saved_share",
          round(col("saved_tokens") / col("raw_tokens").cast("double"), 6))
        .orderBy("source")
    }, Some(s"""
      WITH $pairsCte,
      $propagationCtes,
      docs AS (
        SELECT doc_id, source, (length(text) + 3) // 4 AS est_tokens
        FROM documents),
      flagged AS (
        SELECT d.source, d.est_tokens,
               (l.label IS NULL OR l.label = d.doc_id) AS kept
        FROM docs d LEFT JOIN l3 l USING (doc_id))
      SELECT source, count(*)::BIGINT AS n_docs,
             sum(est_tokens)::BIGINT AS raw_tokens,
             sum(CASE WHEN kept THEN est_tokens ELSE 0 END)::BIGINT AS kept_tokens,
             (sum(est_tokens) - sum(CASE WHEN kept THEN est_tokens ELSE 0 END))::BIGINT AS saved_tokens,
             round((sum(est_tokens) - sum(CASE WHEN kept THEN est_tokens ELSE 0 END))
                   / sum(est_tokens)::DOUBLE, 6) AS saved_share
      FROM flagged
      GROUP BY source
      ORDER BY source
    """)),

    // ------------------------------------------------------------ dup cluster-size histogram (round 10)
    // The SHAPE of duplication, not just its volume (q186 counts
    // removals; this shows whether duplication is pairwise noise or
    // template blow-ups): distribution of q64 connected-component
    // sizes — (cluster_size, n_clusters, n_docs) — from the same
    // checkpoint-truncated propagation labels, two aggregate-sized
    // group-bys past the pair generation. A heavy tail here is the
    // signature of boilerplate/template families that per-pair
    // thresholds can't characterize.
    ("q234_cluster_size_histogram", (s, d) => {
      clusterLabels(s, d)
        .groupBy("label").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size")
        .agg(count(lit(1)).as("n_clusters"),
             sum("cluster_size").as("n_docs"))
        .orderBy("cluster_size")
    }, Some(s"""
      WITH $pairsCte,
      $propagationCtes,
      sizes AS (
        SELECT label, count(*)::BIGINT AS cluster_size
        FROM l3 GROUP BY label)
      SELECT cluster_size, count(*)::BIGINT AS n_clusters,
             sum(cluster_size)::BIGINT AS n_docs
      FROM sizes
      GROUP BY cluster_size
      ORDER BY cluster_size
    """)),

    ("q64_dedup_clusters", (s, d) => {
      // Cluster the near-dup graph and pick each document's canonical
      // representative (min doc_id in its connected component) — the
      // step after pair generation in a real dedup pipeline. Min-label
      // propagation with a FIXED iteration count (k=3) so the oracle
      // can replay it as chained CTEs; LSH near-dup components are
      // near-cliques (diameter ~1-2), and the convergence property
      // (both endpoints of every edge share a canonical id) is asserted
      // in LlmOpsSpec rather than assumed. Each iteration is one
      // edges⋈labels shuffle keyed by doc_id. Iterative lineage MUST be
      // truncated (each unchecked iteration re-plans and re-runs the
      // whole pair-generation DAG — measured 21 s vs 4 s at sf0.1):
      // localCheckpoint here, reliable checkpoint() on a real cluster —
      // the same discipline Spark's own iterative algorithms use.
      clusterLabels(s, d).select(col("doc_id"), col("label").as("canonical_id")).orderBy("doc_id")
    }, Some(s"""
      WITH $pairsCte,
      $propagationCtes
      SELECT doc_id, label AS canonical_id FROM l3 ORDER BY doc_id
    """)),

    ("q67_leakage_safe_split", (s, d) => {
      // Split assignment that cannot leak near-duplicates across the
      // train/test boundary: hash the CLUSTER's canonical id (q64),
      // not the doc id, so every member of a near-dup component lands
      // in the same train/val/test bucket. Docs outside any near-dup
      // pair are their own canonical. The classic contamination
      // pitfall q65's per-doc split cannot prevent.
      val canon = clusterLabels(s, d)
      Tables.documents(s, d).select("doc_id")
        .join(canon, Seq("doc_id"), "left")
        .withColumn("canonical_id", coalesce(col("label"), col("doc_id")))
        .withColumn("h", portableHash(col("canonical_id").cast("string")))
        .withColumn("split",
          when(expr("h % 100") < 80, "train")
            .when(expr("h % 100") < 90, "val")
            .otherwise("test"))
        .select("doc_id", "canonical_id", "split")
        .orderBy("doc_id")
    }, Some(s"""
      WITH $pairsCte,
      $propagationCtes,
      assigned AS (
        SELECT d.doc_id, coalesce(l.label, d.doc_id) AS canonical_id
        FROM documents d LEFT JOIN l3 l ON l.doc_id = d.doc_id
      )
      SELECT doc_id, canonical_id,
             CASE WHEN h % 100 < 80 THEN 'train'
                  WHEN h % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT doc_id, canonical_id,
                   ('0x'||substring(md5(canonical_id::VARCHAR),1,15))::BIGINT AS h
            FROM assigned) t
      ORDER BY doc_id
    """)),

    ("q35_simhash", (s, d) => {
      simhashDf(s, d).orderBy("doc_id")
    }, Some(s"""
      WITH $simhashCte
      SELECT doc_id, simhash FROM sim ORDER BY doc_id
    """)),

    ("q36_simhash_pairs", (s, d) => {
      // Pigeonhole blocking: two 60-bit signatures within Hamming
      // distance 8 must agree EXACTLY on at least one of 9 disjoint bit
      // chunks (8 differing bits can dirty at most 8 chunks). So:
      // explode each signature to its 9 (chunk_id, chunk_bits) keys,
      // equi-join on them, then verify bit_count(xor) <= 8. Candidates
      // are O(chunk collisions), the shuffle is keyed by a <=7-bit
      // chunk value — never the all-pairs O(n²) BNLJ this replaces.
      // Lossless: the result set is identical to a full self-join, which
      // the (unchanged, all-pairs) DuckDB oracle proves independently.
      // checkpointed (round 18): the chunk equi-join's isnotnull
      // constraint on chunk_bits was inferred through to
      // isnotnull(simhash64(token_hashes(text))) and alias-substituted
      // into the parquet scan's DataFilters — the whole signature
      // pipeline ran once per row inside the SINGLE-TASK scan stage,
      // BEFORE the fan-out (the q61/q119 portableHash trap; r18
      // profile: 1.4 s 1-task stage). The checkpoint truncates lineage
      // so the inferred filter stops at the materialized relation,
      // whose own build plan has no join above it — the scan stage
      // keeps only the cheap token-count filter, and the signature
      // build provably runs once for both join sides (no reliance on
      // exchange reuse).
      val sh = simhashDf(s, d).graftCheckpoint()
      val widths = Seq.fill(6)(7) ++ Seq.fill(3)(6)        // 6×7 + 3×6 = 60 bits
      val offsets = widths.scanLeft(0)(_ + _)
      val chunkStructs = (0 until 9).map { c =>
        struct(lit(c).as("chunk_id"),
               shiftright(col("simhash"), offsets(c))
                 .bitwiseAND(lit((1L << widths(c)) - 1)).as("chunk_bits"))
      }
      // shuffle_hash hint: both join sides then plan the IDENTICAL
      // shuffle over the signature aggregation, so ReuseExchange
      // computes the (expensive) simhash build once, not per side.
      val exploded = sh.select(col("doc_id"), col("simhash"),
          explode(array(chunkStructs: _*)).as("ch"))
        .select(col("doc_id"), col("simhash"),
                col("ch.chunk_id").as("chunk_id"), col("ch.chunk_bits").as("chunk_bits"))
        .hint("shuffle_hash")
      // A qualifying pair collides in every clean chunk; keeping it only
      // at its FIRST clean chunk (computable from the xor alone) emits
      // each pair exactly once — no distinct, one shuffle fewer.
      val xorCol = col("a.simhash").bitwiseXOR(col("b.simhash"))
      val firstClean = (8 to 0 by -1).foldLeft(lit(9): Column) { (acc, c) =>
        when(shiftright(xorCol, offsets(c)).bitwiseAND(lit((1L << widths(c)) - 1)) === 0L,
             lit(c)).otherwise(acc)
      }
      exploded.as("a").join(exploded.as("b"),
          col("a.chunk_id") === col("b.chunk_id") &&
          col("a.chunk_bits") === col("b.chunk_bits") &&
          col("a.doc_id") < col("b.doc_id"))
        .filter(bit_count(xorCol) <= 8 && col("a.chunk_id") === firstClean)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
                bit_count(xorCol).cast("long").as("hamming"))
        .orderBy("doc_a", "doc_b")
    }, Some(s"""
      WITH $simhashCte
      SELECT a.doc_id doc_a, b.doc_id doc_b, bit_count(xor(a.simhash, b.simhash))::BIGINT hamming
      FROM sim a JOIN sim b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
      ORDER BY doc_a, doc_b
    """)),

    ("q68_incremental_dedup", (s, d) => {
      // Incremental (daily-ingest) dedup: which NEW documents (batch =
      // doc_id % 10 == 7, a deterministic stand-in for "today's
      // arrivals") near-duplicate something already in the corpus?
      // Unlike q34's self-join, the plan broadcasts the SMALL batch's
      // band keys against one streaming pass over the corpus signatures
      // — at 100 TB there is NO shuffle of the corpus at all, which is
      // why production dedup runs incrementally instead of re-running
      // the full pairwise job per ingest.
      // one tokenize scan (round 18): hashes checkpointed once, the
      // signature/band build materialized once on top of it — the new
      // and old slices then read the band checkpoint instead of each
      // re-running scan→tokenize→signature (two full passes before)
      val hashes = tokenHashesCp(s, d)
      val bands = bandsFrom(hashes).graftCheckpoint()
      val bandArr = posexplode(array((0 until numBands).map(b => col(s"b$b")): _*))
      val isNew = col("doc_id") % 10 === 7
      val newEx = bands.filter(isNew)
        .select(col("doc_id").as("new_id"), bandArr.as(Seq("band_id", "band_hash")))
      val oldEx = bands.filter(!isNew)
        .select(col("doc_id").as("old_id"), bandArr.as(Seq("band_id", "band_hash")))
      val cand = oldEx.join(broadcast(newEx), Seq("band_id", "band_hash"))
        .select("new_id", "old_id").distinct()
      val needed = cand.select(explode(array(col("new_id"), col("old_id"))).as("doc_id")).distinct()
      val shingles = shinglesFrom(hashes, needed)
      val sn = shingles.select(col("doc_id").as("new_id"), col("s").as("sn")).hint("shuffle_hash")
      val so = shingles.select(col("doc_id").as("old_id"), col("s").as("so")).hint("shuffle_hash")
      cand.join(sn, "new_id").join(so, "old_id")
        .withColumn("inter", intersectionSize(col("sn"), col("so")).cast("double"))
        .withColumn("jaccard", col("inter") / (size(col("sn")) + size(col("so")) - col("inter")))
        .filter(col("jaccard") >= 0.8)
        .select("new_id", "old_id", "jaccard")
        .orderBy("new_id", "old_id")
    }, Some(s"""
      WITH $bandsCte,
      cand AS (
        SELECT DISTINCT n.doc_id new_id, o.doc_id old_id, n.s sn, o.s so
        FROM bands n JOIN bands o
          ON n.doc_id % 10 = 7 AND o.doc_id % 10 <> 7
         AND (n.b0 = o.b0 OR n.b1 = o.b1 OR n.b2 = o.b2 OR n.b3 = o.b3)
      )
      SELECT new_id, old_id,
             len(list_intersect(sn, so))::DOUBLE
               / (len(sn) + len(so) - len(list_intersect(sn, so))) AS jaccard
      FROM cand
      WHERE len(list_intersect(sn, so))::DOUBLE
               / (len(sn) + len(so) - len(list_intersect(sn, so))) >= 0.8
      ORDER BY new_id, old_id
    """)),

    ("q61_ngram_jaccard_pairs", (s, d) => {
      // Set-similarity join on word-trigram sets with AllPairs/PPJoin
      // prefix filtering: under a consistent GLOBAL gram order, any
      // pair with Jaccard >= t must share a gram within each side's
      // first (len - ceil(t*len) + 1) grams, so an equi-join on prefix
      // grams is a LOSSLESS candidate generator — exact, unlike q34's
      // probabilistic minhash bands — which the all-pairs DuckDB oracle
      // proves. Grams are the same portable int64 trigram hashes as
      // q34's verify sets, and the HASH VALUE is the global order:
      // the classic rarest-first ordering would need a corpus-wide
      // frequency join + per-doc re-sort (a ~20-exchange DAG whose
      // fixed overhead dwarfed its pruning win here — trigram doc
      // frequency is already capped ≈25 in this corpus), while the
      // hash order makes the prefix a pure per-row slice of the sorted
      // set. ceil(t*len) uses exact integer arithmetic
      // ((3*len + 4) DIV 5 for t = 0.6) — a float ceil could round up
      // and silently shorten the prefix below the lossless bound.
      val jt = 0.6
      // `len` is a join-condition column below; coalesce makes it
      // non-nullable so no `isnotnull(size(<full hash pipeline>))`
      // constraint is inferred and pushed under the exchange (that
      // inferred filter alone cost 60 s/5k docs — see portableHash).
      // one tokenize scan (round 18): the prefix index and the verify
      // sets both derive from the per-query token-hash checkpoint
      val hashes = tokenHashesCp(s, d)
      val grams = hashes.select(col("doc_id"), sort_array(array_distinct(polyG1)).as("g"))
      val prefix = grams.select(col("doc_id"), coalesce(size(col("g")), lit(0)).as("len"),
          posexplode(slice(col("g"), lit(1), expr("size(g) - ((3 * size(g) + 4) DIV 5) + 1")))
            .as(Seq("pos", "gram")))
        .hint("shuffle_hash")
      // PPJoin length filter (t·|a| ≤ |b| ≤ |a|/t, here 3|a| ≤ 5|b| ∧
      // 3|b| ≤ 5|a|) and positional filter: matching at 0-based
      // positions (pa, pb), the overlap can't exceed
      // min(la−pa, lb−pb), which must reach minoverlap =
      // ceil(t/(1+t)·(la+lb)) = (3(la+lb)+7) DIV 8. Both are lossless
      // (a qualifying pair's FIRST shared gram sits in both prefixes
      // and bounds the true overlap) and prune before the distinct and
      // the expensive set-intersect verify.
      val cand = prefix.as("x").join(prefix.as("y"),
          col("x.gram") === col("y.gram") && col("x.doc_id") < col("y.doc_id") &&
          col("x.len") * 3 <= col("y.len") * 5 && col("y.len") * 3 <= col("x.len") * 5 &&
          least(col("x.len") - col("x.pos"), col("y.len") - col("y.pos")) >=
            expr("(3 * (x.len + y.len) + 7) DIV 8"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()
      val needed = cand.select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id")).distinct()
      // shuffle_hash (not broadcast) verify joins, as in q34: the gram
      // sets are heavy array payloads AQE can't see in the candidate
      // shuffle's byte stats — a broadcast probe would run the whole
      // verify in one coalesced task. The two shingle exchanges also
      // canonicalize identically, so the build runs once.
      val gsets = shinglesFrom(hashes, needed)
      val ga = gsets.select(col("doc_id").as("doc_a"), col("s").as("ga")).hint("shuffle_hash")
      val gb = gsets.select(col("doc_id").as("doc_b"), col("s").as("gb")).hint("shuffle_hash")
      cand.join(ga, "doc_a").join(gb, "doc_b")
        .withColumn("inter", intersectionSize(col("ga"), col("gb")).cast("double"))
        .withColumn("jaccard", col("inter") / (size(col("ga")) + size(col("gb")) - col("inter")))
        .filter(col("jaccard") >= jt)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    }, Some(s"""
      WITH th AS (
        SELECT doc_id,
               list_transform(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''),
                              x -> ('0x'||substring(md5(x),1,15))::BIGINT % ${MinHashScheme.tokenMod}) h
        FROM documents
      ),
      g AS (
        SELECT doc_id,
               list_distinct(list_transform(generate_series(1, len(h) - 2),
                 i -> (h[i] * ${MinHashScheme.base1} + h[i+1]) * ${MinHashScheme.base1} + h[i+2])) g
        FROM th WHERE len(h) >= 3
      )
      SELECT a.doc_id doc_a, b.doc_id doc_b,
             len(list_intersect(a.g, b.g))::DOUBLE
               / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) AS jaccard
      FROM g a JOIN g b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.g, b.g))::DOUBLE
               / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) >= 0.6
      ORDER BY doc_a, doc_b
    """)),

    // ------------------------------------------------------------ canonical selection (round 5)
    // The step a real dedup pipeline runs AFTER clustering (q64):
    // collapse each near-dup cluster to ONE kept document — by policy
    // "longest wins, ties to the smallest doc_id" (keep-longest is the
    // standard web-corpus heuristic; q64's min-id canonical is an
    // arbitrary label, not a quality choice). Singleton docs are their
    // own cluster. The argmax is min(struct(-n_chars, doc_id)) —
    // map-side combinable, no per-cluster sort, one cluster-keyed
    // shuffle at any scale.
    ("q112_canonical_docs", (s, d) => {
      val canon = clusterLabels(s, d)
      Tables.documents(s, d).select("doc_id", "n_chars")
        .join(canon, Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("label"), col("doc_id")))
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_members"),
             min(struct((-col("n_chars")).as("neg_chars"),
                        col("doc_id").as("id"))).as("m"))
        .select(col("cluster_id"), col("m.id").as("keep_id"),
                (-col("m.neg_chars")).as("keep_chars"), col("n_members"))
        .orderBy("cluster_id")
    }, Some(s"""
      WITH $pairsCte,
      $propagationCtes,
      assigned AS (
        SELECT d.doc_id, d.n_chars, coalesce(l.label, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN l3 l ON l.doc_id = d.doc_id),
      ranked AS (
        SELECT cluster_id, doc_id, n_chars,
               row_number() OVER (PARTITION BY cluster_id
                 ORDER BY n_chars DESC, doc_id) AS rn,
               count(*) OVER (PARTITION BY cluster_id) AS n_members
        FROM assigned)
      SELECT cluster_id, doc_id AS keep_id, n_chars AS keep_chars, n_members
      FROM ranked WHERE rn = 1 ORDER BY cluster_id
    """)),

    // ------------------------------------------------------------ dedup survivor-quality audit (round 11)
    // Does keep-longest dedup BIAS the corpus? Per source, compare the
    // docs dedup keeps (cluster canonicals + singletons) against the
    // docs it drops: counts, token mass, and mean lexical diversity
    // (type-token ratio). A kept-vs-dropped quality gap is the evidence
    // for (or against) the q112 keep-longest rule — longer docs often
    // REPEAT more (lower TTR), so "keep longest" can systematically
    // keep the less diverse member. Reuses the shared q64 cluster
    // labels and the q112 canonical argmax (min-struct, map-side
    // combinable); one tokenize scan for the quality metric.
    ("q250_dedup_quality_audit", (s, d) => {
      val canon = clusterLabels(s, d)
      val docs = Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), col("source"), col("n_chars"), tokens(col("text")).as("t"))
        .select(col("doc_id"), col("source"), col("n_chars"),
                size(col("t")).cast("long").as("nt"),
                size(array_distinct(col("t"))).cast("long").as("ty"))
      val assigned = docs.join(canon, Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("label"), col("doc_id")))
        .graftCheckpoint() // keep-argmax + audit rollup both read it
      val keepIds = assigned.groupBy("cluster_id")
        .agg(min(struct((-col("n_chars")).as("neg_chars"), col("doc_id").as("id")))
          .getField("id").as("keep_id"))
      assigned.join(keepIds, "cluster_id")
        .withColumn("kept", col("doc_id") === col("keep_id"))
        .withColumn("ttr", when(col("nt") > 0, col("ty").cast("double") / col("nt")))
        .groupBy("source", "kept")
        .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"),
             Quant.quant6(avg("ttr")).as("mean_ttr"))
        .orderBy("source", "kept")
    }, Some(s"""
      WITH $pairsCte,
      $propagationCtes,
      toks AS (
        SELECT doc_id, source, n_chars,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
        FROM documents),
      m AS (SELECT doc_id, source, n_chars, len(t)::BIGINT AS nt,
                   len(list_distinct(t))::BIGINT AS ty
            FROM toks),
      assigned AS (
        SELECT m.*, coalesce(l.label, m.doc_id) AS cluster_id
        FROM m LEFT JOIN l3 l ON l.doc_id = m.doc_id),
      keep AS (
        SELECT cluster_id, doc_id AS keep_id FROM assigned
        QUALIFY row_number() OVER (PARTITION BY cluster_id
                                   ORDER BY n_chars DESC, doc_id) = 1)
      SELECT a.source, a.doc_id = k.keep_id AS kept,
             count(*)::BIGINT AS n_docs, sum(a.nt)::BIGINT AS n_tokens,
             floor(avg(CASE WHEN a.nt > 0 THEN a.ty::DOUBLE / a.nt END)
                   * 1000000.0 + 0.5) / 1000000.0 AS mean_ttr
      FROM assigned a JOIN keep k USING (cluster_id)
      GROUP BY 1, 2
      ORDER BY source, kept
    """)),

    // ------------------------------------------------------------ containment join (round 6)
    // DIRECTIONAL set-containment pairs: C(A→B) = |A∩B| / |A| ≥ 0.8
    // over the q61 word-trigram sets — the asymmetric complement to
    // Jaccard dedup. A 200-gram excerpt fully quoted inside a
    // 5000-gram page has Jaccard ≈ 0.04 (q61/q34 never see it) but
    // containment 1.0; quote/excerpt detection is exactly this join.
    // Candidate generation is the PPJoin prefix filter adapted to
    // containment: under the global hash order, a qualifying pair
    // must match within the CONTAINED side's first
    // len − ⌈0.8·len⌉ + 1 grams, equi-joined against the container
    // side's FULL sorted gram list (an inverted-index probe — the
    // container side has no prefix bound because containment imposes
    // no upper length limit on B). Lossless one-sided length filter
    // (|B| ≥ 0.8·|A|) and positional filter (remaining grams past the
    // first shared position must still reach ⌈0.8·|A|⌉) prune before
    // the exact intersectionSize verify. The oracle is the
    // independent all-pairs definition.
    ("q119_containment_pairs", (s, d) => {
      // ceil(0.8·len) in exact integer arithmetic: (4·len + 4) DIV 5
      // one tokenize scan (round 18): hashes checkpointed once; the
      // sorted gram sets are ALSO checkpointed (q206 discipline) since
      // the probe and index branches each read them — before, the
      // branches shared the fan-out exchange but still ran the
      // gram pipeline twice, and the verify re-scanned the corpus
      val hashes = tokenHashesCp(s, d)
      val grams = hashes
        .select(col("doc_id"), sort_array(array_distinct(polyG1)).as("g"))
        .graftCheckpoint()
      val probe = grams.select(col("doc_id"), coalesce(size(col("g")), lit(0)).as("len"),
          posexplode(slice(col("g"), lit(1), expr("size(g) - ((4 * size(g) + 4) DIV 5) + 1")))
            .as(Seq("pos", "gram")))
        .hint("shuffle_hash")
      // posexplode over a NO-OP slice, not the bare column: a bare
      // posexplode(g) makes Catalyst infer `size(g) > 0 ∧ isnotnull(g)`
      // and push it — alias-substituted into the ENTIRE md5+gram
      // pipeline — below the fan-out exchange into the single-task scan
      // stage (measured 15 s of the 17 s total; the portableHash/q61
      // trap). A slice-rooted generator gets no inferred constraint,
      // and the two branches' scan filters then canonicalize
      // identically, so the fan-out exchange is built once and reused.
      val index = grams.select(col("doc_id"), coalesce(size(col("g")), lit(0)).as("len"),
          posexplode(slice(col("g"), lit(1), size(col("g")))).as(Seq("pos", "gram")))
        .hint("shuffle_hash")
      val cand = probe.as("x").join(index.as("y"),
          col("x.gram") === col("y.gram") && col("x.doc_id") =!= col("y.doc_id") &&
          col("y.len") * 5 >= col("x.len") * 4 &&
          least(col("x.len") - col("x.pos"), col("y.len") - col("y.pos")) >=
            expr("(4 * x.len + 4) DIV 5"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()
      val needed = cand.select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id")).distinct()
      val gsets = shinglesFrom(hashes, needed)
      val ga = gsets.select(col("doc_id").as("doc_a"), col("s").as("ga")).hint("shuffle_hash")
      val gb = gsets.select(col("doc_id").as("doc_b"), col("s").as("gb")).hint("shuffle_hash")
      cand.join(ga, "doc_a").join(gb, "doc_b")
        .withColumn("containment",
          intersectionSize(col("ga"), col("gb")).cast("double") / size(col("ga")))
        .filter(col("containment") >= 0.8)
        .select("doc_a", "doc_b", "containment")
        .orderBy("doc_a", "doc_b")
    }, Some(s"""
      WITH th AS (
        SELECT doc_id,
               list_transform(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''),
                              x -> ('0x'||substring(md5(x),1,15))::BIGINT % ${MinHashScheme.tokenMod}) h
        FROM documents
      ),
      g AS (
        SELECT doc_id,
               list_distinct(list_transform(generate_series(1, len(h) - 2),
                 i -> (h[i] * ${MinHashScheme.base1} + h[i+1]) * ${MinHashScheme.base1} + h[i+2])) g
        FROM th WHERE len(h) >= 3
      )
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.g, b.g))::DOUBLE / len(a.g) AS containment
      FROM g a JOIN g b ON a.doc_id <> b.doc_id
      WHERE len(list_intersect(a.g, b.g))::DOUBLE / len(a.g) >= 0.8
      ORDER BY doc_a, doc_b
    """)),

    // ---------------------------------------------- cross-source duplication matrix (round 7)
    // WHERE does the duplication come from? Roll the q34 near-dup
    // pairs up to (source_a, source_b): off-diagonal mass is
    // mirror-site / syndication copying (drop one side wholesale),
    // diagonal mass is within-source boilerplate (fix the extractor)
    // — the triage report a curation team reads before deduping 100 TB
    // blind. The pair relation inherits q34's band-blocked plan; the
    // doc→source attachment is two hash joins on doc_id against the
    // 2-column projection (never the text), and the final aggregate
    // is ≤|sources|² rows. Source pair canonicalized (least/greatest)
    // so A→B and B→A copying land in one cell.
    ("q162_source_dup_matrix", (s, d) => {
      val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
      minhashPairs(s, d)
        .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
        .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
        .select(least(col("sa"), col("sb")).as("source_a"),
                greatest(col("sa"), col("sb")).as("source_b"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_dup_pairs"))
        .orderBy(col("n_dup_pairs").desc, col("source_a"), col("source_b"))
    }, Some(s"""
      WITH $pairsCte,
      attached AS (
        SELECT least(da.source, db.source) AS source_a,
               greatest(da.source, db.source) AS source_b
        FROM near_pairs p
        JOIN documents da ON da.doc_id = p.doc_a
        JOIN documents db ON db.doc_id = p.doc_b)
      SELECT source_a, source_b, count(*) AS n_dup_pairs
      FROM attached
      GROUP BY source_a, source_b
      ORDER BY n_dup_pairs DESC, source_a, source_b
    """)),

    // ------------------------------------------------------------ dedup impact accounting (round 8)
    // The before/after ledger for the whole q34→q64 pipeline: per
    // source — corpus size, docs sitting in a near-dup cluster, docs a
    // keep-canonical policy (q112's min-id) would REMOVE, docs kept,
    // distinct clusters represented, and the dedup ratio. This is the
    // number a curation team actually reports ("web-crawl is 12%
    // near-duplicate; books is 0.3%") and the sanity gate before
    // committing to a destructive dedup pass — q162 says WHERE the
    // duplication comes from, this says HOW MUCH each slice loses.
    // Plan: clusterLabels' band-blocked pair generation + k=3
    // propagation (shared, lineage-truncated), one left join against
    // the (doc_id, source) projection — never the text — and a
    // ≤|sources| aggregate. The distinct-cluster count rides the same
    // aggregate via Spark's single-distinct rewrite (bounded by docs
    // in clusters, a tiny relation after the near-dup filter).
    ("q186_dedup_impact", (s, d) => {
      val canon = clusterLabels(s, d)
      Tables.documents(s, d).select(col("doc_id"), col("source"))
        .join(canon, Seq("doc_id"), "left")
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("label").isNotNull, 1L).otherwise(0L)).as("in_near_dup"),
          sum(when(col("label").isNotNull && col("label") =!= col("doc_id"), 1L)
            .otherwise(0L)).as("removed"),
          countDistinct(col("label")).as("n_clusters"))
        .select(col("source"), col("n_docs"), col("in_near_dup"), col("removed"),
          (col("n_docs") - col("removed")).as("kept"), col("n_clusters"),
          round(col("removed").cast("double") / col("n_docs"), 6).as("dedup_ratio"))
        .orderBy("source")
    }, Some(s"""
      WITH $pairsCte,
      $propagationCtes,
      j AS (
        SELECT d.source, d.doc_id, l.label
        FROM documents d LEFT JOIN l3 l ON l.doc_id = d.doc_id)
      SELECT source, count(*)::BIGINT AS n_docs,
             count(label)::BIGINT AS in_near_dup,
             coalesce(count(*) FILTER (label <> doc_id), 0)::BIGINT AS removed,
             (count(*) - coalesce(count(*) FILTER (label <> doc_id), 0))::BIGINT AS kept,
             count(DISTINCT label)::BIGINT AS n_clusters,
             round(coalesce(count(*) FILTER (label <> doc_id), 0)::DOUBLE / count(*), 6) AS dedup_ratio
      FROM j GROUP BY source ORDER BY source
    """)),

    // ------------------------------------------------------------ sparse cosine pairs (round 8)
    // WEIGHTED sparse-vector similarity join: cosine over per-document
    // term-frequency vectors restricted to the rare-token vocabulary
    // (df ≤ 25) — the frequency-aware sibling of q61's set Jaccard.
    // Jaccard treats "tokenizer appears 40×" and "appears once" the
    // same; tf-cosine is what catches template pages that share the
    // same rare vocabulary in the same PROPORTIONS (near-identical term
    // histograms under paraphrase-level edits that break shingle
    // overlap). The df cap is the semantics, not a shortcut: it IS the
    // stopword/boilerplate removal an idf weighting would do softly,
    // and simultaneously the scale contract — candidate generation is
    // a token-keyed equi-join whose per-token fan-out is ≤ df² ≤ 625
    // pairs, so candidates are O(Σ_rare df²), never O(n²), at any
    // corpus size (df=1 tokens can't produce a pair and are pruned
    // from the JOIN but kept in the norms — pure lossless pruning).
    // Determinism: numerator Σ tf_a·tf_b and both norm² sums are
    // INTEGER aggregates (order-free, exact); sqrt/divide happen once
    // on identical longs, so both engines produce bit-identical
    // cosines before the final 6-dp rounding. The two join sides are
    // the same (tok-keyed) subplan — physically one exchange, reused.
    ("q191_sparse_cosine_pairs", (s, d) => {
      val dfCap = 25L
      val simT = 0.5
      val tf = Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val v = tf.join(dfreq, "tok").filter(col("df") <= dfCap)
      val nrm = v.groupBy("doc_id").agg(sum(col("tf") * col("tf")).as("n2"))
      val joinable = v.filter(col("df") >= 2)
      val num = joinable.as("a")
        .join(joinable.as("b"),
          col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_shared_terms"),
             sum(col("a.tf") * col("b.tf")).as("num"))
      num
        .join(nrm.select(col("doc_id").as("doc_a"), col("n2").as("na2")), "doc_a")
        .join(nrm.select(col("doc_id").as("doc_b"), col("n2").as("nb2")), "doc_b")
        .withColumn("cosine",
          col("num").cast("double") /
            (sqrt(col("na2").cast("double")) * sqrt(col("nb2").cast("double"))))
        .filter(col("cosine") >= simT)
        .select(col("doc_a"), col("doc_b"), col("n_shared_terms"),
                round(col("cosine"), 6).as("cosine"))
        .orderBy("doc_a", "doc_b")
    }, Some(s"""
      WITH tk AS (
        SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                          t -> t <> '')) AS tok
        FROM documents),
      tf AS (SELECT doc_id, tok, count(*)::BIGINT AS tf FROM tk GROUP BY doc_id, tok),
      dfreq AS (SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY tok),
      v AS (SELECT t.doc_id, t.tok, t.tf, f.df
            FROM tf t JOIN dfreq f USING (tok) WHERE f.df <= 25),
      nrm AS (SELECT doc_id, sum(tf * tf)::BIGINT AS n2 FROM v GROUP BY doc_id),
      num AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               count(*)::BIGINT AS n_shared_terms, sum(a.tf * b.tf)::BIGINT AS num
        FROM v a JOIN v b ON a.tok = b.tok AND a.doc_id < b.doc_id
        WHERE a.df >= 2
        GROUP BY a.doc_id, b.doc_id)
      SELECT doc_a, doc_b, n_shared_terms,
             round(num::DOUBLE / (sqrt(na.n2::DOUBLE) * sqrt(nb.n2::DOUBLE)), 6) AS cosine
      FROM num
      JOIN nrm na ON na.doc_id = doc_a
      JOIN nrm nb ON nb.doc_id = doc_b
      WHERE num::DOUBLE / (sqrt(na.n2::DOUBLE) * sqrt(nb.n2::DOUBLE)) >= 0.5
      ORDER BY doc_a, doc_b
    """)),

    // ------------------------------------------------------------ dedup index quality eval (round 9)
    // Measures the MinHash-LSH pipeline's pair recall IN-ENGINE
    // against a LOSSLESS exact baseline at the same τ=0.8 — the
    // go/no-go a dedup owner runs before trusting band parameters on
    // a new corpus. The exact side is NOT all-pairs: the PPJoin
    // prefix-filter bound (any pair with J≥τ must share a gram in
    // each side's first len−⌈τ·len⌉+1 grams, with the τ·|a|≤|b|
    // length window) makes the candidate generator exact AND
    // equi-join-shaped — the same contract as q61, here at τ=0.8 with
    // ⌈0.8·len⌉ = (4·len+4) DIV 5 in exact integer arithmetic. The
    // DuckDB oracle proves losslessness by brute all-pairs. LSH
    // verifies candidates exactly, so false positives must be ZERO —
    // the eval asserts that structurally (fp is an output column);
    // every miss is a band-collision miss, the quantity RECALL.json
    // tracks from outside and this query makes auditable from inside.
    ("q206_dedup_recall_eval", (s, d) => {
      val tau = 0.8
      // ONE tokenize scan for the whole eval (round 18): the LSH side
      // (bands + its verify) and the exact-baseline gram sets all
      // derive from the same token-hash checkpoint — before, the query
      // paid three full scan+tokenize passes (LSH bands, LSH verify,
      // exact grams). The gram sets stay checkpointed on top: prefix +
      // both verify sides read them (the sort_array subtree ran 3×
      // without it).
      val hashes = tokenHashesCp(s, d)
      val lsh = minhashPairs(s, d, Some(hashes))
        .select(col("doc_a"), col("doc_b"), lit(1).as("in_lsh"))
      // every hashed doc is a document row, so deriving the all-docs
      // gram sets straight from the checkpoint both drops the second
      // scan AND the broadcast of every doc_id the old
      // semi-join-against-allIds shape shipped to every executor
      val grams = hashes
        .select(col("doc_id"), sort_array(array_distinct(polyG1)).as("g"))
        .graftCheckpoint()
      val prefix = grams.select(col("doc_id"), coalesce(size(col("g")), lit(0)).as("len"),
          explode(slice(col("g"), lit(1), expr("size(g) - ((4 * size(g) + 4) DIV 5) + 1"))).as("gram"))
        .hint("shuffle_hash")
      val cand = prefix.as("x").join(prefix.as("y"),
          col("x.gram") === col("y.gram") && col("x.doc_id") < col("y.doc_id") &&
          col("x.len") * 4 <= col("y.len") * 5 && col("y.len") * 4 <= col("x.len") * 5)
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()
      val sa = grams.select(col("doc_id").as("doc_a"), col("g").as("ga")).hint("shuffle_hash")
      val sb = grams.select(col("doc_id").as("doc_b"), col("g").as("gb")).hint("shuffle_hash")
      val exact = cand.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("inter", intersectionSize(col("ga"), col("gb")).cast("double"))
        .filter(col("inter") / (size(col("ga")) + size(col("gb")) - col("inter")) >= tau)
        .select(col("doc_a"), col("doc_b"), lit(1).as("in_exact"))
      exact.join(lsh, Seq("doc_a", "doc_b"), "full_outer")
        .agg(sum(coalesce(col("in_exact"), lit(0))).cast("long").as("n_exact"),
             sum(coalesce(col("in_lsh"), lit(0))).cast("long").as("n_lsh"),
             sum(when(col("in_exact").isNotNull && col("in_lsh").isNotNull, 1L)
               .otherwise(0L)).as("tp"),
             sum(when(col("in_exact").isNotNull && col("in_lsh").isNull, 1L)
               .otherwise(0L)).as("fn"),
             sum(when(col("in_exact").isNull && col("in_lsh").isNotNull, 1L)
               .otherwise(0L)).as("fp"))
        .select(col("n_exact"), col("n_lsh"), col("tp"), col("fn"), col("fp"),
          round(when(col("n_lsh") > 0, col("tp").cast("double") / col("n_lsh"))
            .otherwise(lit(1.0)), 6).as("precision"),
          round(when(col("n_exact") > 0, col("tp").cast("double") / col("n_exact"))
            .otherwise(lit(1.0)), 6).as("recall"))
    }, Some(s"""
      WITH $pairsCte,
      exact AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM mh a JOIN mh b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.s, b.s))::DOUBLE
              / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8),
      j AS (
        SELECT COALESCE(e.doc_a, n.doc_a) AS doc_a,
               COALESCE(e.doc_b, n.doc_b) AS doc_b,
               e.doc_a IS NOT NULL AS in_exact,
               n.doc_a IS NOT NULL AS in_lsh
        FROM exact e
        FULL OUTER JOIN (SELECT doc_a, doc_b FROM near_pairs) n
          ON e.doc_a = n.doc_a AND e.doc_b = n.doc_b)
      SELECT sum(CASE WHEN in_exact THEN 1 ELSE 0 END)::BIGINT AS n_exact,
             sum(CASE WHEN in_lsh THEN 1 ELSE 0 END)::BIGINT AS n_lsh,
             sum(CASE WHEN in_exact AND in_lsh THEN 1 ELSE 0 END)::BIGINT AS tp,
             sum(CASE WHEN in_exact AND NOT in_lsh THEN 1 ELSE 0 END)::BIGINT AS fn,
             sum(CASE WHEN NOT in_exact AND in_lsh THEN 1 ELSE 0 END)::BIGINT AS fp,
             round(CASE WHEN sum(CASE WHEN in_lsh THEN 1 ELSE 0 END) > 0
                        THEN sum(CASE WHEN in_exact AND in_lsh THEN 1 ELSE 0 END)::DOUBLE
                             / sum(CASE WHEN in_lsh THEN 1 ELSE 0 END)
                        ELSE 1.0 END, 6) AS precision,
             round(CASE WHEN sum(CASE WHEN in_exact THEN 1 ELSE 0 END) > 0
                        THEN sum(CASE WHEN in_exact AND in_lsh THEN 1 ELSE 0 END)::DOUBLE
                             / sum(CASE WHEN in_exact THEN 1 ELSE 0 END)
                        ELSE 1.0 END, 6) AS recall
      FROM j
    """)),

    // ------------------------------------------------------------ MinHash estimator calibration (round 9)
    // Is k=16 signature components ENOUGH? The MinHash identity says
    // E[matching components / k] = true Jaccard; this query measures
    // the estimator's actual bias and MAE on this corpus, binned by
    // the (exact, 17-valued) match count — the calibration table a
    // dedup owner reads before trusting signature-only similarity
    // (e.g. the streaming gate) without an exact verify pass. Pairs
    // are the LSH candidates (band-blocked, never all-pairs); both
    // signatures ride the band relation, true Jaccard comes from the
    // same shingle sets q34 verifies with.
    ("q218_minhash_calibration", (s, d) => {
      // one tokenize scan (round 18): the signature/band checkpoint is
      // built FROM the token-hash checkpoint, and the true-Jaccard
      // shingle sets read the same hashes instead of re-scanning
      val hashes = tokenHashesCp(s, d)
      val bands = bandsFrom(hashes).graftCheckpoint() // exploded keys + both signature sides
      val exploded = bands.select(col("doc_id"),
          posexplode(array((0 until numBands).map(b => col(s"b$b")): _*)).as(Seq("band_id", "band_hash")))
        .hint("shuffle_hash")
      val cand = exploded.as("x").join(exploded.as("y"),
          col("x.band_id") === col("y.band_id") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()
      val sigA = bands.select(col("doc_id").as("doc_a") +:
        (0 until numHashes).map(k => col(s"mh$k").as(s"ma$k")): _*)
      val sigB = bands.select(col("doc_id").as("doc_b") +:
        (0 until numHashes).map(k => col(s"mh$k").as(s"mb$k")): _*)
      val nMatch = (0 until numHashes)
        .map(k => (col(s"ma$k") === col(s"mb$k")).cast("int"))
        .reduce(_ + _)
      // LSH candidates only cover the top of the similarity range (on
      // this tiny-vocab fixture they ALL share full signatures); a
      // systematic PROBE sample — (doc, doc+1) and (doc, doc+17)
      // pairs, two bounded equi-joins — covers the low end, so the
      // table calibrates the estimator across its range, not just
      // where the index already fired
      val ids = bands.select("doc_id")
      val probes = Seq(1, 17).map { step =>
        ids.join(ids.select((col("doc_id") - step).as("doc_id"),
            col("doc_id").as("doc_b")), "doc_id")
          .select(col("doc_id").as("doc_a"), col("doc_b"))
      }.reduce(_ unionByName _).withColumn("pair_source", lit("probe"))
      val pairs = cand.withColumn("pair_source", lit("lsh_candidate"))
        .unionByName(probes)
      val needed = pairs
        .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id")).distinct()
      val sh = shinglesFrom(hashes, needed)
      val sa = sh.select(col("doc_id").as("doc_a"), col("s").as("sa")).hint("shuffle_hash")
      val sb = sh.select(col("doc_id").as("doc_b"), col("s").as("sb")).hint("shuffle_hash")
      pairs.join(sigA, "doc_a").join(sigB, "doc_b")
        .select(col("pair_source"), col("doc_a"), col("doc_b"), nMatch.as("n_match"))
        .join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("inter", intersectionSize(col("sa"), col("sb")).cast("double"))
        .select(col("pair_source"), col("n_match"),
          (col("inter") / (size(col("sa")) + size(col("sb")) - col("inter"))).as("true_j"))
        .groupBy("pair_source", "n_match")
        .agg(count(lit(1)).as("n_pairs"),
             round(avg("true_j"), 6).as("avg_true_jaccard"),
             round(avg(abs(col("n_match").cast("double") / numHashes - col("true_j"))), 6)
               .as("mae"))
        .select(col("pair_source"), col("n_match").cast("long").as("n_matching"),
          round(col("n_match").cast("double") / numHashes, 6).as("est_jaccard"),
          col("n_pairs"), col("avg_true_jaccard"), col("mae"))
        .orderBy("pair_source", "n_matching")
    }, Some({
      val matchSum = (0 until numHashes)
        .map(k => s"(CASE WHEN ma.mh$k = mb.mh$k THEN 1 ELSE 0 END)").mkString(" + ")
      s"""
      WITH $bandsCte,
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.doc_id < b.doc_id
         AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)),
      ids AS (SELECT doc_id FROM bands),
      pairs AS (
        SELECT doc_a, doc_b, 'lsh_candidate' AS pair_source FROM cand
        UNION ALL
        SELECT a.doc_id, b.doc_id, 'probe'
        FROM ids a JOIN ids b ON b.doc_id = a.doc_id + 1
        UNION ALL
        SELECT a.doc_id, b.doc_id, 'probe'
        FROM ids a JOIN ids b ON b.doc_id = a.doc_id + 17),
      est AS (
        SELECT c.pair_source, c.doc_a, c.doc_b, ($matchSum) AS n_match,
               len(list_intersect(ma.s, mb.s))::DOUBLE
                 / (len(ma.s) + len(mb.s) - len(list_intersect(ma.s, mb.s))) AS true_j
        FROM pairs c
        JOIN mh ma ON ma.doc_id = c.doc_a
        JOIN mh mb ON mb.doc_id = c.doc_b)
      SELECT pair_source, n_match::BIGINT AS n_matching,
             round(n_match / 16.0, 6) AS est_jaccard,
             count(*)::BIGINT AS n_pairs,
             round(avg(true_j), 6) AS avg_true_jaccard,
             round(avg(abs(n_match / 16.0 - true_j)), 6) AS mae
      FROM est
      GROUP BY pair_source, n_match
      ORDER BY pair_source, n_matching
    """})),

    // ------------------------------------------------------------ near-dup graph modularity (round 12)
    // Structural quality of the q64 clustering: Newman modularity
    // Q = Σ_c (e_c/m − (d_c/2m)²) of the near-dup graph under the
    // propagated labels. Since the labels converge to connected
    // components, every edge is intra-community and the within-edge
    // join doubles as a convergence cross-check (e_c sums to m);
    // the (d_c/2m)² term is what separates "one giant hairball"
    // from "many tight cliques" — the shape that tells you whether
    // an aggressive canonical-doc cut is safe. Pairs are generated
    // ONCE (checkpointed) and feed edges, degrees, and the label
    // join; all modularity math is exact integers until the two
    // final ratios on the ≤|components| relation; m rides along as
    // a 1-row broadcast (sanctioned cross shape).
    ("q285_graph_modularity", (s, d) => {
      val pairs = minhashPairs(s, d).select("doc_a", "doc_b").graftCheckpoint()
      // reuse THIS pair checkpoint for the propagation — labels and
      // modularity must see the same graph anyway, and the handoff
      // halves the query's tokenize+band+verify work (see
      // labelPropagation)
      val labels = labelPropagation(s, d, cap = 3, pairs0 = Some(pairs)).state
      val deg = pairs.select(col("doc_a").as("doc_id"))
        .union(pairs.select(col("doc_b").as("doc_id")))
        .groupBy("doc_id").agg(count(lit(1)).as("deg"))
      val mdf = pairs.agg(count(lit(1)).as("m"))
      val within = pairs
        .join(labels.select(col("doc_id").as("doc_a"), col("label").as("ca")), "doc_a")
        .join(labels.select(col("doc_id").as("doc_b"), col("label").as("cb")), "doc_b")
        .filter(col("ca") === col("cb"))
        .groupBy(col("ca").as("community")).agg(count(lit(1)).as("n_edges_within"))
      labels.join(deg, "doc_id")
        .groupBy(col("label").as("community"))
        .agg(count(lit(1)).as("n_nodes"), sum("deg").as("degree_sum"))
        .join(within, Seq("community"), "left")
        .withColumn("n_edges_within", coalesce(col("n_edges_within"), lit(0L)))
        .crossJoin(broadcast(mdf))
        .select(col("community"), col("n_nodes"), col("n_edges_within"),
          col("degree_sum"),
          Quant.quant6(col("n_edges_within").cast("double") / col("m")
            - (col("degree_sum").cast("double") / (col("m") * 2))
              * (col("degree_sum").cast("double") / (col("m") * 2)))
            .as("q_contribution"))
        .orderBy("community")
    }, Some(s"""
      WITH $pairsCte,
      $propagationCtes,
      deg AS (SELECT src AS doc_id, count(*)::BIGINT AS deg FROM edges GROUP BY 1),
      mm AS (SELECT count(*)::BIGINT AS m FROM near_pairs),
      com AS (
        SELECT l.label AS community, count(*)::BIGINT AS n_nodes,
               sum(g.deg)::BIGINT AS degree_sum
        FROM l3 l JOIN deg g ON g.doc_id = l.doc_id
        GROUP BY 1),
      wi AS (
        SELECT la.label AS community, count(*)::BIGINT AS n_edges_within
        FROM near_pairs p
        JOIN l3 la ON la.doc_id = p.doc_a
        JOIN l3 lb ON lb.doc_id = p.doc_b AND lb.label = la.label
        GROUP BY 1)
      SELECT c.community, c.n_nodes,
             coalesce(w.n_edges_within, 0)::BIGINT AS n_edges_within,
             c.degree_sum,
             ${Quant.quant6Sql(
               """coalesce(w.n_edges_within, 0)::DOUBLE / mm.m
                  - (c.degree_sum::DOUBLE / (2 * mm.m))
                    * (c.degree_sum::DOUBLE / (2 * mm.m))""")} AS q_contribution
      FROM com c LEFT JOIN wi w ON w.community = c.community
      CROSS JOIN mm
      ORDER BY c.community
    """))
  )

}
