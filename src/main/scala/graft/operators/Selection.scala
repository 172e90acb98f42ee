package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{QueryGroup, Tables}
import graft.functions.TextFunctions._
import graft.Tables.GraftCheckpointOps

/** Data-selection operators for training-set construction:
  *
  *  - q65 deterministic stratified sampling + split assignment. Random
  *    sampling isn't reproducible across engines/runs; real pipelines
  *    sample by HASH: keep a document iff `h(doc_id) % 100` falls under
  *    its stratum's rate, and carve train/val/test from independent
  *    hash digits. Fully deterministic ⇒ exact DuckDB oracle — and
  *    re-running on a grown corpus keeps previous decisions stable
  *    (the property `sample(fraction)` can't give you).
  *  - q66 token-budget sharding: pack documents (in doc_id order) into
  *    shards of ~`budget` estimated tokens — the scale-out precursor to
  *    sequence packing. The cumulative sum is computed as the standard
  *    TWO-PASS distributed prefix sum (within-block windows partitioned
  *    by block + a tiny block-offset window) rather than one global
  *    single-partition window; the oracle computes the plain global
  *    running sum and the results are identical — the plan shape is
  *    the scalable part.
  */
object Selection extends QueryGroup {

  private val shardBudget = 8000L // estimated tokens per shard

  /** q90 target mixture weight per source (percent); the demo policy
    * derives it from the source number so every weight tier appears.
    */
  private val weightSql =
    "CASE WHEN cast(substring(source, 4) AS INT) % 4 = 0 THEN 20 " +
    "WHEN cast(substring(source, 4) AS INT) % 4 = 1 THEN 10 ELSE 5 END"

  override protected val entries: Vector[(String, (SparkSession, String) => DataFrame, Option[String])] = Vector(

    // Source-mixture rebalancing (the dataset-mixing step of training
    // prep: The Pile / Llama-style source weights): find the largest
    // corpus consistent with the target weights (budget = min over
    // sources of cnt*100/w), cap each source at its share, and select
    // deterministically by hash bucket — reproducible across runs and
    // engines, stable under corpus growth. Two passes over documents,
    // both scale-shaped: pass 1 aggregates (source) only — a
    // column-pruned count scan — and produces a PER-SOURCE table
    // (tiny, broadcast); pass 2 filters row-local against the
    // broadcast rates. No wide shuffle anywhere.
    ("q90_source_mixture", (s, d) => {
      val docs = Tables.documents(s, d).withColumn("w", expr(weightSql))
      // per-source stats cross the driver ONCE — one row per source
      // (sources are an enumerable registry, not data), so budget and
      // rates are computed locally and re-broadcast as a literal
      // table. Referencing the aggregate subtree twice instead would
      // re-scan documents per reference (DeduplicateRelations defeats
      // exchange reuse across plan instances — the q85 disease).
      val stats = docs.groupBy("source", "w").agg(count(lit(1)).as("cnt")).collect()
      val budget =
        if (stats.isEmpty) 0L
        else stats.map(r => r.getAs[Long]("cnt") * 100L / r.getAs[Int]("w")).min
      import s.implicits._
      val rates = stats.toSeq.map { r =>
        val cnt = r.getAs[Long]("cnt")
        val w = r.getAs[Int]("w")
        (r.getAs[String]("source"), cnt, math.min(cnt, budget * w / 100L))
      }.toDF("source", "cnt", "n_keep")
      docs.join(broadcast(rates), "source")
        .withColumn("h", portableHash(col("doc_id").cast("string")))
        .filter(col("h") % col("cnt") < col("n_keep"))
        .select("doc_id", "source", "n_keep")
        .orderBy("doc_id")
    }, Some("""
      WITH w AS (SELECT doc_id, source,
                   CASE WHEN substring(source, 4)::INT % 4 = 0 THEN 20
                        WHEN substring(source, 4)::INT % 4 = 1 THEN 10 ELSE 5 END AS w,
                   ('0x'||substring(md5(doc_id::VARCHAR),1,15))::BIGINT AS h
                 FROM documents),
      stats AS (SELECT source, w, count(*) AS cnt FROM w GROUP BY 1, 2),
      b AS (SELECT min(cnt * 100 // w) AS budget FROM stats),
      r AS (SELECT source, cnt,
                   least(cnt, (SELECT budget FROM b) * w // 100)::BIGINT AS n_keep
            FROM stats)
      SELECT w.doc_id, w.source, r.n_keep
      FROM w JOIN r USING (source)
      WHERE w.h % r.cnt < r.n_keep
      ORDER BY w.doc_id
    """)),

    // ------------------------------------------------------------ contrastive negative sampling (round 10)
    // Deterministic uniform negatives for contrastive training: for
    // each anchor doc (the %50 slice), k=3 pseudo-random negatives
    // drawn by portable md5 hashing of (anchor, slot) MOD the corpus
    // size, mapped to an actual doc through the PrefixSum global-rank
    // index (doc_ids need not be dense), with +1-wrap rejection of
    // self-pairs. Everything is integer/hash arithmetic both engines
    // compute identically, so the sampled pairs hash-match exactly —
    // the property that makes the train set REPRODUCIBLE, which is
    // the whole point of hash-based sampling at 100 TB (no RNG state,
    // no seed coordination across executors; re-runs and backfills
    // draw the same negatives). The rank index rides the two-pass
    // prefix sum — no single-partition sort of the corpus — and the
    // negative fetch is an equi-join on rank.
    ("q228_negative_sampling", (s, d) => {
      val k = 3
      val ranked = PrefixSum.cumSums(
        Tables.documents(s, d).select(col("doc_id"), col("source")),
        Seq(col("doc_id")), Seq(lit(1L) -> "rk"))
        .graftCheckpoint() // anchor slice + negative fetch + count read it
      val n = ranked.agg(max("rk").as("n"))
      val anchors = ranked.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("anchor_id"), col("rk").as("anchor_rk"),
                col("source").as("anchor_source"))
        .crossJoin(broadcast(n))
        .select(col("anchor_id"), col("anchor_rk"), col("anchor_source"), col("n"),
                explode(array((1 to k).map(lit): _*)).as("neg_slot"))
      val drawn = anchors
        .withColumn("h", portableHash(concat(col("anchor_id").cast("string"),
                                             lit(":"), col("neg_slot").cast("string"))))
        .withColumn("raw_rk", col("h") % col("n") + 1)
        // self-pair rejection: step to the next rank, wrapping
        .withColumn("neg_rk",
          when(col("raw_rk") === col("anchor_rk"), col("raw_rk") % col("n") + 1)
            .otherwise(col("raw_rk")))
      drawn.join(ranked.select(col("rk").as("neg_rk"), col("doc_id").as("neg_id"),
                               col("source").as("neg_source")), "neg_rk")
        .select(col("anchor_id"), col("neg_slot").cast("long").as("neg_slot"),
                col("neg_id"),
                (col("anchor_source") === col("neg_source")).as("same_source"))
        .orderBy("anchor_id", "neg_slot")
    }, Some("""
      WITH ranked AS (
        SELECT doc_id, source,
               row_number() OVER (ORDER BY doc_id) AS rk
        FROM documents),
      n AS (SELECT max(rk) AS n FROM ranked),
      anchors AS (
        SELECT r.doc_id AS anchor_id, r.rk AS anchor_rk,
               r.source AS anchor_source, n.n, s.i AS neg_slot
        FROM ranked r, n, generate_series(1, 3) s(i)
        WHERE r.doc_id % 50 = 0),
      drawn AS (
        SELECT *,
               ('0x'||substring(md5(anchor_id::VARCHAR || ':' || neg_slot::VARCHAR),1,15))::BIGINT
                 % n + 1 AS raw_rk
        FROM anchors),
      stepped AS (
        SELECT anchor_id, neg_slot, anchor_source, n,
               CASE WHEN raw_rk = anchor_rk THEN raw_rk % n + 1 ELSE raw_rk END AS neg_rk
        FROM drawn)
      SELECT s.anchor_id, s.neg_slot::BIGINT AS neg_slot, r.doc_id AS neg_id,
             s.anchor_source = r.source AS same_source
      FROM stepped s JOIN ranked r ON r.rk = s.neg_rk
      ORDER BY anchor_id, neg_slot
    """)),

    // ------------------------------------------------------------ per-source cap sampling (round 10)
    // Source balancing by hard cap: keep at most `cap` docs per source,
    // chosen by deterministic hash order (a stable "random" draw —
    // identical on every rerun and engine). The within-source rank is
    // row_number ≤ cap, which Spark plans as WindowGroupLimit:
    // per-partition PARTIAL top-k before the shuffle, so a giant
    // source never funnels through one task un-pruned (the q78
    // group-limit machinery, pointed at curation). Output is the
    // per-source ledger: totals, kept, share, and an integer checksum
    // of the kept set so the oracle pins membership, not just counts.
    ("q230_source_cap_sample", (s, d) => {
      val cap = 20
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("source"))
        .withColumn("h", portableHash(col("doc_id").cast("string")))
        .graftCheckpoint() // totals + kept branches both read it
      val w = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
      // rank ≤ cap as a FILTER above the window — the shape Catalyst
      // rewrites to WindowGroupLimit (per-partition partial top-k;
      // PlanSpec asserts it), unlike a conditional aggregate over full
      // ranks which would rank every row of a giant source
      val kept = base.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= cap)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("kept_checksum"))
      base.groupBy("source").agg(count(lit(1)).as("n_total"))
        .join(kept, "source")
        .select(col("source"), col("n_total"), col("n_kept"),
          round(col("n_kept") / col("n_total").cast("double"), 6).as("share_kept"),
          col("kept_checksum"))
        .orderBy("source")
    }, Some("""
      WITH h AS (
        SELECT doc_id, source,
               ('0x'||substring(md5(doc_id::VARCHAR),1,15))::BIGINT AS h
        FROM documents),
      r AS (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk
        FROM h),
      kept AS (
        SELECT source, count(*)::BIGINT AS n_kept, sum(doc_id)::BIGINT AS kept_checksum
        FROM r WHERE rk <= 20 GROUP BY source),
      tot AS (SELECT source, count(*)::BIGINT AS n_total FROM h GROUP BY source)
      SELECT t.source, t.n_total, k.n_kept,
             round(k.n_kept / t.n_total::DOUBLE, 6) AS share_kept,
             k.kept_checksum
      FROM tot t JOIN kept k USING (source)
      ORDER BY source
    """)),

    ("q65_hash_sample", (s, d) => {
      Tables.documents(s, d)
        .withColumn("h", portableHash(col("doc_id").cast("string")))
        .withColumn("bucket", expr("h % 100"))
        .withColumn("rate",
          when(col("lang") === "en", 50).when(col("lang") === "zh", 10).otherwise(25))
        .filter(col("bucket") < col("rate"))
        .withColumn("split",
          when(expr("(h DIV 100) % 100") < 80, "train")
            .when(expr("(h DIV 100) % 100") < 90, "val")
            .otherwise("test"))
        .select("doc_id", "lang", "bucket", "split")
        .orderBy("doc_id")
    }, Some("""
      WITH h AS (
        SELECT doc_id, lang,
               ('0x'||substring(md5(doc_id::VARCHAR),1,15))::BIGINT AS h,
               CASE WHEN lang = 'en' THEN 50 WHEN lang = 'zh' THEN 10 ELSE 25 END AS rate
        FROM documents
      )
      SELECT doc_id, lang, h % 100 AS bucket,
             CASE WHEN (h // 100) % 100 < 80 THEN 'train'
                  WHEN (h // 100) % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM h
      WHERE h % 100 < rate
      ORDER BY doc_id
    """)),

    ("q66_token_shards", (s, d) => {
      val est = expr("(length(text) + 3) DIV 4")
      val base = Tables.documents(s, d)
        .select(col("doc_id"), est.as("est_tokens"))
        .withColumn("blk", expr("doc_id DIV 1000"))
      // two-pass prefix sum: per-block running totals in parallel, then
      // offsets from a window over the (tiny) per-block total relation.
      val wIn = Window.partitionBy("blk").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val blkOffsets = base.groupBy("blk").agg(sum("est_tokens").as("blk_tot"))
        .withColumn("blk_off",
          coalesce(sum("blk_tot").over(
            Window.orderBy("blk").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("blk", "blk_off")
      base
        .withColumn("in_cum", sum("est_tokens").over(wIn))
        .join(blkOffsets, "blk")
        .withColumn("cum", col("blk_off") + col("in_cum"))
        .withColumn("shard", expr(s"(cum - est_tokens) DIV $shardBudget"))
        .select("doc_id", "est_tokens", "shard")
        .orderBy("doc_id")
    }, Some(s"""
      SELECT doc_id, est AS est_tokens,
             ((cum - est) // $shardBudget)::BIGINT AS shard
      FROM (
        SELECT doc_id, (length(text) + 3) // 4 AS est,
               sum((length(text) + 3) // 4) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        FROM documents) t
      ORDER BY doc_id
    """)),

    // ------------------------------------------------------------ weighted sampling (round 7)
    // Deterministic weighted sampling WITHOUT replacement, per source:
    // Efraimidis–Spirakis A-Res — each item draws a uniform u and is
    // ranked by ln(u)/w (monotone-equivalent to the classic u^(1/w)
    // key, but u^(1/w) underflows to 1.0-indistinguishable values for
    // large w; the log form keeps full double resolution); the top-k
    // per stratum IS a weight-proportional sample without replacement.
    // q65 solves unweighted rate sampling; this is its importance-
    // weighted cousin (sample long documents proportionally to length
    // for a token-budget corpus). u is the q65 portable md5 hash mapped
    // into (0,1) — deterministic, reproducible across engines and
    // incremental corpus growth. ONE scan; the per-source top-k is a
    // rank-k window per stratum (bounded output per group, no global
    // sort). Ranking compares doubles computed from identical rational
    // inputs via one ln() and one division on both engines — ulp
    // differences could in principle swap two keys, but keys are
    // continuous md5-derived values (adjacent-key gaps ~1e-3 at n=600
    // per stratum vs ~1e-16 ulp error; collision probability ~1e-13).
    ("q127_weighted_sample", (s, d) => {
      val k = 5
      // u in (0,1): 60-bit hash + 0.5 over 2^60 — never exactly 0 or 1
      val u = (portableHash(col("doc_id").cast("string")).cast("double") + 0.5) /
        lit(Math.pow(2.0, 60))
      val w = Window.partitionBy("source")
        .orderBy(col("key").desc, col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"),
          (log(u) / col("n_chars").cast("double")).as("key"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= k)
        .select("source", "rank", "doc_id", "n_chars")
        .orderBy("source", "rank")
    }, Some("""
      WITH keyed AS (
        SELECT doc_id, source, n_chars,
               ln((('0x'||substring(md5(doc_id::VARCHAR),1,15))::BIGINT::DOUBLE + 0.5)
                  / 1152921504606846976.0) / n_chars::DOUBLE AS key
        FROM documents)
      SELECT source, row_number() OVER (PARTITION BY source ORDER BY key DESC, doc_id) AS rank,
             doc_id, n_chars
      FROM keyed
      QUALIFY rank <= 5
      ORDER BY source, rank
    """)),

    // ------------------------------------------------------------ temperature mixture reweighting (round 9)
    // The multilingual/temperature sampling rule (w_s ∝ p_s^α,
    // α = 0.3): flattens the head sources and boosts the tail without
    // the hard caps q90's rebalance uses — the standard mixture when
    // a corpus' natural proportions would drown low-resource slices.
    // Weights are computed over TOKEN counts (what the training run
    // actually consumes), the budget is half the corpus' tokens, and
    // the output ledger gives each source its natural share, its
    // temperature share, the token target, and the implied epoch
    // factor (>1 ⇒ the source is UPSAMPLED — repeated — under the
    // mixture; the flag a curator checks before accepting repetition).
    // One tokenize scan → per-source count → 1-row total broadcast;
    // the ^α is the only non-rational op and lands after rounding.
    ("q209_temperature_mixture", (s, d) => {
      val alpha = 0.3
      val perSource = Tables.fanOut(Tables.documents(s, d))
        .select(col("source"), size(tokens(col("text"))).cast("long").as("nt"))
        .groupBy("source").agg(sum("nt").as("n_tokens"))
        // checkpointed: totals row + final ledger both read it — one
        // tokenize scan, not two (|sources| rows, trivially cheap)
        .graftCheckpoint()
      val tot = perSource.agg(sum("n_tokens").cast("double").as("t_tokens"),
        sum(pow(col("n_tokens").cast("double"), alpha)).as("z"))
      perSource.crossJoin(broadcast(tot))
        .select(col("source"), col("n_tokens"),
          round(col("n_tokens") / col("t_tokens"), 6).as("p_natural"),
          round(pow(col("n_tokens").cast("double"), alpha) / col("z"), 6).as("p_temp"),
          floor(pow(col("n_tokens").cast("double"), alpha) / col("z")
            * col("t_tokens") * 0.5).cast("long").as("target_tokens"),
          round(pow(col("n_tokens").cast("double"), alpha) / col("z")
            * col("t_tokens") * 0.5 / col("n_tokens"), 4).as("epochs"))
        .orderBy("source")
    }, Some(s"""
      WITH per_source AS (
        SELECT source, sum(len($tokensSql))::BIGINT AS n_tokens
        FROM documents GROUP BY source),
      tot AS (
        SELECT sum(n_tokens)::DOUBLE AS t_tokens,
               sum(pow(n_tokens::DOUBLE, 0.3)) AS z
        FROM per_source)
      SELECT source, n_tokens,
             round(n_tokens / t_tokens, 6) AS p_natural,
             round(pow(n_tokens::DOUBLE, 0.3) / z, 6) AS p_temp,
             CAST(floor(pow(n_tokens::DOUBLE, 0.3) / z * t_tokens * 0.5) AS BIGINT)
               AS target_tokens,
             round(pow(n_tokens::DOUBLE, 0.3) / z * t_tokens * 0.5 / n_tokens, 4)
               AS epochs
      FROM per_source CROSS JOIN tot
      ORDER BY source
    """)),

    // ------------------------------------------------------------ token-budget waterfill (round 11)
    // The allocation step BETWEEN q209's mixture targets and q66's
    // shard export: given a fixed training-token budget (60% of the
    // corpus here), water-fill it across sources — every source gets
    // min(available, L) tokens where the common level L is chosen so
    // the allocations exactly exhaust the budget. Small sources are
    // taken whole; large sources are capped at the level — the
    // classic max-min-fair answer to "no source may dominate the mix,
    // but spare budget must not be wasted". Closed form, not a loop:
    // sort sources by availability, prefix-sum, and the level lands in
    // the first segment where filling all remaining sources to that
    // source's availability would overshoot. Every window here runs
    // over the SOURCE-dimension aggregate (bounded, Aggregate beneath
    // — inside the engine-wide window gate); the corpus is scanned
    // once for token counts. Exact integer prefix arithmetic; the only
    // floats are the final level division and shares, quant6'd.
    ("q243_budget_waterfill", (s, d) => {
      val perSource = Tables.fanOut(Tables.documents(s, d))
        .select(col("source"), size(tokens(col("text"))).cast("long").as("nt"))
        .groupBy("source").agg(sum("nt").as("avail"))
        .graftCheckpoint() // budget row, level search, and ledger all read it
      val b = perSource.agg(expr("sum(avail) * 3 DIV 5").as("budget"),
                            count(lit(1)).as("n"))
      val w = Window.orderBy(col("avail"), col("source"))
      val ranked = perSource.crossJoin(broadcast(b))
        .withColumn("i", row_number().over(w).cast("long"))
        .withColumn("prefix", coalesce(
          sum("avail").over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val level = ranked
        .filter(col("prefix") + col("avail") * (col("n") - col("i") + 1) >= col("budget"))
        .orderBy("i").limit(1)
        .select(((col("budget") - col("prefix")).cast("double")
                  / (col("n") - col("i") + 1)).as("level"))
      ranked.crossJoin(broadcast(level))
        .select(col("source"), col("avail"),
          Quant.quant6(col("level")).as("fill_level"),
          Quant.quant6(least(col("avail").cast("double"), col("level"))).as("alloc_tokens"),
          Quant.quant6(least(col("avail").cast("double"), col("level"))
            / col("budget")).as("budget_share"))
        .orderBy("source")
    }, Some(s"""
      WITH per_source AS (
        SELECT source, sum(len($tokensSql))::BIGINT AS avail
        FROM documents GROUP BY source),
      b AS (SELECT (sum(avail) * 3) // 5 AS budget, count(*) AS n FROM per_source),
      r AS (SELECT source, avail,
                   row_number() OVER (ORDER BY avail, source) AS i,
                   COALESCE(sum(avail) OVER (ORDER BY avail, source
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
            FROM per_source),
      lvl AS (SELECT (b.budget - r.prefix)::DOUBLE / (b.n - r.i + 1) AS level
              FROM r, b WHERE r.prefix + r.avail * (b.n - r.i + 1) >= b.budget
              ORDER BY r.i LIMIT 1)
      SELECT r.source, r.avail,
             floor(lvl.level * 1000000.0 + 0.5) / 1000000.0 AS fill_level,
             floor(least(r.avail::DOUBLE, lvl.level) * 1000000.0 + 0.5) / 1000000.0 AS alloc_tokens,
             floor(least(r.avail::DOUBLE, lvl.level) / b.budget * 1000000.0 + 0.5) / 1000000.0 AS budget_share
      FROM r, lvl, b
      ORDER BY source
    """)),

    // ------------------------------------------------------------ split balance audit (round 9)
    // The post-split QA a data curator runs before trusting an 80/10/10
    // hash split: does every split preserve the corpus' language mix,
    // or did the hash accidentally skew a stratum? Per split the audit
    // reports its L1 distance to the corpus-wide language distribution
    // and the worst single-language deviation — a large number means
    // val/test metrics will not transfer. The split key is
    // portableHash(doc_id) (deterministic, oracle-reproducible); one
    // scan → (split, lang) counts, everything downstream runs on that
    // ≤3×|langs| grid.
    // ------------------------------------------------------------ temporal split audit (round 10)
    // The TIME-leakage audit that complements q67's content-leakage
    // split: cut events at the fixture midpoint into train (< T) /
    // test (>= T; T = the fixture's last day, so the dormant tail is
    // visible) and classify every user as both / train_only /
    // test_only — the cold-start exposure report (test_only users are
    // pure cold-start; "both" users leak behavioral history across
    // the boundary, which an evaluation must either want or exclude).
    // One scan, one user-keyed aggregate, integer-exact ledger.
    ("q233_temporal_split_audit", (s, d) => {
      val cut = lit("2024-01-30 00:00:00").cast("timestamp")
      val perUser = Tables.events(s, d)
        .groupBy("user_id")
        .agg(sum(when(col("ts") < cut, 1L).otherwise(0L)).as("n_train"),
             sum(when(col("ts") >= cut, 1L).otherwise(0L)).as("n_test"))
        .graftCheckpoint() // class ledger + the totals row both read it
      val classed = perUser.withColumn("user_class",
        when(col("n_train") > 0 && col("n_test") > 0, "both")
          .when(col("n_train") > 0, "train_only").otherwise("test_only"))
      val tot = perUser.agg(count(lit(1)).cast("double").as("n_all"))
      classed.groupBy("user_class")
        .agg(count(lit(1)).as("n_users"),
             sum("n_train").as("n_train_events"),
             sum("n_test").as("n_test_events"))
        .crossJoin(broadcast(tot))
        .select(col("user_class"), col("n_users"),
          round(col("n_users") / col("n_all"), 6).as("share_users"),
          col("n_train_events"), col("n_test_events"))
        .orderBy("user_class")
    }, Some("""
      WITH pu AS (
        SELECT user_id,
               sum(CASE WHEN ts < TIMESTAMP '2024-01-30 00:00:00' THEN 1 ELSE 0 END)::BIGINT AS n_train,
               sum(CASE WHEN ts >= TIMESTAMP '2024-01-30 00:00:00' THEN 1 ELSE 0 END)::BIGINT AS n_test
        FROM events GROUP BY user_id),
      t AS (SELECT count(*)::DOUBLE AS n_all FROM pu)
      SELECT CASE WHEN n_train > 0 AND n_test > 0 THEN 'both'
                  WHEN n_train > 0 THEN 'train_only' ELSE 'test_only' END AS user_class,
             count(*)::BIGINT AS n_users,
             round(count(*) / t.n_all, 6) AS share_users,
             sum(n_train)::BIGINT AS n_train_events,
             sum(n_test)::BIGINT AS n_test_events
      FROM pu, t
      GROUP BY 1, t.n_all
      ORDER BY user_class
    """)),

    ("q216_split_balance_audit", (s, d) => {
      val split = (portableHash(col("doc_id").cast("string")) % 10)
      val docs = Tables.documents(s, d)
        .select(col("lang"),
          when(split < 8, "train").when(split === 8, "val").otherwise("test").as("split"))
      val cells = docs.groupBy("split", "lang").agg(count(lit(1)).as("n"))
        .graftCheckpoint() // split totals + lang totals + grid all read it
      val splitTot = cells.groupBy("split").agg(sum("n").as("n_split"))
      val langTot = cells.groupBy("lang").agg(sum("n").as("n_lang"))
      val grandTot = langTot.agg(sum("n_lang").cast("double").as("n_all"))
      // FULL split×lang grid, not just the observed cells: a language
      // entirely MISSING from a split is the worst imbalance (its
      // deviation is the full corpus share) and must not silently drop
      // out of the L1 sum
      splitTot.crossJoin(broadcast(langTot))
        .join(cells, Seq("split", "lang"), "left")
        .na.fill(0L, Seq("n"))
        .crossJoin(broadcast(grandTot))
        .select(col("split"), col("n_split"),
          abs(col("n").cast("double") / col("n_split") - col("n_lang") / col("n_all"))
            .as("dev"))
        .groupBy("split")
        .agg(max("n_split").as("n_docs"),
             round(sum("dev"), 6).as("l1_distance"),
             round(max("dev"), 6).as("max_lang_dev"))
        .orderBy("split")
    }, Some("""
      WITH docs AS (
        SELECT lang,
               CASE WHEN ('0x'||substring(md5(doc_id::VARCHAR),1,15))::BIGINT % 10 < 8
                    THEN 'train'
                    WHEN ('0x'||substring(md5(doc_id::VARCHAR),1,15))::BIGINT % 10 = 8
                    THEN 'val' ELSE 'test' END AS split
        FROM documents),
      cells AS (SELECT split, lang, count(*)::BIGINT AS n FROM docs GROUP BY split, lang),
      split_tot AS (SELECT split, sum(n)::BIGINT AS n_split FROM cells GROUP BY split),
      lang_tot AS (SELECT lang, sum(n)::BIGINT AS n_lang FROM cells GROUP BY lang),
      grand AS (SELECT sum(n_lang)::DOUBLE AS n_all FROM lang_tot)
      SELECT split, max(n_split)::BIGINT AS n_docs,
             round(sum(abs(COALESCE(n, 0)::DOUBLE / n_split - n_lang / n_all)), 6)
               AS l1_distance,
             round(max(abs(COALESCE(n, 0)::DOUBLE / n_split - n_lang / n_all)), 6)
               AS max_lang_dev
      FROM split_tot
      CROSS JOIN lang_tot
      LEFT JOIN cells USING (split, lang)
      CROSS JOIN grand
      GROUP BY split
      ORDER BY split
    """)),

    // ------------------------------------------------------------ effective sample size (round 12)
    // Kish's ESS = (Σw)²/Σw² per source — the "how many EQUAL-weight
    // documents is this weighted pile worth" number behind every
    // mixture-reweighting decision (a source whose ess_ratio ≪ 1 is
    // dominated by a few huge documents; upweighting it buys far less
    // signal than its row count suggests). Weights here are document
    // lengths (n_chars) — the weighting a token-budget sampler
    // implicitly applies. Determinism: Σw and Σw² are exact integer
    // sums (order-free); the two divisions happen once per source on
    // those exact values, then quant6. One partial-aggregated shuffle
    // on source; output bounded by the source registry.
    ("q258_effective_sample_size", (s, d) => {
      Tables.fanOut(Tables.documents(s, d))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_chars")).as("sum_w"),
             sum(col("n_chars") * col("n_chars")).as("sum_w2"))
        .select(col("source"), col("n_docs"), col("sum_w"),
          graft.operators.Quant.quant6(
            (col("sum_w").cast("double") * col("sum_w")) / col("sum_w2")).as("ess"),
          graft.operators.Quant.quant6(
            (col("sum_w").cast("double") * col("sum_w")) /
              (col("sum_w2") * col("n_docs"))).as("ess_ratio"))
        .orderBy("source")
    }, Some(s"""
      WITH agg AS (
        SELECT source, count(*)::BIGINT AS n_docs,
               sum(n_chars)::BIGINT AS sum_w,
               sum(n_chars * n_chars)::BIGINT AS sum_w2
        FROM documents GROUP BY source)
      SELECT source, n_docs, sum_w,
             ${graft.operators.Quant.quant6Sql("(sum_w::DOUBLE * sum_w) / sum_w2")} AS ess,
             ${graft.operators.Quant.quant6Sql("(sum_w::DOUBLE * sum_w) / (sum_w2 * n_docs)")} AS ess_ratio
      FROM agg
      ORDER BY source
    """))
  )
}
