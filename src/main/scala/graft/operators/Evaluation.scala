package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{QueryGroup, Tables}
import graft.Tables.GraftCheckpointOps
import graft.functions.TextFunctions.{portableHash, tokens, tokensSql}

/** Statistical-evaluation and data-valuation operators (round 12) —
  * the measurement layer that sits on top of the splits, mixtures and
  * experiment assignments the earlier rounds built:
  *
  *  - q290 Mann-Whitney U: the nonparametric A/B test (rank-based, no
  *    normality assumption) with exact tie correction. The ranking
  *    NEVER ranks rows one-by-one: ranks are recovered from the
  *    per-distinct-value counts (average rank of a tied run is a
  *    closed form of the cumulative count), so the data-sized work is
  *    one value-keyed aggregate plus the two-pass PrefixSum over the
  *    distinct-value relation.
  *  - q291 Brier decomposition (Murphy): reliability / resolution /
  *    uncertainty of a probabilistic forecast, plus the raw Brier
  *    score and the binning residual. One scan → user aggregate →
  *    ≤10-bin relation; every component is sufficient-statistics
  *    algebra on the bins.
  *  - q292 EWMA control chart: exponentially-weighted moving average
  *    over the daily series with 3σ alarm flags. The recurrence is
  *    evaluated in closed form (triangular weighted sum) on the
  *    calendar-bounded daily relation — the corpus contributes one
  *    day-keyed aggregate pass; |days|² work is bounded by the
  *    calendar, not the data (10 years ⇒ 6.7M weight pairs).
  *  - q293 DSIR importance weights (Xie et al. 2023, data selection
  *    via importance resampling): score every document by
  *    Σ_b c_b·ln(p_b/q_b) over hashed unigram buckets, where p is the
  *    target-domain bucket distribution and q the raw-corpus one.
  *    One tokenize pass → checkpointed (doc, bucket) counts; both
  *    distributions and the 64-row weight table derive from it, so
  *    the corpus is tokenized exactly once and the per-doc score join
  *    broadcasts 64 rows.
  *  - q294 IPF raking: iterative proportional fitting of per-(source,
  *    lang) sampling weights to uniform marginals — the standard
  *    survey-statistics / data-mixture balancing move. The corpus
  *    contributes ONE contingency aggregate; the 6 fitting rounds run
  *    on the schema-bounded |sources|×|langs| cell relation.
  *  - q295 James-Stein / empirical-Bayes shrinkage of per-source mean
  *    document length: method-of-moments τ², per-group shrinkage
  *    factor b_g = (σ²/n_g)/(τ²+σ²/n_g) — the estimator every
  *    per-segment metric dashboard should use instead of raw means.
  *    Sufficient statistics (n, Σy, Σy²) per source in one pass; the
  *    fit runs on the ≤|sources|-row relation.
  */
object Evaluation extends QueryGroup {

  /** DuckDB mirror of `portableHash(c) % m` (first 15 md5 hex digits). */
  private def hashSql(expr: String, m: Int): String =
    s"('0x'||substring(md5($expr),1,15))::BIGINT % $m"

  override protected val entries: Vector[(String, (SparkSession, String) => DataFrame, Option[String])] = Vector(

    // ------------------------------------------------------------ Mann-Whitney U test (round 12)
    // Two-sided rank-sum comparison of purchase values between the
    // user_id-parity treatment split (q213/q289's assignment). Exact
    // tie handling: a run of k equal values all get the average rank
    // (cum − k + (k+1)/2), and the variance carries the Σ(t³−t)
    // correction. Every rank is a half-integer and every partial sum
    // stays below 2^53, so R1/U1/U2 are EXACT doubles on both engines
    // regardless of aggregation order; only z is rounded. Scale shape:
    // one value-keyed aggregate over purchases (map-side combinable),
    // PrefixSum's two-pass range exchange over the distinct-value
    // relation, then a single 1-row reduce — no per-row ranking
    // window anywhere.
    ("q290_mann_whitney", (s, d) => {
      val pur = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("value").as("v"), (col("user_id") % 2).cast("long").as("t"))
      val byV = pur.groupBy("v").agg(
        sum("t").as("n1v"),
        sum(lit(1L) - col("t")).as("n0v"),
        count(lit(1)).as("nv"))
      val cum = PrefixSum.cumSum(byV, Seq(col("v")), col("nv"), "cumn")
        .withColumn("avgrk",
          (col("cumn") - col("nv")).cast("double")
            + (col("nv") + lit(1L)).cast("double") / 2.0)
      val a = cum.agg(
        sum("n1v").as("n1"), sum("n0v").as("n0"),
        sum(col("n1v").cast("double") * col("avgrk")).as("r1"),
        sum(col("nv") * col("nv") * col("nv") - col("nv")).as("tie"))
        .withColumn("nn", col("n1") + col("n0"))
        .withColumn("u1",
          col("r1") - col("n1").cast("double") * (col("n1") + lit(1L)).cast("double") / 2.0)
      a.select(
        col("n1"), col("n0"), col("r1"), col("u1"),
        (col("n1").cast("double") * col("n0").cast("double") - col("u1")).as("u2"),
        Quant.quant6(
          (col("u1") - col("n1").cast("double") * col("n0").cast("double") / 2.0)
            / nullif(sqrt(
                col("n1").cast("double") * col("n0").cast("double") / 12.0
                  * ((col("nn") + lit(1L)).cast("double")
                     - col("tie").cast("double")
                       / (col("nn").cast("double") * (col("nn").cast("double") - 1.0)))),
              lit(0.0))).as("z"))
    }, Some(s"""
      WITH p AS (
        SELECT value AS v, (user_id % 2)::BIGINT AS t
        FROM events WHERE event_type = 'purchase'),
      b AS (
        SELECT v, sum(t)::BIGINT AS n1v, sum(1 - t)::BIGINT AS n0v,
               count(*)::BIGINT AS nv
        FROM p GROUP BY v),
      c AS (
        SELECT *, sum(nv) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)::BIGINT AS cumn
        FROM b),
      r AS (
        SELECT n1v, n0v, nv,
               (cumn - nv)::DOUBLE + (nv + 1)::DOUBLE / 2.0 AS avgrk
        FROM c),
      a AS (
        SELECT sum(n1v)::BIGINT AS n1, sum(n0v)::BIGINT AS n0,
               sum(n1v::DOUBLE * avgrk) AS r1,
               sum(nv * nv * nv - nv)::BIGINT AS tie
        FROM r),
      u AS (
        SELECT *, (n1 + n0)::BIGINT AS nn,
               r1 - n1::DOUBLE * (n1 + 1)::DOUBLE / 2.0 AS u1
        FROM a)
      SELECT n1, n0, r1, u1,
             n1::DOUBLE * n0::DOUBLE - u1 AS u2,
             ${Quant.quant6Sql(
               """(u1 - n1::DOUBLE * n0::DOUBLE / 2.0)
                  / nullif(sqrt(n1::DOUBLE * n0::DOUBLE / 12.0
                    * ((nn + 1)::DOUBLE
                       - tie::DOUBLE / (nn::DOUBLE * (nn::DOUBLE - 1.0)))), 0.0)""")} AS z
      FROM u
    """)),

    // ------------------------------------------------------------ Brier / Murphy decomposition (round 12)
    // Forecast QA for a per-user purchase prediction: p = shrunk
    // pre-cut click intensity c/(c+5), outcome y = any post-cut
    // purchase (q289's cut). Murphy decomposition over 10 forecast
    // bins: reliability Σn_k(p̄_k−ō_k)²/N (calibration error),
    // resolution Σn_k(ō_k−ō)²/N (discrimination), uncertainty ō(1−ō),
    // plus the raw Brier score and the binning residual gap =
    // brier − (rel − res + unc), nonzero exactly when forecasts vary
    // WITHIN a bin — the honest version of the identity. One events
    // scan → user aggregate → ≤10-row bin relation → 1 row.
    ("q291_brier_decomposition", (s, d) => {
      val cut = lit("2024-01-24 00:00:00").cast("timestamp")
      val perUser = Tables.fanOut(Tables.events(s, d))
        .groupBy("user_id")
        .agg(
          sum(when(col("event_type") === "click" && col("ts") < cut, 1L)
            .otherwise(0L)).as("c"),
          max(when(col("event_type") === "purchase" && col("ts") >= cut, 1L)
            .otherwise(0L)).as("y"))
        .select(
          (col("c").cast("double") / (col("c") + lit(5L)).cast("double")).as("p"),
          col("y").cast("double").as("y"))
        .withColumn("bin", least(lit(9L), floor(col("p") * 10.0).cast("long")))
      val bins = perUser.groupBy("bin").agg(
        count(lit(1)).as("n"), sum("p").as("sp"), sum("y").as("sy"),
        sum(col("p") * col("p")).as("sp2"), sum(col("p") * col("y")).as("spy"))
        .graftCheckpoint() // totals + the joined decomposition both read it
      val tot = bins.agg(
        sum("n").as("nn"), sum("sy").as("tsy"),
        sum("sp2").as("tsp2"), sum("spy").as("tspy"))
      bins.crossJoin(broadcast(tot))
        .withColumn("obar", col("tsy") / col("nn").cast("double"))
        .groupBy()
        .agg(
          first("nn").as("n_users"),
          count(lit(1)).as("n_bins"),
          Quant.quant6(
            (first("tsp2") - lit(2.0) * first("tspy") + first("tsy"))
              / first("nn").cast("double")).as("brier"),
          Quant.quant6(
            sum(col("n").cast("double")
              * (col("sp") / col("n").cast("double") - col("sy") / col("n").cast("double"))
              * (col("sp") / col("n").cast("double") - col("sy") / col("n").cast("double")))
              / first("nn").cast("double")).as("reliability"),
          Quant.quant6(
            sum(col("n").cast("double")
              * (col("sy") / col("n").cast("double") - col("obar"))
              * (col("sy") / col("n").cast("double") - col("obar")))
              / first("nn").cast("double")).as("resolution"),
          Quant.quant6(first("obar") * (lit(1.0) - first("obar"))).as("uncertainty"),
          Quant.quant6(
            (first("tsp2") - lit(2.0) * first("tspy") + first("tsy")) / first("nn").cast("double")
              - (sum(col("n").cast("double")
                   * (col("sp") / col("n").cast("double") - col("sy") / col("n").cast("double"))
                   * (col("sp") / col("n").cast("double") - col("sy") / col("n").cast("double")))
                   / first("nn").cast("double")
                 - sum(col("n").cast("double")
                     * (col("sy") / col("n").cast("double") - col("obar"))
                     * (col("sy") / col("n").cast("double") - col("obar")))
                     / first("nn").cast("double")
                 + first("obar") * (lit(1.0) - first("obar")))).as("binning_gap"))
    }, Some(s"""
      WITH pu AS (
        SELECT sum(CASE WHEN event_type = 'click'
                         AND ts < TIMESTAMP '2024-01-24 00:00:00'
                        THEN 1 ELSE 0 END)::BIGINT AS c,
               max(CASE WHEN event_type = 'purchase'
                         AND ts >= TIMESTAMP '2024-01-24 00:00:00'
                        THEN 1 ELSE 0 END)::BIGINT AS y
        FROM events GROUP BY user_id),
      py AS (
        SELECT c::DOUBLE / (c + 5)::DOUBLE AS p, y::DOUBLE AS y,
               least(9, floor(c::DOUBLE / (c + 5)::DOUBLE * 10.0)::BIGINT) AS bin
        FROM pu),
      bins AS (
        SELECT bin, count(*)::BIGINT AS n, sum(p) AS sp, sum(y) AS sy,
               sum(p * p) AS sp2, sum(p * y) AS spy
        FROM py GROUP BY bin),
      tot AS (
        SELECT sum(n)::BIGINT AS nn, sum(sy) AS tsy,
               sum(sp2) AS tsp2, sum(spy) AS tspy
        FROM bins),
      j AS (
        SELECT b.*, t.nn, t.tsy, t.tsp2, t.tspy,
               t.tsy / t.nn::DOUBLE AS obar
        FROM bins b CROSS JOIN tot t)
      SELECT any_value(nn) AS n_users,
             count(*)::BIGINT AS n_bins,
             ${Quant.quant6Sql(
               "(any_value(tsp2) - 2.0 * any_value(tspy) + any_value(tsy)) / any_value(nn)::DOUBLE")}
               AS brier,
             ${Quant.quant6Sql(
               """sum(n::DOUBLE * (sp / n::DOUBLE - sy / n::DOUBLE)
                                * (sp / n::DOUBLE - sy / n::DOUBLE))
                  / any_value(nn)::DOUBLE""")} AS reliability,
             ${Quant.quant6Sql(
               """sum(n::DOUBLE * (sy / n::DOUBLE - obar) * (sy / n::DOUBLE - obar))
                  / any_value(nn)::DOUBLE""")} AS resolution,
             ${Quant.quant6Sql(
               "any_value(obar) * (1.0 - any_value(obar))")} AS uncertainty,
             ${Quant.quant6Sql(
               """(any_value(tsp2) - 2.0 * any_value(tspy) + any_value(tsy)) / any_value(nn)::DOUBLE
                  - (sum(n::DOUBLE * (sp / n::DOUBLE - sy / n::DOUBLE)
                                   * (sp / n::DOUBLE - sy / n::DOUBLE))
                       / any_value(nn)::DOUBLE
                     - sum(n::DOUBLE * (sy / n::DOUBLE - obar) * (sy / n::DOUBLE - obar))
                       / any_value(nn)::DOUBLE
                     + any_value(obar) * (1.0 - any_value(obar)))""")} AS binning_gap
      FROM j
    """)),

    // ------------------------------------------------------------ EWMA control chart (round 12)
    // s_t = α·x_t + (1−α)·s_{t−1}, s_0 = x_0, α = 0.3, over the daily
    // MEAN event value. The recurrence is evaluated as its closed-form
    // triangular sum s_t = (1−α)^t·x_0 + Σ_{i=1..t} α(1−α)^{t−i}·x_i —
    // each term independent, so no sequential pass exists anywhere:
    // the corpus does one day-keyed aggregate, and the non-equi
    // self-join runs on the calendar-bounded daily relation (≤31 rows
    // here; 10 years ⇒ 3650, still trivially broadcastable). Alarm =
    // |x_t − s_{t−1}| > 3σ of the one-step residuals, compared on the
    // 6-decimal-quantized values so the boolean is deterministic
    // across engines. Daily means (not sums) keep magnitudes O(100),
    // far from quant6's half-ulp boundary.
    ("q292_ewma_control", (s, d) => {
      val alpha = 0.3
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"), (sum("value") / count(lit(1))).as("x"))
        .withColumn("t", row_number().over(Window.orderBy("day")).cast("long") - 1L)
        .graftCheckpoint()
      val w = daily.select(col("t").as("ti"), col("x").as("xi"))
      val sCol = daily.alias("a")
        .join(w.alias("b"), col("b.ti") <= col("a.t"))
        .groupBy(col("a.day").as("day"), col("a.n").as("n"),
                 col("a.x").as("x"), col("a.t").as("t"))
        .agg(sum(
          when(col("b.ti") === 0L, pow(lit(1.0 - alpha), col("a.t").cast("double")))
            .otherwise(lit(alpha)
              * pow(lit(1.0 - alpha), (col("a.t") - col("b.ti")).cast("double")))
          * col("b.xi")).as("ewma"))
      val withPrev = sCol
        .withColumn("prev_s", lag("ewma", 1).over(Window.orderBy("t")))
        .withColumn("resid", col("x") - col("prev_s"))
      val sig = withPrev.filter(col("resid").isNotNull)
        .agg(stddev_samp("resid").as("sigma"))
      withPrev.crossJoin(broadcast(sig))
        .select(col("day"), col("n"),
          Quant.quant6(col("x")).as("x"),
          Quant.quant6(col("ewma")).as("ewma"),
          Quant.quant6(col("resid")).as("resid"),
          when(col("resid").isNotNull,
            abs(Quant.quant6(col("resid"))) > lit(3.0) * Quant.quant6(col("sigma")))
            .as("is_alarm"))
        .orderBy("day")
    }, Some(s"""
      WITH daily AS (
        SELECT ts::TIMESTAMP::DATE AS day, count(*)::BIGINT AS n,
               sum(value) / count(*) AS x
        FROM events GROUP BY 1),
      idx AS (
        SELECT *, (row_number() OVER (ORDER BY day))::BIGINT - 1 AS t FROM daily),
      sm AS (
        SELECT a.day, a.n, a.x, a.t,
               sum(CASE WHEN b.t = 0 THEN pow(0.7, a.t::DOUBLE)
                        ELSE 0.3 * pow(0.7, (a.t - b.t)::DOUBLE) END * b.x) AS ewma
        FROM idx a JOIN idx b ON b.t <= a.t
        GROUP BY a.day, a.n, a.x, a.t),
      pr AS (
        SELECT *, x - lag(ewma) OVER (ORDER BY t) AS resid FROM sm),
      sg AS (
        SELECT stddev_samp(resid) AS sigma FROM pr WHERE resid IS NOT NULL)
      SELECT day, n,
             ${Quant.quant6Sql("x")} AS x,
             ${Quant.quant6Sql("ewma")} AS ewma,
             ${Quant.quant6Sql("resid")} AS resid,
             CASE WHEN resid IS NOT NULL
                  THEN abs(${Quant.quant6Sql("resid")})
                       > 3.0 * ${Quant.quant6Sql("sg.sigma")}
             END AS is_alarm
      FROM pr CROSS JOIN sg
      ORDER BY day
    """)),

    // ------------------------------------------------------------ DSIR importance weights (round 12)
    // Data Selection via Importance Resampling (Xie et al. 2023):
    // score raw documents by how target-like their hashed-unigram
    // distribution is, weight(doc) = Σ_b c_b(doc)·ln(p̂_b/q̂_b) with p̂
    // estimated on the target domain (lang='en' docs stand in) and q̂
    // on the full corpus, both +0.5-smoothed over 64 buckets. The
    // judged output keeps EVERY doc ordered by doc_id (no top-k rank
    // boundary for cross-engine float noise to flip); production
    // resamples ∝ exp(weight). One tokenize pass feeds the
    // checkpointed (doc, bucket) counts; both distributions aggregate
    // from it and the 64-row log-ratio table broadcasts back.
    ("q293_dsir_weights", (s, d) => {
      val m = 64
      val docBucket = Tables.fanOut(Tables.documents(s, d))
        .filter(size(tokens(col("text"))) > 0)
        .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("tok"))
        .select(col("doc_id"), col("lang"), (portableHash(col("tok")) % m).as("b"))
        .groupBy("doc_id", "lang", "b").agg(count(lit(1)).as("c"))
        .graftCheckpoint()
      val raw = docBucket.groupBy("b").agg(sum("c").as("cr"))
      val tgt = docBucket.filter(col("lang") === "en")
        .groupBy("b").agg(sum("c").as("ct"))
      val dist = raw.join(tgt, Seq("b"), "left")
        .withColumn("ct", coalesce(col("ct"), lit(0L)))
      val tots = dist.agg(sum("cr").as("tr"), sum("ct").as("tt"))
      val wtab = dist.crossJoin(broadcast(tots))
        .select(col("b"),
          log(((col("ct").cast("double") + 0.5) / (col("tt").cast("double") + lit(m / 2.0)))
            / ((col("cr").cast("double") + 0.5) / (col("tr").cast("double") + lit(m / 2.0))))
            .as("w"))
      docBucket.join(broadcast(wtab), "b")
        .groupBy("doc_id", "lang")
        .agg(sum("c").as("n_tokens"),
             Quant.quant6(sum(col("c").cast("double") * col("w"))).as("weight"))
        .withColumn("is_target", col("lang") === "en")
        .select("doc_id", "lang", "is_target", "n_tokens", "weight")
        .orderBy("doc_id")
    }, Some(s"""
      WITH db AS (
        SELECT doc_id, lang, ${hashSql("tok", 64)} AS b, count(*)::BIGINT AS c
        FROM (SELECT doc_id, lang, unnest($tokensSql) AS tok FROM documents)
        GROUP BY 1, 2, 3),
      raw AS (SELECT b, sum(c)::BIGINT AS cr FROM db GROUP BY b),
      tgt AS (SELECT b, sum(c)::BIGINT AS ct FROM db WHERE lang = 'en' GROUP BY b),
      dist AS (
        SELECT raw.b, raw.cr, coalesce(tgt.ct, 0)::BIGINT AS ct
        FROM raw LEFT JOIN tgt USING (b)),
      tots AS (SELECT sum(cr)::BIGINT AS tr, sum(ct)::BIGINT AS tt FROM dist),
      wtab AS (
        SELECT b, ln(((ct::DOUBLE + 0.5) / (tt::DOUBLE + 32.0))
                     / ((cr::DOUBLE + 0.5) / (tr::DOUBLE + 32.0))) AS w
        FROM dist CROSS JOIN tots)
      SELECT db.doc_id, db.lang, db.lang = 'en' AS is_target,
             sum(db.c)::BIGINT AS n_tokens,
             ${Quant.quant6Sql("sum(db.c::DOUBLE * wtab.w)")} AS weight
      FROM db JOIN wtab USING (b)
      GROUP BY db.doc_id, db.lang
      ORDER BY db.doc_id
    """)),

    // ------------------------------------------------------------ IPF raking weights (round 12)
    // Iterative proportional fitting of the (source, lang) contingency
    // table to uniform marginals (N/|sources| per source, N/|langs|
    // per lang) — 6 full row+column rounds, the classic raking
    // schedule (converges geometrically; 6 rounds ≈ machine-level on
    // tables this conditioned). The corpus contributes one aggregate;
    // the loop multiplies a |sources|×|langs| cell relation, each
    // round a pair of partitioned-window normalizations, checkpointed
    // per round so the final plan stays flat. The oracle unrolls the
    // identical 12 steps as chained CTEs.
    ("q294_ipf_raking", (s, d) => {
      val rounds = 6
      val obs = Tables.documents(s, d)
        .groupBy("source", "lang").agg(count(lit(1)).as("n"))
        .graftCheckpoint()
      val tot = obs.agg(
        sum("n").cast("double").as("nn"),
        countDistinct("source").cast("double").as("ns"),
        countDistinct("lang").cast("double").as("nl"))
      var cells = obs.crossJoin(broadcast(tot))
        .withColumn("m", col("n").cast("double"))
      val wS = Window.partitionBy("source")
      val wL = Window.partitionBy("lang")
      for (_ <- 1 to rounds) {
        cells = cells
          .withColumn("m", col("m") * ((col("nn") / col("ns")) / sum("m").over(wS)))
          .withColumn("m", col("m") * ((col("nn") / col("nl")) / sum("m").over(wL)))
          .graftCheckpoint()
      }
      cells.select(col("source"), col("lang"), col("n"),
          Quant.quant6(col("m")).as("m_fitted"),
          Quant.quant6(col("m") / col("n").cast("double")).as("weight"))
        .orderBy("source", "lang")
    }, Some {
      val steps = (1 to 6).map { i =>
        s"""r$i AS (
        SELECT source, lang, n, nn, ns, nl,
               m * ((nn / ns) / sum(m) OVER (PARTITION BY source)) AS m
        FROM ${if (i == 1) "m0" else s"c${i - 1}"}),
      c$i AS (
        SELECT source, lang, n, nn, ns, nl,
               m * ((nn / nl) / sum(m) OVER (PARTITION BY lang)) AS m
        FROM r$i)"""
      }.mkString(",\n      ")
      s"""
      WITH obs AS (
        SELECT source, lang, count(*)::BIGINT AS n FROM documents GROUP BY 1, 2),
      tot AS (
        SELECT sum(n)::DOUBLE AS nn, count(DISTINCT source)::DOUBLE AS ns,
               count(DISTINCT lang)::DOUBLE AS nl
        FROM obs),
      m0 AS (
        SELECT source, lang, n, nn, ns, nl, n::DOUBLE AS m
        FROM obs CROSS JOIN tot),
      $steps
      SELECT source, lang, n,
             ${Quant.quant6Sql("m")} AS m_fitted,
             ${Quant.quant6Sql("m / n::DOUBLE")} AS weight
      FROM c6
      ORDER BY source, lang
    """}),

    // ------------------------------------------------------------ James-Stein shrinkage (round 12)
    // Empirical-Bayes shrinkage of per-source mean token counts toward
    // the cross-source mean: method-of-moments between-group variance
    // τ² = max(0, Var_g(ȳ_g) − mean_g(σ̂²/n_g)) with pooled
    // within-source σ̂², per-group factor b_g = (σ̂²/n_g)/(τ²+σ̂²/n_g),
    // shrunk_g = ḡ + (1−b_g)(ȳ_g − ḡ). Token counts are integers, so
    // the sufficient statistics (n, Σy, Σy²) are EXACT BIGINTs on both
    // engines and every derived double is identical arithmetic. One
    // tokenize pass; everything else runs on the ≤|sources| relation.
    ("q295_james_stein", (s, d) => {
      val g = Tables.fanOut(Tables.documents(s, d))
        .filter(size(tokens(col("text"))) > 0)
        .select(col("source"), size(tokens(col("text"))).cast("long").as("y"))
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum("y").as("sy"), sum(col("y") * col("y")).as("syy"))
        .withColumn("mean", col("sy").cast("double") / col("n").cast("double"))
        .withColumn("css",
          col("syy").cast("double")
            - col("sy").cast("double") * col("sy").cast("double") / col("n").cast("double"))
        .graftCheckpoint() // t1, t2 and the final select all read it
      val t1 = g.agg(
        count(lit(1)).cast("double").as("gg"),
        sum("n").cast("double").as("nn"),
        avg("mean").as("gbar"),
        sum("css").as("tcss"))
        .withColumn("sw2", col("tcss") / (col("nn") - col("gg")))
      val t2 = g.crossJoin(broadcast(t1)).agg(
        (sum((col("mean") - col("gbar")) * (col("mean") - col("gbar")))
          / (first("gg") - 1.0)).as("vbar"),
        avg(col("sw2") / col("n").cast("double")).as("msw"))
        .withColumn("tau2", greatest(lit(0.0), col("vbar") - col("msw")))
      g.crossJoin(broadcast(t1)).crossJoin(broadcast(t2))
        .withColumn("b",
          (col("sw2") / col("n").cast("double"))
            / nullif(col("tau2") + col("sw2") / col("n").cast("double"), lit(0.0)))
        .select(col("source"), col("n"),
          Quant.quant6(col("mean")).as("raw_mean"),
          Quant.quant6(col("b")).as("shrink_b"),
          Quant.quant6(col("gbar") + (lit(1.0) - col("b")) * (col("mean") - col("gbar")))
            .as("shrunk_mean"))
        .orderBy("source")
    }, Some(s"""
      WITH y AS (
        SELECT source, len($tokensSql)::BIGINT AS y
        FROM documents WHERE len($tokensSql) > 0),
      g AS (
        SELECT source, count(*)::BIGINT AS n, sum(y)::BIGINT AS sy,
               sum(y * y)::BIGINT AS syy,
               sum(y)::DOUBLE / count(*)::DOUBLE AS mean,
               sum(y * y)::DOUBLE
                 - sum(y)::DOUBLE * sum(y)::DOUBLE / count(*)::DOUBLE AS css
        FROM y GROUP BY source),
      t1 AS (
        SELECT count(*)::DOUBLE AS gg, sum(n)::DOUBLE AS nn,
               avg(mean) AS gbar, sum(css) AS tcss,
               sum(css) / (sum(n)::DOUBLE - count(*)::DOUBLE) AS sw2
        FROM g),
      t2 AS (
        SELECT sum((g.mean - t1.gbar) * (g.mean - t1.gbar)) / (any_value(t1.gg) - 1.0) AS vbar,
               avg(t1.sw2 / g.n::DOUBLE) AS msw,
               greatest(0.0, sum((g.mean - t1.gbar) * (g.mean - t1.gbar))
                               / (any_value(t1.gg) - 1.0)
                             - avg(t1.sw2 / g.n::DOUBLE)) AS tau2
        FROM g CROSS JOIN t1)
      SELECT g.source, g.n,
             ${Quant.quant6Sql("g.mean")} AS raw_mean,
             ${Quant.quant6Sql(
               "(t1.sw2 / g.n::DOUBLE) / nullif(t2.tau2 + t1.sw2 / g.n::DOUBLE, 0.0)")}
               AS shrink_b,
             ${Quant.quant6Sql(
               """t1.gbar + (1.0 - (t1.sw2 / g.n::DOUBLE)
                               / nullif(t2.tau2 + t1.sw2 / g.n::DOUBLE, 0.0))
                          * (g.mean - t1.gbar)""")} AS shrunk_mean
      FROM g CROSS JOIN t1 CROSS JOIN t2
      ORDER BY g.source
    """)),

    // ------------------------------------------------------------ ratio-metric jackknife (round 12)
    // The experimentation-platform staple: a ratio metric (revenue per
    // click) has NO iid per-user observations, so its standard error
    // comes from bucket-level resampling. 20 user-hash buckets; the
    // leave-one-bucket-out ratios are closed forms of the bucket sums
    // ((X−x_b)/(Y−y_b) — no recomputation per replicate), giving the
    // jackknife SE next to the delta-method/linearization SE
    // (B/((B−1)·Y²)·Σ(x_b−R·y_b)²) from the SAME 20-row relation. One
    // events scan; everything after the bucket aggregate is
    // bucket-count-bounded.
    ("q296_ratio_jackknife", (s, d) => {
      val b = 20
      val buckets = Tables.events(s, d)
        .groupBy((col("user_id") % b).as("bucket"))
        .agg(sum(when(col("event_type") === "purchase", col("value")).otherwise(0.0)).as("x"),
             sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("y"))
        .graftCheckpoint() // totals + both SE passes read it
      val tot = buckets.agg(
        count(lit(1)).cast("double").as("bb"),
        sum("x").as("xx"), sum("y").cast("double").as("yy"))
      val loo = buckets.crossJoin(broadcast(tot))
        .withColumn("r_loo", (col("xx") - col("x")) / (col("yy") - col("y").cast("double")))
      val rbar = loo.agg(avg("r_loo").as("rbar"))
      loo.crossJoin(broadcast(rbar))
        .agg(
          first("bb").cast("long").as("n_buckets"),
          Quant.quant6(first("xx")).as("x_total"),
          first("yy").cast("long").as("y_total"),
          Quant.quant6(first("xx") / first("yy")).as("ratio"),
          Quant.quant6(sqrt(
            (first("bb") - 1.0) / first("bb")
              * sum((col("r_loo") - col("rbar")) * (col("r_loo") - col("rbar")))))
            .as("se_jackknife"),
          Quant.quant6(sqrt(
            first("bb") / ((first("bb") - 1.0) * first("yy") * first("yy"))
              * sum((col("x") - col("xx") / col("yy") * col("y").cast("double"))
                  * (col("x") - col("xx") / col("yy") * col("y").cast("double")))))
            .as("se_delta"))
    }, Some(s"""
      WITH buckets AS (
        SELECT (user_id % 20)::BIGINT AS bucket,
               sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END) AS x,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS y
        FROM events GROUP BY 1),
      tot AS (
        SELECT count(*)::DOUBLE AS bb, sum(x) AS xx, sum(y)::DOUBLE AS yy FROM buckets),
      loo AS (
        SELECT b.*, t.bb, t.xx, t.yy,
               (t.xx - b.x) / (t.yy - b.y::DOUBLE) AS r_loo
        FROM buckets b CROSS JOIN tot t),
      rb AS (SELECT avg(r_loo) AS rbar FROM loo)
      SELECT any_value(bb)::BIGINT AS n_buckets,
             ${Quant.quant6Sql("any_value(xx)")} AS x_total,
             any_value(yy)::BIGINT AS y_total,
             ${Quant.quant6Sql("any_value(xx) / any_value(yy)")} AS ratio,
             ${Quant.quant6Sql(
               """sqrt((any_value(bb) - 1.0) / any_value(bb)
                       * sum((r_loo - rb.rbar) * (r_loo - rb.rbar)))""")} AS se_jackknife,
             ${Quant.quant6Sql(
               """sqrt(any_value(bb) / ((any_value(bb) - 1.0) * any_value(yy) * any_value(yy))
                       * sum((x - xx / yy * y::DOUBLE)
                           * (x - xx / yy * y::DOUBLE)))""")} AS se_delta
      FROM loo CROSS JOIN rb
    """)),

    // ------------------------------------------------------------ Good-Turing smoothing (round 12)
    // Frequency-of-frequencies over the corpus vocabulary and the
    // simple Good-Turing re-estimate r* = (r+1)·N_{r+1}/N_r — the
    // classic unseen-mass estimator behind Katz backoff (p_unseen =
    // N_1/N). NULL r* where the next count class is empty (the simple
    // estimator is undefined there; SGT's smoothing of N_r is a model
    // choice, not computed here). One tokenize pass → vocab aggregate;
    // the frequency-of-frequency relation and its r+1 self-join are
    // bounded by the number of DISTINCT counts (≲ √(2·vocab)), tiny at
    // any corpus size.
    ("q297_good_turing", (s, d) => {
      val vocab = Tables.fanOut(Tables.documents(s, d))
        .select(explode(tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("r"))
      val fof = vocab.groupBy("r").agg(count(lit(1)).as("n_r"))
        .graftCheckpoint() // totals + the r+1 self-join read it
      val tot = fof.agg(
        sum(col("r") * col("n_r")).as("n_tokens"),
        sum(when(col("r") === 1L, col("n_r")).otherwise(0L)).as("n1"))
      val nxt = fof.select((col("r") - 1L).as("r"), col("n_r").as("n_r_next"))
      fof.join(nxt, Seq("r"), "left")
        .crossJoin(broadcast(tot))
        .select(col("r"), col("n_r"),
          Quant.quant6((col("r") + 1L).cast("double") * col("n_r_next").cast("double")
            / col("n_r").cast("double")).as("r_star"),
          Quant.quant6(col("r").cast("double") * col("n_r").cast("double")
            / col("n_tokens").cast("double")).as("p_mass"),
          Quant.quant6(col("n1").cast("double") / col("n_tokens").cast("double"))
            .as("p_unseen"))
        .orderBy("r")
    }, Some(s"""
      WITH vocab AS (
        SELECT tok, count(*)::BIGINT AS r
        FROM (SELECT unnest($tokensSql) AS tok FROM documents)
        GROUP BY tok),
      fof AS (SELECT r, count(*)::BIGINT AS n_r FROM vocab GROUP BY r),
      tot AS (
        SELECT sum(r * n_r)::BIGINT AS n_tokens,
               sum(CASE WHEN r = 1 THEN n_r ELSE 0 END)::BIGINT AS n1
        FROM fof)
      SELECT f.r, f.n_r,
             ${Quant.quant6Sql(
               "(f.r + 1)::DOUBLE * nx.n_r::DOUBLE / f.n_r::DOUBLE")} AS r_star,
             ${Quant.quant6Sql(
               "f.r::DOUBLE * f.n_r::DOUBLE / t.n_tokens::DOUBLE")} AS p_mass,
             ${Quant.quant6Sql("t.n1::DOUBLE / t.n_tokens::DOUBLE")} AS p_unseen
      FROM fof f
      LEFT JOIN fof nx ON nx.r = f.r + 1
      CROSS JOIN tot t
      ORDER BY f.r
    """)),

    // ------------------------------------------------------------ Mantel-Haenszel pooled odds ratio (round 12)
    // Stratified 2×2 analysis: does a positive account balance
    // associate with having a fulfilled order, controlling for nation?
    // Per-nation a/b/c/d cells, stratum odds ratios (NULL where a
    // margin is empty), and the Mantel-Haenszel pooled estimate
    // Σ(a·d/n)/Σ(b·c/n) — attached to every row from the 1-row
    // broadcast next to the CRUDE (collapsed) OR, so the confounding
    // gap is visible in one relation. Customer outcomes come from a
    // custkey-keyed semi-aggregate of orders (never a nation-sized
    // broadcast); all ratio math runs on the ≤|nation| relation.
    ("q298_mantel_haenszel", (s, d) => {
      val out = Tables.orders(s, d)
        .filter(col("o_orderstatus") === "F")
        .select(col("o_custkey")).distinct()
        .withColumn("outc", lit(1L))
      val cust = Tables.customer(s, d)
        .join(out, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_nationkey").as("nk"),
          (col("c_acctbal") > 0.0).cast("long").as("e"),
          coalesce(col("outc"), lit(0L)).as("o"))
      val cells = cust.groupBy("nk").agg(
        sum(col("e") * col("o")).as("a"),
        sum(col("e") * (lit(1L) - col("o"))).as("b"),
        sum((lit(1L) - col("e")) * col("o")).as("c"),
        sum((lit(1L) - col("e")) * (lit(1L) - col("o"))).as("dd"))
        .graftCheckpoint() // pooled sums + per-stratum output read it
      val mh = cells.agg(
        (sum(col("a").cast("double") * col("dd").cast("double")
          / (col("a") + col("b") + col("c") + col("dd")).cast("double"))
          / sum(col("b").cast("double") * col("c").cast("double")
            / (col("a") + col("b") + col("c") + col("dd")).cast("double"))).as("or_mh"),
        ((sum("a").cast("double") * sum("dd").cast("double"))
          / (sum("b").cast("double") * sum("c").cast("double"))).as("or_crude"))
      cells.join(broadcast(Tables.nation(s, d)), col("nk") === col("n_nationkey"))
        .crossJoin(broadcast(mh))
        .select(col("n_name").as("nation"), col("a"), col("b"), col("c"),
          col("dd").as("d"),
          Quant.quant6(col("a").cast("double") * col("dd").cast("double")
            / nullif(col("b").cast("double") * col("c").cast("double"), lit(0.0)))
            .as("or_stratum"),
          Quant.quant6(col("or_mh")).as("or_mh"),
          Quant.quant6(col("or_crude")).as("or_crude"))
        .orderBy("nation")
    }, Some(s"""
      WITH outc AS (
        SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
      cust AS (
        SELECT c.c_nationkey AS nk,
               (c.c_acctbal > 0.0)::BIGINT AS e,
               CASE WHEN o.o_custkey IS NULL THEN 0 ELSE 1 END::BIGINT AS o
        FROM customer c LEFT JOIN outc o ON c.c_custkey = o.o_custkey),
      cells AS (
        SELECT nk, sum(e * o)::BIGINT AS a, sum(e * (1 - o))::BIGINT AS b,
               sum((1 - e) * o)::BIGINT AS c,
               sum((1 - e) * (1 - o))::BIGINT AS dd
        FROM cust GROUP BY nk),
      mh AS (
        SELECT sum(a::DOUBLE * dd::DOUBLE / (a + b + c + dd)::DOUBLE)
                 / sum(b::DOUBLE * c::DOUBLE / (a + b + c + dd)::DOUBLE) AS or_mh,
               (sum(a)::DOUBLE * sum(dd)::DOUBLE)
                 / (sum(b)::DOUBLE * sum(c)::DOUBLE) AS or_crude
        FROM cells)
      SELECT n.n_name AS nation, cl.a, cl.b, cl.c, cl.dd AS d,
             ${Quant.quant6Sql(
               "cl.a::DOUBLE * cl.dd::DOUBLE / nullif(cl.b::DOUBLE * cl.c::DOUBLE, 0.0)")}
               AS or_stratum,
             ${Quant.quant6Sql("mh.or_mh")} AS or_mh,
             ${Quant.quant6Sql("mh.or_crude")} AS or_crude
      FROM cells cl
      JOIN nation n ON cl.nk = n.n_nationkey
      CROSS JOIN mh
      ORDER BY nation
    """)),

    // ------------------------------------------------------------ power analysis / MDE grid (round 12)
    // Pre-experiment sizing: given the observed post-cut purchase
    // conversion rate as baseline, the per-arm sample size needed to
    // detect each relative lift on the grid at α=0.05 (two-sided),
    // power=0.8 — n = (z_{α/2}·√(2p̄q̄) + z_β·√(p₁q₁+p₂q₂))²/(p₂−p₁)².
    // The z constants are shared IEEE literals (computing Φ⁻¹
    // independently per engine would skew in the last ulps). Baseline
    // = the event-level purchase share (~0.2, so every lifted p₂ stays
    // a probability; a near-1 baseline would push p₂ past 1 and the
    // variance negative). One events scan for the 1-row baseline; the
    // grid is a 5-row literal broadcast.
    ("q299_power_mde", (s, d) => {
      val zA = 1.959963984540054 // Φ⁻¹(0.975)
      val zB = 0.8416212335729143 // Φ⁻¹(0.80)
      val base = Tables.events(s, d)
        .agg((sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).cast("double")
                / count(lit(1)).cast("double")).as("p1"),
             count(lit(1)).as("n_events"))
      val grid = Seq(0.02, 0.05, 0.10, 0.15, 0.20)
      base.crossJoin(broadcast(
          base.sparkSession.range(1).select(
            explode(lit(grid.toArray)).as("lift"))))
        .withColumn("p2", col("p1") * (lit(1.0) + col("lift")))
        .select(col("lift"), col("n_events"),
          Quant.quant6(col("p1")).as("p1"),
          Quant.quant6(col("p2")).as("p2"),
          ceil(
            (lit(zA) * sqrt(lit(2.0) * ((col("p1") + col("p2")) / 2.0)
               * (lit(1.0) - (col("p1") + col("p2")) / 2.0))
             + lit(zB) * sqrt(col("p1") * (lit(1.0) - col("p1"))
               + col("p2") * (lit(1.0) - col("p2"))))
            * (lit(zA) * sqrt(lit(2.0) * ((col("p1") + col("p2")) / 2.0)
               * (lit(1.0) - (col("p1") + col("p2")) / 2.0))
             + lit(zB) * sqrt(col("p1") * (lit(1.0) - col("p1"))
               + col("p2") * (lit(1.0) - col("p2"))))
            / ((col("p2") - col("p1")) * (col("p2") - col("p1"))))
            .cast("long").as("n_per_arm"))
        .orderBy("lift")
    }, Some(s"""
      WITH base AS (
        SELECT sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::DOUBLE
                 / count(*)::DOUBLE AS p1,
               count(*)::BIGINT AS n_events
        FROM events),
      grid AS (SELECT unnest([0.02, 0.05, 0.10, 0.15, 0.20]) AS lift),
      g AS (
        SELECT lift, n_events, p1, p1 * (1.0 + lift) AS p2
        FROM base CROSS JOIN grid)
      SELECT lift, n_events,
             ${Quant.quant6Sql("p1")} AS p1,
             ${Quant.quant6Sql("p2")} AS p2,
             ceil(
               (1.959963984540054 * sqrt(2.0 * ((p1 + p2) / 2.0) * (1.0 - (p1 + p2) / 2.0))
                + 0.8416212335729143 * sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2)))
               * (1.959963984540054 * sqrt(2.0 * ((p1 + p2) / 2.0) * (1.0 - (p1 + p2) / 2.0))
                + 0.8416212335729143 * sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2)))
               / ((p2 - p1) * (p2 - p1)))::BIGINT AS n_per_arm
      FROM g
      ORDER BY lift
    """)),

    // ------------------------------------------------------------ Cochran-Armitage trend test (round 12)
    // Ordered-dose trend in proportions: does fulfillment rate trend
    // across the 1-URGENT..5-LOW priority scale? Z = Σw_k(r_k−n_k·p̄) /
    // √(p̄q̄·(Σw_k²n_k − (Σw_k n_k)²/N)) with the priority's leading
    // digit as the dose score — integer sufficient statistics
    // (n_k, r_k per dose) from ONE orders scan, every float op on the
    // 5-row dose relation. The per-dose rates ship alongside so the
    // direction of the trend is readable, with Z attached from the
    // 1-row broadcast.
    ("q300_cochran_armitage", (s, d) => {
      val dose = Tables.orders(s, d)
        .select(substring(col("o_orderpriority"), 1, 1).cast("long").as("w"),
          when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("f"))
        .groupBy("w").agg(count(lit(1)).as("n_k"), sum("f").as("r_k"))
        .graftCheckpoint() // totals + per-dose output read it
      val t = dose.agg(
        sum("n_k").as("nn"), sum("r_k").as("rr"),
        sum(col("w") * col("n_k")).as("swn"),
        sum(col("w") * col("w") * col("n_k")).as("swwn"),
        sum(col("w") * col("r_k")).as("swr"))
        .withColumn("pbar", col("rr").cast("double") / col("nn").cast("double"))
        .withColumn("z",
          (col("swr").cast("double") - col("pbar") * col("swn").cast("double"))
            / nullif(sqrt(col("pbar") * (lit(1.0) - col("pbar"))
                * (col("swwn").cast("double")
                   - col("swn").cast("double") * col("swn").cast("double")
                     / col("nn").cast("double"))), lit(0.0)))
      dose.crossJoin(broadcast(t.select("pbar", "z")))
        .select(col("w").as("dose"), col("n_k"), col("r_k"),
          Quant.quant6(col("r_k").cast("double") / col("n_k").cast("double")).as("rate"),
          Quant.quant6(col("pbar")).as("pooled_rate"),
          Quant.quant6(col("z")).as("z_trend"))
        .orderBy("dose")
    }, Some(s"""
      WITH dose AS (
        SELECT substring(o_orderpriority, 1, 1)::BIGINT AS w,
               count(*)::BIGINT AS n_k,
               sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT AS r_k
        FROM orders GROUP BY 1),
      t AS (
        SELECT sum(n_k)::BIGINT AS nn, sum(r_k)::BIGINT AS rr,
               sum(w * n_k)::BIGINT AS swn,
               sum(w * w * n_k)::BIGINT AS swwn,
               sum(w * r_k)::BIGINT AS swr
        FROM dose),
      tz AS (
        SELECT rr::DOUBLE / nn::DOUBLE AS pbar,
               (swr::DOUBLE - (rr::DOUBLE / nn::DOUBLE) * swn::DOUBLE)
                 / nullif(sqrt((rr::DOUBLE / nn::DOUBLE)
                     * (1.0 - rr::DOUBLE / nn::DOUBLE)
                     * (swwn::DOUBLE - swn::DOUBLE * swn::DOUBLE / nn::DOUBLE)), 0.0) AS z
        FROM t)
      SELECT d.w AS dose, d.n_k, d.r_k,
             ${Quant.quant6Sql("d.r_k::DOUBLE / d.n_k::DOUBLE")} AS rate,
             ${Quant.quant6Sql("tz.pbar")} AS pooled_rate,
             ${Quant.quant6Sql("tz.z")} AS z_trend
      FROM dose d CROSS JOIN tz
      ORDER BY dose
    """)),

    // ------------------------------------------------------------ covariate balance / SMD audit (round 12)
    // The first table in any experiment readout: standardized mean
    // differences of pre-treatment covariates between the hash-split
    // arms — |SMD| ≳ 0.1 flags a broken randomization (q248's SRM
    // audit checks the COUNTS; this checks the covariate
    // DISTRIBUTIONS). Five per-user covariates unpivot via one stack
    // over the user aggregate; means/variances come from explicit
    // sufficient-statistic algebra (not var_samp) so both engines run
    // the identical float op sequence on exact per-arm sums. One
    // events scan; everything past the user aggregate is 10 rows.
    ("q301_covariate_balance", (s, d) => {
      val perUser = Tables.fanOut(Tables.events(s, d))
        .groupBy("user_id")
        .agg(count(lit(1)).cast("double").as("n_events"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).cast("double")
            .as("n_clicks"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).cast("double")
            .as("n_purchases"),
          (sum("value") / count(lit(1))).as("avg_value"),
          countDistinct(to_date(col("ts"))).cast("double").as("active_days"))
        .withColumn("t", (col("user_id") % 2).cast("long"))
      val long = perUser.select(col("t"), expr(
        """stack(5, 'n_events', n_events, 'n_clicks', n_clicks,
                 'n_purchases', n_purchases, 'avg_value', avg_value,
                 'active_days', active_days) AS (covariate, v)"""))
      val byArm = long.groupBy("covariate", "t")
        .agg(count(lit(1)).cast("double").as("n"), sum("v").as("sv"),
             sum(col("v") * col("v")).as("svv"))
        .withColumn("m", col("sv") / col("n"))
        .withColumn("va",
          (col("svv") - col("sv") * col("sv") / col("n")) / (col("n") - 1.0))
      // pivot the two arms side-by-side with conditional firsts — one
      // more tiny aggregate instead of a filter/self-join pair that
      // would recompute the whole user aggregate per arm
      byArm.groupBy("covariate")
        .agg(
          max(when(col("t") === 1L, col("n"))).as("n_t"),
          max(when(col("t") === 0L, col("n"))).as("n_c"),
          max(when(col("t") === 1L, col("m"))).as("mean_t"),
          max(when(col("t") === 0L, col("m"))).as("mean_c"),
          max(when(col("t") === 1L, col("va"))).as("var_t"),
          max(when(col("t") === 0L, col("va"))).as("var_c"))
        .select(col("covariate"),
          col("n_t").cast("long").as("n_t"), col("n_c").cast("long").as("n_c"),
          Quant.quant6(col("mean_t")).as("mean_t"),
          Quant.quant6(col("mean_c")).as("mean_c"),
          Quant.quant6((col("mean_t") - col("mean_c"))
            / nullif(sqrt((col("var_t") + col("var_c")) / 2.0), lit(0.0))).as("smd"))
        .orderBy("covariate")
    }, Some(s"""
      WITH pu AS (
        SELECT user_id, (user_id % 2)::BIGINT AS t,
               count(*)::DOUBLE AS n_events,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::DOUBLE AS n_clicks,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::DOUBLE
                 AS n_purchases,
               sum(value) / count(*) AS avg_value,
               count(DISTINCT ts::TIMESTAMP::DATE)::DOUBLE AS active_days
        FROM events GROUP BY user_id),
      long AS (
        SELECT t, covariate, v FROM pu
        UNPIVOT (v FOR covariate IN (n_events, n_clicks, n_purchases,
                                     avg_value, active_days))),
      arm AS (
        SELECT covariate, t, count(*)::DOUBLE AS n, sum(v) AS sv, sum(v * v) AS svv,
               sum(v) / count(*)::DOUBLE AS m,
               (sum(v * v) - sum(v) * sum(v) / count(*)::DOUBLE)
                 / (count(*)::DOUBLE - 1.0) AS va
        FROM long GROUP BY 1, 2)
      SELECT a.covariate,
             a.n::BIGINT AS n_t, b.n::BIGINT AS n_c,
             ${Quant.quant6Sql("a.m")} AS mean_t,
             ${Quant.quant6Sql("b.m")} AS mean_c,
             ${Quant.quant6Sql(
               "(a.m - b.m) / nullif(sqrt((a.va + b.va) / 2.0), 0.0)")} AS smd
      FROM arm a JOIN arm b ON a.covariate = b.covariate AND a.t = 1 AND b.t = 0
      ORDER BY a.covariate
    """)),

    // ------------------------------------------------------------ Kendall tau-b (round 12)
    // Rank correlation between daily revenue and daily click volume
    // with the tie-corrected tau-b denominator — the robust cousin of
    // q246's Spearman (pairwise concordance instead of rank
    // differences, and exact tie handling). The all-pairs step is
    // CALENDAR-bounded: the corpus contributes one day-keyed
    // aggregate; the triangular join runs on the checkpointed ≤|days|
    // relation (10 years ⇒ 6.7M sign comparisons, still one task).
    ("q302_kendall_tau", (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(when(col("event_type") === "purchase", col("value")).otherwise(0.0))
               .as("x"),
             sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("y"))
        .graftCheckpoint() // pair join (both sides) + tie totals read it
      val pairs = daily.alias("a")
        .join(daily.alias("b"), col("a.day") < col("b.day"))
        .agg(
          sum(when((col("a.x") < col("b.x") && col("a.y") < col("b.y"))
            || (col("a.x") > col("b.x") && col("a.y") > col("b.y")), 1L)
            .otherwise(0L)).as("concordant"),
          sum(when((col("a.x") < col("b.x") && col("a.y") > col("b.y"))
            || (col("a.x") > col("b.x") && col("a.y") < col("b.y")), 1L)
            .otherwise(0L)).as("discordant"),
          sum(when(col("a.x") === col("b.x"), 1L).otherwise(0L)).as("tx"),
          sum(when(col("a.y") === col("b.y"), 1L).otherwise(0L)).as("ty"))
      val n = daily.agg(count(lit(1)).as("n_days"))
      pairs.crossJoin(broadcast(n))
        .withColumn("n0", col("n_days") * (col("n_days") - 1L) / 2L)
        .select(col("n_days"), col("concordant"), col("discordant"),
          Quant.quant6(
            (col("concordant") - col("discordant")).cast("double")
              / nullif(sqrt((col("n0") - col("tx")).cast("double")
                  * (col("n0") - col("ty")).cast("double")), lit(0.0))).as("tau_b"))
    }, Some(s"""
      WITH daily AS (
        SELECT ts::TIMESTAMP::DATE AS day,
               sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END) AS x,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS y
        FROM events GROUP BY 1),
      pairs AS (
        SELECT sum(CASE WHEN (a.x < b.x AND a.y < b.y) OR (a.x > b.x AND a.y > b.y)
                        THEN 1 ELSE 0 END)::BIGINT AS concordant,
               sum(CASE WHEN (a.x < b.x AND a.y > b.y) OR (a.x > b.x AND a.y < b.y)
                        THEN 1 ELSE 0 END)::BIGINT AS discordant,
               sum(CASE WHEN a.x = b.x THEN 1 ELSE 0 END)::BIGINT AS tx,
               sum(CASE WHEN a.y = b.y THEN 1 ELSE 0 END)::BIGINT AS ty
        FROM daily a JOIN daily b ON a.day < b.day),
      nd AS (SELECT count(*)::BIGINT AS n_days FROM daily),
      j AS (
        SELECT p.*, nd.n_days, nd.n_days * (nd.n_days - 1) // 2 AS n0
        FROM pairs p CROSS JOIN nd)
      SELECT n_days, concordant, discordant,
             ${Quant.quant6Sql(
               """(concordant - discordant)::DOUBLE
                  / nullif(sqrt((n0 - tx)::DOUBLE * (n0 - ty)::DOUBLE), 0.0)""")} AS tau_b
      FROM j
    """)),

    // ------------------------------------------------------------ Theil index decomposition (round 12)
    // Inequality of document lengths with the between/within-source
    // split Gini can't give: T = T_between + T_within, additively
    // decomposable, so "how much of the length inequality is the
    // source mix vs within-source spread" is one relation. Everything
    // reduces to three sufficient statistics per source (n, Σy,
    // Σy·ln y — y is the exact integer n_chars), ONE scan; the
    // decomposition algebra runs on the ≤|sources| relation with the
    // global totals as a 1-row broadcast.
    ("q303_theil_decomposition", (s, d) => {
      val g = Tables.documents(s, d)
        .filter(col("n_chars") > 0L)
        .select(col("source"), col("n_chars").cast("double").as("y"))
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum("y").as("sy"),
             sum(col("y") * log(col("y"))).as("syl"))
        .graftCheckpoint() // totals + the per-source output read it
      val tot = g.agg(
        sum("n").as("nn"), sum("sy").as("tsy"), sum("syl").as("tsyl"))
        .withColumn("mu", col("tsy") / col("nn").cast("double"))
      g.crossJoin(broadcast(tot))
        .withColumn("mu_g", col("sy") / col("n").cast("double"))
        .withColumn("share", col("sy") / col("tsy"))
        .withColumn("t_g",
          col("syl") / (col("n").cast("double") * col("mu_g")) - log(col("mu_g")))
        .select(col("source"), col("n"),
          Quant.quant6(col("mu_g")).as("mean_chars"),
          Quant.quant6(col("share")).as("char_share"),
          Quant.quant6(col("t_g")).as("theil_within_source"),
          Quant.quant6(col("share") * log(col("mu_g") / col("mu")))
            .as("between_term"),
          Quant.quant6(col("tsyl") / (col("nn").cast("double") * col("mu"))
            - log(col("mu"))).as("theil_total"))
        .orderBy("source")
    }, Some(s"""
      WITH g AS (
        SELECT source, count(*)::BIGINT AS n, sum(n_chars::DOUBLE) AS sy,
               sum(n_chars::DOUBLE * ln(n_chars::DOUBLE)) AS syl
        FROM documents WHERE n_chars > 0 GROUP BY source),
      tot AS (
        SELECT sum(n)::BIGINT AS nn, sum(sy) AS tsy, sum(syl) AS tsyl,
               sum(sy) / sum(n)::DOUBLE AS mu
        FROM g),
      j AS (
        SELECT g.*, t.nn, t.tsy, t.tsyl, t.mu,
               g.sy / g.n::DOUBLE AS mu_g, g.sy / t.tsy AS share
        FROM g CROSS JOIN tot t)
      SELECT source, n,
             ${Quant.quant6Sql("mu_g")} AS mean_chars,
             ${Quant.quant6Sql("share")} AS char_share,
             ${Quant.quant6Sql("syl / (n::DOUBLE * mu_g) - ln(mu_g)")}
               AS theil_within_source,
             ${Quant.quant6Sql("share * ln(mu_g / mu)")} AS between_term,
             ${Quant.quant6Sql("tsyl / (nn::DOUBLE * mu) - ln(mu)")} AS theil_total
      FROM j
      ORDER BY source
    """)),

    // ------------------------------------------------------------ Nelson-Aalen cumulative hazard (round 12)
    // q197's estimator sibling on the same censored-lifetime relation:
    // cumulative hazard H(t) = Σ_{s≤t} d_s/n_s and the
    // Fleming-Harrington survival exp(−H) — the form whose variance
    // and small-risk-set behavior differ from Kaplan-Meier exactly
    // where retention curves get decided. Risk sets via the same
    // cumulative-window algebra (deterministic order ⇒ identical
    // float sequence on both engines); one scan → per-user aggregate →
    // ≤|distinct lifetimes| relation.
    ("q304_nelson_aalen", (s, d) => {
      val perUser = Tables.events(s, d)
        .groupBy("user_id")
        .agg(to_date(min(col("ts"))).as("first_day"),
             to_date(max(col("ts"))).as("last_day"))
      val end = perUser.agg(max(col("last_day")).as("corpus_end"))
      val byLife = perUser.crossJoin(broadcast(end))
        .select(datediff(col("last_day"), col("first_day")).cast("long")
            .as("lifetime_days"),
          (datediff(col("corpus_end"), col("last_day")) < 7).as("censored"))
        .groupBy("lifetime_days")
        .agg(sum(when(col("censored"), 0L).otherwise(1L)).as("n_events"),
             sum(when(col("censored"), 1L).otherwise(0L)).as("n_censored"))
      val wPrev = Window.orderBy("lifetime_days")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wCum = Window.orderBy("lifetime_days")
        .rowsBetween(Window.unboundedPreceding, 0)
      val wAll = Window.partitionBy(lit(1))
      byLife
        .withColumn("n_risk",
          sum(col("n_events") + col("n_censored")).over(wAll) -
            coalesce(sum(col("n_events") + col("n_censored")).over(wPrev), lit(0L)))
        .withColumn("h", col("n_events").cast("double") / col("n_risk").cast("double"))
        .select(col("lifetime_days"), col("n_risk"), col("n_events"), col("n_censored"),
          Quant.quant6(sum(col("h")).over(wCum)).as("cum_hazard"),
          Quant.quant6(exp(-sum(col("h")).over(wCum))).as("fh_survival"))
        .orderBy("lifetime_days")
    }, Some(s"""
      WITH pu AS (
        SELECT user_id, min(ts::TIMESTAMP)::DATE AS first_day,
               max(ts::TIMESTAMP)::DATE AS last_day
        FROM events GROUP BY user_id),
      mx AS (SELECT max(last_day) AS corpus_end FROM pu),
      bylife AS (
        SELECT date_diff('day', first_day, last_day)::BIGINT AS lifetime_days,
               sum(CASE WHEN date_diff('day', last_day, corpus_end) < 7
                        THEN 0 ELSE 1 END)::BIGINT AS n_events,
               sum(CASE WHEN date_diff('day', last_day, corpus_end) < 7
                        THEN 1 ELSE 0 END)::BIGINT AS n_censored
        FROM pu, mx GROUP BY 1),
      r AS (
        SELECT *,
               (sum(n_events + n_censored) OVER ()
                 - coalesce(sum(n_events + n_censored) OVER (ORDER BY lifetime_days
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT
                 AS n_risk
        FROM bylife),
      h AS (
        SELECT *, n_events::DOUBLE / n_risk::DOUBLE AS hz FROM r)
      SELECT lifetime_days, n_risk, n_events, n_censored,
             ${Quant.quant6Sql(
               """sum(hz) OVER (ORDER BY lifetime_days
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""")} AS cum_hazard,
             ${Quant.quant6Sql(
               """exp(-sum(hz) OVER (ORDER BY lifetime_days
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))""")} AS fh_survival
      FROM h
      ORDER BY lifetime_days
    """)),

    // ------------------------------------------------------------ log-rank test (round 12)
    // Does time-to-first-purchase DIFFER between the hash-split arms?
    // The standard two-sample censored comparison: the "event" is a
    // user's first purchase (measured in days from their first
    // activity), users who never purchase are right-censored at the
    // corpus end — q197/q304 use activity lifetimes, but on this
    // corpus every user is active to the horizon, so conversion is the
    // survival question with real variation. At each distinct event
    // time, observed-vs-expected arm-1 events under the
    // hypergeometric null (E₁ = d·n₁/n, V = d·(n₁/n)(n₂/n)
    // ·(n−d)/(n−1)), χ² = (ΣO−E)²/ΣV. Risk sets per arm via the
    // cumulative-window algebra; one events scan → per-user aggregate
    // → per-(time, arm) cells → ≤|distinct times| relation. Integer
    // sufficient statistics end-to-end; χ² is the only rounded float.
    ("q305_logrank_test", (s, d) => {
      val perUser = Tables.events(s, d)
        .groupBy("user_id")
        .agg(to_date(min(col("ts"))).as("first_day"),
             to_date(min(when(col("event_type") === "purchase", col("ts"))))
               .as("conv_day"))
      val end = Tables.events(s, d).agg(to_date(max(col("ts"))).as("corpus_end"))
      val byCell = perUser.crossJoin(broadcast(end))
        .select((col("user_id") % 2).cast("long").as("arm"),
          coalesce(datediff(col("conv_day"), col("first_day")),
            datediff(col("corpus_end"), col("first_day"))).cast("long").as("lt"),
          col("conv_day").isNull.as("censored"))
        .groupBy("lt")
        .agg(
          sum(when(col("arm") === 1L && !col("censored"), 1L).otherwise(0L)).as("d1"),
          sum(when(col("arm") === 0L && !col("censored"), 1L).otherwise(0L)).as("d0"),
          sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("x1"),
          sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("x0"))
      val wPrev = Window.orderBy("lt").rowsBetween(Window.unboundedPreceding, -1)
      val wAll = Window.partitionBy(lit(1))
      val risk = byCell
        .withColumn("n1", sum("x1").over(wAll) - coalesce(sum("x1").over(wPrev), lit(0L)))
        .withColumn("n0", sum("x0").over(wAll) - coalesce(sum("x0").over(wPrev), lit(0L)))
        .withColumn("dd", col("d1") + col("d0"))
        .withColumn("nn", col("n1") + col("n0"))
        .filter(col("dd") > 0L && col("nn") > 1L)
      risk.agg(
          sum("d1").as("observed_1"),
          sum(col("dd").cast("double") * col("n1").cast("double")
            / col("nn").cast("double")).as("e1"),
          sum(col("dd").cast("double")
            * (col("n1").cast("double") / col("nn").cast("double"))
            * (col("n0").cast("double") / col("nn").cast("double"))
            * (col("nn") - col("dd")).cast("double")
            / (col("nn") - lit(1L)).cast("double")).as("v"))
        .select(col("observed_1"),
          Quant.quant6(col("e1")).as("expected_1"),
          Quant.quant6(col("v")).as("variance"),
          Quant.quant6(
            (col("observed_1").cast("double") - col("e1"))
              * (col("observed_1").cast("double") - col("e1"))
              / nullif(col("v"), lit(0.0))).as("chi2"))
    }, Some(s"""
      WITH pu AS (
        SELECT user_id, min(ts::TIMESTAMP)::DATE AS first_day,
               min(CASE WHEN event_type = 'purchase'
                        THEN ts::TIMESTAMP END)::DATE AS conv_day
        FROM events GROUP BY user_id),
      mx AS (SELECT max(ts::TIMESTAMP)::DATE AS corpus_end FROM events),
      cells AS (
        SELECT coalesce(date_diff('day', first_day, conv_day),
                        date_diff('day', first_day, corpus_end))::BIGINT AS lt,
               sum(CASE WHEN user_id % 2 = 1 AND conv_day IS NOT NULL
                        THEN 1 ELSE 0 END)::BIGINT AS d1,
               sum(CASE WHEN user_id % 2 = 0 AND conv_day IS NOT NULL
                        THEN 1 ELSE 0 END)::BIGINT AS d0,
               sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS x1,
               sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS x0
        FROM pu, mx GROUP BY 1),
      risk AS (
        SELECT *,
               (sum(x1) OVER () - coalesce(sum(x1) OVER (ORDER BY lt
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT AS n1,
               (sum(x0) OVER () - coalesce(sum(x0) OVER (ORDER BY lt
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT AS n0,
               (d1 + d0)::BIGINT AS dd
        FROM cells),
      f AS (
        SELECT *, (n1 + n0)::BIGINT AS nn FROM risk
        WHERE d1 + d0 > 0 AND n1 + n0 > 1),
      a AS (
        SELECT sum(d1)::BIGINT AS observed_1,
               sum(dd::DOUBLE * n1::DOUBLE / nn::DOUBLE) AS e1,
               sum(dd::DOUBLE * (n1::DOUBLE / nn::DOUBLE) * (n0::DOUBLE / nn::DOUBLE)
                   * (nn - dd)::DOUBLE / (nn - 1)::DOUBLE) AS v
        FROM f)
      SELECT observed_1,
             ${Quant.quant6Sql("e1")} AS expected_1,
             ${Quant.quant6Sql("v")} AS variance,
             ${Quant.quant6Sql(
               """(observed_1::DOUBLE - e1) * (observed_1::DOUBLE - e1)
                  / nullif(v, 0.0)""")} AS chi2
      FROM a
    """)),

    // ------------------------------------------------------------ Burrows' Delta (round 12)
    // Stylometric distance between sources: z-score each source's
    // relative frequency of the corpus's top-30 tokens against the
    // cross-source distribution, Delta(a,b) = mean_t |z_at − z_bt| —
    // the classic authorship-attribution measure, here profiling which
    // sources write alike (a near-dup/contamination lead that survives
    // paraphrase). One tokenize pass → (source, token) counts; the
    // marker list is a 30-row deterministic top-k broadcast (count
    // desc, token asc), the z-table is |sources|×30 dense (missing
    // cells are REAL zero frequencies, materialized via the
    // sources×markers grid), and the pair join runs on the
    // ≤|sources|² relation.
    ("q306_burrows_delta", (s, d) => {
      val st = Tables.fanOut(Tables.documents(s, d))
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("c"))
        .graftCheckpoint() // markers, source totals, and the grid read it
      val markers = st.groupBy("tok").agg(sum("c").as("tc"))
        .orderBy(col("tc").desc, col("tok")).limit(30)
      val totals = st.groupBy("source").agg(sum("c").as("tot"))
      val grid = totals.crossJoin(broadcast(markers.select("tok")))
        .join(st, Seq("source", "tok"), "left")
        .select(col("source"), col("tok"),
          (coalesce(col("c"), lit(0L)).cast("double") / col("tot").cast("double"))
            .as("f"))
      val ztab = grid
        .withColumn("mu", avg("f").over(Window.partitionBy("tok")))
        .withColumn("sd", stddev_samp("f").over(Window.partitionBy("tok")))
        .select(col("source"), col("tok"),
          ((col("f") - col("mu")) / nullif(col("sd"), lit(0.0))).as("z"))
      ztab.alias("a")
        .join(ztab.alias("b"),
          col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
        .agg(Quant.quant6(avg(abs(col("a.z") - col("b.z")))).as("delta"),
             count(lit(1)).as("n_markers"))
        .orderBy("source_a", "source_b")
    }, Some(s"""
      WITH st AS (
        SELECT source, tok, count(*)::BIGINT AS c
        FROM (SELECT source, unnest($tokensSql) AS tok FROM documents)
        GROUP BY 1, 2),
      markers AS (
        SELECT tok FROM (SELECT tok, sum(c) AS tc FROM st GROUP BY tok)
        ORDER BY tc DESC, tok LIMIT 30),
      totals AS (SELECT source, sum(c)::BIGINT AS tot FROM st GROUP BY source),
      grid AS (
        SELECT t.source, m.tok,
               coalesce(s2.c, 0)::DOUBLE / t.tot::DOUBLE AS f
        FROM totals t CROSS JOIN markers m
        LEFT JOIN st s2 ON s2.source = t.source AND s2.tok = m.tok),
      ztab AS (
        SELECT source, tok,
               (f - avg(f) OVER (PARTITION BY tok))
                 / nullif(stddev_samp(f) OVER (PARTITION BY tok), 0.0) AS z
        FROM grid)
      SELECT a.source AS source_a, b.source AS source_b,
             ${Quant.quant6Sql("avg(abs(a.z - b.z))")} AS delta,
             count(*)::BIGINT AS n_markers
      FROM ztab a JOIN ztab b ON a.tok = b.tok AND a.source < b.source
      GROUP BY 1, 2
      ORDER BY 1, 2
    """)),

    // ------------------------------------------------------------ AIPW doubly-robust ATE (round 12)
    // The estimator that closes the causal family (q213 DiD, q276 IPW,
    // q282 stratification): augmented IPW of the post-cut purchase
    // outcome under the hash split, with a DELIBERATELY different
    // model per nuisance — exact per-click-count cells for the
    // propensity, a linear-in-clicks OLS per arm for the outcome — so
    // the augmentation terms are nonzero and the double-robustness is
    // visible next to the naive/OM/IPW columns. The key scale fact:
    // because the covariate is the integer click count, EVERY term
    // collapses onto the ≤|distinct counts| cell relation (Σ over
    // users of c·y within a cell is c·Σy) — one events scan, one user
    // aggregate, one cell aggregate, then 1-row algebra.
    ("q307_aipw_ate", (s, d) => {
      val cut = lit("2024-01-24 00:00:00").cast("timestamp")
      val perUser = Tables.fanOut(Tables.events(s, d))
        .groupBy("user_id")
        .agg(sum(when(col("event_type") === "click" && col("ts") < cut, 1L)
               .otherwise(0L)).as("c"),
             max(when(col("event_type") === "purchase" && col("ts") >= cut, 1L)
               .otherwise(0L)).as("y"))
        .withColumn("t", (col("user_id") % 2).cast("long"))
      val cells = perUser.groupBy("c").agg(
        sum(col("t")).as("n1"), sum(lit(1L) - col("t")).as("n0"),
        sum(col("t") * col("y")).as("sy1"),
        sum((lit(1L) - col("t")) * col("y")).as("sy0"))
        .graftCheckpoint() // OLS totals + the per-cell assembly read it
      val fit = cells.agg(
        sum(col("n1") + col("n0")).as("nn"),
        sum("n1").as("t_n"), sum(col("c") * col("n1")).as("t_sc"),
        sum(col("c") * col("c") * col("n1")).as("t_scc"),
        sum("sy1").as("t_sy"), sum(col("c") * col("sy1")).as("t_scy"),
        sum("n0").as("c_n"), sum(col("c") * col("n0")).as("c_sc"),
        sum(col("c") * col("c") * col("n0")).as("c_scc"),
        sum("sy0").as("c_sy"), sum(col("c") * col("sy0")).as("c_scy"))
        .withColumn("b1",
          (col("t_n").cast("double") * col("t_scy").cast("double")
            - col("t_sc").cast("double") * col("t_sy").cast("double"))
            / nullif(col("t_n").cast("double") * col("t_scc").cast("double")
                - col("t_sc").cast("double") * col("t_sc").cast("double"), lit(0.0)))
        .withColumn("a1",
          (col("t_sy").cast("double") - col("b1") * col("t_sc").cast("double"))
            / col("t_n").cast("double"))
        .withColumn("b0",
          (col("c_n").cast("double") * col("c_scy").cast("double")
            - col("c_sc").cast("double") * col("c_sy").cast("double"))
            / nullif(col("c_n").cast("double") * col("c_scc").cast("double")
                - col("c_sc").cast("double") * col("c_sc").cast("double"), lit(0.0)))
        .withColumn("a0",
          (col("c_sy").cast("double") - col("b0") * col("c_sc").cast("double"))
            / col("c_n").cast("double"))
      cells.crossJoin(broadcast(fit))
        .withColumn("n", col("n1") + col("n0"))
        .withColumn("e", col("n1").cast("double") / col("n").cast("double"))
        .withColumn("m1", col("a1") + col("b1") * col("c").cast("double"))
        .withColumn("m0", col("a0") + col("b0") * col("c").cast("double"))
        .agg(
          first("nn").as("n_users"),
          Quant.quant6(
            sum(col("sy1")).cast("double") / first("t_n").cast("double")
              - sum(col("sy0")).cast("double") / first("c_n").cast("double"))
            .as("naive_diff"),
          Quant.quant6(
            sum(col("n").cast("double") * (col("m1") - col("m0")))
              / first("nn").cast("double")).as("om_ate"),
          Quant.quant6(
            (sum(when(col("n1") > 0L,
                col("sy1").cast("double") / col("e")).otherwise(0.0))
              - sum(when(col("n0") > 0L,
                  col("sy0").cast("double") / (lit(1.0) - col("e"))).otherwise(0.0)))
              / first("nn").cast("double")).as("ipw_ate"),
          Quant.quant6(
            (sum(col("n").cast("double") * (col("m1") - col("m0")))
              + sum(when(col("n1") > 0L,
                  (col("sy1").cast("double") - col("n1").cast("double") * col("m1"))
                    / col("e")).otherwise(0.0))
              - sum(when(col("n0") > 0L,
                  (col("sy0").cast("double") - col("n0").cast("double") * col("m0"))
                    / (lit(1.0) - col("e"))).otherwise(0.0)))
              / first("nn").cast("double")).as("aipw_ate"))
    }, Some(s"""
      WITH pu AS (
        SELECT user_id, (user_id % 2)::BIGINT AS t,
               sum(CASE WHEN event_type = 'click'
                         AND ts < TIMESTAMP '2024-01-24 00:00:00'
                        THEN 1 ELSE 0 END)::BIGINT AS c,
               max(CASE WHEN event_type = 'purchase'
                         AND ts >= TIMESTAMP '2024-01-24 00:00:00'
                        THEN 1 ELSE 0 END)::BIGINT AS y
        FROM events GROUP BY user_id),
      cells AS (
        SELECT c, sum(t)::BIGINT AS n1, sum(1 - t)::BIGINT AS n0,
               sum(t * y)::BIGINT AS sy1, sum((1 - t) * y)::BIGINT AS sy0
        FROM pu GROUP BY c),
      fit AS (
        SELECT sum(n1 + n0)::BIGINT AS nn,
               sum(n1)::BIGINT AS t_n, sum(c * n1)::BIGINT AS t_sc,
               sum(c * c * n1)::BIGINT AS t_scc,
               sum(sy1)::BIGINT AS t_sy, sum(c * sy1)::BIGINT AS t_scy,
               sum(n0)::BIGINT AS c_n, sum(c * n0)::BIGINT AS c_sc,
               sum(c * c * n0)::BIGINT AS c_scc,
               sum(sy0)::BIGINT AS c_sy, sum(c * sy0)::BIGINT AS c_scy
        FROM cells),
      co AS (
        SELECT *,
               (t_n::DOUBLE * t_scy::DOUBLE - t_sc::DOUBLE * t_sy::DOUBLE)
                 / nullif(t_n::DOUBLE * t_scc::DOUBLE - t_sc::DOUBLE * t_sc::DOUBLE, 0.0)
                 AS b1,
               (c_n::DOUBLE * c_scy::DOUBLE - c_sc::DOUBLE * c_sy::DOUBLE)
                 / nullif(c_n::DOUBLE * c_scc::DOUBLE - c_sc::DOUBLE * c_sc::DOUBLE, 0.0)
                 AS b0
        FROM fit),
      co2 AS (
        SELECT *,
               (t_sy::DOUBLE - b1 * t_sc::DOUBLE) / t_n::DOUBLE AS a1,
               (c_sy::DOUBLE - b0 * c_sc::DOUBLE) / c_n::DOUBLE AS a0
        FROM co),
      j AS (
        SELECT cl.*, f.*,
               (cl.n1 + cl.n0)::BIGINT AS n,
               cl.n1::DOUBLE / (cl.n1 + cl.n0)::DOUBLE AS e,
               f.a1 + f.b1 * cl.c::DOUBLE AS m1,
               f.a0 + f.b0 * cl.c::DOUBLE AS m0
        FROM cells cl CROSS JOIN co2 f)
      SELECT any_value(nn) AS n_users,
             ${Quant.quant6Sql(
               """sum(sy1)::DOUBLE / any_value(t_n)::DOUBLE
                  - sum(sy0)::DOUBLE / any_value(c_n)::DOUBLE""")} AS naive_diff,
             ${Quant.quant6Sql(
               "sum(n::DOUBLE * (m1 - m0)) / any_value(nn)::DOUBLE")} AS om_ate,
             ${Quant.quant6Sql(
               """(sum(CASE WHEN n1 > 0 THEN sy1::DOUBLE / e ELSE 0.0 END)
                   - sum(CASE WHEN n0 > 0 THEN sy0::DOUBLE / (1.0 - e) ELSE 0.0 END))
                  / any_value(nn)::DOUBLE""")} AS ipw_ate,
             ${Quant.quant6Sql(
               """(sum(n::DOUBLE * (m1 - m0))
                   + sum(CASE WHEN n1 > 0
                              THEN (sy1::DOUBLE - n1::DOUBLE * m1) / e ELSE 0.0 END)
                   - sum(CASE WHEN n0 > 0
                              THEN (sy0::DOUBLE - n0::DOUBLE * m0) / (1.0 - e)
                              ELSE 0.0 END))
                  / any_value(nn)::DOUBLE""")} AS aipw_ate
      FROM j
    """)),

    // ------------------------------------------------------------ mSPRT always-valid monitoring (round 12)
    // The peeking-proof experiment monitor: a mixture sequential
    // probability ratio test over the DAILY cumulative two-proportion
    // path (arm = user-parity at event level, outcome = event is a
    // purchase). Λ_t = √(se²/(se²+τ²))·exp(θ̂²τ²/(2se²(se²+τ²))) with
    // the standard normal-mixture τ=0.1, and the always-valid p-value
    // is 1/max_{s≤t}Λ_s — the quantity you may legally read EVERY day.
    // One events scan → (day, arm) aggregate; cumulative counts,
    // Λ, and the running max all run as ordered windows on the
    // calendar-bounded daily relation.
    ("q308_msprt_monitor", (s, d) => {
      val tau2 = 0.01
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(
          sum(when(col("user_id") % 2 === 1, 1L).otherwise(0L)).as("dn1"),
          sum(when(col("user_id") % 2 === 0, 1L).otherwise(0L)).as("dn0"),
          sum(when(col("user_id") % 2 === 1 && col("event_type") === "purchase", 1L)
            .otherwise(0L)).as("ds1"),
          sum(when(col("user_id") % 2 === 0 && col("event_type") === "purchase", 1L)
            .otherwise(0L)).as("ds0"))
      val wCum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
      val cum = daily
        .withColumn("n1", sum("dn1").over(wCum)).withColumn("n0", sum("dn0").over(wCum))
        .withColumn("s1", sum("ds1").over(wCum)).withColumn("s0", sum("ds0").over(wCum))
        .withColumn("p1", col("s1").cast("double") / nullif(col("n1"), lit(0L)).cast("double"))
        .withColumn("p0", col("s0").cast("double") / nullif(col("n0"), lit(0L)).cast("double"))
        .withColumn("pp",
          (col("s1") + col("s0")).cast("double") / (col("n1") + col("n0")).cast("double"))
        .withColumn("se2",
          col("pp") * (lit(1.0) - col("pp"))
            * (lit(1.0) / nullif(col("n1"), lit(0L)).cast("double")
               + lit(1.0) / nullif(col("n0"), lit(0L)).cast("double")))
        .withColumn("lam",
          sqrt(col("se2") / (col("se2") + lit(tau2)))
            * exp((col("p1") - col("p0")) * (col("p1") - col("p0")) * lit(tau2)
                / (lit(2.0) * col("se2") * (col("se2") + lit(tau2)))))
      cum
        .withColumn("max_lam", max("lam").over(wCum))
        .select(col("day"), col("n1"), col("n0"), col("s1"), col("s0"),
          Quant.quant6(col("p1")).as("p1"), Quant.quant6(col("p0")).as("p0"),
          Quant.quant6(col("lam")).as("lambda"),
          Quant.quant6(least(lit(1.0), lit(1.0) / col("max_lam")))
            .as("p_always_valid"))
        .orderBy("day")
    }, Some(s"""
      WITH daily AS (
        SELECT ts::TIMESTAMP::DATE AS day,
               sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS dn1,
               sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS dn0,
               sum(CASE WHEN user_id % 2 = 1 AND event_type = 'purchase'
                        THEN 1 ELSE 0 END)::BIGINT AS ds1,
               sum(CASE WHEN user_id % 2 = 0 AND event_type = 'purchase'
                        THEN 1 ELSE 0 END)::BIGINT AS ds0
        FROM events GROUP BY 1),
      cum AS (
        SELECT day,
               sum(dn1) OVER w::BIGINT AS n1, sum(dn0) OVER w::BIGINT AS n0,
               sum(ds1) OVER w::BIGINT AS s1, sum(ds0) OVER w::BIGINT AS s0
        FROM daily
        WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)),
      stat AS (
        SELECT *,
               s1::DOUBLE / nullif(n1, 0)::DOUBLE AS p1,
               s0::DOUBLE / nullif(n0, 0)::DOUBLE AS p0,
               (s1 + s0)::DOUBLE / (n1 + n0)::DOUBLE AS pp
        FROM cum),
      se AS (
        SELECT *,
               pp * (1.0 - pp) * (1.0 / nullif(n1, 0)::DOUBLE
                                  + 1.0 / nullif(n0, 0)::DOUBLE) AS se2
        FROM stat),
      lm AS (
        SELECT *,
               sqrt(se2 / (se2 + 0.01))
                 * exp((p1 - p0) * (p1 - p0) * 0.01
                     / (2.0 * se2 * (se2 + 0.01))) AS lam
        FROM se)
      SELECT day, n1, n0, s1, s0,
             ${Quant.quant6Sql("p1")} AS p1,
             ${Quant.quant6Sql("p0")} AS p0,
             ${Quant.quant6Sql("lam")} AS lambda,
             ${Quant.quant6Sql(
               """least(1.0, 1.0 / max(lam) OVER (ORDER BY day
                    ROWS UNBOUNDED PRECEDING))""")} AS p_always_valid
      FROM lm
      ORDER BY day
    """)),

    // ------------------------------------------------------------ Hurst exponent via R/S (round 12)
    // Long-range dependence of the daily revenue series: rescaled-range
    // analysis over non-overlapping blocks of w ∈ {5,10,15} days
    // (trailing partial blocks dropped), H = the log-log OLS slope of
    // E[R/S] on w — H≈0.5 is a random walk, H>0.5 persistent trend,
    // H<0.5 mean reversion; the diagnostic that decides whether naive
    // √t error bars on the metric are lies. The corpus contributes ONE
    // day-keyed aggregate; the block expansion is |days|×3 rows, the
    // within-block cumulative-deviation windows are (w,block)-
    // partitioned, and the final fit is closed-form OLS on 3 points.
    ("q309_hurst_rs", (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(when(col("event_type") === "purchase", col("value")).otherwise(0.0))
          .as("x"))
        .withColumn("idx", row_number().over(Window.orderBy("day")).cast("long") - 1L)
        .graftCheckpoint() // the 3-window grid expansion reads it per w
      val nDays = daily.agg(count(lit(1)).as("nd"))
      val grid = daily.crossJoin(broadcast(
          daily.sparkSession.range(1).select(
            explode(lit(Array(5L, 10L, 15L))).as("w"))))
        .crossJoin(broadcast(nDays))
        .withColumn("blk", expr("idx DIV w")) // integral division, not Column./
        .filter(col("blk") < expr("nd DIV w")) // drop the trailing partial block
      val wBlk = Window.partitionBy("w", "blk")
      val wCum = Window.partitionBy("w", "blk").orderBy("idx")
        .rowsBetween(Window.unboundedPreceding, 0)
      val blocks = grid
        .withColumn("mu", avg("x").over(wBlk))
        .withColumn("z", sum(col("x") - col("mu")).over(wCum))
        .groupBy("w", "blk")
        .agg((max("z") - min("z")).as("r"), stddev_pop("x").as("sdev"))
        .filter(col("sdev") > 0.0)
      val perW = blocks.groupBy("w")
        .agg(count(lit(1)).as("n_blocks"), avg(col("r") / col("sdev")).as("avg_rs"))
      val fit = perW.agg(
        count(lit(1)).cast("double").as("k"),
        sum(log(col("w").cast("double"))).as("sx"),
        sum(log(col("w").cast("double")) * log(col("w").cast("double"))).as("sxx"),
        sum(log("avg_rs")).as("sy"),
        sum(log(col("w").cast("double")) * log("avg_rs")).as("sxy"))
        .select(((col("k") * col("sxy") - col("sx") * col("sy"))
          / nullif(col("k") * col("sxx") - col("sx") * col("sx"), lit(0.0))).as("hurst"))
      perW.crossJoin(broadcast(fit))
        .select(col("w"), col("n_blocks"),
          Quant.quant6(col("avg_rs")).as("avg_rs"),
          Quant.quant6(col("hurst")).as("hurst"))
        .orderBy("w")
    }, Some(s"""
      WITH daily AS (
        SELECT ts::TIMESTAMP::DATE AS day,
               sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END) AS x
        FROM events GROUP BY 1),
      idx AS (
        SELECT x, (row_number() OVER (ORDER BY day))::BIGINT - 1 AS idx FROM daily),
      nd AS (SELECT count(*)::BIGINT AS nd FROM idx),
      grid AS (
        SELECT i.x, i.idx, w.w, i.idx // w.w AS blk
        FROM idx i CROSS JOIN (SELECT unnest([5, 10, 15]::BIGINT[]) AS w) w
        CROSS JOIN nd
        WHERE i.idx // w.w < nd.nd // w.w),
      dev AS (
        SELECT *, avg(x) OVER (PARTITION BY w, blk) AS mu FROM grid),
      cum AS (
        SELECT *, sum(x - mu) OVER (PARTITION BY w, blk ORDER BY idx
                    ROWS UNBOUNDED PRECEDING) AS z
        FROM dev),
      blocks AS (
        SELECT w, blk, max(z) - min(z) AS r, stddev_pop(x) AS sdev
        FROM cum GROUP BY 1, 2),
      perw AS (
        SELECT w, count(*)::BIGINT AS n_blocks, avg(r / sdev) AS avg_rs
        FROM blocks WHERE sdev > 0.0 GROUP BY w),
      fit AS (
        SELECT (count(*)::DOUBLE * sum(ln(w::DOUBLE) * ln(avg_rs))
                 - sum(ln(w::DOUBLE)) * sum(ln(avg_rs)))
               / nullif(count(*)::DOUBLE * sum(ln(w::DOUBLE) * ln(w::DOUBLE))
                 - sum(ln(w::DOUBLE)) * sum(ln(w::DOUBLE)), 0.0) AS hurst
        FROM perw)
      SELECT w, n_blocks,
             ${Quant.quant6Sql("avg_rs")} AS avg_rs,
             ${Quant.quant6Sql("hurst")} AS hurst
      FROM perw CROSS JOIN fit
      ORDER BY w
    """)),

    // ------------------------------------------------------------ Pettitt changepoint (round 12)
    // Rank-based single changepoint in the daily revenue series —
    // q266's CUSUM finds mean shifts under normality; Pettitt's U_t =
    // Σ_{i≤t}Σ_{j>t} sgn(x_i−x_j) is the distribution-free version
    // (a Mann-Whitney sweep over every split). The O(n²) identity
    // U_t = cumsum(V_t), V_t = Σ_j sgn(x_t−x_j) turns the sweep into
    // ONE self-join on the calendar-bounded daily relation + an
    // ordered cumulative window. K = max|U_t| over interior splits,
    // argmax ties → earliest day; p ≈ 2exp(−6K²/(n³+n²)).
    ("q310_pettitt_changepoint", (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(when(col("event_type") === "purchase", col("value")).otherwise(0.0))
          .as("x"))
        .graftCheckpoint() // self-join both sides + the count read it
      val v = daily.alias("a")
        .join(daily.alias("b"), col("a.day") =!= col("b.day"))
        .groupBy(col("a.day").as("day"))
        .agg(sum(signum(col("a.x") - col("b.x")).cast("long")).as("v"))
      val nDays = daily.agg(count(lit(1)).as("n"))
      val wCum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
      val u = v.crossJoin(broadcast(nDays))
        .withColumn("t", row_number().over(Window.orderBy("day")).cast("long"))
        .withColumn("u", sum("v").over(wCum))
        .filter(col("t") < col("n")) // interior splits only (U_n = 0)
      val k = u.agg(max(abs(col("u"))).as("k_stat"), first("n").as("n"))
      val arg = u.crossJoin(broadcast(k.select(col("k_stat").as("kk"))))
        .filter(abs(col("u")) === col("kk"))
        .agg(min("day").as("change_day"))
      k.crossJoin(broadcast(arg))
        .select(col("n").as("n_days"), col("k_stat"), col("change_day"),
          Quant.quant6(lit(2.0) * exp(lit(-6.0)
            * col("k_stat").cast("double") * col("k_stat").cast("double")
            / (col("n").cast("double") * col("n").cast("double") * col("n").cast("double")
               + col("n").cast("double") * col("n").cast("double")))).as("p_approx"))
    }, Some(s"""
      WITH daily AS (
        SELECT ts::TIMESTAMP::DATE AS day,
               sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END) AS x
        FROM events GROUP BY 1),
      v AS (
        SELECT a.day, sum(sign(a.x - b.x))::BIGINT AS v
        FROM daily a JOIN daily b ON a.day <> b.day
        GROUP BY a.day),
      nd AS (SELECT count(*)::BIGINT AS n FROM daily),
      u AS (
        SELECT day, v, n,
               (row_number() OVER (ORDER BY day))::BIGINT AS t,
               sum(v) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)::BIGINT AS u
        FROM v CROSS JOIN nd),
      interior AS (SELECT * FROM u WHERE t < n),
      k AS (SELECT max(abs(u))::BIGINT AS k_stat, any_value(n)::BIGINT AS n
            FROM interior),
      arg AS (
        SELECT min(i.day) AS change_day
        FROM interior i CROSS JOIN k WHERE abs(i.u) = k.k_stat)
      SELECT k.n AS n_days, k.k_stat, arg.change_day,
             ${Quant.quant6Sql(
               """2.0 * exp(-6.0 * k.k_stat::DOUBLE * k.k_stat::DOUBLE
                  / (k.n::DOUBLE * k.n::DOUBLE * k.n::DOUBLE
                     + k.n::DOUBLE * k.n::DOUBLE))""")} AS p_approx
      FROM k CROSS JOIN arg
    """)),

    // ------------------------------------------------------------ 1-D Wasserstein distance (round 12)
    // Earth-mover's distance between the pre-cut and post-cut purchase
    // value distributions — the drift measure that, unlike KS (q157)
    // or PSI (q126), reports HOW FAR the mass moved in value units,
    // not just that it moved. Computed on a 100-equal-width-bin
    // discretization of the union range: W1 ≈ Σ_bins |F_pre − F_post|
    // ·width. Discretizing FIRST is the scale form (the exact
    // distinct-value formula needs a global ordered neighbor pass over
    // a data-sized relation — cf. q126's fixed-bin reasoning); the
    // bin CDFs live on a ≤100-row relation after one scan + a 1-row
    // min/max broadcast. W1's bins are CUMULATIVE, so unlike PSI the
    // estimate converges to the true W1 as bins grow.
    ("q311_wasserstein_shift", (s, d) => {
      val nBins = 100
      val cut = lit("2024-01-24 00:00:00").cast("timestamp")
      val vals = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("value").as("v"), (col("ts") < cut).as("pre"))
        .graftCheckpoint() // min/max pass + bin pass read it
      val rng = vals.agg(min("v").as("lo"), max("v").as("hi"))
      val binned = vals.crossJoin(broadcast(rng))
        .withColumn("bin",
          least(lit(nBins - 1L), floor((col("v") - col("lo")) / nullif(col("hi") - col("lo"), lit(0.0)) * nBins).cast("long")))
        .groupBy("bin")
        .agg(sum(when(col("pre"), 1L).otherwise(0L)).as("np"),
             sum(when(col("pre"), 0L).otherwise(1L)).as("nq"))
      val tot = binned.agg(sum("np").as("tp"), sum("nq").as("tq"),
        count(lit(1)).as("used_bins"))
      val wCum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
      binned.crossJoin(broadcast(tot)).crossJoin(broadcast(rng))
        .withColumn("fp", sum("np").over(wCum).cast("double") / col("tp").cast("double"))
        .withColumn("fq", sum("nq").over(wCum).cast("double") / col("tq").cast("double"))
        // an EMPTY bin between occupied ones still carries CDF mass:
        // weight each occupied bin's |F diff| by the gap to the next
        // occupied bin (the CDFs are constant across the gap; the last
        // bin's diff is 0, so its null gap contributes nothing)
        .withColumn("gap",
          (lead("bin", 1).over(Window.orderBy("bin")) - col("bin")).cast("double"))
        .agg(
          first("tp").as("n_pre"), first("tq").as("n_post"),
          first("used_bins").as("n_bins_used"),
          Quant.quant6(sum(abs(col("fp") - col("fq")) * col("gap"))
            * (first("hi") - first("lo")) / nBins.toDouble).as("w1"),
          Quant.quant6(first("hi") - first("lo")).as("value_range"))
    }, Some(s"""
      WITH vals AS (
        SELECT value AS v, ts < TIMESTAMP '2024-01-24 00:00:00' AS pre
        FROM events WHERE event_type = 'purchase'),
      rng AS (SELECT min(v) AS lo, max(v) AS hi FROM vals),
      binned AS (
        SELECT least(99, floor((v - lo) / nullif(hi - lo, 0.0) * 100)::BIGINT) AS bin,
               sum(CASE WHEN pre THEN 1 ELSE 0 END)::BIGINT AS np,
               sum(CASE WHEN pre THEN 0 ELSE 1 END)::BIGINT AS nq
        FROM vals CROSS JOIN rng GROUP BY 1),
      tot AS (
        SELECT sum(np)::BIGINT AS tp, sum(nq)::BIGINT AS tq,
               count(*)::BIGINT AS used_bins
        FROM binned),
      cdf AS (
        SELECT b.*, t.tp, t.tq, t.used_bins, r.lo, r.hi,
               sum(np) OVER w::DOUBLE / t.tp::DOUBLE AS fp,
               sum(nq) OVER w::DOUBLE / t.tq::DOUBLE AS fq,
               (lead(bin) OVER (ORDER BY bin) - bin)::DOUBLE AS gap
        FROM binned b CROSS JOIN tot t CROSS JOIN rng r
        WINDOW w AS (ORDER BY bin ROWS UNBOUNDED PRECEDING))
      SELECT any_value(tp) AS n_pre, any_value(tq) AS n_post,
             any_value(used_bins) AS n_bins_used,
             ${Quant.quant6Sql(
               """sum(abs(fp - fq) * gap)
                  * (any_value(hi) - any_value(lo)) / 100.0""")} AS w1,
             ${Quant.quant6Sql("any_value(hi) - any_value(lo)")} AS value_range
      FROM cdf
    """)),

    // ------------------------------------------------------------ freshness / completeness audit (round 12)
    // The table every ingestion on-call reads first: per event type,
    // how stale is the stream (lag of its newest event vs the corpus
    // frontier) and did the FINAL day's volume arrive complete (z-score
    // of the last day's count against that type's prior-day history)?
    // One (type, day) aggregate over one scan; the frontier is a 1-row
    // broadcast; all stats are conditional aggregates on the
    // |types|×|days| relation. The suspect flag compares 6-decimal-
    // quantized values so the boolean is engine-portable.
    ("q312_freshness_audit", (s, d) => {
      val byDay = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"), max(unix_micros(col("ts"))).as("last_us"))
        .graftCheckpoint() // frontier + per-type stats read it
      val frontier = byDay.agg(max("last_us").as("f_us"), max("day").as("f_day"))
      byDay.crossJoin(broadcast(frontier))
        .groupBy("event_type")
        .agg(
          sum("cnt").as("n_events"),
          timestamp_micros(max("last_us")).as("last_ts"),
          Quant.quant6((first("f_us") - max("last_us")).cast("double") / 3600e6)
            .as("lag_hours"),
          sum(when(col("day") === col("f_day"), col("cnt")).otherwise(0L))
            .as("last_day_count"),
          count(when(col("day") < col("f_day"), 1L)).as("n_prior_days"),
          avg(when(col("day") < col("f_day"), col("cnt"))).as("mu"),
          stddev_samp(when(col("day") < col("f_day"), col("cnt"))).as("sd"))
        .select(col("event_type"), col("n_events"), col("last_ts"),
          col("lag_hours"), col("last_day_count"), col("n_prior_days"),
          Quant.quant6(col("mu")).as("prior_day_mean"),
          Quant.quant6(col("sd")).as("prior_day_std"),
          Quant.quant6((col("last_day_count").cast("double") - col("mu"))
            / nullif(col("sd"), lit(0.0))).as("volume_z"),
          (abs(Quant.quant6((col("last_day_count").cast("double") - col("mu"))
            / nullif(col("sd"), lit(0.0)))) > 3.0).as("is_suspect"))
        .orderBy("event_type")
    }, Some(s"""
      WITH byday AS (
        SELECT event_type, ts::TIMESTAMP::DATE AS day, count(*)::BIGINT AS cnt,
               max(epoch_us(ts::TIMESTAMP))::BIGINT AS last_us
        FROM events GROUP BY 1, 2),
      fr AS (SELECT max(last_us) AS f_us, max(day) AS f_day FROM byday),
      agg AS (
        SELECT event_type,
               sum(cnt)::BIGINT AS n_events,
               make_timestamp(max(last_us)) AS last_ts,
               (any_value(f.f_us) - max(last_us))::DOUBLE / 3600e6 AS lag_hours,
               sum(CASE WHEN day = f.f_day THEN cnt ELSE 0 END)::BIGINT
                 AS last_day_count,
               count(CASE WHEN day < f.f_day THEN 1 END)::BIGINT AS n_prior_days,
               avg(CASE WHEN day < f.f_day THEN cnt END) AS mu,
               stddev_samp(CASE WHEN day < f.f_day THEN cnt END) AS sd
        FROM byday CROSS JOIN fr f
        GROUP BY event_type)
      SELECT event_type, n_events, last_ts,
             ${Quant.quant6Sql("lag_hours")} AS lag_hours,
             last_day_count, n_prior_days,
             ${Quant.quant6Sql("mu")} AS prior_day_mean,
             ${Quant.quant6Sql("sd")} AS prior_day_std,
             ${Quant.quant6Sql(
               "(last_day_count::DOUBLE - mu) / nullif(sd, 0.0)")} AS volume_z,
             abs(${Quant.quant6Sql(
               "(last_day_count::DOUBLE - mu) / nullif(sd, 0.0)")}) > 3.0 AS is_suspect
      FROM agg
      ORDER BY event_type
    """)),

    // ------------------------------------------------------------ geometric GOF of session lengths (round 12)
    // Does "events per session" follow the memoryless geometric law
    // the capacity model assumes? Sessions are q29's 30-minute gap
    // sessions (lag + cumulative-flag inside one user-keyed window
    // pass); lengths aggregate to the ≤|max length| distinct-length
    // relation, where the MLE p̂ = 1/mean̄ and the KS distance between
    // the empirical CDF and Geometric(p̂) are closed forms. A heavy
    // tail (KS large, observed P(L>k) ≫ geometric) means long power
    // sessions the mean-based model will undersize.
    ("q313_session_geometric_gof", (s, d) => {
      val gapUs = 30L * 60L * 1000000L
      val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      val sessions = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
        .withColumn("new_sess",
          when(col("us") - lag("us", 1).over(w) > gapUs || lag("us", 1).over(w).isNull,
            1L).otherwise(0L))
        .withColumn("sess_id", sum("new_sess").over(
          Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
            .rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "sess_id")
        .agg(count(lit(1)).as("len"))
      val byLen = sessions.groupBy("len").agg(count(lit(1)).as("n"))
        .graftCheckpoint() // totals + the CDF pass read it
      val tot = byLen.agg(
        sum("n").as("ns"),
        (sum(col("len") * col("n")).cast("double") / sum("n").cast("double"))
          .as("mean_len"))
      val wCum = Window.orderBy("len").rowsBetween(Window.unboundedPreceding, 0)
      val cdf = byLen.crossJoin(broadcast(tot))
        .withColumn("p_hat", lit(1.0) / col("mean_len"))
        .withColumn("f_emp", sum("n").over(wCum).cast("double") / col("ns").cast("double"))
        .withColumn("f_geo",
          lit(1.0) - pow(lit(1.0) - col("p_hat"), col("len").cast("double")))
        .withColumn("dev", abs(col("f_emp") - col("f_geo")))
      val ks = cdf.agg(max("dev").as("ks"))
      cdf.crossJoin(broadcast(ks))
        .select(col("len"), col("n"),
          Quant.quant6(col("f_emp")).as("f_empirical"),
          Quant.quant6(col("f_geo")).as("f_geometric"),
          Quant.quant6(col("p_hat")).as("p_hat"),
          Quant.quant6(col("ks")).as("ks_distance"))
        .orderBy("len")
    }, Some(s"""
      WITH ev AS (
        SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS us,
               lag(epoch_us(ts::TIMESTAMP)) OVER (PARTITION BY user_id
                 ORDER BY epoch_us(ts::TIMESTAMP), event_id) AS prev_us
        FROM events),
      flagged AS (
        SELECT user_id, us, event_id,
               CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM ev),
      sess AS (
        SELECT user_id,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM flagged),
      lens AS (
        SELECT count(*)::BIGINT AS len FROM sess GROUP BY user_id, sess_id),
      bylen AS (SELECT len, count(*)::BIGINT AS n FROM lens GROUP BY len),
      tot AS (
        SELECT sum(n)::BIGINT AS ns,
               sum(len * n)::DOUBLE / sum(n)::DOUBLE AS mean_len
        FROM bylen),
      cdf AS (
        SELECT b.len, b.n, t.ns, 1.0 / t.mean_len AS p_hat,
               sum(b.n) OVER (ORDER BY b.len ROWS UNBOUNDED PRECEDING)::DOUBLE
                 / t.ns::DOUBLE AS f_emp,
               1.0 - pow(1.0 - 1.0 / t.mean_len, b.len::DOUBLE) AS f_geo
        FROM bylen b CROSS JOIN tot t),
      ks AS (SELECT max(abs(f_emp - f_geo)) AS ks FROM cdf)
      SELECT len, n,
             ${Quant.quant6Sql("f_emp")} AS f_empirical,
             ${Quant.quant6Sql("f_geo")} AS f_geometric,
             ${Quant.quant6Sql("p_hat")} AS p_hat,
             ${Quant.quant6Sql("ks.ks")} AS ks_distance
      FROM cdf CROSS JOIN ks
      ORDER BY len
    """)),

    // ------------------------------------------------------------ Wilson funnel CIs (round 12)
    // q84/q251 report funnel rates; this attaches the uncertainty a
    // decision needs: the Wilson score interval (the binomial CI that
    // stays sane at small n and extreme p̂, unlike the Wald interval)
    // for each step's conversion from the step before. Presence-based
    // steps (did view / +click / +purchase); one scan → per-user
    // flags → 1-row counts → a 3-row stack. z is the shared IEEE
    // literal.
    ("q314_wilson_funnel", (s, d) => {
      val z = 1.959963984540054
      val flags = Tables.events(s, d)
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "view", 1L).otherwise(0L)).as("v"),
             max(when(col("event_type") === "click", 1L).otherwise(0L)).as("c"),
             max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("p"))
      val counts = flags.agg(
        count(lit(1)).as("n0"), sum("v").as("n1"),
        sum(col("v") * col("c")).as("n2"),
        sum(col("v") * col("c") * col("p")).as("n3"))
      val steps = counts.select(expr(
        """stack(3, '1_view', n1, n0, '2_click', n2, n1, '3_purchase', n3, n2)
           AS (step, converted, eligible)"""))
      val ph = col("converted").cast("double") / col("eligible").cast("double")
      val zn = lit(z * z) / col("eligible").cast("double")
      val denom = lit(1.0) + zn
      val center = (ph + zn / 2.0) / denom
      val half = (lit(z) * sqrt(ph * (lit(1.0) - ph) / col("eligible").cast("double")
        + zn / (lit(4.0) * col("eligible").cast("double")))) / denom
      steps.select(col("step"), col("converted"), col("eligible"),
          Quant.quant6(ph).as("rate"),
          Quant.quant6(center - half).as("wilson_lo"),
          Quant.quant6(center + half).as("wilson_hi"))
        .orderBy("step")
    }, Some(s"""
      WITH flags AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS v,
               max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS c,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS p
        FROM events GROUP BY user_id),
      counts AS (
        SELECT count(*)::BIGINT AS n0, sum(v)::BIGINT AS n1,
               sum(v * c)::BIGINT AS n2, sum(v * c * p)::BIGINT AS n3
        FROM flags),
      steps AS (
        SELECT '1_view' AS step, n1 AS converted, n0 AS eligible FROM counts
        UNION ALL
        SELECT '2_click', n2, n1 FROM counts
        UNION ALL
        SELECT '3_purchase', n3, n2 FROM counts),
      wl AS (
        SELECT step, converted, eligible,
               converted::DOUBLE / eligible::DOUBLE AS ph,
               ${1.959963984540054 * 1.959963984540054} / eligible::DOUBLE AS zn
        FROM steps)
      SELECT step, converted, eligible,
             ${Quant.quant6Sql("ph")} AS rate,
             ${Quant.quant6Sql(
               """(ph + zn / 2.0) / (1.0 + zn)
                  - (1.959963984540054 * sqrt(ph * (1.0 - ph) / eligible::DOUBLE
                     + zn / (4.0 * eligible::DOUBLE))) / (1.0 + zn)""")} AS wilson_lo,
             ${Quant.quant6Sql(
               """(ph + zn / 2.0) / (1.0 + zn)
                  + (1.959963984540054 * sqrt(ph * (1.0 - ph) / eligible::DOUBLE
                     + zn / (4.0 * eligible::DOUBLE))) / (1.0 + zn)""")} AS wilson_hi
      FROM wl
      ORDER BY step
    """)),

    // ------------------------------------------------------------ negative-binomial overdispersion (round 12)
    // Are per-user daily event counts Poisson (dispersion ≈ 1) or
    // clumped? The method-of-moments NB fit per event type: dispersion
    // D = s²/m̄, and when overdispersed, r̂ = m̄²/(s²−m̄), p̂ = m̄/s² —
    // the capacity-planning correction q313's memoryless model needs
    // when bursts are real. Explicit sufficient-statistic variance
    // (exact BIGINT sums) so both engines run identical float ops; one
    // (user, day, type) aggregate over one scan, everything after on
    // the |types| relation.
    ("q315_nb_overdispersion", (s, d) => {
      val cells = Tables.events(s, d)
        .groupBy(col("event_type"), col("user_id"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      cells.groupBy("event_type")
        .agg(count(lit(1)).as("n_cells"), sum("x").as("sx"),
             sum(col("x") * col("x")).as("sxx"))
        .withColumn("m", col("sx").cast("double") / col("n_cells").cast("double"))
        .withColumn("s2",
          (col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double")
              / col("n_cells").cast("double"))
            / (col("n_cells").cast("double") - 1.0))
        .select(col("event_type"), col("n_cells"),
          Quant.quant6(col("m")).as("mean_per_day"),
          Quant.quant6(col("s2")).as("var_per_day"),
          Quant.quant6(col("s2") / col("m")).as("dispersion"),
          Quant.quant6(when(col("s2") > col("m"),
            col("m") * col("m") / (col("s2") - col("m")))).as("nb_r"),
          Quant.quant6(when(col("s2") > col("m"), col("m") / col("s2"))).as("nb_p"))
        .orderBy("event_type")
    }, Some(s"""
      WITH cells AS (
        SELECT event_type, user_id, ts::TIMESTAMP::DATE AS day,
               count(*)::BIGINT AS x
        FROM events GROUP BY 1, 2, 3),
      g AS (
        SELECT event_type, count(*)::BIGINT AS n_cells, sum(x)::BIGINT AS sx,
               sum(x * x)::BIGINT AS sxx
        FROM cells GROUP BY event_type),
      st AS (
        SELECT *, sx::DOUBLE / n_cells::DOUBLE AS m,
               (sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / n_cells::DOUBLE)
                 / (n_cells::DOUBLE - 1.0) AS s2
        FROM g)
      SELECT event_type, n_cells,
             ${Quant.quant6Sql("m")} AS mean_per_day,
             ${Quant.quant6Sql("s2")} AS var_per_day,
             ${Quant.quant6Sql("s2 / m")} AS dispersion,
             ${Quant.quant6Sql("CASE WHEN s2 > m THEN m * m / (s2 - m) END")} AS nb_r,
             ${Quant.quant6Sql("CASE WHEN s2 > m THEN m / s2 END")} AS nb_p
      FROM st
      ORDER BY event_type
    """)),

    // ------------------------------------------------------------ quantile treatment effects (round 12)
    // WHERE in the outcome distribution does the treatment act? The
    // per-decile difference of exact interpolated quantiles of
    // purchase value between the hash-split arms — an ATE (q276/q307)
    // says "average +x"; the QTE curve shows whether that's a uniform
    // shift or a tail effect. Both arms' 9 deciles come from ONE
    // aggregate (array-percentile, conditional per arm); the decile
    // table is a 9-row posexplode. Exact percentile is judged (oracle
    // can reproduce it bit-for-bit); the 100 TB form swaps in
    // approx_percentile sketches (cf. q59).
    ("q316_quantile_effects", (s, d) => {
      val ps = (1 to 9).map(k => (k / 10.0).toString).mkString(", ")
      val pur = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("value").as("v"), (col("user_id") % 2).cast("long").as("t"))
      val a = pur.agg(
        expr(s"percentile(CASE WHEN t = 1 THEN v END, array($ps))").as("qt"),
        expr(s"percentile(CASE WHEN t = 0 THEN v END, array($ps))").as("qc"),
        sum(when(col("t") === 1L, 1L).otherwise(0L)).as("n_treat"),
        sum(when(col("t") === 0L, 1L).otherwise(0L)).as("n_ctrl"))
      a.select(col("n_treat"), col("n_ctrl"), col("qc"),
          posexplode(col("qt")).as(Seq("pos", "q_treat")))
        .select((col("pos") + 1L).cast("long").as("decile"),
          col("n_treat"), col("n_ctrl"),
          Quant.quant6(col("q_treat")).as("q_treat"),
          Quant.quant6(element_at(col("qc"), (col("pos") + 1).cast("int")))
            .as("q_ctrl"),
          Quant.quant6(col("q_treat")
            - element_at(col("qc"), (col("pos") + 1).cast("int"))).as("qte"))
        .orderBy("decile")
    }, Some {
      val rows = (1 to 9).map { k =>
        val p = k / 10.0
        s"""SELECT $k::BIGINT AS decile,
               sum(CASE WHEN t = 1 THEN 1 ELSE 0 END)::BIGINT AS n_treat,
               sum(CASE WHEN t = 0 THEN 1 ELSE 0 END)::BIGINT AS n_ctrl,
               ${Quant.quant6Sql(s"quantile_cont(v, $p) FILTER (t = 1)")} AS q_treat,
               ${Quant.quant6Sql(s"quantile_cont(v, $p) FILTER (t = 0)")} AS q_ctrl,
               ${Quant.quant6Sql(
                 s"quantile_cont(v, $p) FILTER (t = 1) - quantile_cont(v, $p) FILTER (t = 0)")}
                 AS qte
           FROM pur"""
      }.mkString("\n        UNION ALL\n        ")
      s"""
      WITH pur AS (
        SELECT value AS v, (user_id % 2)::BIGINT AS t
        FROM events WHERE event_type = 'purchase')
      $rows
      ORDER BY decile
    """}),

    // ------------------------------------------------------------ char-bigram entropy profile (round 12)
    // Character-level information density per document — the gibberish
    // /template detector token-level entropy (q169) misses: keyboard
    // mash scores HIGH char-bigram entropy, boilerplate scores LOW,
    // and both tails are what a crawl-quality cut removes. Per doc
    // H = ln n − (Σ c·ln c)/n over its bigram counts (one identity,
    // no per-bigram probability column); per source the profile
    // (mean/σ/min/max). One explode pass — the corpus-sized work —
    // then a (doc, bigram) aggregate and two bounded rollups.
    ("q317_char_bigram_entropy", (s, d) => {
      import graft.functions.TextFunctions.charNgrams
      val perDoc = Tables.fanOut(Tables.documents(s, d))
        .filter(length(col("text")) >= 2)
        .select(col("doc_id"), col("source"),
          explode(charNgrams(lower(col("text")), 2)).as("bg"))
        .groupBy("doc_id", "source", "bg").agg(count(lit(1)).as("c"))
        .groupBy("doc_id", "source")
        .agg(sum("c").as("n"),
             sum(col("c").cast("double") * log(col("c").cast("double"))).as("sclc"))
        .withColumn("h", log(col("n").cast("double")) - col("sclc") / col("n").cast("double"))
      perDoc.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
             sum("h").as("sh"), sum(col("h") * col("h")).as("shh"),
             min("h").as("mn"), max("h").as("mx"))
        .select(col("source"), col("n_docs"),
          Quant.quant6(col("sh") / col("n_docs").cast("double")).as("mean_entropy"),
          Quant.quant6(sqrt((col("shh") - col("sh") * col("sh") / col("n_docs").cast("double"))
            / (col("n_docs").cast("double") - 1.0))).as("std_entropy"),
          Quant.quant6(col("mn")).as("min_entropy"),
          Quant.quant6(col("mx")).as("max_entropy"))
        .orderBy("source")
    }, Some(s"""
      WITH bg AS (
        SELECT doc_id, source,
               unnest([substring(lower(text), i, 2)
                       for i in generate_series(1, length(text) - 1)]) AS bg
        FROM documents WHERE length(text) >= 2),
      cnt AS (
        SELECT doc_id, source, bg, count(*)::BIGINT AS c
        FROM bg GROUP BY 1, 2, 3),
      perdoc AS (
        SELECT doc_id, source, sum(c)::BIGINT AS n,
               sum(c::DOUBLE * ln(c::DOUBLE)) AS sclc
        FROM cnt GROUP BY 1, 2),
      h AS (
        SELECT source, ln(n::DOUBLE) - sclc / n::DOUBLE AS h FROM perdoc)
      SELECT source, count(*)::BIGINT AS n_docs,
             ${Quant.quant6Sql("sum(h) / count(*)::DOUBLE")} AS mean_entropy,
             ${Quant.quant6Sql(
               """sqrt((sum(h * h) - sum(h) * sum(h) / count(*)::DOUBLE)
                  / (count(*)::DOUBLE - 1.0))""")} AS std_entropy,
             ${Quant.quant6Sql("min(h)")} AS min_entropy,
             ${Quant.quant6Sql("max(h)")} AS max_entropy
      FROM h
      GROUP BY source
      ORDER BY source
    """)),

    // ------------------------------------------------------------ rank-biased overlap (round 12)
    // Pairwise similarity of the sources' top-30 token RANKINGS — the
    // search-eval metric for comparing ranked lists, top-weighted by
    // p=0.9 so agreement at rank 1 counts far more than at rank 30
    // (q306's Delta weighs all markers equally; RBO asks "do they
    // front-load the same vocabulary?"). Truncated lower bound:
    // RBO_min = (1−p)·Σ_{d≤30} p^{d−1}·|A_d ∩ B_d|/d, computed per
    // common token via its first-contributing depth m = max(rank_a,
    // rank_b) against a 30-row depth grid — everything past the
    // tokenize pass is (|sources|² × 30²)-bounded.
    ("q318_rank_biased_overlap", (s, d) => {
      val p = 0.9
      val depth = 30
      val st = Tables.fanOut(Tables.documents(s, d))
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("c"))
      val ranked = st
        .withColumn("rk", row_number().over(
          Window.partitionBy("source").orderBy(col("c").desc, col("tok"))).cast("long"))
        .filter(col("rk") <= depth)
        .select("source", "tok", "rk")
        .graftCheckpoint() // both sides of the pair join read it
      val common = ranked.alias("a")
        .join(ranked.alias("b"),
          col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
        .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
          greatest(col("a.rk"), col("b.rk")).as("m"))
      val grid = ranked.sparkSession.range(1, depth + 1)
        .select(col("id").as("dd"),
          (pow(lit(p), col("id").cast("double") - 1.0) / col("id").cast("double"))
            .as("wt"))
      common.join(broadcast(grid), col("dd") >= col("m"))
        .groupBy("source_a", "source_b")
        .agg(count(when(col("dd") === col("m"), 1L)).as("n_common"),
             Quant.quant6(lit(1.0 - p) * sum("wt")).as("rbo"))
        .orderBy("source_a", "source_b")
    }, Some(s"""
      WITH st AS (
        SELECT source, tok, count(*)::BIGINT AS c
        FROM (SELECT source, unnest($tokensSql) AS tok FROM documents)
        GROUP BY 1, 2),
      ranked AS (
        SELECT source, tok, rk FROM (
          SELECT source, tok,
                 (row_number() OVER (PARTITION BY source
                    ORDER BY c DESC, tok))::BIGINT AS rk
          FROM st)
        WHERE rk <= 30),
      common AS (
        SELECT a.source AS source_a, b.source AS source_b,
               greatest(a.rk, b.rk) AS m
        FROM ranked a JOIN ranked b
          ON a.tok = b.tok AND a.source < b.source),
      grid AS (
        SELECT dd, pow(0.9, dd::DOUBLE - 1.0) / dd::DOUBLE AS wt
        FROM (SELECT unnest(generate_series(1, 30))::BIGINT AS dd))
      SELECT source_a, source_b,
             count(CASE WHEN dd = m THEN 1 END)::BIGINT AS n_common,
             ${Quant.quant6Sql("0.1 * sum(wt)")} AS rbo
      FROM common JOIN grid ON dd >= m
      GROUP BY 1, 2
      ORDER BY 1, 2
    """)),

    // ------------------------------------------------------------ lognormal length fit (round 12)
    // Is the document-length distribution lognormal (the standard
    // crawl assumption behind length-based quality cuts)? Fit μ̂, σ̂ on
    // ln(n_chars) in one pass, then a Q-Q decile comparison: the
    // empirical exact decile vs the model decile exp(μ̂ + σ̂·z_k) with
    // the nine Φ⁻¹(k/10) values as shared IEEE literals — no erf on
    // either engine. GOF = max absolute relative gap across deciles,
    // attached from the 1-row broadcast. The decile table is a 9-row
    // posexplode of ONE array-percentile aggregate.
    ("q319_lognormal_lengths", (s, d) => {
      val zs = Seq(-1.2815515655446004, -0.8416212335729143, -0.5244005127080407,
        -0.2533471031357997, 0.0, 0.2533471031357997, 0.5244005127080407,
        0.8416212335729143, 1.2815515655446004)
      val ps = (1 to 9).map(k => (k / 10.0).toString).mkString(", ")
      val y = Tables.documents(s, d)
        .filter(col("n_chars") > 0L)
        .select(col("n_chars").cast("double").as("y"))
      val fit = y.agg(
        count(lit(1)).as("n"),
        avg(log("y")).as("mu"),
        stddev_samp(log("y")).as("sigma"),
        expr(s"percentile(y, array($ps))").as("qs"))
      val dec = fit.select(col("n"), col("mu"), col("sigma"),
          posexplode(col("qs")).as(Seq("pos", "q_emp")))
        .withColumn("z", element_at(lit(zs.toArray), (col("pos") + 1).cast("int")))
        .withColumn("q_model", exp(col("mu") + col("sigma") * col("z")))
        .withColumn("rel_gap", (col("q_emp") - col("q_model")) / col("q_model"))
        .graftCheckpoint() // GOF aggregate + final select both read the 9 rows
      val gof = dec.agg(max(abs(col("rel_gap"))).as("gof"))
      dec.crossJoin(broadcast(gof))
        .select((col("pos") + 1L).cast("long").as("decile"), col("n").as("n_docs"),
          Quant.quant6(col("mu")).as("mu_log"),
          Quant.quant6(col("sigma")).as("sigma_log"),
          Quant.quant6(col("q_emp")).as("q_empirical"),
          Quant.quant6(col("q_model")).as("q_lognormal"),
          Quant.quant6(col("rel_gap")).as("rel_gap"),
          Quant.quant6(col("gof")).as("max_abs_rel_gap"))
        .orderBy("decile")
    }, Some {
      val zs = Seq(-1.2815515655446004, -0.8416212335729143, -0.5244005127080407,
        -0.2533471031357997, 0.0, 0.2533471031357997, 0.5244005127080407,
        0.8416212335729143, 1.2815515655446004)
      val rows = (1 to 9).map { k =>
        s"""SELECT $k::BIGINT AS decile, n, mu, sigma,
               quantile_cont(y, ${k / 10.0}) AS q_emp,
               exp(mu + sigma * ${zs(k - 1)}) AS q_model
           FROM y CROSS JOIN fit
           GROUP BY n, mu, sigma"""
      }.mkString("\n        UNION ALL\n        ")
      s"""
      WITH y AS (
        SELECT n_chars::DOUBLE AS y FROM documents WHERE n_chars > 0),
      fit AS (
        SELECT count(*)::BIGINT AS n, avg(ln(y)) AS mu,
               stddev_samp(ln(y)) AS sigma
        FROM y),
      dec AS (
        $rows),
      gap AS (
        SELECT *, (q_emp - q_model) / q_model AS rel_gap FROM dec),
      gof AS (SELECT max(abs(rel_gap)) AS gof FROM gap)
      SELECT decile, n AS n_docs,
             ${Quant.quant6Sql("mu")} AS mu_log,
             ${Quant.quant6Sql("sigma")} AS sigma_log,
             ${Quant.quant6Sql("q_emp")} AS q_empirical,
             ${Quant.quant6Sql("q_model")} AS q_lognormal,
             ${Quant.quant6Sql("rel_gap")} AS rel_gap,
             ${Quant.quant6Sql("gof.gof")} AS max_abs_rel_gap
      FROM gap CROSS JOIN gof
      ORDER BY decile
    """}),

    // ------------------------------------------------------------ learning curve (round 12)
    // The scaling-law question asked of every data investment: how
    // does model quality grow with training data? q198's multinomial
    // NB language classifier fit at four nested training sizes
    // (doc_id%10 buckets < k, k ∈ {2,4,6,8}) and evaluated on the
    // FIXED holdout (buckets 8–9). The corpus is tokenized ONCE into
    // the checkpointed (doc, bucket, token) counts; each model is a
    // conditional re-aggregate (the k-grid joins a 4-row broadcast,
    // so all four vocab-bounded count tables build in one shuffle),
    // and scoring joins holdout tokens against the 4×V×C grid on the
    // token key. Holdout tokens OOV for a given k are skipped
    // (identical skip set across classes ⇒ argmax unaffected by the
    // choice); scores quantize BEFORE the class-name-tiebroken argmax
    // (q198's determinism contract).
    ("q320_learning_curve", (s, d) => {
      val ks = Array(2L, 4L, 6L, 8L)
      val docTok = Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), (col("doc_id") % 10).as("b"), col("lang"),
          explode(tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "b", "lang", "tok").agg(count(lit(1)).as("cnt"))
        .graftCheckpoint() // the four models + the holdout all read it
      val kGrid = broadcast(docTok.sparkSession.range(1)
        .select(explode(lit(ks)).as("k")))
      val tr = docTok.crossJoin(kGrid).filter(col("b") < col("k"))
      val classCnt = tr.groupBy(col("k"), col("lang").as("cls"), col("tok"))
        .agg(sum("cnt").as("n_tc"))
        .graftCheckpoint() // totals, vocab, and the grid all read it
      val classTot = classCnt.groupBy("k", "cls").agg(sum("n_tc").as("n_c"))
      // train-k vocabulary ≡ tokens with any class count — derive from
      // the checkpointed counts, not a second pass over tr
      val vocabK = classCnt.select("k", "tok").distinct()
      val vSize = vocabK.groupBy("k").agg(count(lit(1)).as("v"))
      val dpc = tr.select("k", "doc_id", "lang").distinct()
        .groupBy(col("k"), col("lang").as("cls")).agg(count(lit(1)).as("n_docs_c"))
      val nd = dpc.groupBy("k").agg(sum("n_docs_c").as("n_train"))
      val grid = vocabK.join(broadcast(classTot), "k")
        .join(classCnt, Seq("k", "cls", "tok"), "left")
        .na.fill(0L, Seq("n_tc"))
        .join(broadcast(vSize), "k")
        .select(col("k"), col("cls"), col("tok"),
          log((col("n_tc") + 1L).cast("double") / (col("n_c") + col("v")).cast("double"))
            .as("loglik"))
      val prior = dpc.join(broadcast(nd), "k")
        .select(col("k"), col("cls"),
          log(col("n_docs_c").cast("double") / col("n_train").cast("double"))
            .as("logprior"))
      val scores = docTok.filter(col("b") >= 8L)
        .join(grid, Seq("tok"))
        .groupBy("k", "doc_id", "lang", "cls")
        .agg(sum(col("cnt").cast("double") * col("loglik")).as("ll"))
        .join(broadcast(prior), Seq("k", "cls"))
        .select(col("k"), col("doc_id"), col("lang"), col("cls"),
          Quant.quant6(col("ll") + col("logprior")).as("score"))
      val w = Window.partitionBy("k", "doc_id").orderBy(col("score").desc, col("cls"))
      scores.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .groupBy("k")
        .agg(count(lit(1)).as("n_eval_docs"),
             sum(when(col("lang") === col("cls"), 1L).otherwise(0L)).as("n_correct"))
        .join(broadcast(nd), "k")
        .select(col("k").as("train_buckets"), col("n_train").as("n_train_docs"),
          col("n_eval_docs"), col("n_correct"),
          Quant.quant6(col("n_correct").cast("double")
            / col("n_eval_docs").cast("double")).as("accuracy"))
        .orderBy("train_buckets")
    }, Some(s"""
      WITH doc_tok AS (
        SELECT doc_id, doc_id % 10 AS b, lang, tok, count(*)::BIGINT AS cnt
        FROM (SELECT doc_id, lang, unnest($tokensSql) AS tok FROM documents)
        GROUP BY 1, 2, 3, 4),
      kg AS (SELECT unnest([2, 4, 6, 8])::BIGINT AS k),
      tr AS (
        SELECT kg.k, dt.* FROM doc_tok dt CROSS JOIN kg WHERE dt.b < kg.k),
      class_cnt AS (
        SELECT k, lang AS cls, tok, sum(cnt)::BIGINT AS n_tc
        FROM tr GROUP BY 1, 2, 3),
      class_tot AS (SELECT k, cls, sum(n_tc)::BIGINT AS n_c FROM class_cnt GROUP BY 1, 2),
      vocab AS (SELECT DISTINCT k, tok FROM tr),
      vsize AS (SELECT k, count(*)::BIGINT AS v FROM vocab GROUP BY k),
      dpc AS (
        SELECT k, lang AS cls, count(DISTINCT doc_id)::BIGINT AS n_docs_c
        FROM tr GROUP BY 1, 2),
      nd AS (SELECT k, sum(n_docs_c)::BIGINT AS n_train FROM dpc GROUP BY k),
      grid AS (
        SELECT vo.k, vo.tok, t.cls,
               ln((COALESCE(c.n_tc, 0) + 1)::DOUBLE / (t.n_c + s.v)::DOUBLE) AS loglik
        FROM vocab vo
        JOIN class_tot t ON t.k = vo.k
        JOIN vsize s ON s.k = vo.k
        LEFT JOIN class_cnt c ON c.k = vo.k AND c.tok = vo.tok AND c.cls = t.cls),
      prior AS (
        SELECT d2.k, d2.cls, ln(d2.n_docs_c::DOUBLE / n2.n_train::DOUBLE) AS logprior
        FROM dpc d2 JOIN nd n2 ON n2.k = d2.k),
      scores AS (
        SELECT g.k, dt.doc_id, dt.lang, g.cls,
               floor((sum(dt.cnt::DOUBLE * g.loglik) + any_value(p.logprior))
                     * 1000000.0 + 0.5) / 1000000.0 AS score
        FROM doc_tok dt
        JOIN grid g ON g.tok = dt.tok
        JOIN prior p ON p.k = g.k AND p.cls = g.cls
        WHERE dt.b >= 8
        GROUP BY g.k, dt.doc_id, dt.lang, g.cls),
      pred AS (
        SELECT k, doc_id, lang,
               first(cls ORDER BY score DESC, cls) AS predicted
        FROM scores GROUP BY k, doc_id, lang)
      SELECT p.k AS train_buckets, n2.n_train AS n_train_docs,
             count(*)::BIGINT AS n_eval_docs,
             sum(CASE WHEN lang = predicted THEN 1 ELSE 0 END)::BIGINT AS n_correct,
             ${Quant.quant6Sql(
               """sum(CASE WHEN lang = predicted THEN 1 ELSE 0 END)::DOUBLE
                  / count(*)::DOUBLE""")} AS accuracy
      FROM pred p JOIN nd n2 ON n2.k = p.k
      GROUP BY p.k, n2.n_train
      ORDER BY train_buckets
    """)),

    // ------------------------------------------------------------ Cronbach's alpha (round 12)
    // Internal-consistency reliability of the 5-item per-user
    // engagement battery (view/click/purchase/signup/error counts):
    // α = k/(k−1)·(1 − Σσ²_item/σ²_total) — the psychometric check
    // that a composite "engagement score" summing these items measures
    // ONE construct. Item variances and the total-score variance all
    // come from per-user integer counts in one scan; the item pass is
    // a 5-row stack aggregate and α itself is 1-row algebra.
    ("q321_cronbach_alpha", (s, d) => {
      val perUser = Tables.events(s, d)
        .groupBy("user_id")
        .pivot("event_type", Seq("view", "click", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .select(col("user_id"),
          col("view").cast("long").as("i1"), col("click").cast("long").as("i2"),
          col("purchase").cast("long").as("i3"), col("signup").cast("long").as("i4"),
          col("error").cast("long").as("i5"))
        .withColumn("total", col("i1") + col("i2") + col("i3") + col("i4") + col("i5"))
        .graftCheckpoint() // item stack + total variance read it
      def varOf(c: String) =
        ((sum(col(c) * col(c)).cast("double")
          - sum(col(c)).cast("double") * sum(col(c)).cast("double")
            / count(lit(1)).cast("double"))
          / (count(lit(1)).cast("double") - 1.0))
      perUser.agg(
          count(lit(1)).as("n_users"),
          varOf("i1").as("v1"), varOf("i2").as("v2"), varOf("i3").as("v3"),
          varOf("i4").as("v4"), varOf("i5").as("v5"),
          varOf("total").as("vt"))
        .select(col("n_users"),
          Quant.quant6(col("v1") + col("v2") + col("v3") + col("v4") + col("v5"))
            .as("sum_item_var"),
          Quant.quant6(col("vt")).as("total_var"),
          Quant.quant6(lit(5.0 / 4.0)
            * (lit(1.0) - (col("v1") + col("v2") + col("v3") + col("v4") + col("v5"))
               / nullif(col("vt"), lit(0.0)))).as("cronbach_alpha"))
    }, Some(s"""
      WITH pu AS (
        SELECT user_id,
               sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS i1,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS i2,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS i3,
               sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS i4,
               sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS i5,
               count(*)::BIGINT AS total
        FROM events GROUP BY user_id),
      v AS (
        SELECT count(*)::BIGINT AS n_users,
               (sum(i1*i1)::DOUBLE - sum(i1)::DOUBLE*sum(i1)::DOUBLE/count(*)::DOUBLE)
                 / (count(*)::DOUBLE - 1.0) AS v1,
               (sum(i2*i2)::DOUBLE - sum(i2)::DOUBLE*sum(i2)::DOUBLE/count(*)::DOUBLE)
                 / (count(*)::DOUBLE - 1.0) AS v2,
               (sum(i3*i3)::DOUBLE - sum(i3)::DOUBLE*sum(i3)::DOUBLE/count(*)::DOUBLE)
                 / (count(*)::DOUBLE - 1.0) AS v3,
               (sum(i4*i4)::DOUBLE - sum(i4)::DOUBLE*sum(i4)::DOUBLE/count(*)::DOUBLE)
                 / (count(*)::DOUBLE - 1.0) AS v4,
               (sum(i5*i5)::DOUBLE - sum(i5)::DOUBLE*sum(i5)::DOUBLE/count(*)::DOUBLE)
                 / (count(*)::DOUBLE - 1.0) AS v5,
               (sum(total*total)::DOUBLE - sum(total)::DOUBLE*sum(total)::DOUBLE/count(*)::DOUBLE)
                 / (count(*)::DOUBLE - 1.0) AS vt
        FROM pu)
      SELECT n_users,
             ${Quant.quant6Sql("v1 + v2 + v3 + v4 + v5")} AS sum_item_var,
             ${Quant.quant6Sql("vt")} AS total_var,
             ${Quant.quant6Sql(
               "(5.0 / 4.0) * (1.0 - (v1 + v2 + v3 + v4 + v5) / nullif(vt, 0.0))")}
               AS cronbach_alpha
      FROM v
    """)),

    // ------------------------------------------------------------ positivity / overlap audit (round 12)
    // The assumption check q276/q307 silently rely on: does every
    // covariate cell contain BOTH arms (positivity), and how extreme
    // do the cell propensities get? Per click-count cell e(c) =
    // n₁/n; the audit reports the user-weighted share in one-sided
    // cells (e ∈ {0,1} — IPW undefined there) and in extreme cells
    // (e outside [0.1, 0.9]), plus the propensity range. One user
    // aggregate → cell relation → 1 row.
    ("q322_positivity_audit", (s, d) => {
      val cut = lit("2024-01-24 00:00:00").cast("timestamp")
      val cells = Tables.fanOut(Tables.events(s, d))
        .groupBy("user_id")
        .agg(sum(when(col("event_type") === "click" && col("ts") < cut, 1L)
          .otherwise(0L)).as("c"))
        .withColumn("t", (col("user_id") % 2).cast("long"))
        .groupBy("c")
        .agg(sum("t").as("n1"), sum(lit(1L) - col("t")).as("n0"))
        .withColumn("n", col("n1") + col("n0"))
        .withColumn("e", col("n1").cast("double") / col("n").cast("double"))
      cells.agg(
          count(lit(1)).as("n_cells"),
          sum("n").as("n_users"),
          sum(when(col("n1") === 0L || col("n0") === 0L, col("n")).otherwise(0L))
            .as("users_one_sided"),
          sum(when(col("e") < 0.1 || col("e") > 0.9, col("n")).otherwise(0L))
            .as("users_extreme"),
          min("e").as("emin"), max("e").as("emax"))
        .select(col("n_cells"), col("n_users"), col("users_one_sided"),
          Quant.quant6(col("users_one_sided").cast("double")
            / col("n_users").cast("double")).as("share_one_sided"),
          col("users_extreme"),
          Quant.quant6(col("users_extreme").cast("double")
            / col("n_users").cast("double")).as("share_extreme"),
          Quant.quant6(col("emin")).as("e_min"),
          Quant.quant6(col("emax")).as("e_max"))
    }, Some(s"""
      WITH pu AS (
        SELECT user_id, (user_id % 2)::BIGINT AS t,
               sum(CASE WHEN event_type = 'click'
                         AND ts < TIMESTAMP '2024-01-24 00:00:00'
                        THEN 1 ELSE 0 END)::BIGINT AS c
        FROM events GROUP BY user_id),
      cells AS (
        SELECT c, sum(t)::BIGINT AS n1, sum(1 - t)::BIGINT AS n0,
               count(*)::BIGINT AS n,
               sum(t)::DOUBLE / count(*)::DOUBLE AS e
        FROM pu GROUP BY c)
      SELECT count(*)::BIGINT AS n_cells,
             sum(n)::BIGINT AS n_users,
             sum(CASE WHEN n1 = 0 OR n0 = 0 THEN n ELSE 0 END)::BIGINT
               AS users_one_sided,
             ${Quant.quant6Sql(
               """sum(CASE WHEN n1 = 0 OR n0 = 0 THEN n ELSE 0 END)::DOUBLE
                  / sum(n)::DOUBLE""")} AS share_one_sided,
             sum(CASE WHEN e < 0.1 OR e > 0.9 THEN n ELSE 0 END)::BIGINT
               AS users_extreme,
             ${Quant.quant6Sql(
               """sum(CASE WHEN e < 0.1 OR e > 0.9 THEN n ELSE 0 END)::DOUBLE
                  / sum(n)::DOUBLE""")} AS share_extreme,
             ${Quant.quant6Sql("min(e)")} AS e_min,
             ${Quant.quant6Sql("max(e)")} AS e_max
      FROM cells
    """)),

    // ------------------------------------------------------------ Benjamini-Hochberg FDR (round 12)
    // Multiple-testing control for the metric-sweep workflow: a Welch
    // z-test of account balance between the custkey-parity arms in
    // EVERY nation (m=25 simultaneous hypotheses), then the BH
    // step-up — flag the largest k with p_(k) ≤ k/m·α (α=0.1) and
    // everything ranked below it. Φ is the Bowling logistic
    // approximation 1/(1+e^(−1.702x)) (identical closed form on both
    // engines — no erf anywhere); z comes from exact per-arm
    // sufficient statistics. One customer scan → |nations|×2 cells;
    // the rank/threshold windows run on the 25-row relation.
    ("q323_bh_fdr", (s, d) => {
      val alpha = 0.1
      val cells = Tables.customer(s, d)
        .select(col("c_nationkey").as("nk"),
          (col("c_custkey") % 2).cast("long").as("t"), col("c_acctbal").as("x"))
        .groupBy("nk")
        .agg(
          sum(when(col("t") === 1L, 1L).otherwise(0L)).as("n1"),
          sum(when(col("t") === 0L, 1L).otherwise(0L)).as("n0"),
          sum(when(col("t") === 1L, col("x")).otherwise(0.0)).as("s1"),
          sum(when(col("t") === 0L, col("x")).otherwise(0.0)).as("s0"),
          sum(when(col("t") === 1L, col("x") * col("x")).otherwise(0.0)).as("ss1"),
          sum(when(col("t") === 0L, col("x") * col("x")).otherwise(0.0)).as("ss0"))
        // a nation needs >= 2 customers in EACH arm for a Welch variance;
        // filtering (not NULLing) keeps the p-sort free of cross-engine
        // NULL-ordering differences and makes m the testable count
        .filter(col("n1") >= 2L && col("n0") >= 2L)
        .withColumn("m1", col("s1") / col("n1").cast("double"))
        .withColumn("m0", col("s0") / col("n0").cast("double"))
        .withColumn("v1",
          (col("ss1") - col("s1") * col("s1") / col("n1").cast("double"))
            / (col("n1").cast("double") - 1.0))
        .withColumn("v0",
          (col("ss0") - col("s0") * col("s0") / col("n0").cast("double"))
            / (col("n0").cast("double") - 1.0))
        // both arms zero-variance ⇒ nullif makes z (hence p) NULL, and
        // Spark's rank window sorts NULLs FIRST while DuckDB sorts them
        // LAST — ranks/bh_cut/is_rejected would silently diverge (ADVICE
        // r12). An untestable cell is excluded like the n<2 ones above.
        .filter(col("v1") + col("v0") > 0.0)
        .withColumn("z",
          (col("m1") - col("m0"))
            / nullif(sqrt(col("v1") / col("n1").cast("double")
                + col("v0") / col("n0").cast("double")), lit(0.0)))
        .withColumn("p", lit(2.0) / (lit(1.0) + exp(lit(1.702) * abs(col("z")))))
        .graftCheckpoint() // rank + threshold + output read the 25 rows
      val m = cells.agg(count(lit(1)).as("m"))
      val ranked = cells.crossJoin(broadcast(m))
        .withColumn("rank",
          row_number().over(Window.orderBy(col("p"), col("nk"))).cast("long"))
        .withColumn("bh_cut",
          col("rank").cast("double") / col("m").cast("double") * alpha)
      val kMax = ranked.filter(col("p") <= col("bh_cut"))
        .agg(coalesce(max("rank"), lit(0L)).as("k_max"))
      ranked.crossJoin(broadcast(kMax))
        .join(broadcast(Tables.nation(s, d)), col("nk") === col("n_nationkey"))
        .select(col("n_name").as("nation"), col("n1"), col("n0"),
          Quant.quant6(col("z")).as("z"),
          Quant.quant6(col("p")).as("p_approx"),
          col("rank"),
          Quant.quant6(col("bh_cut")).as("bh_cutoff"),
          (col("rank") <= col("k_max")).as("is_rejected"))
        .orderBy("rank")
    }, Some(s"""
      WITH cells AS (
        SELECT c_nationkey AS nk,
               sum(CASE WHEN c_custkey % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
               sum(CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
               sum(CASE WHEN c_custkey % 2 = 1 THEN c_acctbal ELSE 0.0 END) AS s1,
               sum(CASE WHEN c_custkey % 2 = 0 THEN c_acctbal ELSE 0.0 END) AS s0,
               sum(CASE WHEN c_custkey % 2 = 1 THEN c_acctbal * c_acctbal
                        ELSE 0.0 END) AS ss1,
               sum(CASE WHEN c_custkey % 2 = 0 THEN c_acctbal * c_acctbal
                        ELSE 0.0 END) AS ss0
        FROM customer GROUP BY 1),
      st AS (
        SELECT *, s1 / n1::DOUBLE AS m1, s0 / n0::DOUBLE AS m0,
               (ss1 - s1 * s1 / n1::DOUBLE) / (n1::DOUBLE - 1.0) AS v1,
               (ss0 - s0 * s0 / n0::DOUBLE) / (n0::DOUBLE - 1.0) AS v0
        FROM cells
        WHERE n1 >= 2 AND n0 >= 2),
      zp AS (
        SELECT *,
               (m1 - m0) / nullif(sqrt(v1 / n1::DOUBLE + v0 / n0::DOUBLE), 0.0) AS z
        FROM st
        WHERE v1 + v0 > 0),
      pp AS (
        SELECT *, 2.0 / (1.0 + exp(1.702 * abs(z))) AS p FROM zp),
      mm AS (SELECT count(*)::BIGINT AS m FROM pp),
      ranked AS (
        SELECT pp.*, mm.m,
               (row_number() OVER (ORDER BY p, nk))::BIGINT AS rank
        FROM pp CROSS JOIN mm),
      bh AS (
        SELECT *, rank::DOUBLE / m::DOUBLE * 0.1 AS bh_cut FROM ranked),
      km AS (
        SELECT coalesce(max(rank), 0)::BIGINT AS k_max FROM bh WHERE p <= bh_cut)
      SELECT n.n_name AS nation, b.n1, b.n0,
             ${Quant.quant6Sql("b.z")} AS z,
             ${Quant.quant6Sql("b.p")} AS p_approx,
             b.rank,
             ${Quant.quant6Sql("b.bh_cut")} AS bh_cutoff,
             b.rank <= km.k_max AS is_rejected
      FROM bh b
      CROSS JOIN km
      JOIN nation n ON b.nk = n.n_nationkey
      ORDER BY b.rank
    """))
  )
}
