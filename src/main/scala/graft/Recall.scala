package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.GraftCheckpointOps

/** ANN quality artifact: recall@k + result/baseline sizes for every
  * approximate-similarity judged query, written to `RECALL.json` so
  * index-quality regressions are visible round-over-round the same way
  * bench times are (VERDICT r7 item 6). The artifact is committed;
  * LlmOpsSpec re-computes the sf0.001 metrics live and requires them
  * to MATCH the committed values (the queries are deterministic by
  * design — hash-seeded planes, pinned tie-breaks), so the file can
  * never silently drift from the code.
  *
  * Baselines are the exact computations the recall specs use: q41's
  * brute-force cosine top-10 (q43/q62/q63), exact squared-L2 top-10
  * (q92 — PQ approximates L2, not cosine), q41 restricted to top-5
  * (q124), exact cosine threshold pairs q42 (q58), and brute-force
  * mutual top-5 pairs (q147).
  */
object Recall {

  case class Entry(sf: String, query: String, k: Int, recall: Double,
                   rows: Long, baselineRows: Long)

  private def byQuery(df: DataFrame, idCol: String, nbrCol: String): Map[Long, Set[Long]] =
    df.collect().groupBy(_.getAs[Long](idCol))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long](nbrCol)).toSet }

  private def meanRecall(exact: Map[Long, Set[Long]], got: Map[Long, Set[Long]]): Double = {
    val rs = exact.map { case (q, ex) =>
      got.get(q).map(g => (g intersect ex).size.toDouble / ex.size).getOrElse(0.0)
    }
    if (rs.isEmpty) 0.0 else rs.sum / rs.size
  }

  /** Exact squared-L2 top-10 per query vector — q92's yardstick. */
  private def exactL2(spark: SparkSession, sfDir: String): Map[Long, Set[Long]] = {
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val d2 = aggregate(zip_with(col("v"), col("qv"), (x, y) => (x - y) * (x - y)),
      lit(0.0), (a, v) => a + v)
    val w = Window.partitionBy("query_id").orderBy(col("d"), col("vec_id"))
    byQuery(
      emb.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"), d2.as("d"))
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 10),
      "query_id", "vec_id")
  }

  /** Exact cosine top-k per query vector over ANY vector relation —
    * the clustered fixture's brute-force yardstick. `nQueries < 0`
    * ranks every vector as a query (the kNN-graph baseline).
    */
  private def exactCosTopK(vecs: DataFrame, nQueries: Long, k: Int): DataFrame = {
    val e = vecs.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("n", sqrt(aggregate(col("v"), lit(0.0), (a, x) => a + x * x)))
    val q = e.select(col("vec_id").as("query_id"), col("v").as("qv"), col("n").as("qn"))
    val qs = if (nQueries < 0) q else q.filter(col("query_id") < nQueries)
    val dotc = aggregate(zip_with(col("v"), col("qv"), (x, y) => x * y),
      lit(0.0), (a, x) => a + x)
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    e.join(broadcast(qs), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), (dotc / (col("n") * col("qn"))).as("cos"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
  }

  /** Brute-force mutual cosine-top-5 pairs — q147's yardstick. Only run
    * at the small verification SFs (all-pairs by construction).
    */
  private def exactMutualPairs(spark: SparkSession, sfDir: String): Set[(Long, Long)] =
    exactMutualPairsOf(Tables.embeddings(spark, sfDir))

  private def exactMutualPairsOf(vectors: DataFrame): Set[(Long, Long)] = {
    val emb = vectors
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val nrm = sqrt(aggregate(col("v"), lit(0.0), (a, x) => a + x * x))
    val e = emb.select(col("vec_id"), col("v"), nrm.as("n"))
    val dot = aggregate(zip_with(col("v"), col("bv"), (x, y) => x * y), lit(0.0), (a, x) => a + x)
    val w = Window.partitionBy("src").orderBy(col("cos").desc, col("dst"))
    val top5 = e.select(col("vec_id").as("src"), col("v"), col("n"))
      .join(e.select(col("vec_id").as("dst"), col("v").as("bv"), col("n").as("bn")),
            col("src") =!= col("dst"))
      .select(col("src"), col("dst"), (dot / (col("n") * col("bn"))).as("cos"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    top5.collect { case (a, b) if a < b && top5.contains((b, a)) => (a, b) }
  }

  /** All seven ANN entries for one scale factor. */
  def metrics(spark: SparkSession, sfDir: String): Seq[Entry] = {
    val sf = sfDir.split('/').last
    def run(name: String) = SparkEntry.queries(name)(spark, sfDir)
    val exactTop10 = byQuery(run("q41_cosine_topk"), "query_id", "neighbor_id")
    val exactTop5 = byQuery(run("q41_cosine_topk").filter(col("rk") <= 5), "query_id", "neighbor_id")

    def topkEntry(name: String, exact: Map[Long, Set[Long]], k: Int,
                  idCol: String = "query_id", nbrCol: String = "neighbor_id") = {
      val rows = run(name)
      Entry(sf, name, k, meanRecall(exact, byQuery(rows, idCol, nbrCol)),
            rows.count(), exact.values.map(_.size.toLong).sum)
    }

    val lshPairs = run("q58_cosine_pairs_lsh").select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactPairs = run("q42_cosine_pairs").select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val mutual = run("q147_mutual_knn").select("u", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactMutual = exactMutualPairs(spark, sfDir)

    Seq(
      topkEntry("q43_ann_lsh_topk", exactTop10, 10),
      topkEntry("q62_ivf_probe_topk", exactTop10, 10),
      topkEntry("q63_quantized_topk", exactTop10, 10),
      topkEntry("q92_pq_adc_topk", exactL2(spark, sfDir), 10),
      topkEntry("q124_knn_graph", exactTop5, 5, idCol = "src", nbrCol = "dst"),
      Entry(sf, "q58_cosine_pairs_lsh", 0,
        if (exactPairs.isEmpty) 1.0 else lshPairs.size.toDouble / exactPairs.size,
        lshPairs.size.toLong, exactPairs.size.toLong),
      Entry(sf, "q147_mutual_knn", 5,
        if (exactMutual.isEmpty) 1.0
        else (mutual intersect exactMutual).size.toDouble / exactMutual.size,
        mutual.size.toLong, exactMutual.size.toLong))
  }

  /** ANN-ladder recall on the deterministic CLUSTERED fixture
    * (graft.ClusteredVectors) — the evidence the random judged fixture
    * structurally can't provide (VERDICT r9 item 1). Drives the SAME
    * factored operator bodies the judged q43/q62/q124/q147 run
    * (Similarity.lshTopKOn/ivfTopKOn/knnEdgesOn/mutualKnnOn — no
    * fork), against brute-force exact baselines computed here.
    * Entries carry sf="clustered"; RecallSpec pins them to the
    * committed artifact and enforces the ≥0.9 floors.
    *
    * The IVF centroid source is coalesced to ONE partition so the
    * float centroid means fold in a fixed sequence regardless of the
    * session's parallelism (Recall runs local[8], specs local[4]) —
    * the same determinism discipline the judged q62 gets from its
    * un-fanned single-split scan.
    */
  def clusteredMetrics(spark: SparkSession): Seq[Entry] = {
    import operators.Similarity
    val sf = "clustered"
    val vecs = ClusteredVectors.df(spark).graftCheckpoint()
    val cent = vecs.coalesce(1)
    val nQ = 10L; val k = 10

    val exactTop10 = byQuery(exactCosTopK(vecs, nQ, k), "query_id", "neighbor_id")
    val exactTop5All = byQuery(exactCosTopK(vecs, -1L, 5), "query_id", "neighbor_id")

    def entry(name: String, rows: DataFrame, exact: Map[Long, Set[Long]],
              kk: Int, idCol: String = "query_id", nbrCol: String = "neighbor_id") =
      Entry(sf, name, kk, meanRecall(exact, byQuery(rows, idCol, nbrCol)),
            rows.count(), exact.values.map(_.size.toLong).sum)

    val mutual = Similarity.mutualKnnOn(vecs, cent).select("u", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactMutual = exactMutualPairsOf(vecs)

    Seq(
      entry("q43_ann_lsh_topk", Similarity.lshTopKOn(vecs, nQ, k), exactTop10, k),
      entry("q62_ivf_probe_topk", Similarity.ivfTopKOn(vecs, cent, nQ, k), exactTop10, k),
      entry("q124_knn_graph", Similarity.knnEdgesOn(vecs, cent), exactTop5All, 5,
            idCol = "src", nbrCol = "dst"),
      Entry(sf, "q147_mutual_knn", 5,
        if (exactMutual.isEmpty) 1.0
        else (mutual intersect exactMutual).size.toDouble / exactMutual.size,
        mutual.size.toLong, exactMutual.size.toLong))
  }

  /** One timed ladder rung at the large clustered size. */
  final case class RungTiming(query: String, n: Long, nQueries: Long, k: Int,
                              recall: Double, sec: Double, speedup: Double)

  /** Wall-time evidence for the ANN ladder at a size where brute force
    * HURTS (round 11, VERDICT r10 item 2): 100k clustered vectors in
    * 100 cells, 100 queries, top-10. Times the factored pruned rungs
    * (LSH buckets, IVF probes, int8 scan) against the exact q41 plan
    * (codegen'd `float_dot` brute force) on the identical task,
    * min-of-2 runs (first run swallows codegen), and scores each
    * rung's recall against the exact output. Committed into
    * RECALL.json's `timings` section; RecallSpec enforces the floors
    * on the committed artifact (recall ≥0.9 AND speedup > 1 for the
    * pruning rungs) without re-running the 100k task per test.
    *
    * PQ (q92) is deliberately NOT timed here: its ADC path in this
    * engine is built from interpreted higher-order-function lambdas
    * (portability-first), so a local CPU-bound measurement would show
    * the interpreter, not the memory-bandwidth economics PQ exists
    * for; its recall is tracked at the judged SF instead. The int8
    * rung is timed but carries no speedup floor for the same reason —
    * its win is scan bytes (4x smaller corpus), invisible to an
    * in-memory local run.
    */
  def speedupMetrics(spark: SparkSession): Seq[RungTiming] = {
    import operators.Similarity
    val n = 100000; val nClusters = 100; val nQ = 100L; val k = 10
    val vecs = ClusteredVectors.df(spark, n, nClusters).graftCheckpoint()
    val cent = vecs.coalesce(1) // q62's single-split centroid determinism discipline
    def timeIt(build: => DataFrame): (DataFrame, Double) = {
      val secs = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        build.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      (build, secs.min)
    }
    val (exactDf, exactSec) = timeIt(Similarity.exactTopKOn(vecs, nQ, k))
    val exact = byQuery(exactDf, "query_id", "neighbor_id")
    def rung(name: String, baseline: Map[Long, Set[Long]],
             build: => DataFrame): RungTiming = {
      val (df, sec) = timeIt(build)
      RungTiming(name, n, nQ, k,
        meanRecall(baseline, byQuery(df, "query_id", "neighbor_id")), sec, exactSec / sec)
    }
    // int8's OWN yardstick is the float DOT ranking (q63 ranks by the
    // rescaled integer dot — it approximates the dot product, not
    // cosine): recall vs exact-dot isolates the quantization error the
    // rung actually introduces. Inside a Gaussian cluster the cosine
    // top-10 are near-ties, so scoring a dot-ranking index against a
    // cosine baseline would measure tie inversions, not quantization.
    val exactDot = {
      import org.apache.spark.sql.functions.broadcast
      import graft.functions.VectorFunctions.dot
      val e = vecs.select(col("vec_id"), col("embedding"))
      val q = e.filter(col("vec_id") < nQ)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val w = Window.partitionBy("query_id").orderBy(col("s").desc, col("vec_id"))
      byQuery(
        e.join(broadcast(q), col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id"), dot(col("qv"), col("embedding")).as("s"))
          .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
          .withColumnRenamed("vec_id", "neighbor_id"),
        "query_id", "neighbor_id")
    }
    Seq(
      RungTiming("exact_q41_plan", n, nQ, k, 1.0, exactSec, 1.0),
      // bandBits=8: an LSH index sized to its corpus (256 buckets/band
      // at 100k) — the judged 4-bit family's prefix-stable extension
      rung("q43_ann_lsh_topk", exact, Similarity.lshTopKOn(vecs, nQ, k, bandBits = 8)),
      rung("q62_ivf_probe_topk", exact, Similarity.ivfTopKOn(vecs, cent, nQ, k)),
      rung("q63_quantized_topk", exactDot, Similarity.int8TopKOn(vecs, nQ, k)))
  }

  /** Reader-facing context for entries whose absolute recall looks
    * alarming but is the expected regime on this fixture — recorded in
    * the artifact itself so whoever reads the number sees the caveat
    * next to it (VERDICT r8 item 7).
    */
  private val notes: Map[String, String] = Map(
    "q147_mutual_knn" ->
      ("recall 0.09-0.12 vs exact mutual-top-5 is the EXPECTED regime on " +
       "these uniform-random synthetic embeddings: with no cluster structure, " +
       "cosine top-5 lists are near-ties, so mutuality hinges on rank " +
       "inversions far below the IVF candidate cut. The metric is tracked " +
       "for DRIFT (a change means the index or tie-breaks moved), not as an " +
       "absolute quality bar; on real clustered embeddings mutual-kNN " +
       "recall is far higher because top lists are decisive."),
    "q124_knn_graph" ->
      ("graph edges beyond the probed IVF cells are invisible by design; " +
       "0.30-0.32 on random fixtures tracks drift, not absolute quality."),
    "clustered" ->
      ("sf=clustered rows drive the SAME factored operator bodies the judged " +
       "queries run (Similarity.lshTopKOn/ivfTopKOn/knnEdgesOn/mutualKnnOn) " +
       "over graft.ClusteredVectors — 20 seeded Gaussian clusters in 64-d, " +
       "2000 vectors — the clusterable regime the indexes are built for. " +
       "Floors (RecallSpec): >=0.9 for LSH/IVF top-10, >=0.9 kNN graph, " +
       ">=0.8 mutual pairs."),
    "timings" ->
      ("wall-time of each ladder rung vs the exact q41 plan on the IDENTICAL " +
       "task: 100k clustered vectors (100 cells), 100 queries, top-10, " +
       "min-of-2 runs, local[8]. Floors (RecallSpec, on the committed " +
       "values): recall >=0.9 AND speedup >1 for the pruning rungs " +
       "(LSH, IVF). int8 is timed but floor-free: its advantage is scan " +
       "BYTES (4x smaller corpus), invisible to an in-memory local run. " +
       "PQ is not timed here — its ADC is interpreted-lambda-bound " +
       "locally, which would measure the interpreter rather than PQ's " +
       "memory economics; its recall is tracked at the judged SF."))

  /** JSON string escape for note text — a double quote, backslash, or
    * control char in a future note would otherwise silently emit
    * invalid RECALL.json (ADVICE r9).
    */
  private def esc(s: String): String = s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  }

  def toJson(entries: Seq[Entry], timings: Seq[RungTiming] = Nil): String = {
    val entryLines = entries.map { e =>
      f"""{"sf":"${esc(e.sf)}","query":"${esc(e.query)}","k":${e.k},"recall":${e.recall}%.6f,"rows":${e.rows},"baseline_rows":${e.baselineRows}}"""
    }.mkString("{\"entries\":[\n", ",\n", "\n],\n")
    val timingLines = if (timings.isEmpty) "" else timings.map { t =>
      f"""{"rung":"${esc(t.query)}","n":${t.n},"n_queries":${t.nQueries},"k":${t.k},"recall":${t.recall}%.6f,"sec":${t.sec}%.3f,"speedup":${t.speedup}%.3f}"""
    }.mkString("\"timings\":[\n", ",\n", "\n],\n")
    val noteLines = notes.toSeq.sortBy(_._1).map { case (q, t) =>
      s""""${esc(q)}":"${esc(t)}""""
    }.mkString("\"notes\":{\n", ",\n", "\n}}\n")
    entryLines + timingLines + noteLines
  }

  /** Reader for the `timings` section (same line-per-object format). */
  def parseTimings(json: String): Seq[RungTiming] = {
    val obj = """\{"rung":"([^"]+)","n":(\d+),"n_queries":(\d+),"k":(\d+),"recall":([0-9.]+),"sec":([0-9.]+),"speedup":([0-9.]+)\}""".r
    obj.findAllMatchIn(json).map(m =>
      RungTiming(m.group(1), m.group(2).toLong, m.group(3).toLong, m.group(4).toInt,
                 m.group(5).toDouble, m.group(6).toDouble, m.group(7).toDouble)).toSeq
  }

  /** Minimal reader for the flat artifact format (no JSON lib in the
    * offline environment): one object per line between the brackets.
    */
  def parse(json: String): Seq[Entry] = {
    val obj = """\{"sf":"([^"]+)","query":"([^"]+)","k":(\d+),"recall":([0-9.]+),"rows":(\d+),"baseline_rows":(\d+)\}""".r
    obj.findAllMatchIn(json).map(m =>
      Entry(m.group(1), m.group(2), m.group(3).toInt, m.group(4).toDouble,
            m.group(5).toLong, m.group(6).toLong)).toSeq
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[8]")
      .appName("graft-recall")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sfDirs = if (args.nonEmpty) args.toSeq
                 else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
    val entries = sfDirs.flatMap(metrics(spark, _)) ++ clusteredMetrics(spark)
    val timings = speedupMetrics(spark)
    val out = sys.env.getOrElse("SPARK_GRAFT_RECALL_OUT", "RECALL.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), toJson(entries, timings))
    println(toJson(entries, timings))
    spark.stop()
  }
}
