package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{QueryGroup, Tables}
import graft.Tables.GraftCheckpointOps

/** Graph analytics over relations (round 5). The connected-components
  * half of the graph story lives in Dedup (q64 min-label propagation);
  * this group adds the message-passing half:
  *
  *  - q108 PageRank, two Pregel-style iterations over the part
  *    co-purchase graph (parts sharing an order — built by a
  *    self-equi-join of lineitem on l_orderkey, so candidate
  *    generation is per-order-local with a bounded fanout of
  *    ≤ lines²/order, never an all-pairs plan). Each iteration is the
  *    canonical message-passing shape: edges ⋈ ranks on src (both
  *    sides hash-partitioned by the join key), contributions summed
  *    per dst with map-side partial aggregation — at 100 TB this is
  *    exactly GraphX/Pregel's shuffle structure expressed in
  *    DataFrames, and iteration lineage is truncated with
  *    localCheckpoint (reliable checkpoint on a real cluster — the
  *    q64 discipline).
  *
  * Determinism contract: ranks are FIXED-POINT LONGS (micro-units,
  * r₀ = 1_000_000), messages are `rank DIV outdeg`, and the damping
  * update is `150_000 + (850_000 * Σmsg) DIV 1_000_000` — integer
  * sums are order-independent under shuffle (the q92 integer-distance
  * lesson), so the oracle hash-matches exactly where a double
  * PageRank would drift by summation order.
  */
object Graph extends QueryGroup {

  private val topK = 30
  private val iterations = 2

  /** q108's build, exposed for the shared iterative driver: the initial
    * uniform fixed-point rank vector and the power-iteration step (one
    * equi-join message pass + keyed aggregation, lineage truncated per
    * round). The judged query runs `Iterative.fixedK(r0, 2)(step)` —
    * the oracle unrolls exactly two steps — and IterativeSpec drives
    * `Iterative.converge` over the SAME step to an exact integer
    * fixpoint (fixed-point arithmetic quantizes the orbit, so the
    * contraction terminates exactly, not just asymptotically).
    */
  private[graft] def pagerankParts(s: SparkSession, d: String): (DataFrame, DataFrame => DataFrame) = {
    // no fanOut: the first operation is the keyed self-join, whose ok
    // exchange already fans the pipeline out — a round-robin
    // repartition ahead of it is a second full shuffle of the scan
    // for nothing (r17 profile: one extra 600k-row exchange per query)
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    // co-purchase edges, both directions (symmetric ⇒ every node in
    // the graph has outdeg ≥ 1 — no dangling-mass correction needed).
    // hint("merge"): lineitem's small file estimate otherwise makes the
    // planner BROADCAST one side of the self-join — backwards at scale
    // (lineitem is the fact table) and locally it runs the whole pair
    // expansion inside the single-task scan stage (r17 profile: 2.39M
    // pair rows written by 1 task). The ok-keyed exchange is reused by
    // both sides, so the merge join costs ONE shuffle of the scan and
    // distributes the expansion.
    // repartition(src) BEFORE the checkpoint: the checkpoint preserves
    // the hash partitioning, so the outdeg aggregate AND every
    // iteration's src-keyed message join consume the edges without
    // re-shuffling them (one extra build exchange buys zero edge
    // exchanges per round — guide's share-one-exchange rule; the
    // distinct's (src,dst) partitioning satisfied none of them)
    val edges = li.as("a").join(li.as("b").hint("merge"),
        col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
      .select(col("a.pk").as("src"), col("b.pk").as("dst"))
      .distinct()
      .repartition(col("src"))
      .graftCheckpoint()
    // checkpointed: BOTH withDeg and r0 read outdeg — without the
    // checkpoint Spark recomputes the full-edge-pass aggregation
    // twice (two identical stages in the profile)
    val outdeg = edges.groupBy("src").agg(count(lit(1)).as("od"))
      .graftCheckpoint()
    val withDeg = edges.join(outdeg, "src")
    def step(ranks: DataFrame): DataFrame =
      withDeg.join(ranks, col("src") === col("node"))
        .select(col("dst"), expr("r DIV od").as("contrib"))
        .groupBy("dst").agg(sum("contrib").as("m"))
        .select(col("dst").as("node"),
                expr("150000 + (850000 * m) DIV 1000000").as("r"))
        .graftCheckpoint()
    val r0 = outdeg.select(col("src").as("node"), lit(1000000L).as("r"))
    (r0, step)
  }

  /** q167's BFS as a convergence-capped loop over the shared driver:
    * state = (visited distances, current frontier, hop number). The
    * judged query runs cap=3 — the oracle's recursive CTE allows
    * exactly 3 hops — and an early fixpoint exit (frontier drained
    * before the cap) cannot change the result because an empty
    * frontier makes the step the identity. The witness is the visited
    * count: it grows every productive round and freezes exactly when
    * the frontier empties. IterativeSpec re-runs with a high cap to
    * prove the fixture's traversal saturates within the judged 3.
    */
  private[graft] def bfs(s: SparkSession, d: String,
                         cap: Int): Iterative.Converged[(DataFrame, DataFrame, Long)] = {
    val li = Tables.lineitem(s, d)  // no fanOut — see pagerankParts
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    // no distinct: BFS reachability is insensitive to edge multiplicity
    // (the per-hop frontier distincts its nodes anyway) and the r17
    // profile showed the distinct shuffled 2.399M rows to remove 0.3%
    // of them. repartition(src) instead: the checkpoint keeps the hash
    // partitioning, so every hop's frontier join consumes the edges
    // with ZERO re-shuffle (the frontier side alone exchanges).
    val edges = li.as("a").join(li.as("b").hint("merge"),
        col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
      .select(col("a.pk").as("src"), col("b.pk").as("dst"))
      .repartition(col("src"))
      .graftCheckpoint()
    // deterministic seed set: the 3 smallest node ids in the graph
    // (edges are symmetric, so src covers every node)
    val seeds = edges.select(col("src").as("node")).distinct()
      .orderBy("node").limit(3)
    // visited-set count observed inside each round's dist checkpoint —
    // one barrier per round, no separate count job (round 13)
    val visited = Seq(count(lit(1)).as("n"))
    val (dist0, m0) = Tables.checkpointedObserved(
      seeds.withColumn("hops", lit(0L)), visited)
    Iterative.convergeWitnessed(
        ((dist0, dist0.select("node"), 0L), m0("n").asInstanceOf[Long]), cap) {
      case (dist, frontier, h) =>
        val next = edges.join(frontier, col("src") === col("node"))
          .select(col("dst").as("node")).distinct()
          .join(dist, Seq("node"), "left_anti")
          .graftCheckpoint()
        val (dist2, m) = Tables.checkpointedObserved(
          dist.unionByName(next.withColumn("hops", lit(h + 1))), visited)
        ((dist2, next, h + 1), m("n").asInstanceOf[Long])
    }
  }

  /** Symmetric strong (weight ≥ 2) co-purchase edges — the shared
    * graph of q210 k-core and q242 converged components. DISTINCT
    * first: duplicate lineitems of one part in one order must not
    * count as co-purchase weight (q116's edge contract).
    */
  private[graft] def strongSym(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)  // no fanOut — see pagerankParts
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val e0 = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("u"), col("b.pk").as("v"))
      .agg(count(lit(1)).as("w")).filter(col("w") >= 2)
      .select("u", "v").graftCheckpoint()
    // repartition(x) BEFORE the checkpoint (round 18, guide §2.4; the
    // r17 bfs/pagerank discipline): localCheckpoint preserves the
    // partitioning, so every per-round x-keyed read — q210's survivor
    // semi-join, q242's neighbor-label join and both loops' round-0
    // aggregates — reuses this one exchange instead of re-shuffling
    // the full edge table every iteration (r18 profile: one
    // 7,146-row shuffle-write stage per round, ~8-10 per q242 run).
    // The union output was previously partitioned by neither key.
    e0.select(col("u").as("x"), col("v").as("y"))
      .unionByName(e0.select(col("v").as("x"), col("u").as("y")))
      .repartition(col("x"))
      .graftCheckpoint()
  }

  /** Min-label propagation to a WITNESSED fixpoint over the strong
    * co-purchase graph (round 11, VERDICT r10 item 3) — the judged
    * query that RUNS the production convergence loop, not a fixed-k
    * unroll: `Iterative.convergeWitnessed` with the wrap-proof
    * (count, sum, xor) `Iterative.labelWitnessed`, terminating when the label
    * multiset freezes (⇔ fixpoint, labels only decrease under
    * least()). The oracle is round-count-INDEPENDENT — a DuckDB
    * recursive CTE computes min-reachable-label to ITS fixpoint — so
    * the green row certifies the converged loop itself, with no
    * cap-equals-oracle-k argument anywhere. cap = 40 is a safety
    * bound only (sf0.01 converges in 6 rounds with path-halving, 11
    * without; the require below turns a capped exit into a loud
    * failure, never a wrong answer).
    */
  private[graft] def convergedComponents(s: SparkSession, d: String,
                                         cap: Int = 40): Iterative.Converged[DataFrame] = {
    val sym = strongSym(s, d)
    // round 1 fused into initialization: with identity labels, the
    // first least(own, min-neighbor) update is just min(x, min(y)) —
    // one aggregate instead of a two-join round. Rounds thereafter
    // are O(log diameter) thanks to the path-halving shortcut inside
    // the step (below) — the deep-diameter safety every 100×-scale
    // graph needs, at the cost of one extra keyed join per round.
    // the wrap-proof composite witness (count, sum, xor) is computed as
    // an OBSERVED side output of each round's final checkpoint job —
    // one barrier per round, no separate witness aggregate (round 13)
    val labels0 = Iterative.labelWitnessed(sym.groupBy(col("x").as("node"))
      .agg(least(min(col("y")), min(col("x"))).as("label"))) // x is the group key: min(x) = x
    Iterative.convergeWitnessed(labels0, cap) { labels =>
      // keyed by x, not y (round 18): sym is checkpointed
      // hash-partitioned by x (strongSym) and labels by node, so this
      // join plans with NO exchange on either side; the min is grouped
      // by the OTHER endpoint. On the symmetric edge table
      // min_{x∈N(y)} label(x) ≡ the old min_{y∈N(x)} label(y) — the
      // identical per-round relation, one edge-table shuffle cheaper.
      val nbrMin = sym.join(labels, col("x") === col("node"))
        .groupBy("y").agg(min("label").as("nbr_label"))
      val stepped = labels.join(nbrMin, col("node") === col("y"))
        .select(col("node"), least(col("label"), col("nbr_label")).as("label"))
        .graftCheckpoint() // self-joined below — barrier, don't recompute
      // Path-halving / pointer jumping (VERDICT r11 item 4): shortcut
      // label <- min(label, label-of-label) on the JUST-stepped table,
      // so the covered distance ~doubles per round — O(log diameter)
      // synchronous barriers instead of O(diameter). Labels only
      // decrease (least + coalesce), so the fixpoint — min label per
      // component — is unchanged; the left join tolerates a label that
      // is not a node key (cannot happen on a symmetric graph, but
      // never drop a row).
      val hop = stepped.select(col("node").as("pnode"), col("label").as("plabel"))
      Iterative.labelWitnessed(stepped.join(hop, stepped("label") === hop("pnode"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("plabel"), col("label"))).as("label")))
    }
  }

  /** q210's build: the round-0 survivor set and the peel step (one
    * survivor semi-join pair + degree aggregate, k=3 cut, lineage
    * truncated per round). Survivors only shrink, so the alive COUNT
    * is a valid fixpoint witness for `Iterative.convergeWitnessed` —
    * the production form; the judged query needs the fixed 0..4 curve.
    */
  private[graft] def kcoreParts(s: SparkSession, d: String): (DataFrame, Long, DataFrame => (DataFrame, Long)) = {
    val k = 3
    val sym = strongSym(s, d)
    val aliveCount = Seq(count(lit(1)).as("n"))
    // survivors after round r; round 0 = every node with an edge. The
    // survivor count rides each round's checkpoint as an observed
    // metric — it IS both q210's judged output and the convergence
    // witness, at zero extra jobs (round 13)
    val (alive0, m0) = Tables.checkpointedObserved(
      sym.select(col("x").as("node")).distinct(), aliveCount)
    def step(alive: DataFrame): (DataFrame, Long) = {
      val (next, m) = Tables.checkpointedObserved(
        sym
          .join(alive.select(col("node").as("x")), "x")
          .join(alive.select(col("node").as("y")), "y")
          .groupBy("x").agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k).select(col("x").as("node")), aliveCount)
      (next, m("n").asInstanceOf[Long])
    }
    (alive0, m0("n").asInstanceOf[Long], step)
  }

  override protected val entries: Vector[(String, (SparkSession, String) => DataFrame, Option[String])] = Vector(

    ("q108_pagerank_iter", (s, d) => {
      val (r0, step) = pagerankParts(s, d)
      val ranks = Iterative.fixedK(r0, iterations)(step)
      ranks.orderBy(col("r").desc, col("node")).limit(topK)
        .select(col("node").as("part_id"), col("r").as("rank_fp"))
    }, Some(s"""
      WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      edges AS (
        SELECT DISTINCT a.pk AS src, b.pk AS dst
        FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
      outdeg AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
      r1 AS (
        SELECT e.dst AS node, (150000 + (850000 * sum(1000000 // o.od)) // 1000000)::BIGINT AS r
        FROM edges e JOIN outdeg o ON e.src = o.src
        GROUP BY e.dst),
      r2 AS (
        SELECT e.dst AS node, (150000 + (850000 * sum(r.r // o.od)) // 1000000)::BIGINT AS r
        FROM edges e JOIN outdeg o ON e.src = o.src JOIN r1 r ON r.node = e.src
        GROUP BY e.dst)
      SELECT node AS part_id, r AS rank_fp
      FROM r2
      ORDER BY rank_fp DESC, part_id
      LIMIT $topK
    """)),

    // ----------------------------------------------- triangle counting (round 6)
    // Per-node triangle counts over the STRONG co-purchase graph
    // (parts bought together in >= 2 distinct orders) — the clustering
    // signal community detection and recommender features are built
    // on. The weight threshold is load-bearing at scale: the raw
    // co-purchase graph is a union of per-order cliques and its wedge
    // count (the triangle join's intermediate) measured 49M at sf0.1;
    // thresholding to repeat co-purchases cuts that to ~5k while
    // keeping the semantically meaningful edges. The enumeration is
    // the canonical two-join shape on canonically ORIENTED edges
    // (u < v), so each triangle is generated exactly once as
    // u < v < w: wedges = E(u,v) ⋈ E(v,w) on the middle node, closed
    // by an equi-join against E(u,w). All three legs are hash
    // equi-joins on node ids — no BNLJ, no all-pairs; at 100 TB the
    // orientation bounds the wedge fanout by the ordered out-degree
    // (≤ √m after thresholding), the standard MapReduce triangle
    // recipe. Each triangle credits all three corners (explode), then
    // one count aggregation; top-30 via TakeOrderedAndProject.
    ("q116_triangle_counts", (s, d) => {
      // distinct (order, part) first: a part listed twice in one order
      // must not double-count that order toward the weight threshold.
      // (A collect_set-per-order + pair-explode variant was measured
      // and REJECTED: the set aggregation + array HOFs cost more CPU
      // than the exchange they save — 15.2 s vs 12.6 s total task time
      // at sf0.1.)
      val li = Tables.lineitem(s, d)  // no fanOut — the distinct's own
        // exchange fans out; a round-robin repartition ahead of it is a
        // second full shuffle of the scan for nothing (see pagerankParts)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val e = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("u"), col("b.pk").as("v"))
        .agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2)
        .select("u", "v")
        // partitioned by u before the checkpoint (round 18, guide
        // §2.4): the wedge leg aliases u→v and the closing leg keeps
        // u, so both right legs read the preserved partitioning with
        // NO exchange (hash(u) satisfies the (u,w) clustering); only
        // the left sides still shuffle. 2 of 4 leg exchanges gone —
        // noise at sf0.1's ~5k edges, real at 100 TB edge counts.
        .repartition(col("u"))
        .graftCheckpoint() // three self-join legs read it — build once
      val wedges = e.join(e.select(col("u").as("v"), col("v").as("w")), "v")
      val tri = wedges.join(e.select(col("u"), col("v").as("w")), Seq("u", "w"))
      tri.select(explode(array(col("u"), col("v"), col("w"))).as("part_id"))
        .groupBy("part_id").agg(count(lit(1)).as("n_triangles"))
        .orderBy(col("n_triangles").desc, col("part_id")).limit(topK)
    }, Some(s"""
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      e AS (
        SELECT a.pk AS u, b.pk AS v
        FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY 1, 2 HAVING count(*) >= 2),
      tri AS (
        SELECT w1.u, w1.v, w2.v AS w
        FROM e w1 JOIN e w2 ON w1.v = w2.u
             JOIN e w3 ON w3.u = w1.u AND w3.v = w2.v),
      corners AS (
        SELECT unnest([u, v, w]) AS part_id FROM tri)
      SELECT part_id, count(*)::BIGINT AS n_triangles
      FROM corners GROUP BY part_id
      ORDER BY n_triangles DESC, part_id
      LIMIT $topK
    """)),

    // ----------------------------------------------- association rules (round 6)
    // Market-basket mining over the same co-purchase relation: for
    // every directed part pair (u → v) bought together in ≥ 2 distinct
    // orders, support, confidence = supp(u,v)/supp(u), and
    // lift = N·supp(u,v) / (supp(u)·supp(v)); top-30 rules by lift.
    // The pair supports are q116's thresholded edge weights; item
    // supports are a tiny per-part aggregate broadcast to the pair
    // relation (two broadcast joins, no extra big-side shuffle); N is
    // a 1-row broadcast. Confidence and lift are each a SINGLE
    // division of exact integer counts — both engines divide the same
    // two longs, so the doubles hash-match (the q105 discipline).
    ("q120_association_rules", (s, d) => {
      val li = Tables.lineitem(s, d)  // no fanOut — the distinct's own
        // exchange fans out; a round-robin repartition ahead of it is a
        // second full shuffle of the scan for nothing (see pagerankParts)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
        .graftCheckpoint() // read by pair supports, item supports, and N
      val pairs = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
        .groupBy(col("a.pk").as("u"), col("b.pk").as("v"))
        .agg(count(lit(1)).as("supp_uv"))
        .filter(col("supp_uv") >= 2)
      val item = li.groupBy(col("pk")).agg(count(lit(1)).as("supp"))
      val n = li.select(countDistinct("ok").as("n_orders"))
      pairs
        .join(broadcast(item.select(col("pk").as("u"), col("supp").as("supp_u"))), "u")
        .join(broadcast(item.select(col("pk").as("v"), col("supp").as("supp_v"))), "v")
        .crossJoin(broadcast(n))
        .select(col("u"), col("v"), col("supp_uv"),
          (col("supp_uv").cast("double") / col("supp_u").cast("double")).as("confidence"),
          ((col("n_orders") * col("supp_uv")).cast("double") /
           (col("supp_u") * col("supp_v")).cast("double")).as("lift"))
        .orderBy(col("lift").desc, col("u"), col("v")).limit(topK)
    }, Some(s"""
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      pairs AS (
        SELECT a.pk AS u, b.pk AS v, count(*)::BIGINT AS supp_uv
        FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
        GROUP BY 1, 2 HAVING count(*) >= 2),
      item AS (SELECT pk, count(*)::BIGINT AS supp FROM li GROUP BY pk),
      n AS (SELECT count(DISTINCT ok)::BIGINT AS n_orders FROM li)
      SELECT u, v, supp_uv,
             supp_uv::DOUBLE / iu.supp::DOUBLE AS confidence,
             (n.n_orders * supp_uv)::DOUBLE / (iu.supp * iv.supp)::DOUBLE AS lift
      FROM pairs
        JOIN item iu ON iu.pk = u
        JOIN item iv ON iv.pk = v
        CROSS JOIN n
      ORDER BY lift DESC, u, v
      LIMIT $topK
    """)),

    // ----------------------------------------------- node neighborhood similarity (round 7)
    // Jaccard similarity of node NEIGHBORHOODS over the strong
    // co-purchase graph — |N(u)∩N(v)| / |N(u)∪N(v)| for every strong
    // edge (u,v): the link-prediction / "customers also bought"
    // score, and the graph-structural sibling of q61's set-similarity
    // join (there the sets are token shingles, here they're adjacency
    // lists). Same scale discipline as q116: the graph is first cut
    // to weight≥2 strong edges (49M wedge candidates → ~5k at sf0.1),
    // common neighbors come from ONE wedge equi-join of the
    // undirected adjacency with itself (adj(u,w) ⋈ adj(v,w) on w,
    // u<v), degrees are a tiny per-node aggregate broadcast back, and
    // |union| = deg(u)+deg(v)−|∩| needs no second join. Restricted to
    // pairs that are themselves strong edges (semi-join) so the
    // output is "how alike are DIRECTLY-linked products", the
    // recommendation form.
    ("q145_node_jaccard", (s, d) => {
      val li = Tables.lineitem(s, d)  // no fanOut — the distinct's own
        // exchange fans out; a round-robin repartition ahead of it is a
        // second full shuffle of the scan for nothing (see pagerankParts)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val e = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("u"), col("b.pk").as("v"))
        .agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2)
        .select("u", "v")
        .graftCheckpoint() // adjacency, degrees, and the edge filter all read it
      val adj = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val deg = adj.groupBy("u").agg(count(lit(1)).as("deg"))
      val common = adj.select(col("u"), col("v").as("w"))
        .join(adj.select(col("u").as("v"), col("v").as("w")), "w")
        .filter(col("u") < col("v"))
        .groupBy("u", "v")
        .agg(count(lit(1)).as("n_common"))
      e.join(common, Seq("u", "v"))
        .join(broadcast(deg.select(col("u"), col("deg").as("deg_u"))), "u")
        .join(broadcast(deg.select(col("u").as("v"), col("deg").as("deg_v"))), "v")
        .select(col("u"), col("v"), col("n_common"), col("deg_u"), col("deg_v"),
          round(col("n_common").cast("double") /
            (col("deg_u") + col("deg_v") - col("n_common")).cast("double"), 6).as("jaccard"))
        .orderBy(col("jaccard").desc, col("u"), col("v")).limit(topK)
    }, Some(s"""
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      e AS (
        SELECT a.pk AS u, b.pk AS v
        FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY 1, 2 HAVING count(*) >= 2),
      adj AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
      deg AS (SELECT u, count(*)::BIGINT AS deg FROM adj GROUP BY u),
      common AS (
        SELECT x.u AS u, y.u AS v, count(*)::BIGINT AS n_common
        FROM (SELECT u, v AS w FROM adj) x
        JOIN (SELECT u, v AS w FROM adj) y ON x.w = y.w
        WHERE x.u < y.u
        GROUP BY 1, 2)
      SELECT e.u, e.v, c.n_common, du.deg AS deg_u, dv.deg AS deg_v,
             round(c.n_common::DOUBLE / (du.deg + dv.deg - c.n_common)::DOUBLE, 6) AS jaccard
      FROM e
        JOIN common c ON c.u = e.u AND c.v = e.v
        JOIN deg du ON du.u = e.u
        JOIN deg dv ON dv.u = e.v
      ORDER BY jaccard DESC, e.u, e.v
      LIMIT $topK
    """)),

    // ----------------------------------------------- degree power-law fit (round 7)
    // Is the co-purchase graph scale-free? Fit ln(count) = α + β·ln(deg)
    // over the degree histogram with SQL's REGRESSION AGGREGATES
    // (regr_slope/intercept/r2 — the last §2.2 aggregate family not
    // yet exercised; β ≈ −2..−3 is the power-law signature that
    // predicts hub skew, and hub skew is what breaks naive pair
    // enumeration — the quantitative justification for q116/q145's
    // weight-threshold discipline). The degree histogram is tiny
    // (distinct degree values); the regression is one aggregate over
    // it. Unweighted graph degrees reuse the q145 adjacency.
    ("q155_degree_powerlaw", (s, d) => {
      val li = Tables.lineitem(s, d)  // no fanOut — the distinct's own
        // exchange fans out; a round-robin repartition ahead of it is a
        // second full shuffle of the scan for nothing (see pagerankParts)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val e = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("u"), col("b.pk").as("v"))
        .agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2)
        .select("u", "v")
      val adj = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val hist = adj.groupBy("u").agg(count(lit(1)).as("deg"))
        .groupBy("deg").agg(count(lit(1)).as("n_nodes"))
      hist.agg(
          count(lit(1)).as("n_points"),
          round(expr("regr_slope(ln(n_nodes), ln(deg))"), 6).as("slope"),
          round(expr("regr_intercept(ln(n_nodes), ln(deg))"), 6).as("intercept"),
          round(expr("regr_r2(ln(n_nodes), ln(deg))"), 6).as("r2"))
    }, Some("""
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      e AS (
        SELECT a.pk AS u, b.pk AS v
        FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY 1, 2 HAVING count(*) >= 2),
      adj AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
      hist AS (
        SELECT deg, count(*)::BIGINT AS n_nodes FROM (
          SELECT u, count(*) AS deg FROM adj GROUP BY u) t
        GROUP BY deg)
      SELECT count(*) AS n_points,
             round(regr_slope(ln(n_nodes), ln(deg)), 6) AS slope,
             round(regr_intercept(ln(n_nodes), ln(deg)), 6) AS intercept,
             round(regr_r2(ln(n_nodes), ln(deg)), 6) AS r2
      FROM hist
    """)),

    // ------------------------------------------------------------ multi-round BFS (round 8)
    // Bounded-hop breadth-first traversal — the graph primitive the
    // group still lacked (q108 ranks, q116/q145 count local
    // structures, q64 labels components; none answers "how FAR is
    // node x from a seed set", the reachability question behind
    // blast-radius, recommendation-distance, and taint analyses).
    // Frontier expansion, 3 rounds: each round joins the CURRENT
    // frontier (not the full visited set) against the edge relation
    // hash-partitioned by src — the Pregel BFS shuffle shape — then
    // anti-joins the visited set so a node's hop count is its FIRST
    // reach (= min distance, the BFS invariant). Lineage
    // checkpoint-truncated per round (q64/q108 discipline). At 100 TB
    // the frontier join is the only per-round scan and it shrinks as
    // the traversal saturates; the visited anti-join is keyed by
    // node. The oracle replays it as a recursive CTE that allows
    // revisits (a recursive step can only see the previous
    // iteration) and takes min(hops) — equivalent ≤ 3 hops, and the
    // bounded depth keeps the path explosion finite in DuckDB.
    ("q167_bfs_hops", (s, d) => bfs(s, d, cap = 3).state._1.orderBy("node"),
     Some("""
      WITH RECURSIVE li AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      e AS (
        SELECT DISTINCT a.pk AS src, b.pk AS dst
        FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
      seeds AS (
        SELECT src AS node FROM e GROUP BY src ORDER BY node LIMIT 3),
      walk AS (
        SELECT node, 0 AS hops FROM seeds
        UNION ALL
        SELECT e.dst AS node, w.hops + 1 AS hops
        FROM walk w JOIN e ON e.src = w.node
        WHERE w.hops < 3)
      SELECT node, min(hops)::BIGINT AS hops
      FROM walk GROUP BY node
      ORDER BY node
    """)),

    // ----------------------------------------------- local clustering coefficient (round 8)
    // C(u) = 2·T(u) / (deg(u)·(deg(u)−1)) — how close each node's
    // neighborhood is to a clique. q116 counts the triangles, q155
    // fits the degree tail; this composes them into the per-node
    // community-density feature (high C = tight co-purchase pocket,
    // low C at high degree = hub spanning unrelated communities —
    // the spam/aggregator signature in link graphs). Same thresholded
    // oriented triangle join as q116 (each triangle found ONCE via
    // u<v<w chaining on the checkpointed edge list); degrees come
    // from the symmetric adjacency of the same edges; the join-back
    // is node-keyed and vocab-bounded. Coefficient is an exact
    // int/int double division — deterministic, hash-matchable.
    ("q179_local_clustering", (s, d) => {
      val li = Tables.lineitem(s, d)  // no fanOut — the distinct's own
        // exchange fans out; a round-robin repartition ahead of it is a
        // second full shuffle of the scan for nothing (see pagerankParts)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val e = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("u"), col("b.pk").as("v"))
        .agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2)
        .select("u", "v")
        .graftCheckpoint() // triangle legs + adjacency read it — build once
      val wedges = e.join(e.select(col("u").as("v"), col("v").as("w")), "v")
      val tri = wedges.join(e.select(col("u"), col("v").as("w")), Seq("u", "w"))
        .select(explode(array(col("u"), col("v"), col("w"))).as("part_id"))
        .groupBy("part_id").agg(count(lit(1)).as("n_tri"))
      val deg = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
        .groupBy(col("u").as("part_id")).agg(count(lit(1)).as("deg"))
      tri.join(deg, "part_id")
        .withColumn("coeff", round(
          lit(2.0) * col("n_tri") / (col("deg") * (col("deg") - 1)), 6))
        .select("part_id", "deg", "n_tri", "coeff")
        .orderBy(col("coeff").desc, col("part_id")).limit(topK)
    }, Some(s"""
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      e AS (
        SELECT a.pk AS u, b.pk AS v
        FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY 1, 2 HAVING count(*) >= 2),
      tri AS (
        SELECT w1.u, w1.v, w2.v AS w
        FROM e w1 JOIN e w2 ON w1.v = w2.u
             JOIN e w3 ON w3.u = w1.u AND w3.v = w2.v),
      tcnt AS (
        SELECT part_id, count(*)::BIGINT AS n_tri
        FROM (SELECT unnest([u, v, w]) AS part_id FROM tri) GROUP BY part_id),
      deg AS (
        SELECT u AS part_id, count(*)::BIGINT AS deg
        FROM (SELECT u, v FROM e UNION ALL SELECT v, u FROM e) GROUP BY u)
      SELECT t.part_id, d.deg, t.n_tri,
             round(2.0 * t.n_tri / (d.deg * (d.deg - 1)), 6) AS coeff
      FROM tcnt t JOIN deg d USING (part_id)
      ORDER BY coeff DESC, part_id
      LIMIT $topK
    """)),

    // ------------------------------------------------------------ HITS hubs & authorities (round 9)
    // Two UNNORMALIZED power iterations of Kleinberg's HITS on the
    // bipartite customer–part purchase graph: hubs are customers,
    // authorities are parts. Skipping the per-iteration rescale keeps
    // every score an exact INTEGER (a₀=1 ⇒ h₁=deg, a₁=Σh₁, h₂=Σa₁,
    // a₂=Σh₂ — pure sums), so the ranking is bit-identical across
    // engines with zero floating point; rescaling only changes
    // magnitude, never order. Long-safe: each hop multiplies by ≤ the
    // bipartite degree bound, 4 hops ≈ deg⁴ ≤ ~10¹² here and stays
    // under 2⁶³ for any realistic degree profile; a production run at
    // risk of overflow divides by a constant between iterations
    // (ranking-preserving). Each iteration is one equi-join + keyed
    // aggregate on the edge list — the same message-passing shape as
    // q108 PageRank, shuffles only on graph keys, no driver state.
    ("q200_hits_authorities", (s, d) => {
      val edges = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("part"))
        // merge hint (q108 discipline): both sides are fact tables at
        // scale — never broadcast; the shared ok exchange fans out, so
        // the fanOut round-robin shuffle above it was pure overhead
        .join(Tables.orders(s, d).select(col("o_orderkey").as("ok"), col("o_custkey").as("cust")).hint("merge"), "ok")
        .select("cust", "part").distinct()
        .graftCheckpoint() // read 4× (one per hop); never recompute the join
      val h1 = edges.groupBy("cust").agg(count(lit(1)).as("h1"))
      val a1 = edges.join(h1, "cust").groupBy("part").agg(sum("h1").as("a1"))
      val h2 = edges.join(a1, "part").groupBy("cust").agg(sum("a1").as("h2"))
      val a2 = edges.join(h2, "cust").groupBy("part").agg(sum("h2").as("a2"))
      a2.join(a1, "part")
        .select(col("part").as("part_id"), col("a1").as("auth_iter1"), col("a2").as("auth_iter2"))
        .orderBy(col("a2").desc, col("part_id")).limit(15)
    }, Some("""
      WITH edges AS (
        SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      h1 AS (SELECT cust, count(*)::BIGINT AS h1 FROM edges GROUP BY cust),
      a1 AS (SELECT part, sum(h1)::BIGINT AS a1
             FROM edges JOIN h1 USING (cust) GROUP BY part),
      h2 AS (SELECT cust, sum(a1)::BIGINT AS h2
             FROM edges JOIN a1 USING (part) GROUP BY cust),
      a2 AS (SELECT part, sum(h2)::BIGINT AS a2
             FROM edges JOIN h2 USING (cust) GROUP BY part)
      SELECT part AS part_id, a1 AS auth_iter1, a2 AS auth_iter2
      FROM a2 JOIN a1 USING (part)
      ORDER BY a2 DESC, part_id
      LIMIT 15
    """)),

    // ------------------------------------------------------------ Markov stationary distribution (round 10)
    // Where does user behavior SETTLE? Power-iterate the event-type
    // transition chain (q83's lag-pairs, aggregated over all users) to
    // its stationary distribution — the long-run occupancy a session
    // simulator or attribution prior needs. Integer fixed-point like
    // q108: π₀ = 1e6 per type, π'ⱼ = Σᵢ (πᵢ·c_ij) DIV cᵢ — exact
    // integer arithmetic, bit-identical across engines, k=3 rounds via
    // the shared Iterative driver (the oracle unrolls 3 CTE steps; the
    // production form is Iterative.converge on the same step — q108's
    // IterativeSpec evidence covers this family). The transition
    // matrix is |types|² — vocabulary-bounded, broadcast-sized at any
    // corpus scale; the ONE data-sized pass is the lag over events.
    ("q221_markov_stationary", (s, d) => {
      val wLag = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val trans = Tables.events(s, d)
        .withColumn("prev_type", lag("event_type", 1).over(wLag))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type").as("src"), col("event_type").as("dst"))
        .agg(count(lit(1)).as("c"))
        .graftCheckpoint() // step + row-total + π₀ all read it
      val rowTot = trans.groupBy("src").agg(sum("c").as("ct"))
      val withTot = trans.join(rowTot, "src")
      def step(pi: DataFrame): DataFrame =
        withTot.join(pi, col("src") === col("etype"))
          .select(col("dst"), expr("(pi * c) DIV ct").as("contrib"))
          .groupBy("dst").agg(sum("contrib").as("m"))
          .select(col("dst").as("etype"), col("m").as("pi"))
          .graftCheckpoint()
      val pi0 = rowTot.select(col("src").as("etype"), lit(1000000L).as("pi"))
      Iterative.fixedK(pi0, 3)(step)
        .select(col("etype").as("event_type"), col("pi").as("pi_fp"))
        .orderBy("event_type")
    }, Some("""
      WITH t AS (
        SELECT event_type, lag(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts::TIMESTAMP, event_id) AS prev_type
        FROM events),
      c AS (
        SELECT prev_type AS src, event_type AS dst, count(*)::BIGINT AS c
        FROM t WHERE prev_type IS NOT NULL GROUP BY 1, 2),
      ct AS (SELECT src, sum(c)::BIGINT AS ct FROM c GROUP BY src),
      p0 AS (SELECT src AS etype, 1000000::BIGINT AS pi FROM ct),
      p1 AS (SELECT c.dst AS etype, sum((p.pi * c.c) // x.ct)::BIGINT AS pi
             FROM c JOIN ct x USING (src) JOIN p0 p ON p.etype = c.src GROUP BY c.dst),
      p2 AS (SELECT c.dst AS etype, sum((p.pi * c.c) // x.ct)::BIGINT AS pi
             FROM c JOIN ct x USING (src) JOIN p1 p ON p.etype = c.src GROUP BY c.dst),
      p3 AS (SELECT c.dst AS etype, sum((p.pi * c.c) // x.ct)::BIGINT AS pi
             FROM c JOIN ct x USING (src) JOIN p2 p ON p.etype = c.src GROUP BY c.dst)
      SELECT etype AS event_type, pi AS pi_fp
      FROM p3
      ORDER BY event_type
    """)),

    // ------------------------------------------------------------ k-core decomposition (round 9)
    // Iterative 3-core peel on the co-purchase graph (q116's strong
    // edges): repeatedly delete nodes with degree < 3 until the
    // survivor set is stable — the standard "dense backbone" extractor
    // (a high-degree node whose neighbors are all leaves is NOT in
    // the core; plain degree filtering can't express that). Each round
    // is one semi-join of the edge list against surviving nodes + a
    // degree aggregate — the same frontier shape as q167 BFS,
    // shuffles only on node keys, lineage checkpoint-truncated per
    // round. Four rounds suffice on this fixture (asserted by the
    // spec's fixpoint replay); production uses a convergence loop
    // with the identical body. Output is per-round survivor counts
    // plus the final core's size — the curve a graph curator reads.
    ("q210_kcore_peel", (s, d) => {
      val (alive0, n0, step) = kcoreParts(s, d)
      // the judged OUTPUT is the per-round curve for rounds 0..4, so
      // the driver form is fixedK (an early exit would drop a row the
      // oracle emits); IterativeSpec proves the convergence loop over
      // the same step lands on the identical survivor set. The counts
      // arrive as observed metrics of each round's own checkpoint —
      // zero extra jobs.
      var round = 0
      val counts = scala.collection.mutable.ArrayBuffer[(Int, Long)]((0, n0))
      Iterative.fixedK(alive0, 4) { a =>
        val (next, n) = step(a)
        round += 1
        counts += ((round, n))
        next
      }
      import s.implicits._
      counts.toSeq.toDF("round", "n_alive").orderBy("round")
    }, Some("""
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      e0 AS (
        SELECT a.pk AS u, b.pk AS v
        FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY 1, 2 HAVING count(*) >= 2),
      sym AS (SELECT u AS x, v AS y FROM e0 UNION ALL SELECT v, u FROM e0),
      a0 AS (SELECT DISTINCT x AS node FROM sym),
      a1 AS (SELECT x AS node FROM sym
             JOIN a0 p ON p.node = sym.x JOIN a0 q ON q.node = sym.y
             GROUP BY x HAVING count(*) >= 3),
      a2 AS (SELECT x AS node FROM sym
             JOIN a1 p ON p.node = sym.x JOIN a1 q ON q.node = sym.y
             GROUP BY x HAVING count(*) >= 3),
      a3 AS (SELECT x AS node FROM sym
             JOIN a2 p ON p.node = sym.x JOIN a2 q ON q.node = sym.y
             GROUP BY x HAVING count(*) >= 3),
      a4 AS (SELECT x AS node FROM sym
             JOIN a3 p ON p.node = sym.x JOIN a3 q ON q.node = sym.y
             GROUP BY x HAVING count(*) >= 3)
      SELECT * FROM (
        SELECT 0 AS round, (SELECT count(*) FROM a0)::BIGINT AS n_alive
        UNION ALL SELECT 1, (SELECT count(*) FROM a1)
        UNION ALL SELECT 2, (SELECT count(*) FROM a2)
        UNION ALL SELECT 3, (SELECT count(*) FROM a3)
        UNION ALL SELECT 4, (SELECT count(*) FROM a4))
      ORDER BY round
    """)),

    // ------------------------------------------------------------ converged connected components (round 11)
    // The convergence-mode judged query (VERDICT r10 item 3): labels
    // propagate until the production loop WITNESSES the fixpoint —
    // no fixed round count anywhere on either side. The oracle is a
    // recursive CTE computing each node's min REACHABLE label to
    // DuckDB's own fixpoint, so a propagation loop that stopped one
    // round early (or a witness that aliased) hash-mismatches. Output:
    // every node of the strong co-purchase graph with its component
    // id (min node id in the component) and the component size — the
    // "which parts sell together as a family" rollup q210's peel and
    // q116's triangles both presuppose.
    // Bench note: ~5-5.5 s at sf0.1 — the corpus's slowest query, and
    // expectedly so: it pays the q210-class wedge-enumeration edge
    // build PLUS the convergence rounds (6 witnessed at sf0.1 with
    // path-halving, down from ~7/11 plain; each round = gather join +
    // jump join + checkpoint + witness aggregate). Per-round cost here
    // is scheduling overhead on a ~6k-row relation, so the extra jump
    // join roughly cancels the saved rounds LOCALLY (5.0→5.5 s,
    // inside the noise band); the trade is bought for scale, where a
    // round is a cluster-wide synchronous barrier and O(log diameter)
    // vs O(diameter) rounds decides whether a 100×-deeper graph
    // finishes (11→6 rounds already at sf0.01).
    ("q242_converged_components", (s, d) => {
      val res = convergedComponents(s, d)
      require(res.converged,
        s"label propagation hit the cap before a witnessed fixpoint (rounds=${res.rounds})")
      val comp = res.state.select(col("node"), col("label").as("component"))
        .graftCheckpoint() // sizes + join-back both read it
      val sizes = comp.groupBy("component").agg(count(lit(1)).as("component_size"))
      comp.join(sizes, "component")
        .select("node", "component", "component_size")
        .orderBy("node")
    }, Some("""
      WITH RECURSIVE
      li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      e0 AS (
        SELECT a.pk AS u, b.pk AS v
        FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY 1, 2 HAVING count(*) >= 2),
      sym AS (SELECT u AS x, v AS y FROM e0 UNION ALL SELECT v, u FROM e0),
      reach(node, label) AS (
        SELECT DISTINCT x, x FROM sym
        UNION
        SELECT e.y, r.label FROM reach r JOIN sym e ON e.x = r.node
      ),
      comp AS (SELECT node, min(label) AS component FROM reach GROUP BY node),
      sizes AS (SELECT component, count(*)::BIGINT AS component_size
                FROM comp GROUP BY component)
      SELECT c.node, c.component, s.component_size
      FROM comp c JOIN sizes s USING (component)
      ORDER BY node
    """)),

    // ------------------------------------------------------------ degree assortativity (round 12)
    // Newman's assortativity coefficient: the Pearson correlation of
    // endpoint degrees over the (symmetric) edge list — do high-degree
    // parts co-purchase with other hubs (r > 0, resilient core) or
    // with leaves (r < 0, hub-and-spoke, typical of co-occurrence
    // graphs)? The number that says whether q210's k-core peel will
    // find a dense nucleus or shred the graph. Scale shape: degrees
    // are one keyed aggregate over the checkpointed edge list; the
    // correlation runs over edges with two degree join-backs — every
    // step keyed, nothing quadratic, output one row.
    ("q260_degree_assortativity", (s, d) => {
      val sym = strongSym(s, d)
      val deg = sym.groupBy(col("x").as("node")).agg(count(lit(1)).as("deg"))
        .graftCheckpoint() // joined back on both endpoints
      val dx = deg.select(col("node").as("x"), col("deg").as("dx"))
      val dy = deg.select(col("node").as("y"), col("deg").as("dy"))
      val edgeStats = sym.join(dx, "x").join(dy, "y")
        .agg(expr("count(1) DIV 2").as("n_edges"),
             Quant.quant6(corr(col("dx").cast("double"), col("dy").cast("double")))
               .as("assortativity"))
      deg.agg(count(lit(1)).as("n_nodes"))
        .crossJoin(broadcast(edgeStats))
        .select("n_nodes", "n_edges", "assortativity")
    }, Some("""
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      e0 AS (
        SELECT a.pk AS u, b.pk AS v
        FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY 1, 2 HAVING count(*) >= 2),
      sym AS (SELECT u AS x, v AS y FROM e0 UNION ALL SELECT v, u FROM e0),
      deg AS (SELECT x AS node, count(*)::BIGINT AS deg FROM sym GROUP BY x),
      es AS (
        SELECT (count(*) // 2)::BIGINT AS n_edges,
               floor(corr(a.deg::DOUBLE, b.deg::DOUBLE) * 1000000.0 + 0.5) / 1000000.0
                 AS assortativity
        FROM sym e JOIN deg a ON a.node = e.x JOIN deg b ON b.node = e.y)
      SELECT (SELECT count(*)::BIGINT FROM deg) AS n_nodes, n_edges, assortativity
      FROM es
    """)),

    // ------------------------------------------------------------ rich-club coefficient (round 12)
    // φ(k) = 2·E₍>k₎ / (N₍>k₎·(N₍>k₎−1)): edge density among nodes of
    // degree > k, for a small threshold ladder — does the hub set form
    // its own densely-wired club (φ → 1) or merely fan out? The
    // structural sibling of q155's power-law fit and q260's
    // assortativity. All counts are exact integers (the symmetric
    // edge list double-counts, so the directed qualifying count IS
    // 2·E); the threshold grid is a 4-row broadcast, so both passes
    // are single keyed aggregates over (edges × 4) — no pairwise
    // work, no data-sized broadcast.
    ("q261_rich_club", (s, d) => {
      import s.implicits._
      val sym = strongSym(s, d)
      val deg = sym.groupBy(col("x").as("node")).agg(count(lit(1)).as("deg"))
        .graftCheckpoint() // feeds the node census AND both edge join-backs
      val ks = Seq(2L, 4L, 8L, 16L).toDF("k")
      val nRich = deg.crossJoin(broadcast(ks)).groupBy("k")
        .agg(sum(when(col("deg") > col("k"), 1L).otherwise(0L)).as("n_rich"))
      val dx = deg.select(col("node").as("x"), col("deg").as("dx"))
      val dy = deg.select(col("node").as("y"), col("deg").as("dy"))
      val eRich = sym.join(dx, "x").join(dy, "y")
        .crossJoin(broadcast(ks)).groupBy("k")
        .agg((sum(when(col("dx") > col("k") && col("dy") > col("k"), 1L).otherwise(0L)) / 2)
          .cast("long").as("e_rich"))
      nRich.join(eRich, "k")
        .select(col("k"), col("n_rich"), col("e_rich"),
          when(col("n_rich") >= 2,
            Quant.quant6(col("e_rich") * 2.0 / (col("n_rich") * (col("n_rich") - lit(1L)))))
            .otherwise(0.0).as("phi"))
        .orderBy("k")
    }, Some("""
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      e0 AS (
        SELECT a.pk AS u, b.pk AS v
        FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY 1, 2 HAVING count(*) >= 2),
      sym AS (SELECT u AS x, v AS y FROM e0 UNION ALL SELECT v, u FROM e0),
      deg AS (SELECT x AS node, count(*)::BIGINT AS deg FROM sym GROUP BY x),
      ks AS (SELECT unnest([2, 4, 8, 16])::BIGINT AS k),
      nr AS (
        SELECT k, sum(CASE WHEN deg > k THEN 1 ELSE 0 END)::BIGINT AS n_rich
        FROM deg CROSS JOIN ks GROUP BY k),
      er AS (
        SELECT k,
               (sum(CASE WHEN a.deg > k AND b.deg > k THEN 1 ELSE 0 END) // 2)::BIGINT AS e_rich
        FROM sym e JOIN deg a ON a.node = e.x JOIN deg b ON b.node = e.y
        CROSS JOIN ks GROUP BY k)
      SELECT k, n_rich, e_rich,
             CASE WHEN n_rich >= 2
                  THEN floor(e_rich * 2.0 / (n_rich * (n_rich - 1)) * 1000000.0 + 0.5) / 1000000.0
                  ELSE 0.0 END AS phi
      FROM nr JOIN er USING (k)
      ORDER BY k
    """))
  )
}
