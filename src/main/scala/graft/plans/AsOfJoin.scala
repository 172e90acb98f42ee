package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, BroadcastMode, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.execution.metric.SQLMetrics

/** Whole-operator as-of join: for every left row, the single right row
  * with the greatest `rightTs <= leftTs` within the same key — the
  * point-in-time lookup every feature store / tick-data / attribution
  * pipeline needs.
  *
  * This is the engine's custom-LogicalPlan + SparkStrategy + SparkPlan
  * rung (SURVEY §2.2 C15): Spark has no physical as-of operator — its
  * own logical `AsOfJoin` (pandas `merge_asof`) is REWRITTEN by the
  * optimizer into an inner join on the key with a `min_by` aggregate
  * over every in-horizon pair (`RewriteAsOfJoin`), i.e. each left row
  * materializes ALL its candidate right rows before aggregation; the
  * relational alternative (q60's union+window) funnels BOTH relations
  * through one union, a per-key sort, and a window carry. [[AsOfJoinExec]]
  * instead is a [[KeyedMergeExec]]: it declares `ClusteredDistribution`
  * on the key and a `(key, ts)` required ordering for each child —
  * EnsureRequirements co-partitions and sorts exactly as it would for
  * a sort-merge join — and then streams both sorted partitions through
  * a single-pass merge with O(1) state (the last in-horizon right row
  * per key). No pair blow-up, no union materialization, no window
  * buffer; output
  * preserves the left side's partitioning AND `(key, ts)` ordering, so
  * a downstream per-key window or as-of join over the result adds
  * neither exchange nor sort. At 100 TB both shuffles are the same
  * volume a sort-merge join would pay; the win is the per-row
  * constant and the reusable output layout.
  *
  * Contract (checked by [[AsOf.leftAsOf]]): key columns are
  * `bigint`, ts columns `bigint` or `timestamp` (both Long-backed
  * internally); a NULL key or ts on the left yields an unmatched row,
  * on the right the row is skipped — the semantics DuckDB's
  * `ASOF LEFT JOIN` gives NULLs that never satisfy `>=`.
  */
case class AsOfJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Attribute, rightKey: Attribute,
    leftTs: Attribute, rightTs: Attribute,
    broadcastRight: Boolean = false,
    leftSalt: Option[Attribute] = None,
    rightSalt: Option[Attribute] = None) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Co-partitioned merge as-of join. `leftSalt`/`rightSalt` (set by
  * [[AsOf.leftAsOfSalted]]) widen the clustering AND the merge
  * grouping to (key, salt): AQE's OptimizeSkewedJoin only rewrites
  * SMJ/SHJ, so a hot key here would otherwise serialize one task — the
  * salt splits it across `saltBuckets` partitions, with the right side
  * replicated per salt so every (key, salt) group still sees the full
  * right history (exact same result, bounded per-task input;
  * AsOfSpec measures it on a 100:1 skewed fixture).
  */
case class AsOfJoinExec(
    leftKey: Attribute, rightKey: Attribute,
    leftTs: Attribute, rightTs: Attribute,
    left: SparkPlan, right: SparkPlan,
    leftSalt: Option[Attribute] = None,
    rightSalt: Option[Attribute] = None) extends KeyedMergeExec {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def rightMergeTs: Attribute = rightTs

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatched" -> SQLMetrics.createMetric(sparkContext, "number of matched rows"))

  protected override def doExecute(): RDD[InternalRow] = {
    val lkOrd = ordinal(left, leftKey); val ltOrd = ordinal(left, leftTs)
    val rkOrd = ordinal(right, rightKey); val rtOrd = ordinal(right, rightTs)
    val lsOrd = saltOrdinal(left, leftSalt); val rsOrd = saltOrdinal(right, rightSalt)
    val outAttrs = output
    val rightArity = right.output.length
    val rowsMetric = longMetric("numOutputRows")
    val matchedMetric = longMetric("numMatched")

    left.execute().zipPartitions(right.execute(), preservesPartitioning = true) {
      (lIter, rIter) =>
        val proj = UnsafeProjection.create(outAttrs, outAttrs)
        val joined = new JoinedRow
        val nullRight: InternalRow = new GenericInternalRow(rightArity)
        // one-row lookahead over the right side; `matched` holds a COPY
        // of the newest right row whose ts <= the current left ts for
        // the (key, salt) group in hand (sort iterators reuse their
        // UnsafeRow)
        var rRow: InternalRow = if (rIter.hasNext) rIter.next() else null
        var matched: InternalRow = null
        var matchedKey = 0L
        var matchedSalt = 0L
        lIter.map { l =>
          rowsMetric += 1
          if (l.isNullAt(lkOrd) || l.isNullAt(ltOrd) ||
              (lsOrd >= 0 && l.isNullAt(lsOrd))) proj(joined(l, nullRight))
          else {
            val lk = l.getLong(lkOrd)
            val ls = if (lsOrd >= 0) l.getLong(lsOrd) else 0L
            val lt = l.getLong(ltOrd)
            var advance = true
            while (advance && rRow != null) {
              if (rRow.isNullAt(rkOrd) || rRow.isNullAt(rtOrd) ||
                  (rsOrd >= 0 && rRow.isNullAt(rsOrd))) {
                rRow = if (rIter.hasNext) rIter.next() else null
              } else {
                val rk = rRow.getLong(rkOrd)
                val rs = if (rsOrd >= 0) rRow.getLong(rsOrd) else 0L
                // lexicographic (key, salt) group order, then the ts horizon
                val groupCmp = if (rk != lk) java.lang.Long.compare(rk, lk)
                               else java.lang.Long.compare(rs, ls)
                if (groupCmp < 0 || (groupCmp == 0 && rRow.getLong(rtOrd) <= lt)) {
                  if (groupCmp == 0) { matched = rRow.copy(); matchedKey = rk; matchedSalt = rs }
                  rRow = if (rIter.hasNext) rIter.next() else null
                } else advance = false
              }
            }
            if (matched != null && matchedKey == lk && matchedSalt == ls) {
              matchedMetric += 1
              proj(joined(l, matched))
            } else proj(joined(l, nullRight))
          }
        }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** BroadcastMode that sorts the right side by (key, ts) ONCE on the
  * driver — the sorted `Array[InternalRow]` IS the index (one of the
  * two payload types `BroadcastExchangeExec` accepts; a custom class
  * trips its size-accounting whitelist). Rows with a NULL key or ts
  * can never satisfy the `<=` horizon and are dropped at build. Rows
  * are copied: the collect iterator reuses one UnsafeRow buffer.
  * Probes binary-search the array reading (key, ts) through the same
  * ordinals — no per-task rebuild, no per-key sub-structure.
  */
case class AsOfIndexMode(keyOrd: Int, tsOrd: Int) extends BroadcastMode {
  override def transform(rows: Array[InternalRow]): Array[InternalRow] =
    transform(rows.iterator, Some(rows.length.toLong))
  override def transform(rows: Iterator[InternalRow],
                         sizeHint: Option[Long]): Array[InternalRow] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    sizeHint.foreach(n => buf.sizeHint(math.min(n, Int.MaxValue.toLong).toInt))
    rows.foreach { r =>
      if (!r.isNullAt(keyOrd) && !r.isNullAt(tsOrd)) buf += r.copy()
    }
    buf.sortInPlace()(Ordering.by(r => (r.getLong(keyOrd), r.getLong(tsOrd))))
    buf.toArray
  }
  // ordinals are positional (no exprIds to normalize) — identity
  // canonical form lets EnsureRequirements reuse an identical exchange
  override def canonicalized: BroadcastMode = this

  /** Newest row in the (key, ts)-sorted `index` with key == k and
    * ts <= t, or null.
    */
  def lookup(index: Array[InternalRow], k: Long, t: Long): InternalRow = {
    var lo = 0
    var hi = index.length - 1
    var ans = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val mk = index(mid).getLong(keyOrd)
      if (mk < k || (mk == k && index(mid).getLong(tsOrd) <= t)) { ans = mid; lo = mid + 1 }
      else hi = mid - 1
    }
    if (ans >= 0 && index(ans).getLong(keyOrd) == k) index(ans) else null
  }
}

/** Broadcast-right as-of join: the dominant production shape — a huge
  * fact side (clicks, ticks, feature requests) point-in-time joining a
  * dimension that fits in memory (SCD2 stamps, feature snapshots).
  * [[AsOfJoinExec]] is correct there but pays a full shuffle + sort of
  * the 100 TB fact side; this operator requires NOTHING of the left
  * child (`UnspecifiedDistribution`, no ordering) and
  * `BroadcastDistribution(AsOfIndexMode)` of the right, so the fact
  * side flows straight from the scan — zero exchange, zero sort — and
  * each task probes the driver-built sorted index at O(log |dim|) per
  * row. Output preserves the left side's partitioning AND ordering
  * verbatim. The caller asserts the right side fits in executor
  * memory, exactly like a `broadcast()` join hint.
  */
case class BroadcastAsOfJoinExec(
    leftKey: Attribute, rightKey: Attribute,
    leftTs: Attribute, rightTs: Attribute,
    left: SparkPlan, right: SparkPlan) extends SparkPlan with BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  private def rightOrd(a: Attribute): Int = {
    val i = right.output.indexWhere(_.exprId == a.exprId)
    require(i >= 0, s"as-of attribute $a not found in right child output")
    i
  }
  private def indexMode: AsOfIndexMode =
    AsOfIndexMode(rightOrd(rightKey), rightOrd(rightTs))

  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution :: BroadcastDistribution(indexMode) :: Nil
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatched" -> SQLMetrics.createMetric(sparkContext, "number of matched rows"))

  protected override def doExecute(): RDD[InternalRow] = {
    val lkOrd = left.output.indexWhere(_.exprId == leftKey.exprId)
    val ltOrd = left.output.indexWhere(_.exprId == leftTs.exprId)
    require(lkOrd >= 0 && ltOrd >= 0,
      s"as-of key/ts attributes not found in left child output: $leftKey/$leftTs")
    val outAttrs = output
    val rightArity = right.output.length
    val rowsMetric = longMetric("numOutputRows")
    val matchedMetric = longMetric("numMatched")
    val mode = indexMode
    val bcast = right.executeBroadcast[Array[InternalRow]]()

    left.execute().mapPartitions({ lIter =>
      val index = bcast.value
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      val nullRight: InternalRow = new GenericInternalRow(rightArity)
      lIter.map { l =>
        rowsMetric += 1
        if (l.isNullAt(lkOrd) || l.isNullAt(ltOrd)) proj(joined(l, nullRight))
        else {
          val m = mode.lookup(index, l.getLong(lkOrd), l.getLong(ltOrd))
          if (m != null) { matchedMetric += 1; proj(joined(l, m)) }
          else proj(joined(l, nullRight))
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BroadcastAsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** User API for the native as-of join. */
object AsOf {

  /** `left AS-OF LEFT JOIN right` on `key`, matching the newest
    * `right` row with `right.tsR <= left.tsL`. Column names must be
    * disjoint between the two sides apart from nothing — i.e. rename
    * before calling (the output carries both sides' columns verbatim).
    */
  def leftAsOf(left: DataFrame, right: DataFrame,
               leftKeyCol: String, rightKeyCol: String,
               leftTsCol: String, rightTsCol: String): DataFrame =
    build(left, right, leftKeyCol, rightKeyCol, leftTsCol, rightTsCol,
      broadcastRight = false)

  /** [[leftAsOf]] forcing the broadcast-right physical plan: the right
    * side is collected, sorted into an `AsOfIndexMode` index on the
    * driver and broadcast; the left side needs no exchange and no sort.
    * Use when the right side fits in executor memory (the `broadcast()`
    * hint contract); identical semantics to [[leftAsOf]].
    */
  def leftAsOfBroadcast(left: DataFrame, right: DataFrame,
                        leftKeyCol: String, rightKeyCol: String,
                        leftTsCol: String, rightTsCol: String): DataFrame =
    build(left, right, leftKeyCol, rightKeyCol, leftTsCol, rightTsCol,
      broadcastRight = true)

  /** [[leftAsOf]] with SALTED key distribution ([[KeyedMerge.salted]])
    * — the skew hardening for the merge plan. AQE's OptimizeSkewedJoin
    * only rewrites SMJ/SHJ, so a hot key (one user producing half the
    * ticks) would serialize a single task under [[leftAsOf]]. Salted,
    * the exec clusters on (key, salt): the hot key's probes spread over
    * `saltBuckets` tasks, each still seeing the key's FULL right
    * history — results are exactly [[leftAsOf]]'s (AsOfSpec proves
    * equality plus the bounded per-task input on a 100:1 skewed
    * fixture). Cost: the right side shuffles ×saltBuckets — size it
    * like a salted SMJ (small right side or small salt count); if the
    * right side fits in memory outright, prefer [[leftAsOfBroadcast]], which has
    * no skew exposure at all (no shuffle, per-row O(log) probes).
    */
  def leftAsOfSalted(left: DataFrame, right: DataFrame,
                     leftKeyCol: String, rightKeyCol: String,
                     leftTsCol: String, rightTsCol: String,
                     saltBuckets: Int): DataFrame =
    KeyedMerge.salted(left, right, saltBuckets, "__graft_asof_salt") { (l, r, salt) =>
      build(l, r, leftKeyCol, rightKeyCol, leftTsCol, rightTsCol,
        broadcastRight = false, salt = salt)
    }

  private def build(left: DataFrame, right: DataFrame,
                    leftKeyCol: String, rightKeyCol: String,
                    leftTsCol: String, rightTsCol: String,
                    broadcastRight: Boolean,
                    salt: Option[(String, String)] = None): DataFrame =
    KeyedMerge.join("as-of join", left, right,
        Seq(leftKeyCol -> "key", leftTsCol -> "ts"),
        Seq(rightKeyCol -> "key", rightTsCol -> "ts"), salt) { s =>
      AsOfJoinNode(s.left, s.right, s.l(0), s.r(0), s.l(1), s.r(1),
        broadcastRight, s.leftSalt, s.rightSalt)
    }
}
