package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.metric.SQLMetrics

/** Whole-operator point-in-interval join: every (left point, right
  * interval) pair with the same key where `start <= ts <= end` — the
  * event-to-window join behind attribution, maintenance-window
  * filtering, and session enrichment.
  *
  * The second rung of the engine's custom-physical-operator line
  * (SURVEY §2.2 C15, next to [[AsOfJoinExec]]): Spark's built-ins
  * plan `l.key = r.key AND l.ts BETWEEN r.start AND r.end` as a
  * sort-merge/hash join on the key with the range as a POST-JOIN
  * residual — every (point, interval) pair of a key materializes
  * before the residual drops it, O(|points_k| · |intervals_k|) per
  * key. [[IntervalJoinExec]] is a [[KeyedMergeExec]]: it declares the
  * same ClusteredDistribution a sort-merge join would
  * (EnsureRequirements/AQE place, reuse, and skew-split the exchanges)
  * plus (key, ts) / (key, start) ordering, and then streams both
  * sorted partitions through an interval sweep: intervals enter an
  * active min-heap (keyed by end) when their start passes, leave when
  * their end expires, and each point emits exactly its matches —
  * O(evictions + output) per point, active-set state only (the max
  * concurrent overlap, not the relation).
  *
  * Inner-join semantics; a NULL key/ts/bound never matches (exactly
  * what SQL's `BETWEEN` residual gives). Output preserves the left
  * side's partitioning and (key, ts) ordering.
  */
case class IntervalJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Attribute, rightKey: Attribute,
    leftTs: Attribute, rightStart: Attribute, rightEnd: Attribute,
    leftOuter: Boolean = false,
    leftSalt: Option[Attribute] = None,
    rightSalt: Option[Attribute] = None) extends BinaryNode {
  override def output: Seq[Attribute] =
    if (leftOuter) left.output ++ right.output.map(_.withNullability(true))
    else left.output ++ right.output
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): IntervalJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Interval sweep exec. Skew notes (the two ways one partition can run
  * hot, and the mitigations):
  *  - NULL-key points under LEFT OUTER survive unmatched (SQL LEFT
  *    JOIN), and ClusteredDistribution routes ALL null keys to one
  *    partition — the same hotspot every built-in join has on
  *    NULL-heavy data. At scale, split the input into `key IS NULL`
  *    (append null right columns directly — no join needed) and the
  *    non-null remainder through this operator.
  *  - A hot NON-NULL key serializes one task (AQE's OptimizeSkewedJoin
  *    only rewrites SMJ/SHJ): use [[IntervalJoin.innerIntervalSalted]],
  *    which clusters on (key, salt) with the interval side replicated
  *    per salt — exact same rows out, per-task input bounded by
  *    ~1/saltBuckets of the hot key (IntervalJoinSpec measures it).
  */
case class IntervalJoinExec(
    leftKey: Attribute, rightKey: Attribute,
    leftTs: Attribute, rightStart: Attribute, rightEnd: Attribute,
    left: SparkPlan, right: SparkPlan,
    leftOuter: Boolean = false,
    leftSalt: Option[Attribute] = None,
    rightSalt: Option[Attribute] = None) extends KeyedMergeExec {

  override def output: Seq[Attribute] =
    if (leftOuter) left.output ++ right.output.map(_.withNullability(true))
    else left.output ++ right.output
  override protected def rightMergeTs: Attribute = rightStart

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numAdmitted" -> SQLMetrics.createMetric(sparkContext, "intervals admitted to the sweep"))

  protected override def doExecute(): RDD[InternalRow] = {
    val lkOrd = ordinal(left, leftKey); val ltOrd = ordinal(left, leftTs)
    val rkOrd = ordinal(right, rightKey)
    val rsOrd = ordinal(right, rightStart); val reOrd = ordinal(right, rightEnd)
    val lSaltOrd = saltOrdinal(left, leftSalt)
    val rSaltOrd = saltOrdinal(right, rightSalt)
    val outAttrs = output
    val rowsMetric = longMetric("numOutputRows")
    val admittedMetric = longMetric("numAdmitted")

    val rightArity = right.output.length
    val isOuter = leftOuter
    left.execute().zipPartitions(right.execute(), preservesPartitioning = true) {
      (lIter, rIter) =>
        val proj = UnsafeProjection.create(outAttrs, outAttrs)
        val joined = new JoinedRow
        val nullRight: InternalRow =
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(rightArity)
        // active intervals of the CURRENT (key, salt) group, min-heap by
        // end: evicting every end < ts leaves exactly the matching set
        // (start already passed at insertion, ts nondecreasing within a
        // group)
        val active = scala.collection.mutable.PriorityQueue.empty[(Long, InternalRow)](
          Ordering.by[(Long, InternalRow), Long](_._1).reverse)
        var activeKey = Long.MinValue
        var activeSalt = Long.MinValue
        var rRow: InternalRow = if (rIter.hasNext) rIter.next() else null

        lIter.flatMap { l =>
          if (l.isNullAt(lkOrd) || l.isNullAt(ltOrd) ||
              (lSaltOrd >= 0 && l.isNullAt(lSaltOrd))) {
            // a NULL key/ts can never satisfy the range — inner drops
            // the point, left-outer keeps it unmatched (SQL LEFT JOIN)
            if (isOuter) { rowsMetric += 1; Iterator.single(proj(joined(l, nullRight))) }
            else Iterator.empty
          } else {
            val lk = l.getLong(lkOrd)
            val ls = if (lSaltOrd >= 0) l.getLong(lSaltOrd) else 0L
            val lt = l.getLong(ltOrd)
            if (lk != activeKey || ls != activeSalt) {
              active.clear(); activeKey = lk; activeSalt = ls
            }
            // admit right intervals for groups < (lk, ls) (drained unseen
            // — no left partner exists) and this group's starts <= lt
            var advance = true
            while (advance && rRow != null) {
              if (rRow.isNullAt(rkOrd) || rRow.isNullAt(rsOrd) || rRow.isNullAt(reOrd) ||
                  (rSaltOrd >= 0 && rRow.isNullAt(rSaltOrd))) {
                rRow = if (rIter.hasNext) rIter.next() else null
              } else {
                val rk = rRow.getLong(rkOrd)
                val rs = if (rSaltOrd >= 0) rRow.getLong(rSaltOrd) else 0L
                val groupCmp = if (rk != lk) java.lang.Long.compare(rk, lk)
                               else java.lang.Long.compare(rs, ls)
                if (groupCmp < 0) {
                  rRow = if (rIter.hasNext) rIter.next() else null
                } else if (groupCmp == 0 && rRow.getLong(rsOrd) <= lt) {
                  admittedMetric += 1
                  active.enqueue((rRow.getLong(reOrd), rRow.copy()))
                  rRow = if (rIter.hasNext) rIter.next() else null
                } else advance = false
              }
            }
            // expire ended intervals; everything left matches
            while (active.nonEmpty && active.head._1 < lt) active.dequeue()
            if (active.isEmpty) {
              if (isOuter) { rowsMetric += 1; Iterator.single(proj(joined(l, nullRight))) }
              else Iterator.empty
            } else active.iterator.map { case (_, r) =>
              rowsMetric += 1
              proj(joined(l, r))
            }
          }
        }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): IntervalJoinExec =
    copy(left = newLeft, right = newRight)
}

/** User API for the native interval join. */
object IntervalJoin {

  /** Inner point-in-interval join: every pair with
    * `left.key = right.key AND right.start <= left.ts <= right.end`.
    * Column names must be disjoint between the sides (rename first);
    * key/ts/bound columns must be bigint or timestamp.
    */
  def innerInterval(left: DataFrame, right: DataFrame,
                    leftKeyCol: String, rightKeyCol: String,
                    leftTsCol: String, rightStartCol: String,
                    rightEndCol: String): DataFrame =
    build(left, right, leftKeyCol, rightKeyCol, leftTsCol,
      rightStartCol, rightEndCol, leftOuter = false)

  /** [[innerInterval]] with LEFT OUTER semantics: points covered by no
    * interval (or with a NULL key/ts) survive with a null right side —
    * the coverage-audit shape ("which events fall in NO window").
    */
  def leftInterval(left: DataFrame, right: DataFrame,
                   leftKeyCol: String, rightKeyCol: String,
                   leftTsCol: String, rightStartCol: String,
                   rightEndCol: String): DataFrame =
    build(left, right, leftKeyCol, rightKeyCol, leftTsCol,
      rightStartCol, rightEndCol, leftOuter = true)

  /** [[innerInterval]] with SALTED key distribution
    * ([[KeyedMerge.salted]]) — skew hardening for the sweep (see
    * [[IntervalJoinExec]]'s scaladoc): the exec clusters on
    * (key, salt) — the hot key's points spread over saltBuckets tasks,
    * each sweeping the key's FULL interval set. Exactly [[innerInterval]]'s rows; the interval side
    * shuffles ×saltBuckets, so size the salt like a salted SMJ.
    */
  def innerIntervalSalted(left: DataFrame, right: DataFrame,
                          leftKeyCol: String, rightKeyCol: String,
                          leftTsCol: String, rightStartCol: String,
                          rightEndCol: String, saltBuckets: Int): DataFrame =
    KeyedMerge.salted(left, right, saltBuckets, "__graft_iv_salt") { (l, r, salt) =>
      build(l, r, leftKeyCol, rightKeyCol, leftTsCol, rightStartCol, rightEndCol,
        leftOuter = false, salt = salt)
    }

  private def build(left: DataFrame, right: DataFrame,
                    leftKeyCol: String, rightKeyCol: String,
                    leftTsCol: String, rightStartCol: String,
                    rightEndCol: String, leftOuter: Boolean,
                    salt: Option[(String, String)] = None): DataFrame =
    KeyedMerge.join("interval join", left, right,
        Seq(leftKeyCol -> "key", leftTsCol -> "ts"),
        Seq(rightKeyCol -> "key", rightStartCol -> "bound", rightEndCol -> "bound"), salt) { s =>
      IntervalJoinNode(s.left, s.right, s.l(0), s.r(0), s.l(1), s.r(1), s.r(2),
        leftOuter, s.leftSalt, s.rightSalt)
    }
}
