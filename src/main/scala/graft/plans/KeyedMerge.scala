package graft.plans

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.{array, col, explode, lit, pmod, xxhash64}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** The keyed sorted-merge skeleton of graft's custom joins
  * ([[AsOfJoinExec]], [[IntervalJoinExec]]): both co-partition their
  * sides on the key (plus an optional salt), sort each by
  * (key, salt, ts) and walk the two sorted partitions together. This
  * object holds what the joins share above the per-row walk: binding
  * DataFrame columns to a custom logical node, and the salting recipe.
  */
object KeyedMerge {

  /** The analyzed sides of a join and its bound attributes: `l`/`r`
    * in the order of the `leftCols`/`rightCols` given to [[join]].
    */
  final case class Sides(left: LogicalPlan, right: LogicalPlan,
                         l: IndexedSeq[Attribute], r: IndexedSeq[Attribute],
                         leftSalt: Option[Attribute], rightSalt: Option[Attribute])

  /** Binds `(column, role)` pairs of each side to attributes and wraps
    * the logical node `node` builds from them into a DataFrame. The
    * sides must share no column name, and every bound column must be
    * bigint or timestamp (both Long-backed internally); `salt` names
    * the (left, right) salt columns [[salted]] added.
    */
  def join(op: String, left: DataFrame, right: DataFrame,
           leftCols: Seq[(String, String)], rightCols: Seq[(String, String)],
           salt: Option[(String, String)])(node: Sides => LogicalPlan): DataFrame = {
    val spark = left.sparkSession
    GraftSqlBridge.ensureStrategy(spark, KeyedJoinStrategy)
    val dup = left.columns.toSet.intersect(right.columns.toSet)
    require(dup.isEmpty, s"$op sides share column names $dup — rename before joining")
    // fresh-alias projections give every referenced attribute a unique
    // exprId, so self-joins (both sides carved from one scan) survive
    // the analyzer's relation dedup without ambiguity
    def analyzed(df: DataFrame): LogicalPlan =
      GraftSqlBridge.analyzed(df.select(df.columns.toIndexedSeq.map(c => col(c).as(c)): _*))
    val lPlan = analyzed(left)
    val rPlan = analyzed(right)
    def attr(plan: LogicalPlan, name: String, side: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"$side side has no column `$name`"))
    def bind(plan: LogicalPlan, cols: Seq[(String, String)], side: String): IndexedSeq[Attribute] =
      cols.toIndexedSeq.map { case (name, role) =>
        val a = attr(plan, name, side)
        a.dataType match {
          case LongType | TimestampType => a
          case other => throw new IllegalArgumentException(
            s"$op $role `$name` must be bigint or timestamp, got $other")
        }
      }
    val l = bind(lPlan, leftCols, "left")
    val r = bind(rPlan, rightCols, "right")
    GraftSqlBridge.ofRows(spark, node(Sides(lPlan, rPlan, l, r,
      salt.map(s => attr(lPlan, s._1, "left")), salt.map(s => attr(rPlan, s._2, "right")))))
  }

  /** Skew hardening for a merge join: the left side gets a
    * deterministic salt in [0, saltBuckets) (hash of the whole row),
    * the right side is replicated once per salt, and `join` clusters
    * on (key, salt), so a hot key's left rows spread over
    * `saltBuckets` tasks while each (key, salt) group still sees the
    * key's full right side: the same rows as the unsalted join. The
    * right side shuffles ×saltBuckets. The salt columns are named
    * `<prefix>_l`/`<prefix>_r` and dropped from the result.
    */
  def salted(left: DataFrame, right: DataFrame, saltBuckets: Int, prefix: String)(
      join: (DataFrame, DataFrame, Option[(String, String)]) => DataFrame): DataFrame = {
    require(saltBuckets >= 2 && saltBuckets <= 4096,
      s"saltBuckets must be in [2, 4096], got $saltBuckets")
    val saltL = s"${prefix}_l"
    val saltR = s"${prefix}_r"
    val l2 = left.withColumn(saltL,
      pmod(xxhash64(left.columns.map(col).toIndexedSeq: _*), lit(saltBuckets.toLong)))
    val r2 = right.withColumn(saltR,
      explode(array((0 until saltBuckets).map(s => lit(s.toLong)): _*)))
    join(l2, r2, Some((saltL, saltR))).drop(saltL, saltR)
  }
}

/** Physical declarations of a keyed sorted-merge join: co-partition on
  * (key, salt), sort (key, salt, ts) — the requirements a sort-merge
  * join would declare, so EnsureRequirements/AQE place the exchanges
  * and reuse compatible ones — and an output that keeps the left
  * side's partitioning and (key, salt, ts) ordering, so a downstream
  * per-key operator over the result adds neither exchange nor sort.
  * Implementations supply the per-row walk.
  */
trait KeyedMergeExec extends SparkPlan with BinaryExecNode {
  def leftKey: Attribute
  def rightKey: Attribute
  def leftTs: Attribute
  def leftSalt: Option[Attribute]
  def rightSalt: Option[Attribute]
  /** The right column the merge advances on within a (key, salt) group. */
  protected def rightMergeTs: Attribute

  private def leftOrdering: Seq[SortOrder] =
    (Seq(leftKey) ++ leftSalt :+ leftTs).map(SortOrder(_, Ascending))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey) ++ leftSalt) ::
      ClusteredDistribution(Seq(rightKey) ++ rightSalt) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(leftOrdering, (Seq(rightKey) ++ rightSalt :+ rightMergeTs).map(SortOrder(_, Ascending)))
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = leftOrdering

  /** Ordinal of `a` in `side`'s output. */
  protected def ordinal(side: SparkPlan, a: Attribute): Int = {
    val i = side.output.indexWhere(_.exprId == a.exprId)
    require(i >= 0, s"$nodeName attribute $a not found in child output")
    i
  }

  /** Ordinal of a salt attribute, -1 when unsalted: the walk then
    * groups on (key, 0), so the unsalted path costs nothing extra.
    */
  protected def saltOrdinal(side: SparkPlan, salt: Option[Attribute]): Int =
    salt.map(ordinal(side, _)).getOrElse(-1)
}

/** Plans graft's join nodes: [[AsOfJoinNode]] as [[AsOfJoinExec]]
  * (co-partitioned merge) or [[BroadcastAsOfJoinExec]]
  * (dimension-broadcast probe), [[IntervalJoinNode]] as
  * [[IntervalJoinExec]]. Injected by [[graft.GraftExtensions]]
  * (`injectPlannerStrategy`) and, for sessions not built with the
  * extension, lazily via `experimental.extraStrategies` in
  * [[KeyedMerge.join]].
  */
object KeyedJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, rk, lt, rt, bcast, ls, rs) =>
      if (bcast) BroadcastAsOfJoinExec(lk, rk, lt, rt, planLater(l), planLater(r)) :: Nil
      else AsOfJoinExec(lk, rk, lt, rt, planLater(l), planLater(r), ls, rs) :: Nil
    case IntervalJoinNode(l, r, lk, rk, lt, rs, re, outer, lsalt, rsalt) =>
      IntervalJoinExec(lk, rk, lt, rs, re, planLater(l), planLater(r), outer,
        lsalt, rsalt) :: Nil
    case _ => Nil
  }
}
