package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Alias, Ascending, Attribute, Expression, GenericInternalRow, JoinedRow,
  RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graftx.PlanBridge

/** Native as-of (point-in-time) join — the one operator family where
  * composing built-ins genuinely leaves performance on the table, so
  * this follows SURVEY §4's escalation path (c): a custom LogicalPlan +
  * SparkStrategy + SparkPlan. The strategy is injected at session
  * build time by `graft.functions.GraftExtensions` (see `Graft.builder`);
  * a session built without the extension cannot plan the node.
  *
  * Semantics: for each left row, attach the right row with the same key
  * and the greatest right-time <= left-time (backward as-of, ties
  * inclusive — DuckDB's `ASOF LEFT JOIN ... ON l.t >= r.t`); no match
  * => right columns NULL.
  *
  * Why a physical operator beats the union+window composition
  * (queries/Temporal.qAsofJoin):
  *  - the composition funnels BOTH sides through one union + full
  *    window sort and carries every right column through the window as
  *    a running `max(struct)` — right payload width multiplies the
  *    sort's shuffle volume;
  *  - here each side shuffles ONCE on its own key and sorts on
  *    (key, time); the per-partition merge is a forward-only scan with
  *    O(1) state (the last matching right row). Catalyst's
  *    EnsureRequirements inserts the exchanges/sorts, which means it
  *    can also ELIDE them when a child is already hash-partitioned or
  *    sorted (e.g. bucketed tables) — a reuse the union form can never
  *    express because its single window key is (key) with a synthetic
  *    side column in the sort.
  *
  * Scale: no per-key buffering (contrast a window's whole-frame
  * buffer), state is one right row regardless of key cardinality or
  * skew; AQE still coalesces/splits the exchanges it planned.
  */
object AsOfJoin {

  /** Backward as-of join. `right` columns must be pre-renamed by the
    * caller if they collide with `left`'s (the operator does not
    * invent names). Right rows with NULL key or NULL time never match;
    * left rows with NULL key or NULL time get NULL right columns.
    */
  def asofJoin(left: DataFrame, right: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String],
      leftTime: String, rightTime: String): DataFrame = {
    require(leftKeys.length == rightKeys.length && leftKeys.nonEmpty,
      "asofJoin needs equal-length, non-empty key lists")
    val spark = left.sparkSession
    val lp = PlanBridge.analyzed(left)
    // fresh ExprIds on the right so self-source joins (the common
    // "events as-of events" shape) stay unambiguous
    val rAliases = PlanBridge.analyzed(right).output
      .map(a => Alias(a, a.name)(qualifier = Seq.empty))
    val rp = Project(rAliases, PlanBridge.analyzed(right))
    val rOut = rAliases.map(_.toAttribute)
    def res(out: Seq[Attribute], n: String): Attribute =
      out.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"asofJoin: no column '$n' among [${out.map(_.name).mkString(", ")}]"))
    val plan = AsOfJoinPlan(lp, rp,
      leftKeys.map(res(lp.output, _)), rightKeys.map(res(rOut, _)),
      res(lp.output, leftTime), res(rOut, rightTime))
    PlanBridge.ofRows(spark, plan)
  }
}

/** Logical node: an opaque binary operator the optimizer passes
  * through untouched (inputs are projected narrow by the caller;
  * there is nothing to push into a node whose join condition is not a
  * conjunction Catalyst understands).
  */
case class AsOfJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt) :: Nil
    case _ => Nil
  }
}

/** Physical as-of join: declares ClusteredDistribution on both key
  * lists (EnsureRequirements co-partitions the sides, reusing any
  * existing hash layout) and (key, time) ascending child orderings
  * (likewise elided when a child is already sorted), then merges each
  * co-located partition pair with a forward-only scan.
  */
case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatched" -> SQLMetrics.createMetric(sparkContext, "number of matched rows"))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  // left rows stream through unreordered: partitioning and ordering
  // survive, so a downstream window/agg on (key, time) re-sorts nothing
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numMatched = longMetric("numMatched")
    val lOut = left.output
    val rOut = right.output
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val lTimeExpr = leftTime
    val rTimeExpr = rightTime
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeyExprs, lOut)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rOut)
      val lTimeProj = UnsafeProjection.create(Seq(lTimeExpr), lOut)
      val rTimeProj = UnsafeProjection.create(Seq(rTimeExpr), rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(lKeyExprs.map(_.dataType))
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lTimeExpr.dataType))
      val nullRight = new GenericInternalRow(rOut.length)
      val joined = new JoinedRow

      new Iterator[InternalRow] {
        // lookahead right row; its projected key/time stay valid until
        // the next advance() re-fills the projection buffers
        private var rRow: InternalRow = _
        private var rKey: InternalRow = _
        private var rTime: InternalRow = _
        // last right row (copied — iterators reuse row buffers) whose
        // (key, time) qualified for the left cursor; O(1) state total
        private var mRow: InternalRow = _
        private var mKey: InternalRow = _

        advance()

        private def advance(): Unit = {
          rRow = null
          while (rRow == null && rIter.hasNext) {
            val row = rIter.next()
            val k = rKeyProj(row)
            // NULL-keyed / NULL-timed right rows match nothing: skip
            // here so the merge never compares against them
            if (!k.anyNull) {
              val t = rTimeProj(row)
              if (!t.isNullAt(0)) { rRow = row; rKey = k; rTime = t }
            }
          }
        }

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val lRow = lIter.next()
          val lKey = lKeyProj(lRow)
          val lTime = lTimeProj(lRow)
          numOutputRows += 1
          if (lKey.anyNull || lTime.isNullAt(0)) {
            joined(lRow, nullRight)
          } else {
            // consume right rows while (rKey, rTime) <= (lKey, lTime);
            // the last equal-keyed one consumed is the as-of match
            var scanning = rRow != null
            while (scanning) {
              val c = keyOrd.compare(rKey, lKey)
              if (c < 0) { advance(); scanning = rRow != null }
              else if (c == 0 && timeOrd.compare(rTime, lTime) <= 0) {
                mRow = rRow.copy(); mKey = rKey.copy()
                advance(); scanning = rRow != null
              } else scanning = false
            }
            if (mRow != null && keyOrd.compare(mKey, lKey) == 0) {
              numMatched += 1
              joined(lRow, mRow)
            } else joined(lRow, nullRight)
          }
        }
      }
    }
  }
}
