package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, BindReferences, Expression, GenericInternalRow,
  JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** ALIGN / as-of join as a first-class physical operator.
  *
  * Semantics (reference RelOp.scala:700 Align; SQL `ASOF LEFT JOIN ...
  * ON l.key = r.key AND l.time >= r.time`): each left row is joined to
  * the LATEST right row of the same key with time at-or-before the left
  * row's time, or nulls when none exists. Every left row is emitted
  * exactly once.
  *
  * This is the (c)-tier extension path from the build contract: a
  * custom LogicalPlan + SparkStrategy + SparkPlan, used where the
  * declarative composition (union + last-ignoring-nulls window,
  * ExtendedOps.asofAlign) genuinely leaves performance on the table —
  * the union shape materializes probe+ref into ONE sorted window
  * partition per key (a single task must sort |probe|+|ref| rows and
  * run a carry-forward over the union), while this operator sorts the
  * two sides independently and streams a per-partition sorted MERGE
  * with O(1) state: no window buffer, no union wide-row padding, and
  * the output stays clustered+sorted for downstream operators (its
  * outputOrdering/outputPartitioning declare it, so Catalyst drops
  * later redundant exchanges/sorts on the same keys).
  *
  * Scale: both children hash-cluster on the join key (Catalyst inserts
  * the exchanges via requiredChildDistribution — co-partitioning is the
  * same machinery SortMergeJoin uses), each partition merges its key
  * runs in one forward pass, and state per partition is one buffered
  * right row. 100 TB behavior == SortMergeJoin behavior, minus the
  * hash-table/buffer of an equi-join.
  */
case class AsOfJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTime: Attribute, rightTime: Attribute) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinPlan]] as [[AsOfJoinExec]]. Injected by
  * [[graft.GraftExtensions]]. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTime: Attribute, rightTime: Attribute) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  /** Both sides cluster on the join key — EnsureRequirements makes the
    * children co-partitioned exactly as it does for SortMergeJoin. */
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(leftKeys), ClusteredDistribution(rightKeys))

  /** Each side sorted by (key, time) within its partitions. */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  /** The merge preserves the left side's clustering and order — declare
    * them so downstream per-key operators skip their own exchange/sort. */
  override def outputPartitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  protected override def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val outAttrs = output
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val keyTypes = leftKeys.map(_.dataType)
    // (key, time) combined ordering decides when a right row is
    // at-or-before the current left row; a separate key-only ordering
    // decides whether a buffered match still belongs to the left key.
    val keyTimeTypes = keyTypes :+ leftTime.dataType
    val lTimeExpr = leftTime
    val rTimeExpr = rightTime
    val nRight = rOut.size

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKey = UnsafeProjection.create(lKeyExprs, lOut)
      val rKey = UnsafeProjection.create(rKeyExprs, rOut)
      val lKeyTime = UnsafeProjection.create(lKeyExprs :+ lTimeExpr, lOut)
      val rKeyTime = UnsafeProjection.create(rKeyExprs :+ rTimeExpr, rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val ktOrd = RowOrdering.createNaturalAscendingOrdering(keyTimeTypes)
      // upcast: bindReference casts its result to the argument's static
      // type, and a bound Attribute comes back as BoundReference
      val lTimeBound = BindReferences.bindReference(lTimeExpr: Expression, lOut)
      val rTimeBound = BindReferences.bindReference(rTimeExpr: Expression, rOut)
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val nullRight = new GenericInternalRow(nRight)
      val joined = new JoinedRow

      new Iterator[InternalRow] {
        private var rRow: InternalRow = _
        private var rK: UnsafeRow = _
        private var rKT: UnsafeRow = _
        private var matchRow: InternalRow = _
        private var matchKey: UnsafeRow = _

        private def advanceRight(): Unit =
          if (rIter.hasNext) {
            rRow = rIter.next()
            // projections reuse their buffers — copy before holding
            rK = rKey(rRow).copy()
            rKT = rKeyTime(rRow).copy()
          } else { rRow = null; rK = null; rKT = null }

        advanceRight()

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val lK = lKey(l)
          val lKT = lKeyTime(l)
          val lTimeNull = lTimeBound.eval(l) == null
          // consume right rows that can never match a LATER left row:
          // strictly-behind keys, and same-key rows at-or-before in time
          var scan = true
          while (scan && rRow != null) {
            val kc = keyOrd.compare(rK, lK)
            if (kc < 0) advanceRight()
            else if (kc == 0 && ktOrd.compare(rKT, lKT) <= 0) {
              // a null right time sorts first and satisfies <=, but
              // `l.time >= null` is not a match — consume, don't record
              if (rTimeBound.eval(rRow) != null) {
                matchRow = rRow.copy(); matchKey = rK
              }
              advanceRight()
            } else scan = false
          }
          val matched = !lTimeNull && matchRow != null &&
            keyOrd.compare(matchKey, lK) == 0
          resultProj(joined(l, if (matched) matchRow else nullRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}
