package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, BindReferences, Expression, JoinedRow, RowOrdering,
  SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Keyed band (interval) join as a first-class physical operator — the
  * sorted-sweep sibling of [[AsOfJoinExec]] (the round-5 lead from
  * SURVEY §10).
  *
  * Semantics (reference RelOp.scala:520 Join + RelOp.scala:631 JoinOn
  * carrying a band predicate; the Flink-style interval join): INNER
  * join of a point side (key, t)
  * against an interval side (key, [lo, hi)) on
  * `l.key = r.key AND r.lo <= l.t AND l.t < r.hi`. A null point or a
  * null endpoint matches nothing.
  *
  * Why a custom exec: Spark plans this predicate as a hash equi-join on
  * the key followed by a post-join FILTER — every (point, interval)
  * pair of a key is materialized before the band predicate prunes, so a
  * key with p points and i intervals costs O(p*i) even when each point
  * overlaps a handful of intervals. The bucket-expansion rewrite
  * (RangeJoinRewrite) fixes the NO-key case; with a key and dense
  * intervals the sweep is the right shape: both sides sorted within
  * their co-partitions, one forward pass, and state = the intervals
  * still open at the current point (max concurrent overlap, not i).
  *
  * Scale: children hash-cluster on the key (same EnsureRequirements
  * machinery as SortMergeJoin), each partition sweeps its key runs in
  * one pass; 100 TB behavior == SortMergeJoin minus the per-key
  * all-pairs buffer.
  */
case class BandJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    point: Attribute, lo: Attribute, hi: Attribute) extends BinaryNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): BandJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[BandJoinPlan]] as [[BandJoinExec]]. Injected by
  * [[graft.GraftExtensions]]. */
object BandJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case BandJoinPlan(l, r, lk, rk, t, lo, hi) =>
      BandJoinExec(planLater(l), planLater(r), lk, rk, t, lo, hi) :: Nil
    case _ => Nil
  }
}

case class BandJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    point: Attribute, lo: Attribute, hi: Attribute) extends BinaryExecNode {

  require(lo.dataType == point.dataType && hi.dataType == point.dataType,
    s"band join endpoints must share the point's type, got " +
      s"${point.dataType} vs [${lo.dataType}, ${hi.dataType})")

  override def output: Seq[Attribute] = left.output ++ right.output

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(leftKeys), ClusteredDistribution(rightKeys))

  /** Point side sorted by (key, t); interval side by (key, lo). */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ point).map(SortOrder(_, Ascending)),
    (rightKeys :+ lo).map(SortOrder(_, Ascending)))

  /** The sweep emits in left order within each partition — declare it
    * so downstream per-key operators skip their own exchange/sort. */
  override def outputPartitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  protected override def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val outAttrs = output
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val keyTypes = leftKeys.map(_.dataType)
    val pointExpr = point
    val loExpr = lo
    val hiExpr = hi
    val pointType = point.dataType

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKey = UnsafeProjection.create(lKeyExprs, lOut)
      val rKey = UnsafeProjection.create(rKeyExprs, rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val tOrd = TypeUtils.getInterpretedOrdering(pointType)
      val tBound = BindReferences.bindReference(pointExpr: Expression, lOut)
      val loBound = BindReferences.bindReference(loExpr: Expression, rOut)
      val hiBound = BindReferences.bindReference(hiExpr: Expression, rOut)
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow

      new Iterator[InternalRow] {
        // intervals of the current key still open at the current point
        private val open = ArrayBuffer.empty[InternalRow]
        private var openKey: UnsafeRow = _
        private var rRow: InternalRow = _
        private var rK: UnsafeRow = _
        private var l: InternalRow = _
        private var pending: Iterator[InternalRow] = Iterator.empty

        private def advanceRight(): Unit =
          if (rIter.hasNext) {
            rRow = rIter.next()
            rK = rKey(rRow).copy() // projection buffers are reused
          } else { rRow = null; rK = null }

        advanceRight()

        /** Sweep forward to the next left row with matches. */
        private def fill(): Boolean = {
          while (!pending.hasNext && lIter.hasNext) {
            l = lIter.next()
            val lK = lKey(l)
            if (openKey == null || keyOrd.compare(openKey, lK) != 0) {
              open.clear(); openKey = lK.copy()
            }
            // drop interval rows whose key can never match again
            while (rRow != null && keyOrd.compare(rK, lK) < 0) advanceRight()
            val t = tBound.eval(l)
            if (t != null) {
              // ingest same-key intervals that have started (lo <= t);
              // ones already over (hi <= t) are dead on arrival because
              // t only grows within the key run
              var scan = true
              while (scan && rRow != null && keyOrd.compare(rK, lK) == 0) {
                val loV = loBound.eval(rRow)
                if (loV == null) advanceRight() // null lo matches nothing
                else if (tOrd.lteq(loV, t)) {
                  val hiV = hiBound.eval(rRow)
                  if (hiV != null && tOrd.gt(hiV, t)) open += rRow.copy()
                  advanceRight()
                } else scan = false
              }
              // evict intervals the sweep has passed (hi <= t)
              if (open.nonEmpty) {
                var i = 0
                while (i < open.length) {
                  if (tOrd.lteq(hiBound.eval(open(i)), t)) open.remove(i)
                  else i += 1
                }
              }
              if (open.nonEmpty) {
                val cur = l
                // snapshot: `open` mutates on the next sweep step while
                // a lazy iterator over it would still be live
                val matches = open.toArray
                pending = matches.iterator.map(r => resultProj(joined(cur, r)))
              }
            }
          }
          pending.hasNext
        }

        override def hasNext: Boolean = pending.hasNext || fill()
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException("empty iterator")
          pending.next()
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BandJoinExec =
    copy(left = newLeft, right = newRight)
}
