package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream,
  DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType,
  LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** SpaceSaving summary: capacity-bounded (term -> (count, err)) map.
  * `err` is the possible overcount inherited from the evicted entry. */
final class TopKBuffer(val capacity: Int) {
  val counts: mutable.HashMap[String, (Long, Long)] = mutable.HashMap.empty

  def add(term: String, by: Long, err: Long): Unit =
    counts.get(term) match {
      case Some((c, e)) => counts.update(term, (c + by, e + err))
      case None if counts.size < capacity => counts.update(term, (by, err))
      case None =>
        // evict the min-count entry (term tiebreak for determinism);
        // the newcomer inherits its count as the overcount bound
        val (mt, (mc, _)) = counts.minBy { case (t, (c, _)) => (c, t) }
        counts.remove(mt)
        counts.update(term, (mc + by, mc + err))
    }
}

/** Top-k heavy hitters via the SpaceSaving sketch (Metwally et al.,
  * "Efficient Computation of Frequent and Top-k Elements in Data
  * Streams") as a native TypedImperativeAggregate — the mergeable,
  * bounded-memory path for per-group term statistics at corpus scale.
  *
  * Why not groupBy(term).count + window top-k: that shuffles one row
  * per DISTINCT TERM. This aggregate keeps |groups| * capacity state,
  * combines map-side, and ships only the capacity-bounded summaries —
  * the standard sketch trade at 100 TB.
  *
  * Exactness contract: with capacity >= the group's distinct-key
  * count, counts are EXACT (no eviction ever fires) and the result
  * equals the exact top-k with (count desc, term asc) tie-break —
  * which is what the q112 oracle checks. Below that, counts carry a
  * per-entry overcount bound `err` (the classic SpaceSaving
  * guarantee: true <= reported <= true + err).
  *
  * Returns array<struct<term string, n long>> of the top k.
  */
case class SpaceSavingTopK(
    child: Expression, k: Int, capacity: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKBuffer] {

  override def prettyName: String = "graft_topk"
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("term", StringType, nullable = false),
    StructField("n", LongType, nullable = false))), containsNull = false)

  override def createAggregationBuffer(): TopKBuffer =
    new TopKBuffer(capacity)

  override def update(b: TopKBuffer, input: InternalRow): TopKBuffer = {
    val v = child.eval(input)
    if (v != null) b.add(v.toString, 1L, 0L)
    b
  }

  override def merge(b: TopKBuffer, o: TopKBuffer): TopKBuffer = {
    // union-sum, then retain the capacity heaviest (count desc): when
    // no eviction happened on either side this is the exact sum
    o.counts.foreach { case (t, (c, e)) =>
      b.counts.get(t) match {
        case Some((c0, e0)) => b.counts.update(t, (c0 + c, e0 + e))
        case None => b.counts.update(t, (c, e))
      }
    }
    if (b.counts.size > b.capacity) {
      val keep = b.counts.toSeq
        .sortBy { case (t, (c, _)) => (-c, t) }.take(b.capacity)
      b.counts.clear()
      b.counts ++= keep
    }
    b
  }

  override def eval(b: TopKBuffer): Any = {
    val top = b.counts.toSeq
      .sortBy { case (t, (c, _)) => (-c, t) }
      .take(k)
      .map { case (t, (c, _)) =>
        new GenericInternalRow(
          Array[Any](UTF8String.fromString(t), c)): Any }
    new GenericArrayData(top.toArray)
  }

  override def serialize(b: TopKBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(b.capacity)
    out.writeInt(b.counts.size)
    b.counts.foreach { case (t, (c, e)) =>
      out.writeUTF(t); out.writeLong(c); out.writeLong(e)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val b = new TopKBuffer(in.readInt())
    var n = in.readInt()
    while (n > 0) {
      val t = in.readUTF(); val c = in.readLong(); val e = in.readLong()
      b.counts.update(t, (c, e))
      n -= 1
    }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): SpaceSavingTopK =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SpaceSavingTopK =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): SpaceSavingTopK = copy(child = c.head)
}

object SpaceSavingTopK {
  private def lit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case _ => throw new IllegalArgumentException(
      s"graft_topk: $what must be an integer literal, got $e")
  }

  /** graft_topk(expr, k[, capacity]) builder. */
  def fromExprs(exprs: Seq[Expression]): SpaceSavingTopK = {
    val k = lit(exprs(1), "k")
    val cap =
      if (exprs.size == 3) lit(exprs(2), "capacity") else math.max(1024, 8 * k)
    require(k >= 1 && cap >= k, s"graft_topk: need 1 <= k <= capacity")
    SpaceSavingTopK(exprs.head, k, cap)
  }
}
