package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream,
  DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression,
  GenericInternalRow, Literal, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType,
  IntegerType, LongType, StructField, StructType}

/** One retained candidate: ranking score, deterministic tiebreak id,
  * and an opaque payload serialized as a single-field UnsafeRow. */
final class TopKEntry(
    val score: Double, val tie: Long, val payload: Array[Byte])

/** Bounded worst-out heap: at most k entries, head = the CURRENT WORST
  * under (score desc, tie asc) — i.e. lowest score, then highest tie. */
final class TopKByBuffer(val k: Int) {
  val heap = new java.util.PriorityQueue[TopKEntry](
    math.max(1, k),
    new java.util.Comparator[TopKEntry] {
      override def compare(a: TopKEntry, b: TopKEntry): Int = {
        val c = java.lang.Double.compare(a.score, b.score)
        if (c != 0) c else java.lang.Long.compare(b.tie, a.tie)
      }
    })

  def add(e: TopKEntry): Unit =
    if (heap.size < k) { heap.offer(e); () }
    else {
      val w = heap.peek()
      val c = java.lang.Double.compare(e.score, w.score)
      if (c > 0 || (c == 0 && e.tie < w.tie)) {
        heap.poll(); heap.offer(e); ()
      }
    }
}

/** Exact bounded top-k as a native TypedImperativeAggregate:
  * `graft_topk_by(score, tie, payload, k)` keeps the k entries with
  * the highest (score desc, tie asc) per group and returns them as
  * `array<struct<score double, tie bigint, payload T>>`, best first.
  *
  * This is the scale-safe replacement for the per-group
  * `row_number().over(Window.partitionBy(g).orderBy(score))` funnel:
  * the window shuffles EVERY candidate row into one task per group
  * and sorts it; this aggregate keeps k rows of state per group,
  * combines map-side partials (each partition contributes at most k),
  * and ships only the bounded summaries through the shuffle — the
  * standard bounded-state top-k shape (cf. Spark's own TakeOrdered
  * and Flink ProcessFunction top-k patterns).
  *
  * Determinism contract: `tie` must be unique within a group (a row
  * id); results then equal the exact window top-k under
  * ORDER BY score DESC, tie ASC — which is what the DuckDB oracles
  * check. NULL score or tie rows are skipped (window ranking over a
  * non-null score column sees the same set).
  */
case class TopKBy(
    score: Expression, tie: Expression, payload: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKByBuffer] {

  override def prettyName: String = "graft_topk_by"
  override def children: Seq[Expression] = Seq(score, tie, payload)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("tie", LongType, nullable = false),
    StructField("payload", payload.dataType, payload.nullable))),
    containsNull = false)

  @transient private lazy val payloadProj =
    UnsafeProjection.create(Array(payload.dataType))
  @transient private lazy val payloadIn = new GenericInternalRow(1)

  override def createAggregationBuffer(): TopKByBuffer = new TopKByBuffer(k)

  override def update(b: TopKByBuffer, input: InternalRow): TopKByBuffer = {
    val s = score.eval(input)
    val t = tie.eval(input)
    if (s != null && t != null) {
      payloadIn.update(0, payload.eval(input))
      // copy(): the projection reuses its output buffer across rows
      val bytes = payloadProj(payloadIn).copy().getBytes
      b.add(new TopKEntry(
        s.asInstanceOf[Double], t.asInstanceOf[Long], bytes))
    }
    b
  }

  override def merge(b: TopKByBuffer, o: TopKByBuffer): TopKByBuffer = {
    val it = o.heap.iterator()
    while (it.hasNext) b.add(it.next())
    b
  }

  override def eval(b: TopKByBuffer): Any = {
    val arr = b.heap.toArray(new Array[TopKEntry](b.heap.size))
    java.util.Arrays.sort(arr, new java.util.Comparator[TopKEntry] {
      override def compare(x: TopKEntry, y: TopKEntry): Int = {
        val c = java.lang.Double.compare(y.score, x.score)
        if (c != 0) c else java.lang.Long.compare(x.tie, y.tie)
      }
    })
    val out = arr.map { e =>
      val r = new UnsafeRow(1)
      r.pointTo(e.payload, e.payload.length)
      val v = if (r.isNullAt(0)) null
        else InternalRow.copyValue(r.get(0, payload.dataType))
      new GenericInternalRow(Array[Any](e.score, e.tie, v)): Any
    }
    new GenericArrayData(out)
  }

  override def serialize(b: TopKByBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(b.k)
    out.writeInt(b.heap.size)
    val it = b.heap.iterator()
    while (it.hasNext) {
      val e = it.next()
      out.writeDouble(e.score); out.writeLong(e.tie)
      out.writeInt(e.payload.length); out.write(e.payload)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKByBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val b = new TopKByBuffer(in.readInt())
    var n = in.readInt()
    while (n > 0) {
      val s = in.readDouble(); val t = in.readLong()
      val p = new Array[Byte](in.readInt())
      in.readFully(p)
      b.add(new TopKEntry(s, t, p))
      n -= 1
    }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKBy =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKBy =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): TopKBy =
    copy(score = c(0), tie = c(1), payload = c(2))
}

object TopKBy {
  /** graft_topk_by(score, tie, payload, k) builder; score/tie are
    * cast to double/bigint, k must be an integer literal. */
  def fromExprs(exprs: Seq[Expression]): TopKBy = {
    val k = exprs(3) match {
      case Literal(v: Int, IntegerType) => v
      case e => throw new IllegalArgumentException(
        s"graft_topk_by: k must be an integer literal, got $e")
    }
    require(k >= 1, "graft_topk_by: need k >= 1")
    val s = if (exprs.head.dataType == DoubleType) exprs.head
      else Cast(exprs.head, DoubleType)
    val t = if (exprs(1).dataType == LongType) exprs(1)
      else Cast(exprs(1), LongType)
    TopKBy(s, t, exprs(2), k)
  }
}
