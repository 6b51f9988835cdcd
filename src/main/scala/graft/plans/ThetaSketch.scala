package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream,
  DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression,
  Expression, Literal, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType,
  IntegerType}

/** Theta/KMV buffer: the k smallest (unsigned) 64-bit hashes of the
  * distinct inputs, plus the cutoff. Invariant: `sample` holds EVERY
  * distinct hash seen that is unsigned-< `thetaHash` (cutoff = +inf
  * while `capped` is false), and |sample| <= k. While uncapped the
  * sample IS the distinct set — estimates are exact. */
final class ThetaBuffer(val k: Int) {
  var capped = false
  var thetaHash: Long = -1L // meaningful only when capped
  val sample = new java.util.TreeSet[java.lang.Long](
    (a: java.lang.Long, b: java.lang.Long) =>
      java.lang.Long.compareUnsigned(a, b))

  def add(h: Long): Unit = {
    if (capped && java.lang.Long.compareUnsigned(h, thetaHash) >= 0) return
    sample.add(h)
    if (sample.size > k) {
      // evict the (k+1)-th smallest: it becomes the new cutoff, so
      // the invariant (sample = everything below the cutoff) holds
      val max = sample.last()
      sample.remove(max)
      thetaHash = max
      capped = true
    }
  }

  def merge(o: ThetaBuffer): Unit = {
    if (o.capped && (!capped ||
        java.lang.Long.compareUnsigned(o.thetaHash, thetaHash) < 0)) {
      thetaHash = o.thetaHash
      capped = true
    }
    if (capped)
      sample.removeIf(h =>
        java.lang.Long.compareUnsigned(h, thetaHash) >= 0)
    o.sample.forEach(h => add(h))
  }
}

/** Theta/KMV distinct sketch with SET OPERATIONS (Beyer et al., "On
  * synopses for distinct-value estimation under multiset operations",
  * SIGMOD'07; the Apache DataSketches "theta sketch" formulation) as
  * a native TypedImperativeAggregate plus codegen-friendly scalar
  * estimators.
  *
  * Why not HLL: HLL unions, but it cannot intersect or difference —
  * inclusion-exclusion on HLL estimates blows up relative error when
  * the overlap is small. A theta sketch carries a uniform hash SAMPLE
  * of the distinct set, so |A INTERSECT B| and |A \ B| are estimated
  * DIRECTLY on the retained hashes below the combined cutoff: the
  * audience-overlap / dedup-set algebra the 100-TB path needs.
  *
  * Exactness contract (what the oracle checks): while fewer than k
  * distinct values are seen the sketch is the EXACT distinct set —
  * estimates, intersections, and differences are exact integers. Past
  * k, estimate = |sample| / theta with relative standard error
  * ~ 1/sqrt(k-1).
  *
  * Mergeability: map-side partials combine by keeping everything
  * below the tighter cutoff and re-capping — the standard theta
  * union, exercised by Spark's partial aggregation automatically.
  *
  * Serialized form (BinaryType): k, capped, thetaHash, n, hashes.
  * The scalar expressions (`graft_theta_estimate`, `graft_theta_union`,
  * `graft_theta_intersect`, `graft_theta_anotb`) operate on that form;
  * sketch frames are group-cardinality-sized, never fact-sized.
  */
object ThetaSketch {
  /** 2^64 as a double, for normalizing an unsigned 64-bit cutoff. */
  private val TwoPow64 = 18446744073709551616.0

  private def toUnit(thetaHash: Long): Double = {
    val bd = new java.math.BigDecimal(
      java.lang.Long.toUnsignedString(thetaHash))
    bd.doubleValue() / TwoPow64
  }

  def serialize(b: ThetaBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(b.k)
    out.writeBoolean(b.capped)
    out.writeLong(b.thetaHash)
    out.writeInt(b.sample.size)
    b.sample.forEach(h => out.writeLong(h))
    out.flush()
    bos.toByteArray
  }

  def deserialize(bytes: Array[Byte]): ThetaBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val b = new ThetaBuffer(in.readInt())
    b.capped = in.readBoolean()
    b.thetaHash = in.readLong()
    var n = in.readInt()
    while (n > 0) { b.sample.add(in.readLong()); n -= 1 }
    b
  }

  /** Distinct estimate: exact set size while uncapped, else the
    * standard theta estimator |sample| / theta. */
  def estimate(bytes: Array[Byte]): Double = {
    val b = deserialize(bytes)
    if (!b.capped) b.sample.size.toDouble
    else b.sample.size.toDouble / toUnit(b.thetaHash)
  }

  /** Combine two buffers ORDER-INDEPENDENTLY: when their k differ,
    * the result is rebuilt at k = min(kA, kB) — adopting the
    * receiver's k (as a bare `a.merge(b)` does) would make the merged
    * sketch depend on which partial Spark happens to fold first. */
  def combine(a: ThetaBuffer, b: ThetaBuffer): ThetaBuffer =
    if (a.k == b.k) { a.merge(b); a }
    else {
      val t = new ThetaBuffer(math.min(a.k, b.k))
      t.merge(a); t.merge(b); t
    }

  /** Theta union: merge samples under the tighter cutoff, re-cap;
    * heterogeneous k normalizes to the minimum (see [[combine]]). */
  def union(a: Array[Byte], bb: Array[Byte]): Array[Byte] =
    serialize(combine(deserialize(a), deserialize(bb)))

  /** Intersection / a-not-b share the same frame: restrict BOTH
    * samples to the combined cutoff theta = min(thetaA, thetaB), count
    * the wanted region, divide by theta. Exact while both uncapped. */
  private def setOp(a: Array[Byte], bb: Array[Byte], intersect: Boolean)
      : Double = {
    val x = deserialize(a)
    val y = deserialize(bb)
    val capped = x.capped || y.capped
    val cutoff =
      if (x.capped && y.capped) {
        if (java.lang.Long.compareUnsigned(x.thetaHash, y.thetaHash) < 0)
          x.thetaHash else y.thetaHash
      } else if (x.capped) x.thetaHash
      else y.thetaHash // unused when neither capped
    def below(h: java.lang.Long): Boolean =
      !capped || java.lang.Long.compareUnsigned(h, cutoff) < 0
    var n = 0L
    x.sample.forEach { h =>
      if (below(h) && (y.sample.contains(h) == intersect)) n += 1
    }
    if (!capped) n.toDouble else n.toDouble / toUnit(cutoff)
  }

  def intersectEstimate(a: Array[Byte], b: Array[Byte]): Double =
    setOp(a, b, intersect = true)

  def aNotBEstimate(a: Array[Byte], b: Array[Byte]): Double =
    setOp(a, b, intersect = false)

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case _ => throw new IllegalArgumentException(
      s"graft_theta: $what must be an integer literal, got $e")
  }

  /** An empty sketch (estimate 0): the eval of a merge over no rows. */
  def empty: Array[Byte] = serialize(new ThetaBuffer(16))

  def aggFromExprs(exprs: Seq[Expression]): ThetaSketchAgg = {
    val k = if (exprs.size == 2) intLit(exprs(1), "k") else 4096
    require(k >= 16, "graft_theta: need k >= 16")
    ThetaSketchAgg(exprs.head, k)
  }
}

/** graft_theta(expr[, k]): the mergeable theta-sketch aggregate. */
case class ThetaSketchAgg(
    child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[ThetaBuffer] {

  override def prettyName: String = "graft_theta"
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): ThetaBuffer = new ThetaBuffer(k)

  override def update(b: ThetaBuffer, input: InternalRow): ThetaBuffer = {
    val v = child.eval(input)
    if (v != null) b.add(XxHash64Function.hash(v, child.dataType, 42L))
    b
  }

  override def merge(b: ThetaBuffer, o: ThetaBuffer): ThetaBuffer = {
    b.merge(o); b
  }

  override def eval(b: ThetaBuffer): Any = ThetaSketch.serialize(b)
  override def serialize(b: ThetaBuffer): Array[Byte] =
    ThetaSketch.serialize(b)
  override def deserialize(bytes: Array[Byte]): ThetaBuffer =
    ThetaSketch.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): ThetaSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ThetaSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): ThetaSketchAgg = copy(child = c.head)
}

/** Buffer for [[ThetaMergeAgg]]: the running union, or unset before
  * the first input sketch (whose k it adopts). */
final class ThetaMergeState {
  var b: ThetaBuffer = null
}

/** graft_theta_merge(sketch): re-aggregate STORED sketches — the
  * sketch-warehouse pattern (Apache DataSketches' union of serialized
  * theta sketches): day/segment-level sketches persist once, and any
  * coarser rollup (weekly actives, cross-segment reach) merges the
  * bounded sketch column instead of re-touching the raw rows. While
  * every input sketch is uncapped the merged result is still the
  * exact distinct union. */
case class ThetaMergeAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[ThetaMergeState] {

  override def prettyName: String = "graft_theta_merge"
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): ThetaMergeState =
    new ThetaMergeState

  override def update(s: ThetaMergeState, input: InternalRow)
      : ThetaMergeState = {
    val v = child.eval(input)
    if (v != null) {
      val o = ThetaSketch.deserialize(v.asInstanceOf[Array[Byte]])
      // combine (not bare merge): stored sketches with heterogeneous
      // k normalize to the minimum k, so the result never depends on
      // Spark's partial-aggregation fold order
      if (s.b == null) s.b = o else s.b = ThetaSketch.combine(s.b, o)
    }
    s
  }

  override def merge(s: ThetaMergeState, o: ThetaMergeState)
      : ThetaMergeState = {
    if (o.b != null) {
      if (s.b == null) s.b = o.b
      else s.b = ThetaSketch.combine(s.b, o.b)
    }
    s
  }

  override def eval(s: ThetaMergeState): Any =
    if (s.b == null) ThetaSketch.empty else ThetaSketch.serialize(s.b)

  override def serialize(s: ThetaMergeState): Array[Byte] =
    if (s.b == null) Array.emptyByteArray else ThetaSketch.serialize(s.b)

  override def deserialize(bytes: Array[Byte]): ThetaMergeState = {
    val s = new ThetaMergeState
    if (bytes.nonEmpty) s.b = ThetaSketch.deserialize(bytes)
    s
  }

  override def withNewMutableAggBufferOffset(o: Int): ThetaMergeAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ThetaMergeAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): ThetaMergeAgg = copy(child = c.head)
}

/** graft_theta_estimate(sketch) -> double. */
case class ThetaEstimate(child: Expression) extends UnaryExpression {
  override def prettyName: String = "graft_theta_estimate"
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(sk: Any): Any =
    ThetaSketch.estimate(sk.asInstanceOf[Array[Byte]])
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s =>
      s"graft.plans.ThetaSketch.estimate($s)")
  override protected def withNewChildInternal(
      c: Expression): ThetaEstimate = copy(child = c)
}

/** graft_theta_union(a, b) -> sketch. */
case class ThetaUnion(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "graft_theta_union"
  override def dataType: DataType = BinaryType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    ThetaSketch.union(
      a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.plans.ThetaSketch.union($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): ThetaUnion = copy(left = l, right = r)
}

/** graft_theta_intersect(a, b) -> double estimate of |A INTERSECT B|. */
case class ThetaIntersect(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "graft_theta_intersect"
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    ThetaSketch.intersectEstimate(
      a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.plans.ThetaSketch.intersectEstimate($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): ThetaIntersect =
    copy(left = l, right = r)
}

/** graft_theta_anotb(a, b) -> double estimate of |A \ B|. */
case class ThetaANotB(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "graft_theta_anotb"
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    ThetaSketch.aNotBEstimate(
      a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.plans.ThetaSketch.aNotBEstimate($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): ThetaANotB = copy(left = l, right = r)
}
