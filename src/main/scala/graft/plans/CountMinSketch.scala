package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream,
  DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression,
  Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Count-Min sketch (Cormode & Muthukrishnan, "An improved data stream
  * summary: the count-min sketch and its applications") as a native
  * TypedImperativeAggregate — the fixed-size, mergeable frequency
  * summary for per-key counts at corpus scale (reference: sclera's
  * aggregate extension surface; sketch = the 100-TB path where exact
  * per-key counts would shuffle a row per distinct key).
  *
  * depth x width table of longs; row r uses the Kirsch-Mitzenmacher
  * double hash bucket_r(s) = (h1(s) + r*h2(s)) mod width, where h1/h2
  * are the PORTABLE polynomial code-point folds (multiplier 31 resp.
  * 131, mod 10^15, first 256 code points) — deliberately replicable in
  * the DuckDB oracle, so estimates are checked value-for-value, not
  * rows-only. Estimates obey true <= est <= true + eps*N with
  * eps = e/width at failure probability exp(-depth).
  *
  * The aggregate emits the raw table (array<long> of depth*width, row
  * major); point queries go through `graft_cms_estimate`, and two
  * sketches built over disjoint slices merge by elementwise addition —
  * exactly what the map-side combine does.
  */
final class CmsBuffer(val depth: Int, val width: Int) {
  val table: Array[Long] = new Array[Long](depth * width)
  var n: Long = 0L
}

object CountMinSketch {
  /** Second polynomial fold (multiplier 131), same cap/mod as
    * FingerprintHash.hash — called from generated code too. */
  def hash131(s: String, maxChars: Int): Long = {
    var h = 0L
    var i = 0
    var taken = 0
    while (i < s.length && taken < maxChars) {
      val cp = s.codePointAt(i)
      h = (h * 131L + cp) % 1000000000000000L
      i += Character.charCount(cp)
      taken += 1
    }
    h
  }

  def bucket(h1: Long, h2: Long, r: Int, width: Int): Int =
    ((h1 + r.toLong * h2) % width).toInt

  /** Min over rows of the key's bucket counts (generated-code hook). */
  def estimate(table: ArrayData, s: String, depth: Int, width: Int): Long = {
    val h1 = FingerprintHash.hash(s, 256)
    val h2 = hash131(s, 256)
    var best = Long.MaxValue
    var r = 0
    while (r < depth) {
      val c = table.getLong(r * width + bucket(h1, h2, r, width))
      if (c < best) best = c
      r += 1
    }
    best
  }

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case _ => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $e")
  }

  /** graft_cms(expr, depth, width) builder. */
  def aggFromExprs(exprs: Seq[Expression]): CountMinSketchAgg = {
    val depth = intLit(exprs(1), "graft_cms: depth")
    val width = intLit(exprs(2), "graft_cms: width")
    require(depth >= 1 && depth <= 32 && width >= 1,
      "graft_cms: need 1 <= depth <= 32, width >= 1")
    CountMinSketchAgg(exprs.head, depth, width)
  }

  /** graft_cms_estimate(sketch, key, depth, width) builder. */
  def estFromExprs(exprs: Seq[Expression]): CmsEstimate = {
    CmsEstimate(exprs(0), exprs(1),
      intLit(exprs(2), "graft_cms_estimate: depth"),
      intLit(exprs(3), "graft_cms_estimate: width"))
  }
}

case class CountMinSketchAgg(
    child: Expression, depth: Int, width: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[CmsBuffer] {

  override def prettyName: String = "graft_cms"
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): CmsBuffer =
    new CmsBuffer(depth, width)

  override def update(b: CmsBuffer, input: InternalRow): CmsBuffer = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.toString
      val h1 = FingerprintHash.hash(s, 256)
      val h2 = CountMinSketch.hash131(s, 256)
      var r = 0
      while (r < depth) {
        b.table(r * width + CountMinSketch.bucket(h1, h2, r, width)) += 1L
        r += 1
      }
      b.n += 1L
    }
    b
  }

  override def merge(b: CmsBuffer, o: CmsBuffer): CmsBuffer = {
    var i = 0
    while (i < b.table.length) { b.table(i) += o.table(i); i += 1 }
    b.n += o.n
    b
  }

  override def eval(b: CmsBuffer): Any = new GenericArrayData(b.table)

  override def serialize(b: CmsBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(b.depth); out.writeInt(b.width); out.writeLong(b.n)
    var i = 0
    while (i < b.table.length) { out.writeLong(b.table(i)); i += 1 }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): CmsBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val b = new CmsBuffer(in.readInt(), in.readInt())
    b.n = in.readLong()
    var i = 0
    while (i < b.table.length) { b.table(i) = in.readLong(); i += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): CountMinSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CountMinSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): CountMinSketchAgg = copy(child = c.head)
}

/** Point estimate from a CMS table: min over depth rows of the key's
  * bucket count. Codegen-friendly (static helper call). */
case class CmsEstimate(
    left: Expression, right: Expression, depth: Int, width: Int)
    extends BinaryExpression {

  override def prettyName: String = "graft_cms_estimate"
  override def dataType: DataType = LongType

  override def nullSafeEval(sketch: Any, key: Any): Any =
    CountMinSketch.estimate(
      sketch.asInstanceOf[ArrayData], key.toString, depth, width)

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, k) =>
      s"graft.plans.CountMinSketch.estimate($s, $k.toString(), $depth, $width)")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): CmsEstimate = copy(left = l, right = r)
}
