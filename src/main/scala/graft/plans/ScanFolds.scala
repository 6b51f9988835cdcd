package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native prefix-scan folds over collected time series.
  *
  * Sequential recurrences (EWMA control limits, Kalman passes, Holt
  * levels) are inherently order-dependent: the Spark-idiomatic shape
  * collects the bounded series into ONE row and folds it. SQL
  * `aggregate(...)` expresses that fold, but `ArrayAggregate` is a
  * CodegenFallback higher-order function — every step pays an
  * interpreted lambda plus an `array_append` that re-copies the
  * accumulator array, so an n-step chart costs O(n^2) interpreted
  * work. These expressions run the same recurrence in ONE native O(n)
  * pass with the IDENTICAL IEEE-754 operation sequence (left-assoc
  * multiply/add, same constants), so emitted doubles are bit-identical
  * to the SQL fold they replace and the DuckDB oracle hashes agree.
  *
  * Scale shape: the input array is the calendar-bounded daily series
  * (one row after the pre-aggregate), so eval cost is microseconds;
  * the win is removing the interpreted quadratic fold from the plan.
  */
case class EwmaChartScan(
    xs: Expression, sx: Expression, n: Expression,
    smr: Expression, nmr: Expression)
    extends Expression with CodegenFallback {

  override def children: Seq[Expression] = Seq(xs, sx, n, smr, nmr)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_ewma_chart"

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("d", DateType, nullable = true),
      StructField("x", LongType, nullable = true),
      StructField("z", DoubleType, nullable = false),
      StructField("hw", DoubleType, nullable = true))),
    containsNull = false)

  override def eval(input: InternalRow): Any = {
    val arr = xs.eval(input)
    val sxV = sx.eval(input)
    val nV = n.eval(input)
    val smrV = smr.eval(input)
    val nmrV = nmr.eval(input)
    if (arr == null || sxV == null || nV == null) return null
    val a = arr.asInstanceOf[ArrayData]
    val len = a.numElements()
    val mu = sxV.asInstanceOf[Long].toDouble / nV.asInstanceOf[Long].toDouble
    // A single-day series has no moving ranges: sum(mr) is SQL NULL
    // and the fold's hw term is NULL — mirror that exactly.
    val sigmaNull = smrV == null
    val sigma =
      if (sigmaNull) 0.0
      else smrV.asInstanceOf[Long].toDouble /
        nmrV.asInstanceOf[Long].toDouble / 1.128
    var z = mu
    var w = 1.0
    val out = new Array[Any](len)
    var i = 0
    while (i < len) {
      val e = a.getStruct(i, 2)
      val d = if (e.isNullAt(0)) null else Int.box(e.getInt(0))
      val x = e.getLong(1)
      // identical op order to the SQL fold:
      //   z' = 0.2*x + 0.8*z;  w' = w*0.64
      //   hw = 3.0 * ((smr/nmr)/1.128) * sqrt((0.2/1.8) * (1 - w'))
      z = 0.2d * x.toDouble + 0.8d * z
      w = w * 0.64d
      val hw: Any =
        if (sigmaNull) null
        else Double.box(
          3.0d * sigma * math.sqrt((0.2d / 1.8d) * (1.0d - w)))
      out(i) = new GenericInternalRow(Array[Any](d, x, z, hw))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): EwmaChartScan =
    EwmaChartScan(c(0), c(1), c(2), c(3), c(4))
}

/** Shared plumbing for the series scans: input is the one-row
  * `sort_array(collect_list(struct(t, x)))` array; output is an array
  * of emission structs whose first field carries the INPUT time type
  * through unchanged (internal representation copy — no
  * interpretation of the time values). */
trait SeriesScan extends Expression with CodegenFallback {
  def xs: Expression
  override def nullable: Boolean = true

  /** The input element's time type (field 0 of the struct). */
  protected def timeType: DataType =
    xs.dataType.asInstanceOf[ArrayType].elementType
      .asInstanceOf[StructType].fields(0).dataType

  protected def emitFields: Seq[StructField]

  override def dataType: DataType = ArrayType(
    StructType(StructField("t", timeType) +: emitFields),
    containsNull = false)
}

/** Local-level Kalman filter scan: init l = first value, p = r; per
  * step gain = (p+q)/(p+q+r), emit (t, actual, pred=l, gain,
  * filt=l+gain*(x-l)) then l'=filt, p'=(1-gain)*(p+q). Same op order
  * as the SQL fold in SmoothOps.kalman / q303 (whose init p equals r
  * there too). */
case class KalmanScan(xs: Expression, q: Double, r: Double)
    extends SeriesScan {
  override def children: Seq[Expression] = Seq(xs)
  override def prettyName: String = "graft_kalman_scan"
  override protected def emitFields: Seq[StructField] = Seq(
    StructField("a", DoubleType), StructField("pred", DoubleType),
    StructField("gain", DoubleType), StructField("filt", DoubleType))

  override def eval(input: InternalRow): Any = {
    val arr = xs.eval(input)
    if (arr == null) return null
    val a = arr.asInstanceOf[ArrayData]
    val len = a.numElements()
    if (len < 2) return new GenericArrayData(Array.empty[Any])
    val tt = timeType
    var l = a.getStruct(0, 2).getDouble(1)
    var p = r
    val out = new Array[Any](len - 1)
    var i = 1
    while (i < len) {
      val e = a.getStruct(i, 2)
      val t = e.get(0, tt)
      val x = e.getDouble(1)
      val gain = (p + q) / (p + q + r)
      val filt = l + gain * (x - l)
      out(i - 1) = new GenericInternalRow(
        Array[Any](t, x, l, gain, filt))
      l = filt
      p = (1.0d - gain) * (p + q)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): KalmanScan = copy(xs = c.head)
}

/** Holt linear smoothing scan: init l = first value, b = 0; per step
  * emit the one-step forecast l + b, then l' = a*x + (1-a)*(l+b),
  * b' = beta*(l'-l) + (1-beta)*b. Complement weights are computed
  * once as `1.0 - w` — the exact double the SQL literal
  * `${1.0 - w}D` parsed to (toString/parseDouble round-trip). */
case class HoltScan(xs: Expression, alpha: Double, beta: Double)
    extends SeriesScan {
  override def children: Seq[Expression] = Seq(xs)
  override def prettyName: String = "graft_holt_scan"
  override protected def emitFields: Seq[StructField] = Seq(
    StructField("a", DoubleType), StructField("fc", DoubleType))

  override def eval(input: InternalRow): Any = {
    val arr = xs.eval(input)
    if (arr == null) return null
    val a = arr.asInstanceOf[ArrayData]
    val len = a.numElements()
    if (len < 2) return new GenericArrayData(Array.empty[Any])
    val tt = timeType
    val a1 = 1.0d - alpha
    val b1 = 1.0d - beta
    var l = a.getStruct(0, 2).getDouble(1)
    var b = 0.0d
    val out = new Array[Any](len - 1)
    var i = 1
    while (i < len) {
      val e = a.getStruct(i, 2)
      val t = e.get(0, tt)
      val x = e.getDouble(1)
      val fc = l + b
      out(i - 1) = new GenericInternalRow(Array[Any](t, x, fc))
      val lnew = alpha * x + a1 * (l + b)
      b = beta * (lnew - l) + b1 * b
      l = lnew
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): HoltScan = copy(xs = c.head)
}

/** EWMA control-chart scan for the SMOOTH statement family: one pass
  * computes the moments (mean + average moving range, in array
  * order) and the chart recurrence z' = lam*x + (1-lam)*z seeded at
  * the mean, emitting the BARE band term (lam/(2-lam))*(1-w') with
  * w' = w*(1-lam)^2 — the L*sigma scaling happens after the explode,
  * exactly like the SQL fold it replaces. (1-lam)^2 is the
  * decimal-exact square the SQL embedded as a literal. Returns
  * struct(mu, sigma, f: array<struct<t, x, z, band>>). */
case class EwmaSmoothScan(xs: Expression, lambda: Double)
    extends Expression with CodegenFallback {
  override def children: Seq[Expression] = Seq(xs)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_ewma_smooth_scan"

  private def timeType: DataType =
    xs.dataType.asInstanceOf[ArrayType].elementType
      .asInstanceOf[StructType].fields(0).dataType

  override def dataType: DataType = StructType(Seq(
    StructField("mu", DoubleType),
    StructField("sigma", DoubleType),
    StructField("f", ArrayType(StructType(Seq(
      StructField("t", timeType), StructField("x", DoubleType),
      StructField("z", DoubleType), StructField("band", DoubleType))),
      containsNull = false))))

  override def eval(input: InternalRow): Any = {
    val arr = xs.eval(input)
    if (arr == null) return null
    val a = arr.asInstanceOf[ArrayData]
    val len = a.numElements()
    val tt = timeType
    val om = 1.0d - lambda
    // the SQL fold embedded the DECIMAL-exact square as a literal
    // ((1-0.2)^2 = 0.64D, not 0.8*0.8's 0.6400000000000001)
    val om2 = java.lang.Double.parseDouble(
      (BigDecimal(om.toString) * BigDecimal(om.toString)).toString)
    val two = 2.0d - lambda
    // moments pass, in array order (exact for integer-count series)
    var sx = 0.0d; var n = 0L; var smr = 0.0d; var nmr = 0L
    var prevSet = false; var prev = 0.0d
    var i = 0
    while (i < len) {
      val x = a.getStruct(i, 2).getDouble(1)
      sx += x; n += 1L
      if (prevSet) { smr += math.abs(x - prev); nmr += 1L }
      prev = x; prevSet = true
      i += 1
    }
    val mu = sx / n.toDouble
    val sigma = smr / nmr.toDouble / 1.128d
    var z = mu
    var w = 1.0d
    val out = new Array[Any](len)
    i = 0
    while (i < len) {
      val e = a.getStruct(i, 2)
      val t = e.get(0, tt)
      val x = e.getDouble(1)
      z = lambda * x + om * z
      w = w * om2
      val band = (lambda / two) * (1.0d - w)
      out(i) = new GenericInternalRow(Array[Any](t, x, z, band))
      i += 1
    }
    new GenericInternalRow(Array[Any](
      mu, sigma, new GenericArrayData(out)))
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): EwmaSmoothScan = copy(xs = c.head)
}

/** Additive Holt-Winters scan, season length m: init from the first
  * m observations (level = their mean — summed in array order —
  * trend 0, seasonal s_i = x_i - level); per step emit the one-step
  * forecast l + b + s_idx then update level/trend/the one selected
  * seasonal slot. Identical op order to the generated slot/CASE SQL
  * fold in SmoothOps.holtWinters. */
case class HoltWintersScan(xs: Expression, m: Int,
    alpha: Double, beta: Double, gamma: Double)
    extends SeriesScan {
  override def children: Seq[Expression] = Seq(xs)
  override def prettyName: String = "graft_hw_scan"
  override protected def emitFields: Seq[StructField] = Seq(
    StructField("a", DoubleType), StructField("fc", DoubleType))

  override def eval(input: InternalRow): Any = {
    val arr = xs.eval(input)
    if (arr == null) return null
    val a = arr.asInstanceOf[ArrayData]
    val len = a.numElements()
    if (len <= m) return new GenericArrayData(Array.empty[Any])
    val tt = timeType
    val a1 = 1.0d - alpha
    val b1 = 1.0d - beta
    val g1 = 1.0d - gamma
    var l0 = 0.0d
    var i = 0
    while (i < m) { l0 += a.getStruct(i, 2).getDouble(1); i += 1 }
    l0 = l0 / m.toDouble
    val s = new Array[Double](m)
    i = 0
    while (i < m) {
      s(i) = a.getStruct(i, 2).getDouble(1) - l0
      i += 1
    }
    var l = l0
    var b = 0.0d
    // the SQL fold's step counter starts at m+1 and the slot index
    // is (t-1) % m over it
    var t = m + 1
    val out = new Array[Any](len - m)
    i = m
    while (i < len) {
      val e = a.getStruct(i, 2)
      val tv = e.get(0, tt)
      val x = e.getDouble(1)
      val idx = (t - 1) % m
      val fc = l + b + s(idx)
      out(i - m) = new GenericInternalRow(Array[Any](tv, x, fc))
      val lnew = alpha * (x - s(idx)) + a1 * (l + b)
      b = beta * (lnew - l) + b1 * b
      s(idx) = gamma * (x - lnew) + g1 * s(idx)
      l = lnew
      t += 1
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): HoltWintersScan = copy(xs = c.head)
}

object ScanFolds {
  private def litD(e: Expression): Double =
    e.eval().asInstanceOf[Number].doubleValue()
  private def litI(e: Expression): Int =
    e.eval().asInstanceOf[Number].intValue()

  /** SQL builders (see [[graft.GraftExtensions]]) for the folds whose
    * tuning arguments are constants. */
  def kalman(exprs: Seq[Expression]): Expression =
    KalmanScan(exprs(0), litD(exprs(1)), litD(exprs(2)))
  def holt(exprs: Seq[Expression]): Expression =
    HoltScan(exprs(0), litD(exprs(1)), litD(exprs(2)))
  def ewmaSmooth(exprs: Seq[Expression]): Expression =
    EwmaSmoothScan(exprs(0), litD(exprs(1)))
  def holtWinters(exprs: Seq[Expression]): Expression =
    HoltWintersScan(exprs(0), litI(exprs(1)),
      litD(exprs(2)), litD(exprs(3)), litD(exprs(4)))
}
