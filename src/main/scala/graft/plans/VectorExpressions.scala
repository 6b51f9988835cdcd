package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expressions for the dense-vector hot path.
  *
  * The builtin higher-order functions (zip_with/aggregate) evaluate
  * their lambdas interpreted, one virtual call per element; for a
  * 64-dim cosine over millions of candidate pairs that interpreter
  * overhead dominates. This expression generates a tight primitive
  * loop inside whole-stage codegen instead.
  *
  * The accumulation order (strict left-to-right, widened to double)
  * matches VectorFunctions.cosine exactly, so results are bit-identical
  * with the composed-builtin version and with the DuckDB oracle.
  */
case class CosineSimF(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  /** Analysis-time contract: both inputs must be array<float> — calling
    * on array<double> (or anything else) fails analysis instead of
    * silently reading garbage through getFloat(). */
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"$prettyName: vector length mismatch ($n vs ${b.numElements()})")
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (java.lang.Math.sqrt(na) * java.lang.Math.sqrt(nb))
  }

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      // All function-level locals go through ctx.freshName: two
      // instances of this expression in one generated function would
      // otherwise redefine them (Janino error → interpreted fallback).
      val n = ctx.freshName("n"); val dot = ctx.freshName("dot")
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      s"""
         |int $n = $l.numElements();
         |if ($r.numElements() != $n) {
         |  throw new IllegalArgumentException(
         |    "graft_cosine: vector length mismatch (" + $n + " vs "
         |      + $r.numElements() + ")");
         |}
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double x = (double) $l.getFloat($i);
         |  double y = (double) $r.getFloat($i);
         |  $dot += x * y; $na += x * x; $nb += y * y;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na)
         |  * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 distance over numeric arrays (float or double element
  * types, mixed allowed). Same strict left-to-right accumulation as
  * the composed zip_with+aggregate fold and DuckDB's list_sum — the
  * doubles are bit-identical — but inside whole-stage codegen instead
  * of one interpreted lambda call per element. */
case class DistSqF(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dist_sq"

  private def elemOk(t: DataType): Option[Boolean] = t match {
    case ArrayType(FloatType, _) => Some(true)
    case ArrayType(DoubleType, _) => Some(false)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType).isDefined && elemOk(right.dataType).isDefined)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double> inputs, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  private lazy val leftIsFloat = elemOk(left.dataType).get
  private lazy val rightIsFloat = elemOk(right.dataType).get

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"$prettyName: vector length mismatch ($n vs ${b.numElements()})")
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (leftIsFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rightIsFloat) b.getFloat(i).toDouble else b.getDouble(i)
      val d = x - y
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      // freshName for the same redefinition reason as CosineSimF.
      val n = ctx.freshName("n"); val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val getX =
        if (leftIsFloat) s"(double) $l.getFloat($i)" else s"$l.getDouble($i)"
      val getY =
        if (rightIsFloat) s"(double) $r.getFloat($i)" else s"$r.getDouble($i)"
      s"""
         |int $n = $l.numElements();
         |if ($r.numElements() != $n) {
         |  throw new IllegalArgumentException(
         |    "graft_dist_sq: vector length mismatch (" + $n + " vs "
         |      + $r.numElements() + ")");
         |}
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double d = $getX - $getY;
         |  $acc += d * d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Dot product over numeric arrays (float or double element types,
  * mixed allowed). Same strict left-to-right accumulation as the
  * composed zip_with+aggregate fold `(a, v) -> a + v` over
  * `xi * wi` — the doubles are bit-identical — but inside whole-stage
  * codegen instead of one interpreted lambda call per element (the
  * model-scoring hot path evaluates it rows-times-rounds times). */
case class DotF(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  private def elemOk(t: DataType): Option[Boolean] = t match {
    case ArrayType(FloatType, _) => Some(true)
    case ArrayType(DoubleType, _) => Some(false)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType).isDefined && elemOk(right.dataType).isDefined)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double> inputs, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  private lazy val leftIsFloat = elemOk(left.dataType).get
  private lazy val rightIsFloat = elemOk(right.dataType).get

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"$prettyName: vector length mismatch ($n vs ${b.numElements()})")
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (leftIsFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rightIsFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      // freshName for the same redefinition reason as CosineSimF.
      val n = ctx.freshName("n"); val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val getX =
        if (leftIsFloat) s"(double) $l.getFloat($i)" else s"$l.getDouble($i)"
      val getY =
        if (rightIsFloat) s"(double) $r.getFloat($i)" else s"$r.getDouble($i)"
      s"""
         |int $n = $l.numElements();
         |if ($r.numElements() != $n) {
         |  throw new IllegalArgumentException(
         |    "graft_dot: vector length mismatch (" + $n + " vs "
         |      + $r.numElements() + ")");
         |}
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $getX * $getY;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
