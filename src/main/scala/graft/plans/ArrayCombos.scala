package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.unsafe.Platform

/** Native combination generators for basket mining (BasketOps).
  *
  * The composed-builtin form — nested `transform` lambdas + `flatten`
  * — produces identical rows but runs as interpreted higher-order
  * functions: per basket it allocates one closure frame and one
  * intermediate array PER ELEMENT per nesting level. These
  * expressions emit the same a<b (a<b<c) struct stream in one tight
  * loop per row; measured 2-4x on the q205/q218/q300 pair/triple
  * stages.
  *
  * r12: real `doGenCode` (no CodegenFallback boundary — the
  * surrounding stage stays fused in whole-stage codegen), and for
  * long/int element arrays without nulls the result is written
  * directly as [[UnsafeArrayData]] bytes: zero per-pair object
  * allocation (the r11 CodegenFallback form allocated a
  * GenericInternalRow + boxed elements per pair — a GC amplifier at
  * high task concurrency, the suspected q218 32-core anomaly).
  * Downstream explode/GetStructField then reads fields straight out
  * of the buffer.
  */
private[plans] trait ArrayComboExpression extends UnaryExpression {
  protected def arity: Int

  protected lazy val childArrayType: ArrayType =
    child.dataType.asInstanceOf[ArrayType]
  protected lazy val elemType: DataType = childArrayType.elementType

  /** Fixed-width UnsafeArrayData writer applies: element values read
    * as 8-byte slots, no nulls possible by schema. */
  protected lazy val fastPath: Boolean = !childArrayType.containsNull &&
    (elemType == LongType || elemType == IntegerType)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case _: ArrayType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an array argument, got ${other.catalogString}")
    }

  /** graft.plans.ArrayCombos.<method>(arr[, elemType]) call for the
    * (arity, element type) of this instance; shared by eval and the
    * generated code so both paths are the same compiled loop. */
  protected def helperName: String =
    (arity, fastPath, elemType) match {
      case (2, true, LongType) => "pairsLong"
      case (2, true, IntegerType) => "pairsInt"
      case (3, true, LongType) => "triplesLong"
      case (3, true, IntegerType) => "triplesInt"
      case (2, false, _) => "pairsGeneric"
      case (3, false, _) => "triplesGeneric"
      case _ => throw new IllegalStateException(s"$arity/$elemType")
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    helperName match {
      case "pairsLong" => ArrayCombos.pairsLong(arr)
      case "pairsInt" => ArrayCombos.pairsInt(arr)
      case "triplesLong" => ArrayCombos.triplesLong(arr)
      case "triplesInt" => ArrayCombos.triplesInt(arr)
      case "pairsGeneric" => ArrayCombos.pairsGeneric(arr, elemType)
      case "triplesGeneric" => ArrayCombos.triplesGeneric(arr, elemType)
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (fastPath) {
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.plans.ArrayCombos.$helperName($c);")
    } else {
      val et = ctx.addReferenceObj("elemType", elemType,
        classOf[DataType].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.plans.ArrayCombos.$helperName($c, $et);")
    }
}

/** All (a, b) element pairs with a before b in array order — array
  * must be sorted ascending for the a < b contract callers rely on.
  * Output: array<struct<a, b>> with the input's element type. */
case class ArrayPairs(child: Expression) extends ArrayComboExpression {
  override protected def arity: Int = 2
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("a", elemType), StructField("b", elemType))),
    containsNull = false)
  override def prettyName: String = "graft_pairs"
  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

/** All (a, b, c) element triples in array order (a<b<c for sorted
  * input) — the FP-growth level above [[ArrayPairs]]. */
case class ArrayTriples(child: Expression) extends ArrayComboExpression {
  override protected def arity: Int = 3
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("a", elemType), StructField("b", elemType),
    StructField("c", elemType))), containsNull = false)
  override def prettyName: String = "graft_triples"
  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

object ArrayCombos {
  /** Hard output-size guard: combination counts are computed in Long
    * and must stay below this before any allocation happens (the r11
    * Int arithmetic silently overflowed near n=65536 pairs / n=1300
    * triples). 63M structs ≈ the byte-array addressability limit for
    * the unsafe writer (m * 33B < Int.MaxValue). */
  private val MaxCombos = 63000000L

  private def checkedCount(n: Int, arity: Int, name: String): Int = {
    val m =
      if (arity == 2) n.toLong * (n - 1) / 2
      else if (n < 3) 0L
      else n.toLong * (n - 1) / 2 * (n - 2) / 3
    if (m > MaxCombos) throw new IllegalArgumentException(
      s"$name: input array of $n elements would produce $m " +
        s"combinations (limit $MaxCombos); cap the array first " +
        "(BasketOps.withCappedItems)")
    m.toInt
  }

  /** Writes m structs of `fields` 8-byte slots each as one
    * UnsafeArrayData byte image: [numElements][null words][m x
    * (offset<<32|size)][m x UnsafeRow(nullbits + fields*8)]. Returns
    * (bytes, firstStructOffset); the caller fills the field slots. */
  private def alloc(m: Int, fields: Int): (Array[Byte], Int, Int) = {
    val header = 8 + ((m + 63) / 64) * 8
    val structSize = 8 + 8 * fields
    val total = header + 8 * m + structSize * m
    val data = new Array[Byte](total)
    Platform.putLong(data, Platform.BYTE_ARRAY_OFFSET, m.toLong)
    var elemOff = header + 8 * m
    var k = 0
    while (k < m) {
      Platform.putLong(data, Platform.BYTE_ARRAY_OFFSET + header + 8L * k,
        (elemOff.toLong << 32) | structSize.toLong)
      elemOff += structSize
      k += 1
    }
    (data, header + 8 * m, structSize)
  }

  private def finish(data: Array[Byte]): UnsafeArrayData = {
    val out = new UnsafeArrayData
    out.pointTo(data, Platform.BYTE_ARRAY_OFFSET, data.length)
    out
  }

  def pairsLong(input: ArrayData): ArrayData = {
    val xs = input.toLongArray()
    val n = xs.length
    val m = checkedCount(n, 2, "graft_pairs")
    val (data, first, sz) = alloc(m, 2)
    var off = Platform.BYTE_ARRAY_OFFSET + first
    var i = 0
    while (i < n) {
      val a = xs(i)
      var j = i + 1
      while (j < n) {
        Platform.putLong(data, off + 8, a)
        Platform.putLong(data, off + 16, xs(j))
        off += sz
        j += 1
      }
      i += 1
    }
    finish(data)
  }

  def pairsInt(input: ArrayData): ArrayData = {
    val xs = input.toIntArray()
    val n = xs.length
    val m = checkedCount(n, 2, "graft_pairs")
    val (data, first, sz) = alloc(m, 2)
    var off = Platform.BYTE_ARRAY_OFFSET + first
    var i = 0
    while (i < n) {
      val a = xs(i)
      var j = i + 1
      while (j < n) {
        Platform.putInt(data, off + 8, a)
        Platform.putInt(data, off + 16, xs(j))
        off += sz
        j += 1
      }
      i += 1
    }
    finish(data)
  }

  def triplesLong(input: ArrayData): ArrayData = {
    val xs = input.toLongArray()
    val n = xs.length
    val m = checkedCount(n, 3, "graft_triples")
    val (data, first, sz) = alloc(m, 3)
    var off = Platform.BYTE_ARRAY_OFFSET + first
    var i = 0
    while (i < n) {
      val a = xs(i)
      var j = i + 1
      while (j < n) {
        val b = xs(j)
        var l = j + 1
        while (l < n) {
          Platform.putLong(data, off + 8, a)
          Platform.putLong(data, off + 16, b)
          Platform.putLong(data, off + 24, xs(l))
          off += sz
          l += 1
        }
        j += 1
      }
      i += 1
    }
    finish(data)
  }

  def triplesInt(input: ArrayData): ArrayData = {
    val xs = input.toIntArray()
    val n = xs.length
    val m = checkedCount(n, 3, "graft_triples")
    val (data, first, sz) = alloc(m, 3)
    var off = Platform.BYTE_ARRAY_OFFSET + first
    var i = 0
    while (i < n) {
      val a = xs(i)
      var j = i + 1
      while (j < n) {
        val b = xs(j)
        var l = j + 1
        while (l < n) {
          Platform.putInt(data, off + 8, a)
          Platform.putInt(data, off + 16, b)
          Platform.putInt(data, off + 24, xs(l))
          off += sz
          l += 1
        }
        j += 1
      }
      i += 1
    }
    finish(data)
  }

  /** Element types outside the unsafe fast path (strings, nullable
    * arrays): same loop over object elements. */
  def pairsGeneric(input: ArrayData, elemType: DataType): ArrayData = {
    val arr = input.toObjectArray(elemType)
    val n = arr.length
    val m = checkedCount(n, 2, "graft_pairs")
    val out = new Array[Any](m)
    var k = 0
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        out(k) = new GenericInternalRow(Array[Any](arr(i), arr(j)))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  def triplesGeneric(input: ArrayData, elemType: DataType): ArrayData = {
    val arr = input.toObjectArray(elemType)
    val n = arr.length
    val m = checkedCount(n, 3, "graft_triples")
    val out = new Array[Any](m)
    var k = 0
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        var l = j + 1
        while (l < n) {
          out(k) =
            new GenericInternalRow(Array[Any](arr(i), arr(j), arr(l)))
          k += 1
          l += 1
        }
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}
