package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the text hot paths. Same results as
  * the composed-builtin versions (and the DuckDB oracle), minus the
  * per-element interpreted-lambda overhead.
  */

/** Polynomial rolling hash over the first `maxChars` code points:
  * h = (h * 31 + codePoint) mod 10^15 — identical to
  * TextFunctions.fingerprint (split + ascii + fold). */
case class FingerprintHash(child: Expression, maxChars: Int)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_fingerprint"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    var h = 0L
    var i = 0
    var taken = 0
    while (i < s.length && taken < maxChars) {
      val cp = s.codePointAt(i)
      h = (h * 31L + cp) % 1000000000000000L
      i += Character.charCount(cp)
      taken += 1
    }
    h
  }

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.FingerprintHash.hash($c.toString(), $maxChars)")

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

object FingerprintHash {
  /** Called from generated code. */
  def hash(s: String, maxChars: Int): Long = {
    var h = 0L
    var i = 0
    var taken = 0
    while (i < s.length && taken < maxChars) {
      val cp = s.codePointAt(i)
      h = (h * 31L + cp) % 1000000000000000L
      i += Character.charCount(cp)
      taken += 1
    }
    h
  }
}

/** Count of common elements of two SORTED arrays (merge walk — no
  * per-row hash set). Inputs must be array_sort'ed and element types
  * must match (string or long); equal to size(array_intersect(a, b))
  * on distinct sorted inputs. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_sorted_intersect_count"

  private lazy val isLongElems: Boolean = left.dataType match {
    case org.apache.spark.sql.types.ArrayType(LongType, _) => true
    case _ => false
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var n = 0
    val na = a.numElements(); val nb = b.numElements()
    while (i < na && j < nb) {
      val c =
        if (isLongElems) java.lang.Long.compare(a.getLong(i), b.getLong(j))
        else a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (c == 0) { n += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    n
  }

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      // Two instances of this expression can land in one generated
      // function (e.g. a projection computing several intersection
      // counts), so every local MUST go through ctx.freshName or
      // Janino rejects the redefinition and the whole stage falls
      // back to interpreted execution.
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val c = ctx.freshName("c")
      val cmp =
        if (isLongElems)
          s"Long.compare($l.getLong($i), $r.getLong($j))"
        else
          s"$l.getUTF8String($i).compareTo($r.getUTF8String($j))"
      s"""
         |int $i = 0, $j = 0, $n = 0;
         |int $na = $l.numElements(), $nb = $r.numElements();
         |while ($i < $na && $j < $nb) {
         |  int $c = $cmp;
         |  if ($c == 0) { $n++; $i++; $j++; }
         |  else if ($c < 0) $i++;
         |  else $j++;
         |}
         |${ev.value} = $n;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Full k-hash MinHash signature over an array of token hashes in ONE
  * native loop: out[i] = min over h of
  * (1000003 + i*7919) * h + (12345 + i*271) mod 2147483647 —
  * arithmetic identical to the composed transform/array_min version
  * (and the SQL oracle), but k*|tokens| multiply-mods run in a tight
  * JVM loop instead of nested interpreted lambdas (the dominant cost
  * of the LSH pipeline at corpus scale). */
case class MinhashSignature(child: Expression, k: Int)
    extends UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_minhash"

  override def nullSafeEval(input: Any): Any =
    MinhashSignature.compute(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.MinhashSignature.compute($c, $k)")

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

object MinhashSignature {
  /** Called from generated code. Token hashes must already be reduced
    * below 2^31 (pmod 2147483647) so a*h never overflows a long. */
  def compute(th: ArrayData, k: Int): ArrayData = {
    val n = th.numElements()
    val out = new Array[Any](k)
    var i = 0
    while (i < k) {
      val a = 1000003L + i * 7919L
      val b = 12345L + i * 271L
      if (n == 0) out(i) = null // mirror array_min(empty) = null
      else {
        var best = Long.MaxValue
        var j = 0
        while (j < n) {
          val v = (a * th.getLong(j) + b) % 2147483647L
          if (v < best) best = v
          j += 1
        }
        out(i) = best
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** All word k-shingle fingerprints of a text in ONE native pass:
  * out(i) = FingerprintHash of "tok_i tok_{i+1} ... tok_{i+k-1}" —
  * hashes flow straight over the token characters (with a single
  * separator codepoint between tokens, capped at 256 codepoints like
  * the scalar fingerprint), so no shingle string is ever materialized
  * and no interpreted lambda runs per shingle. Tokenization is
  * Pattern.split("\\s+", -1), identical to Spark's split(). Texts
  * with fewer than k tokens yield an empty array (the guarded
  * shinglesSql CASE). */
case class ShingleHashes(child: Expression, k: Int)
    extends UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes"

  override def nullSafeEval(input: Any): Any =
    ShingleHashes.compute(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.ShingleHashes.compute($c, $k)")

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

object ShingleHashes {
  private val ws = java.util.regex.Pattern.compile("\\s+")
  private val M = 1000000000000000L
  private val MaxChars = 256

  /** Called from generated code. */
  def compute(text: UTF8String, k: Int): ArrayData = {
    val toks = ws.split(text.toString, -1)
    val n = toks.length - k + 1
    if (n <= 0) return new GenericArrayData(Array.empty[Long])
    val out = new Array[Long](n)
    var p = 0
    while (p < n) {
      var h = 0L
      var taken = 0
      var t = p
      while (t < p + k && taken < MaxChars) {
        if (t > p) { h = (h * 31L + ' '.toInt) % M; taken += 1 }
        val s = toks(t)
        var i = 0
        while (i < s.length && taken < MaxChars) {
          val cp = s.codePointAt(i)
          h = (h * 31L + cp) % M
          i += Character.charCount(cp)
          taken += 1
        }
        t += 1
      }
      out(p) = h
      p += 1
    }
    new GenericArrayData(out)
  }
}

/** Sliding-window fold hashes over an ARRAY<BIGINT> of per-token
  * fingerprints: out(i) = fold (h*31 + f) mod 10^15 over the w
  * elements starting at i — value-identical to the composed
  * transform(sequence(...), i -> aggregate(slice(arr, i, w), ...))
  * and the DuckDB list_reduce oracle, but ONE native pass per row
  * with no per-window array allocation or interpreted lambdas (the
  * q232 span-dedup hot path). Arrays shorter than w yield an empty
  * array. */
case class WindowHashes(child: Expression, w: Int)
    extends UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_window_hashes"

  override def nullSafeEval(input: Any): Any =
    WindowHashes.compute(input.asInstanceOf[ArrayData], w)

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.WindowHashes.compute($c, $w)")

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

object WindowHashes {
  private val M = 1000000000000000L

  /** Called from generated code. */
  def compute(arr: ArrayData, w: Int): ArrayData = {
    val n = arr.numElements()
    val m = n - w + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Long])
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = 0L
      var j = i
      while (j < i + w) {
        h = (h * 31L + arr.getLong(j)) % M
        j += 1
      }
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** 64-bit SimHash over an array of (distinct) tokens in one native
  * pass: per-bit ±1 votes of the portable token hash
  * pmod(pmod(fingerprint(t), 2^31-1) * 65599 + 17, 999999999999989),
  * bit j set iff its vote sum is positive — integer arithmetic
  * identical to the explode→groupBy formulation and the SQL oracle,
  * with zero shuffled rows instead of |tokens| * 64. */
case class Simhash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  override def nullSafeEval(input: Any): Any =
    Simhash64.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.Simhash64.compute($c)")

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

object Simhash64 {
  /** Called from generated code. */
  def compute(toks: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      val fp = FingerprintHash.hash(toks.getUTF8String(i).toString, 256)
      val h = ((fp % 2147483647L) * 65599L + 17L) % 999999999999989L
      var j = 0
      while (j < 64) {
        if (((h >> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) out |= 1L << j
      j += 1
    }
    out
  }
}

object TextExpressions {
  private def litI(e: Expression): Int =
    e.eval().asInstanceOf[Number].intValue()

  /** SQL builders (see [[graft.GraftExtensions]]) for the expressions
    * whose size argument is a constant. */
  def minhash(exprs: Seq[Expression]): Expression =
    MinhashSignature(exprs(0), litI(exprs(1)))
  def shingleHashes(exprs: Seq[Expression]): Expression =
    ShingleHashes(exprs(0), litI(exprs(1)))
  def windowHashes(exprs: Seq[Expression]): Expression =
    WindowHashes(exprs(0), litI(exprs(1)))
}
