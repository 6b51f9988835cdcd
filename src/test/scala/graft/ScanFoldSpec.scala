package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalatest.funsuite.AnyFunSuite

/** The native EWMA chart scan (plans/ScanFolds.scala) replaced the
  * interpreted SQL `aggregate(...)` fold in q320. This pins the two
  * formulations BIT-IDENTICAL on the real daily series — the native
  * pass claims the same IEEE-754 operation sequence, so every emitted
  * double (z and the half-width) must compare equal with ==, not just
  * within a tolerance. */
class ScanFoldSpec extends AnyFunSuite {
  import TestSession._

  test("q320: native graft_ewma_chart == the SQL aggregate fold, bitwise") {
    val t = Tables(spark, sfDir)
    val daily = t.orders
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(count(lit(1)).as("x"))
    val w = Window.orderBy(col("d"))
    val agg = daily
      .withColumn("mr", abs(col("x") - lag(col("x"), 1).over(w)))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"),
        sum(col("mr")).as("smr"), count(col("mr")).as("nmr"),
        sort_array(collect_list(struct(col("d"), col("x")))).as("xs"))

    val sqlFold = agg.select(explode(expr(
      """aggregate(
        |  xs,
        |  named_struct(
        |    'z', CAST(sx AS DOUBLE) / CAST(n AS DOUBLE),
        |    'w', CAST(1.0 AS DOUBLE),
        |    'f', cast(array() as array<struct<d: date, x: bigint,
        |      z: double, hw: double>>)),
        |  (acc, e) -> named_struct(
        |    'z', 0.2D * CAST(e.x AS DOUBLE) + 0.8D * acc.z,
        |    'w', acc.w * 0.64D,
        |    'f', array_append(acc.f, named_struct(
        |      'd', e.d, 'x', e.x,
        |      'z', 0.2D * CAST(e.x AS DOUBLE) + 0.8D * acc.z,
        |      'hw', 3.0D
        |        * ((CAST(smr AS DOUBLE) / CAST(nmr AS DOUBLE))
        |            / 1.128D)
        |        * sqrt((0.2D / 1.8D)
        |            * (1.0D - acc.w * 0.64D))))))
        |""".stripMargin.trim + ".f")).as("e"))
      .select(col("e.d"), col("e.x"), col("e.z"), col("e.hw"))
      .collect()

    val nativeScan = agg
      .select(explode(
        expr("graft_ewma_chart(xs, sx, n, smr, nmr)")).as("e"))
      .select(col("e.d"), col("e.x"), col("e.z"), col("e.hw"))
      .collect()

    assert(sqlFold.length == nativeScan.length && sqlFold.nonEmpty)
    sqlFold.zip(nativeScan).foreach { case (a, b) =>
      assert(a.getDate(0) == b.getDate(0))
      assert(a.getLong(1) == b.getLong(1))
      // bitwise equality — same recurrence, same op order
      assert(java.lang.Double.doubleToLongBits(a.getDouble(2)) ==
        java.lang.Double.doubleToLongBits(b.getDouble(2)))
      assert(java.lang.Double.doubleToLongBits(a.getDouble(3)) ==
        java.lang.Double.doubleToLongBits(b.getDouble(3)))
    }
  }

  test("single-day series: hw is NULL like the SQL fold's null sigma") {
    import spark.implicits._
    val one = Seq((java.sql.Date.valueOf("2024-01-01"), 5L))
      .toDF("d", "x")
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"),
        sum(lit(null).cast("long")).as("smr"),
        count(lit(null).cast("long")).as("nmr"),
        sort_array(collect_list(struct(col("d"), col("x")))).as("xs"))
    val out = one
      .select(explode(
        expr("graft_ewma_chart(xs, sx, n, smr, nmr)")).as("e"))
      .select(col("e.z"), col("e.hw")).collect()
    assert(out.length == 1)
    assert(!out(0).isNullAt(0) && out(0).isNullAt(1))
  }
}
