package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.QuantileOps

/** Two-level bucketed percentile selection (operators/QuantileOps):
  * the scale-first regrouping must pick the exact percentile_disc
  * values, and NULLs must follow percentile_disc semantics — NULL
  * values ignored (not counted into n), NULL group keys excluded. */
class QuantileOpsSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  test("picks equal percentile_disc on a clean frame") {
    val df = Tables(spark, sfDir).lineitem
      .select(col("l_returnflag").as("g"),
        col("l_extendedprice").cast("double").as("v"))
    val got = QuantileOps.percentileDisc(df, "g", "v",
      Seq("p50" -> 0.5, "p90" -> 0.9), buckets = 64)
      .orderBy(col("g")).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val want = df.groupBy(col("g")).agg(
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY v)").as("p50"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY v)").as("p90"))
      .orderBy(col("g")).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    assert(got.sameElements(want))
  }

  test("NULL values are ignored like percentile_disc, not binned") {
    // without the isNotNull gate the NULLs count into n while staying
    // outside the min/max bounds, shifting every pick upward
    val df = Seq[(String, Option[Double])](
      ("a", Some(1.0)), ("a", Some(2.0)), ("a", Some(3.0)),
      ("a", None), ("a", None), ("a", None), ("a", None))
      .toDF("g", "v")
    val got = QuantileOps.percentileDisc(df, "g", "v",
      Seq("p50" -> 0.5), buckets = 4).collect()
    assert(got.length == 1 && got.head.getDouble(1) == 2.0)
  }

  test("NULL group keys are excluded, not folded into a group") {
    val df = Seq[(Option[String], Double)](
      (Some("a"), 1.0), (Some("a"), 9.0), (None, 100.0))
      .toDF("g", "v")
    val out = QuantileOps.percentileDisc(df, "g", "v",
      Seq("p50" -> 0.5), buckets = 4).collect()
    assert(out.map(_.getString(0)).toSeq == Seq("a"))
    assert(out.head.getDouble(1) == 1.0) // 100.0 never leaked into a
  }

  test("a percentile outside (0, 1] is rejected, not a NULL pick") {
    val df = Seq(("a", 1.0), ("a", 2.0)).toDF("g", "v")
    for (p <- Seq(0.0, -0.5, 1.5, Double.NaN)) {
      val e = intercept[IllegalArgumentException] {
        QuantileOps.percentileDisc(df, "g", "v", Seq("bad" -> p))
      }
      assert(e.getMessage.contains("outside (0, 1]"), s"p = $p")
    }
    val top = QuantileOps.percentileDisc(df, "g", "v", Seq("max" -> 1.0))
      .collect()
    assert(top.head.getDouble(1) == 2.0)
  }
}
