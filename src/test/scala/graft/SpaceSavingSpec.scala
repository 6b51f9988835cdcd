package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The SpaceSaving top-k aggregate: exact regime, approximate-regime
  * guarantees, and merge behavior across partitions. */
class SpaceSavingSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  private def topk(df: org.apache.spark.sql.DataFrame, call: String) = {
    df.groupBy(col("g")).agg(expr(call).as("top"))
      .select(col("g"), explode(col("top")).as("ts"))
      .select(col("g"), col("ts.term"), col("ts.n"))
      .as[(Int, String, Long)].collect().toSeq
  }

  test("exact regime: equals the true counts and ordering") {
    val df = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq.fill(3)("c") ++
      Seq("d")).map((1, _)).toDF("g", "term").repartition(4)
    val out = topk(df, "graft_topk(term, 3, 16)")
    // b/c tie at 3 breaks on term asc
    assert(out == Seq((1, "a", 5L), (1, "b", 3L), (1, "c", 3L)))
  }

  test("approximate regime: heavy hitter survives eviction pressure") {
    // 100 x "hot" + 30 distinct one-off terms through capacity 4:
    // SpaceSaving guarantees the true top element is retained and
    // reported count >= true count
    val rows = (Seq.fill(100)("hot") ++ (1 to 30).map("t" + _))
      .map((1, _))
    val df = rows.toDF("g", "term").repartition(1) // single summary
    val out = topk(df, "graft_topk(term, 1, 4)")
    assert(out.size == 1)
    val (_, term, n) = out.head
    assert(term == "hot" && n >= 100L)
  }

  test("merge across many partitions stays exact under capacity") {
    val df = (1 to 1000).map(i => (i % 3, "t" + (i % 7))).toDF("g", "term")
      .repartition(8)
    val out = topk(df, "graft_topk(term, 7, 64)")
    val exact = (1 to 1000).map(i => (i % 3, "t" + (i % 7)))
      .groupBy(identity).map { case ((g, t), xs) => (g, t, xs.size.toLong) }
      .toSet
    assert(out.toSet == exact)
  }
}
