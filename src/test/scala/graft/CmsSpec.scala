package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The Count-Min sketch aggregate: one-sided error contract, exactness
  * when no buckets collide, and partition-count invariance (merge =
  * elementwise add). */
class CmsSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  private def estimates(
      parts: Int, depth: Int, width: Int): Map[String, Long] = {
    val df = ((1 to 500).map(_ => "hot") ++ (1 to 40).map("k" + _))
      .toDF("term").repartition(parts)
    df.createOrReplaceTempView("cms_in")
    val sk = df.agg(
      expr(s"graft_cms(term, $depth, $width)").as("sk"))
    df.distinct().crossJoin(sk)
      .select(col("term"),
        expr(s"graft_cms_estimate(sk, term, $depth, $width)").as("est"))
      .as[(String, Long)].collect().toMap
  }

  test("estimates are never under the true count (one-sided error)") {
    val est = estimates(parts = 4, depth = 4, width = 8)
    assert(est("hot") >= 500L)
    (1 to 40).foreach(i => assert(est("k" + i) >= 1L))
  }

  test("wide sketch is exact for a small key set") {
    val est = estimates(parts = 4, depth = 4, width = 4096)
    assert(est("hot") == 500L)
    (1 to 40).foreach(i => assert(est("k" + i) == 1L))
  }

  test("merge is partition-count invariant") {
    val one = estimates(parts = 1, depth = 4, width = 64)
    val many = estimates(parts = 16, depth = 4, width = 64)
    assert(one == many)
  }

  test("depth/width must be integer literals") {
    val df = Seq("a").toDF("term")
    intercept[Exception] {
      df.agg(expr("graft_cms(term, length(term), 8)")).collect()
    }
  }
}
