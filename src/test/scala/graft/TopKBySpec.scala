package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalatest.funsuite.AnyFunSuite

/** graft_topk_by: the bounded exact top-k aggregate must equal the
  * window row_number derivation on every group — including groups
  * smaller than k, duplicate scores resolved by the tie id, null
  * scores skipped, and merges across many input partitions. */
class TopKBySpec extends AnyFunSuite {
  import TestSession._

  test("equals the window top-k on random grouped data") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 5000).map { i =>
      (i % 37, i.toLong, math.floor(rnd.nextDouble() * 100) / 10.0,
        s"p$i")
    }
    val df = rows.toDF("g", "id", "score", "tag").repartition(13)
    val viaAgg = df.groupBy($"g")
      .agg(expr("graft_topk_by(score, id, tag, 4)").as("top"))
      .select($"g", posexplode($"top"))
      .select($"g", ($"pos" + 1).as("rk"), $"col.score".as("score"),
        $"col.tie".as("id"), $"col.payload".as("tag"))
    val w = Window.partitionBy($"g").orderBy($"score".desc, $"id")
    val viaWin = df.withColumn("rk", row_number().over(w).cast("long"))
      .where($"rk" <= 4)
      .select($"g", $"rk", $"score", $"id", $"tag")
    assert(viaAgg.except(viaWin).isEmpty && viaWin.except(viaAgg).isEmpty)
    assert(viaAgg.count() == viaWin.count())
  }

  test("groups smaller than k return all members, best first") {
    val s = spark
    import s.implicits._
    val df = Seq((1, 10L, 2.0, "a"), (1, 11L, 9.0, "b"))
      .toDF("g", "id", "score", "tag")
    val out = df.groupBy($"g")
      .agg(expr("graft_topk_by(score, id, tag, 5)").as("top"))
      .select(explode($"top").as("e"))
      .select($"e.score", $"e.payload").as[(Double, String)]
      .collect()
    assert(out.toSeq == Seq((9.0, "b"), (2.0, "a")))
  }

  test("null scores are skipped; null payloads survive") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1, 1L, Some(5.0), Some("x")),
      (1, 2L, None, Some("dropped")),
      (1, 3L, Some(7.0), None))
      .toDF("g", "id", "score", "tag")
    val out = df.groupBy($"g")
      .agg(expr("graft_topk_by(score, id, tag, 3)").as("top"))
      .select(explode($"top").as("e"))
      .select($"e.tie", $"e.payload").as[(Long, Option[String])]
      .collect()
    assert(out.toSeq == Seq((3L, None), (1L, Some("x"))))
  }

  test("duplicate scores break ties by the lower id") {
    val s = spark
    import s.implicits._
    val df = (1L to 100L).map(i => (1, i, 1.0)).toDF("g", "id", "score")
      .repartition(7)
    val out = df.groupBy($"g")
      .agg(expr("graft_topk_by(score, id, id, 3)").as("top"))
      .select(explode($"top.tie").as("id")).as[Long].collect()
    assert(out.toSeq == Seq(1L, 2L, 3L))
  }

  test("struct payloads round-trip through the aggregate") {
    val s = spark
    import s.implicits._
    val df = Seq((1, 1L, 3.0, "a", 10), (1, 2L, 8.0, "b", 20))
      .toDF("g", "id", "score", "s", "n")
    val out = df.groupBy($"g")
      .agg(expr("graft_topk_by(score, id, struct(s, n), 1)").as("top"))
      .select(explode($"top").as("e"))
      .select($"e.payload.s", $"e.payload.n").as[(String, Int)]
      .collect()
    assert(out.toSeq == Seq(("b", 20)))
  }
}
