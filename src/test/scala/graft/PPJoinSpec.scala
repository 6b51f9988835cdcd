package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DedupOps

/** Exactness and shape checks for the prefix-filtered similarity join
  * (DedupOps.prefixJaccardJoin, q199_ppjoin): the prefix filter must
  * return EXACTLY the pairs brute-force all-pairs Jaccard returns —
  * no false negatives (the prefix lemma) and no false positives (the
  * verify stage). */
class PPJoinSpec extends AnyFunSuite {
  import TestSession._

  private def bruteForce(t: Double): Set[(Long, Long, Double)] = {
    val d = Tables(spark, sfDir).documents
      .select(col("doc_id"),
        array_distinct(expr("graft_shingle_hashes(text, 2)")).as("bg"))
    val pairs = d.alias("a").crossJoin(d.alias("b"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .withColumn("inter",
        size(array_intersect(col("a.bg"), col("b.bg"))).cast("long"))
      .withColumn("uni",
        size(col("a.bg")) + size(col("b.bg")) - col("inter"))
      .where(col("inter") * 5 >= col("uni") * 4)
      .select(col("a.doc_id"), col("b.doc_id"),
        (col("inter").cast("double") / col("uni").cast("double")))
    pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
  }

  test("prefix join == brute force (no false negatives or positives)") {
    val got = DedupOps
      .prefixJaccardJoin(Tables(spark, sfDir).documents,
        "doc_id", "text", 4, 5)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("jaccard"))).toSet
    val want = bruteForce(0.8)
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    assert(got.nonEmpty, "threshold yields no pairs — test is vacuous")
  }

  test("prefix length integer arithmetic matches ceil exactly") {
    // n - ceil(t*n) + 1 computed as n - ((n*tNum + tDen - 1) div tDen) + 1
    for (n <- 1 to 200; (tn, td) <- Seq((4, 5), (1, 2), (9, 10), (1, 1))) {
      val exact = n - ((BigDecimal(n) * tn / td).setScale(
        0, BigDecimal.RoundingMode.CEILING)).toInt + 1
      val integer = n - ((n * tn + td - 1) / td) + 1
      assert(integer == exact, s"n=$n t=$tn/$td")
    }
  }

  test("threshold 1.0 returns only identical shingle sets") {
    val rows = DedupOps
      .prefixJaccardJoin(Tables(spark, sfDir).documents,
        "doc_id", "text", 1, 1)
      .collect()
    for (r <- rows) assert(r.getAs[Double]("jaccard") == 1.0)
  }

  test("GRAFT SIMJOIN front door equals the direct API") {
    val sql = SparkEntry.queries("q200_simjoin_sql")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val api = SparkEntry.queries("q199_ppjoin")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(sql == api)
    assert(sql.nonEmpty)
  }

  test("plan has no cartesian product and joins on posting key") {
    val df = SparkEntry.queries("q199_ppjoin")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      s"prefix join degenerated to all-pairs:\n$p")
  }
}
