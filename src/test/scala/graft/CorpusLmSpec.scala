package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants for the CCNet-style perplexity bucketing (q241) and the
  * asymmetric containment join (q243) beyond the DuckDB hash gate. */
class CorpusLmSpec extends AnyFunSuite {
  import TestSession._

  test("perplexity terciles: every doc bucketed, buckets balanced") {
    val df = SparkEntry.queries("q241_perplexity_buckets")(spark, sfDir)
    val rows = df.collect()
    val nDocs = Tables(spark, sfDir).documents.count()
    assert(rows.length == nDocs)
    val byBucket = rows.groupBy(_.getAs[String]("bucket")).view
      .mapValues(_.length).toMap
    assert(byBucket.keySet == Set("head", "middle", "tail"))
    // NTILE(3): bucket sizes differ by at most 1
    assert(byBucket.values.max - byBucket.values.min <= 1)
    // head has strictly lower max avg_nll than tail's max
    def maxNll(b: String) = rows.filter(_.getAs[String]("bucket") == b)
      .map(_.getAs[Double]("avg_nll")).max
    assert(maxNll("head") <= maxNll("middle"))
    assert(maxNll("middle") <= maxNll("tail"))
    // ppl = exp(avg_nll) (to rounding)
    rows.take(50).foreach { r =>
      assert(math.abs(r.getAs[Double]("ppl") -
        math.exp(r.getAs[Double]("avg_nll"))) < 1e-4)
    }
  }

  test("perplexity: LM trained on corpus gives finite positive NLL") {
    val df = SparkEntry.queries("q241_perplexity_buckets")(spark, sfDir)
    val bad = df.where(col("avg_nll").isNull || col("avg_nll") <= 0.0 ||
      col("avg_nll").isNaN).count()
    assert(bad == 0)
  }

  test("containment: self-contained duplicate pairs found, exact ratios") {
    val df = SparkEntry.queries("q243_containment")(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty, "corpus has near-dups; containment must find them")
    rows.foreach { r =>
      val cont = r.getAs[Double]("containment")
      assert(cont >= 0.8 - 1e-9 && cont <= 1.0 + 1e-9)
      assert(r.getAs[Int]("inter") <= r.getAs[Int]("n_a"))
    }
  }

  test("containment prefix filter loses nothing vs brute force") {
    // brute-force all-pairs on a 120-doc slice and compare pair sets
    val docs = Tables(spark, sfDir).documents.limit(120)
    val d = docs.select(col("doc_id"),
      array_sort(array_distinct(
        expr("graft_shingle_hashes(text, 2)"))).as("sh"))
    val brute = d.alias("a").crossJoin(d.alias("b"))
      .where(col("a.doc_id") =!= col("b.doc_id") &&
        size(col("a.sh")) >= 5)
      .withColumn("inter",
        expr("graft_sorted_intersect_count(a.sh, b.sh)").cast("double"))
      .where(col("inter") / size(col("a.sh")).cast("double") >= lit(0.8))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // run the registered operator restricted to the same slice by
    // filtering its output (ids are the slice's ids)
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    val got = SparkEntry.queries("q243_containment")(spark, sfDir)
      .collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
      .filter(p => ids.contains(p._1) && ids.contains(p._2)).toSet
    assert(brute.subsetOf(got),
      s"prefix filter dropped ${(brute -- got).take(5)}")
  }
}
