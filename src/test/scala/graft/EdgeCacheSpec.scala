package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DedupOps

/** The materialized near-dup edge list (DedupOps
  * .materializedCosinePairs): row-identical to a fresh build, keyed
  * by CONTENT fingerprint + parameters (staleness impossible), and
  * parameter-isolated (different thresholds never share a cache). */
class EdgeCacheSpec extends AnyFunSuite {
  import TestSession._

  test("materialized edges == fresh cosineCandidatePairs rows") {
    val fresh = DedupOps.cosineCandidatePairs(
        Tables(spark, sfDir).embeddings, 4, 0.3)
      .collect().map(_.toString).sorted
    val cached = DedupOps.materializedCosinePairs(spark, sfDir, 4, 0.3)
      .collect().map(_.toString).sorted
    assert(cached.sameElements(fresh))
    // second read serves the published copy (and still matches)
    val again = DedupOps.materializedCosinePairs(spark, sfDir, 4, 0.3)
      .collect().map(_.toString).sorted
    assert(again.sameElements(fresh))
  }

  test("different parameters get different caches") {
    val loose = DedupOps.materializedCosinePairs(spark, sfDir, 4, 0.1)
    val tight = DedupOps.materializedCosinePairs(spark, sfDir, 4, 0.3)
    assert(loose.count() >= tight.count())
    assert(tight.where(col("cos") < 0.3).count() == 0)
    assert(loose.where(col("cos") < 0.3).count() > 0,
      "loose cache unexpectedly shares the tight threshold")
  }

  test("a changed corpus fingerprint rebuilds, not serves stale") {
    // copy the embeddings into a scratch corpus dir, materialize,
    // then REWRITE the corpus (fewer rows) — the cache must follow
    val d = java.nio.file.Files.createTempDirectory("graft_edge_fp")
    val emb = Tables(spark, sfDir).embeddings
    emb.write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val full = DedupOps.materializedCosinePairs(spark, d.toString, 4, 0.3)
      .count()
    val half = emb.where(col("vec_id") % 2 === 0)
    half.write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val rebuilt = DedupOps.materializedCosinePairs(spark, d.toString, 4, 0.3)
    assert(rebuilt.where(col("vec_a") % 2 =!= 0).count() == 0 &&
      rebuilt.where(col("vec_b") % 2 =!= 0).count() == 0,
      "stale cache: edges reference vectors no longer in the corpus")
    assert(rebuilt.count() <= full)
  }
}
