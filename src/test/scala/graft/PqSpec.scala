package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.PqOps

/** Product-quantization ANN: encode/decode identity, ADC ordering,
  * recall vs brute force, compression accounting. */
class PqSpec extends AnyFunSuite {
  import TestSession._

  private lazy val emb = Tables(spark, sfDir).embeddings

  test("codebooks: ks rows, M sub-slices of the right width") {
    val cb = PqOps.codebooks(emb, m = 4, ks = 16, dim = 64)
    assert(cb.count() == 16)
    val r = cb.orderBy("c_id").head
    assert((0 until 4).forall(i =>
      r.getAs[Seq[Double]](s"sub_$i").length == 16))
  }

  test("encode: codes in range, recon is a valid PQ reconstruction") {
    val coded = PqOps.encode(emb, m = 4, ks = 16, dim = 64)
    assert(coded.count() == emb.count())
    val bad = coded.where(
      (0 until 4).map(i => col(s"code_$i") < 0 || col(s"code_$i") >= 16)
        .reduce(_ || _))
    assert(bad.count() == 0)
    // recon of a codebook vector is itself: its nearest codeword in
    // every subspace is its own sub-slice (distance 0)
    val self = coded.join(
        emb.select(col("vec_id"),
          transform(col("embedding"), v => v.cast("double")).as("ev")),
        "vec_id")
      .where(col("vec_id") < 16)
      .withColumn("d", expr("graft_dist_sq(recon, ev)"))
      .agg(max("d")).head.getDouble(0)
    assert(self == 0.0)
  }

  test("codes for vec_id < 16 are the identity assignment") {
    val coded = PqOps.encode(emb, m = 4, ks = 16, dim = 64)
    val mism = coded.where(col("vec_id") < 16)
      .where((0 until 4).map(i => col(s"code_$i") =!= col("vec_id"))
        .reduce(_ || _))
    assert(mism.count() == 0)
  }

  test("ADC search recovers most exact top-5 neighbors (recall@5)") {
    val got = PqOps.search(emb, m = 4, ks = 16, dim = 64,
      nQueries = 10, nCandidates = 20, k = 5)
      .select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force exact top-5
    val q = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val exact = emb.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("q_id"))
      .withColumn("cos", expr("graft_cosine(embedding, qe)"))
      .groupBy("q_id")
      .agg(expr("graft_topk_by(cos, vec_id, vec_id, 5)").as("top"))
      .select(col("q_id"), explode(col("top.tie")).as("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (got & exact).size.toDouble / exact.size
    // 20 ADC candidates from 16-codeword books on random-ish vectors:
    // the exact re-rank fixes ordering, so recall tracks the candidate
    // funnel quality; pin a floor so codebook regressions surface
    assert(recall >= 0.3, s"recall@5 = $recall")
  }

  test("compression accounting: M codes replace d floats") {
    // the scored state per corpus vector is M=4 small ints (+1 recon
    // kept only for ADC identity) vs 64 floats — the candidate funnel
    // never touches the original vectors
    val coded = PqOps.encode(emb, m = 4, ks = 16, dim = 64)
    val cols = coded.columns.toSet
    assert(cols == Set("vec_id", "code_0", "code_1", "code_2", "code_3",
      "recon"))
  }

  test("search plan: corpus side has no ranking window, queries broadcast") {
    val df = PqOps.search(emb, m = 4, ks = 16, dim = 64,
      nQueries = 10, nCandidates = 20, k = 5)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "ranking window leaked into ANN plan")
    assert(plan.contains("BroadcastExchange") ||
      plan.contains("BroadcastNestedLoopJoin"))
  }
}
