package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ExtendedOps

/** Bloom-pruned join: result identity with the plain join, actual
  * pruning power of the filter, and the empty-dim edge. */
class BloomPruneSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  private val probe = (1L to 10000L).map(i => (i, s"p$i"))
    .toDF("pk", "payload").repartition(8)
  private val dim = (1L to 10000L by 100).map(i => (i, s"d$i"))
    .toDF("dk", "attr")

  test("pruned join result equals the plain join") {
    val pruned = ExtendedOps.bloomPrunedJoin(probe, dim, "pk", "dk")
      .select(col("pk"), col("payload"), col("attr"))
      .as[(Long, String, String)].collect().toSet
    val plain = probe.join(dim, col("pk") === col("dk"))
      .select(col("pk"), col("payload"), col("attr"))
      .as[(Long, String, String)].collect().toSet
    assert(pruned == plain && plain.size == 100)
  }

  test("the filter prunes the probe side before the join") {
    val sk = dim.agg(call_function("graft_bloom_agg", col("dk"),
      lit(1000L), lit(1L << 16)).as("sk")).head().getAs[Array[Byte]]("sk")
    val kept = probe.where(
      call_function("graft_bloom_contains", lit(sk), col("pk"))).count()
    // 100 true matches; Bloom guarantees no false negatives, and at
    // 64 Kib for 100 keys the false-positive rate is ~0
    assert(kept >= 100 && kept < 500)
  }

  test("sketch feeds the probe filter as a scalar subquery, no collect") {
    val plan = ExtendedOps.bloomPrunedJoin(probe, dim, "pk", "dk")
      .queryExecution.executedPlan.toString
    // the runtime-filter shape: an uncorrelated scalar subquery under
    // might_contain — the sketch is built executor-side, never a
    // driver .head() re-embedded as a ~1 MiB literal
    assert(plan.contains("Subquery") || plan.contains("scalar-subquery"),
      s"no scalar subquery in plan:\n$plan")
    assert(plan.contains("might_contain"),
      s"no bloom filter probe in plan:\n$plan")
  }

  test("empty dim side yields an empty join with the right schema") {
    val out = ExtendedOps.bloomPrunedJoin(
      probe, dim.where(lit(false)), "pk", "dk")
    assert(out.columns.toSeq ==
      Seq("pk", "payload", "dk", "attr") && out.count() == 0)
  }
}
