package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain,
  Expression, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** SQL-function façade over Spark's own Bloom-filter runtime-filter
  * expressions (the machinery behind
  * spark.sql.optimizer.runtime.bloomFilter.enabled, reused rather than
  * reimplemented):
  *
  *   graft_bloom_agg(key, numItems, numBits) -> binary sketch
  *   graft_bloom_contains(sketch, key)       -> boolean
  *
  * Keys are hashed through XxHash64 on both sides, exactly as
  * InjectRuntimeFilter does. The aggregate is mergeable (map-side
  * combine); the sketch is a fixed-size bitset independent of row
  * count — the 100-TB join-pruning currency. See
  * ExtendedOps.bloomPrunedJoin for the operator built on these.
  */
object BloomPrune {

  def aggExpr(exprs: Seq[Expression]): Expression = {
    new BloomFilterAggregate(XxHash64(Seq(exprs.head), 42L), exprs(1), exprs(2))
  }

  def containsExpr(exprs: Seq[Expression]): Expression = {
    BloomFilterMightContain(exprs.head, XxHash64(Seq(exprs(1)), 42L))
  }
}
