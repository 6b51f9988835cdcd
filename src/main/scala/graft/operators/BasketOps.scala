package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bounded per-basket pair generation for co-occurrence mining
  * (market-basket rules, item-item CF). Pair fan-out is quadratic in
  * basket size — safe on TPC-H (<= 7 lines/order) but unbounded on
  * real data, where one 100k-item basket would emit 5e9 pairs inside
  * a single task. The cap bounds every task: baskets larger than
  * `cap` contribute pairs only among their first `cap` items (the
  * item arrays are sorted, so truncation is deterministic), worst
  * case cap*(cap-1)/2 pairs per basket, with the dropped-item count
  * carried as an accounting column — the same discipline as the
  * capped LSH buckets in [[DedupOps]].
  */
object BasketOps {

  /** Default per-basket item cap: far above any TPC-H basket (results
    * there are exactly the uncapped ones) while bounding the worst
    * single-task fan-out to ~32k pairs. */
  val DefaultItemCap = 256

  /** Adds `capped` (first `cap` items of the sorted `itemsCol` array)
    * and `n_dropped` (how many items the cap cut — 0 everywhere the
    * cap is inactive). */
  def withCappedItems(baskets: DataFrame, itemsCol: String,
      cap: Int = DefaultItemCap): DataFrame = {
    baskets
      .withColumn("capped", slice(col(itemsCol), 1, cap))
      .withColumn("n_dropped",
        greatest(size(col(itemsCol)) - lit(cap), lit(0)))
  }

  /** All a < b pairs within the capped item array, as one zero-shuffle
    * array projection (never a self-join that would reshuffle the
    * fact). `itemsCol` must be sorted ascending so x < y holds by
    * construction. Native single-loop generator (plans/ArrayCombos) —
    * row-identical to the nested interpreted transform/flatten
    * lambdas it replaces, minus the per-element closure overhead. */
  def pairColumn(itemsCol: String): Column =
    expr(s"graft_pairs($itemsCol)")

  /** All a < b < c triples within the capped item array, as one
    * zero-shuffle array projection — the next FP-growth level above
    * [[pairColumn]]. Fan-out is cubic, so callers use a SMALLER cap
    * (32 bounds the worst task to ~5k triples/basket); `itemsCol`
    * must be sorted ascending. */
  def tripleColumn(itemsCol: String): Column =
    expr(s"graft_triples($itemsCol)")

  /** Per-basket pair stream (a, b) with the cap applied; one output
    * row per co-occurrence. */
  def pairs(baskets: DataFrame, itemsCol: String,
      cap: Int = DefaultItemCap): DataFrame =
    withCappedItems(baskets, itemsCol, cap)
      .select(explode(pairColumn("capped")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
}
