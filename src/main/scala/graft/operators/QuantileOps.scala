package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact per-group discrete percentiles in the shape that survives
  * 100 TB: two-level bucketed selection.
  *
  * `percentile_disc` (and any row-level window formulation) funnels
  * every group's full row set through one serial cumulation — with a
  * handful of groups the whole fact sorts on 3 tasks. This helper
  * regroups the SAME integer arithmetic so nothing serial ever sees
  * more than the value domain:
  *
  *   1. histogram: rows -> (group, value, count) by parallel hash
  *      aggregate — the only pass over the fact; everything after is
  *      value-domain-sized (prices/scores have bounded domains no
  *      matter how many rows carry them);
  *   2. bucket totals: values -> B fixed-width buckets, cumulated by
  *      a window over <= B rows per group;
  *   3. target bucket per percentile: smallest bucket whose running
  *      total reaches p*n, plus the running total BEFORE it;
  *   4. intra-bucket cumulation over the one target bucket's values
  *      only (~|domain|/B rows per group).
  *
  * Selection is the standard-SQL percentile_disc definition verbatim
  * — the smallest value whose cumulative row count / n >= p, with the
  * SAME double division on the same exact integer counts — so picked
  * values are identical to the single-cumulation formulations; only
  * the grouping of the integer additions changes.
  */
object QuantileOps {

  /** One output column per (name, p), value type preserved.
    *
    * NULL values are excluded up front — percentile_disc ignores
    * NULLs, and counting them into n while excluding them from the
    * min/max bounds would shift every pick. Rows with a NULL group
    * key are excluded too (the internal equi-joins are not null-safe);
    * a caller that wants a NULL group must coalesce the key to a
    * sentinel first.
    */
  def percentileDisc(df: DataFrame, groupCol: String, valueCol: String,
      ps: Seq[(String, Double)], buckets: Int = 1024): DataFrame = {
    require(ps.nonEmpty && buckets >= 2)
    ps.foreach { case (name, p) =>
      require(p > 0.0 && p <= 1.0,
        s"percentileDisc: $name = $p is outside (0, 1]")
    }
    val g = col(groupCol)
    val v = col(valueCol)

    // ONE pass over the fact; bounds derive from the histogram and
    // the bucketed histogram is scope-cached — the bucket-total pass
    // and each percentile's intra-bucket pass read the cached
    // value-domain frame, never the fact again
    // scoped cache: hist is read by the bounds aggregate AND the
    // bucketed-histogram build — uncached, the one advertised fact
    // pass runs twice (hist is value-domain-sized, cheap to hold)
    val hist = CacheScope.scoped(df.where(v.isNotNull && g.isNotNull)
      .groupBy(g, v).agg(count(lit(1)).as("_c")))
    val bounds = hist.groupBy(g).agg(
      min(v).as("_xlo"), max(v).as("_xhi"), sum(col("_c")).as("_nn"))
    val width =
      (col("_xhi").cast("double") - col("_xlo").cast("double")) /
        lit(buckets.toDouble)
    val hb = CacheScope.scoped(
      hist.join(broadcast(bounds), Seq(groupCol))
        .withColumn("_b",
          when(col("_xhi") > col("_xlo"),
            least(
              floor((v.cast("double") - col("_xlo").cast("double")) /
                width),
              lit(buckets - 1L)))
            .otherwise(lit(0L))))

    val bt = hb.groupBy(g, col("_b")).agg(
      sum(col("_c")).as("_bc"), first(col("_nn")).as("_nn"))
    val wb = Window.partitionBy(g).orderBy(col("_b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val btc = bt.withColumn("_cumb", sum(col("_bc")).over(wb))

    // per percentile: the first bucket whose running total reaches
    // p*n, carried as (bucket, running-total-before-it) — min over
    // the struct picks the smallest qualifying bucket
    val targetAggs = ps.map { case (nm, p) =>
      min(when(
        col("_cumb").cast("double") / col("_nn").cast("double") >= p,
        struct(col("_b").as("b"),
          (col("_cumb") - col("_bc")).as("base")))).as(s"_t_$nm")
    }
    val targets = btc.groupBy(g)
      .agg(targetAggs.head, targetAggs.tail: _*)

    // ALL percentiles in ONE pick pass (r12): the per-p target
    // buckets explode into one broadcast frame tagged by percentile,
    // candidates join the cached bucketed histogram ONCE, the
    // intra-bucket cumulation runs per (group, percentile) window
    // partition, and a single pivot aggregate emits every column —
    // instead of one join+window+aggregate chain per percentile plus
    // a reduce-join of the picks. Selection per percentile is
    // unchanged: each _pn partition holds exactly the rows of that
    // percentile's target bucket in the same v order with the same
    // counts, and the pivot min(when(_pn = nm ...)) is the same
    // smallest-qualifying-value pick.
    val targetRows = targets.select(g, explode(array(ps.map {
      case (nm, p) =>
        struct(lit(nm).as("_pn"), lit(p).as("_p"),
          col(s"_t_$nm.b").as("_tb"), col(s"_t_$nm.base").as("_base"))
    }: _*)).as("_t"))
      .select(g, col("_t._pn").as("_pn"), col("_t._p").as("_p"),
        col("_t._tb").as("_tb"), col("_t._base").as("_base"))
    val cand = hb.join(broadcast(targetRows), Seq(groupCol))
      .where(col("_b") === col("_tb"))
    val wv = Window.partitionBy(g, col("_pn")).orderBy(v)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = cand.withColumn("_cumv", sum(col("_c")).over(wv))
    val pickAggs = ps.map { case (nm, _) =>
      min(when(col("_pn") === nm &&
        (col("_base") + col("_cumv")).cast("double") /
          col("_nn").cast("double") >= col("_p"), v)).as(nm)
    }
    cum.groupBy(g).agg(pickAggs.head, pickAggs.tail: _*)
  }
}
