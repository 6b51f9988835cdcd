package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Extended (non-standard) relational operators of the reference's
  * algebra, composed from built-in Spark operators so Catalyst keeps
  * full optimization freedom.
  *
  * Reference: modules/core/src/main/scala/sql/expr/relational/
  * RelOp.scala:677-804 (Align, DisjointInterval, UnPivot, OrderedBy)
  * and analytics/sequence/matcher (row-sequence MATCH).
  */
object ExtendedOps {

  /** DISTINCT ON through the custom logical operator
    * (graft.plans.DistinctOnPlan): keep, per distinct key tuple, the
    * first row under `order` ((column, ascending) pairs). The
    * RewriteDistinctOn rule that GraftExtensions injects lowers the
    * node during analysis.
    */
  def distinctOn(
      df: DataFrame, keys: Seq[String],
      order: Seq[(String, Boolean)]): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import graft.plans.DistinctOnPlan
    GraftBridge.ofRows(df.sparkSession,
      DistinctOnPlan.resolved(df.queryExecution.analyzed, keys, order))
  }

  /** ALIGN via the custom physical operator (graft.plans.AsOfJoinExec):
    * each probe row gets the latest `ref` row of the same key
    * at-or-before its ordinal, or nulls. The planner strategy is
    * injected by GraftExtensions.
    *
    * Output: all probe columns, then ref's columns minus the shared
    * key/ordinal columns (nullable). Ref column names must not collide
    * with probe's except for keyCols/ordCol — rename before calling.
    */
  def asofJoinExec(
      probe: DataFrame, ref: DataFrame,
      keyCols: Seq[String], ordCol: String): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
    import org.apache.spark.sql.catalyst.plans.logical.Project
    import graft.plans.AsOfJoinPlan
    val spark = probe.sparkSession
    val lplan = probe.queryExecution.analyzed
    // probe and ref often share lineage (self-as-of) — re-alias the
    // right side so the node's attribute ids are disjoint
    val rAliases = ref.queryExecution.analyzed.output
      .map(a => Alias(a, a.name)())
    val rplan = Project(rAliases, ref.queryExecution.analyzed)
    val rAttrs: Seq[Attribute] = rAliases.map(_.toAttribute)
    def pick(out: Seq[Attribute], n: String): Attribute =
      out.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"asofJoinExec: no column '$n' in ${out.map(_.name)}"))
    val node = AsOfJoinPlan(
      lplan, rplan,
      keyCols.map(pick(lplan.output, _)), keyCols.map(pick(rAttrs, _)),
      pick(lplan.output, ordCol), pick(rAttrs, ordCol))
    val keep = lplan.output ++ rAttrs.filterNot(a =>
      keyCols.contains(a.name) || a.name == ordCol)
    GraftBridge.ofRows(spark, Project(keep, node))
  }

  /** Keyed band (interval) join via the custom sweep operator
    * (graft.plans.BandJoinExec): INNER join of `points` (keyCols,
    * pointCol) against `intervals` (keyCols, [loCol, hiCol)) on
    * `point >= lo AND point < hi`. Sorted-merge sweep — state per
    * partition is the set of currently-open intervals, not the per-key
    * all-pairs product a hash-join + filter would buffer.
    *
    * Output: all point columns, then the interval side's columns minus
    * the shared key columns. Non-key names must not collide — rename
    * before calling.
    */
  def bandJoin(
      points: DataFrame, intervals: DataFrame, keyCols: Seq[String],
      pointCol: String, loCol: String, hiCol: String): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{Alias, And,
      Attribute, Expression, IsNotNull}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
    import graft.plans.BandJoinPlan
    val spark = points.sparkSession
    val lplan = points.queryExecution.analyzed
    // the sides often share lineage (self-band-join) — re-alias the
    // right side so the node's attribute ids are disjoint
    val rAliases = intervals.queryExecution.analyzed.output
      .map(a => Alias(a, a.name)())
    val rplan = Project(rAliases, intervals.queryExecution.analyzed)
    val rAttrs: Seq[Attribute] = rAliases.map(_.toAttribute)
    def pick(out: Seq[Attribute], n: String): Attribute =
      out.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"bandJoin: no column '$n' in ${out.map(_.name)}"))
    // EqualTo key semantics: the sweep compares keys with a natural
    // ordering where null == null, so null-keyed rows MUST be dropped
    // on both sides up front (mirrors BandJoinRewrite.notNull)
    def notNull(keys: Seq[Attribute],
        child: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      Filter(keys.map(IsNotNull(_): Expression).reduce(And), child)
    val node = BandJoinPlan(
      notNull(keyCols.map(pick(lplan.output, _)), lplan),
      notNull(keyCols.map(pick(rAttrs, _)), rplan),
      keyCols.map(pick(lplan.output, _)), keyCols.map(pick(rAttrs, _)),
      pick(lplan.output, pointCol),
      pick(rAttrs, loCol), pick(rAttrs, hiCol))
    val keep = lplan.output ++ rAttrs.filterNot(a => keyCols.contains(a.name))
    GraftBridge.ofRows(spark, Project(keep, node))
  }

  /** ALIGN — as-of join: attach to each `probe` row the latest `ref` row
    * with the same key at-or-before its ordinal. Implemented as a single
    * union + per-key ordered scan with a last-non-null carry-forward
    * window — one shuffle on the key, no join explosion, scales with
    * keys not rows (RelOp.scala:700 Align).
    *
    * @param probe     rows to annotate (kept)
    * @param ref       rows providing the carried values (dropped)
    * @param keyCols   equality key columns (names present in both inputs)
    * @param ordCols   ordering columns (names present in both inputs)
    * @param payload   columns of `ref` to carry onto `probe`, renamed
    * @param marginOpt optional maximum distance (reference Align
    *                  MARGIN, RelOp.scala:700): when the carried row's
    *                  `marginExpr` distance from the probe row exceeds
    *                  this, the payload is nulled out
    * @param marginExpr distance in ordering units: (probe, ref) =>
    *                  non-negative distance column; required with
    *                  marginOpt
    */
  def asofAlign(
      probe: DataFrame, ref: DataFrame,
      keyCols: Seq[String], ordCols: Seq[String],
      payload: Map[String, String],
      marginOpt: Option[Long] = None,
      marginExpr: Option[(Column, Column) => Column] = None): DataFrame = {
    val common = keyCols ++ ordCols
    val probeCols = probe.columns.toSeq
    val p = probe.withColumn("_side", lit(1))
    val r = ref.withColumn("_side", lit(0))
    // align schemas: union by name with nulls for the other side's cols
    val allCols = (probeCols ++ ref.columns.filterNot(probeCols.contains))
      .distinct
    def conform(df: DataFrame): DataFrame =
      df.select((allCols.map { c =>
        if (df.columns.contains(c)) col(c) else lit(null).as(c)
      } :+ col("_side")): _*)
    val unioned = conform(p).unionByName(conform(r))
    // ref rows sort before probe rows at identical ordinals (backward asof)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy((ordCols.map(col) :+ col("_side")): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ordCol = ordCols.head
    val carried0 = payload.foldLeft(unioned) { case (df, (src, dst)) =>
      df.withColumn(dst,
        last(when(col("_side") === 0, col(src)), ignoreNulls = true).over(w))
    }
    // carry the ref's ordinal for the margin check
    val carried = carried0.withColumn("_ref_ord",
      last(when(col("_side") === 0, col(ordCol)), ignoreNulls = true).over(w))
    val result = carried.filter(col("_side") === 1)
    val bounded = (marginOpt, marginExpr) match {
      case (Some(m), Some(dist)) =>
        val tooFar = dist(col(ordCol), col("_ref_ord")) > lit(m)
        payload.values.foldLeft(result) { (df, dst) =>
          df.withColumn(dst, when(tooFar, lit(null)).otherwise(col(dst)))
        }
      case _ => result
    }
    bounded.select((probeCols.map(col) ++ payload.values.map(col)): _*)
  }

  /** Range join — match each point to the intervals containing it,
    * WITHOUT an equality key. Spark's planner can only express this as
    * a BroadcastNestedLoopJoin (every point tested against every
    * interval); this operator instead derives an equi-key by BUCKETING
    * the value domain: each interval explodes to the fixed-width
    * buckets it covers, each point maps to its single bucket, the join
    * runs as a plain hash equi-join on the bucket id, and an exact
    * containment filter removes the bucket-edge false positives. A
    * point lands in exactly one bucket, so no dedup is needed.
    *
    * Scale: shuffle cost is |points| + |intervals| * avg-span/width —
    * pick `width` near the typical interval span so expansion stays
    * O(1) per interval. Equi-key joins get hash distribution, AQE skew
    * handling, and broadcast when one side is small — none of which a
    * nested-loop theta join gets.
    *
    * @param points    rows with a numeric `pointCol`
    * @param intervals rows with numeric [`loCol`, `hiCol`) bounds
    * @param width     bucket width in value units
    */
  /** Interval-overlap join: every (left, right) pair whose half-open
    * intervals [loL, hiL) x [loR, hiR) overlap (loL < hiR && loR <
    * hiL), optionally under equality `keys` present in both sides.
    *
    * Scale design: both sides replicate to the grid cells their
    * interval touches (ceil(span/width) cells each) and pairs
    * generate only inside a (keys, cell) partition — an equi-join
    * Catalyst hash-distributes, instead of the nested-loop theta
    * join the raw inequality predicate would plan. A pair sharing
    * several cells is emitted ONCE via the reference-cell trick:
    * keep the pair only in the cell containing the overlap start
    * (max of the two lo-cells — floor is monotone, so that equals
    * the overlap start's cell), which both intervals provably span.
    * No distinct() shuffle needed, unlike the posting-list dedups.
    *
    * Column names of the two inputs must be disjoint apart from
    * `keys`. Shuffle cost |L|*spanL/width + |R|*spanR/width; pick
    * `width` near the typical interval span.
    */
  /** Cost-based grid width for [[intervalOverlapJoin]] when the user
    * omits WIDTH: the mean interval span over a BOUNDED probe — the
    * first `sampleRows` rows of each side (LIMIT short-circuits the
    * scan, so the plan-time action reads a few files, never a full
    * pass over either input; at 100 TB the unbounded avg() this
    * replaces was a second full read of the fact before the query
    * even planned). Width only tunes grid granularity — join RESULTS
    * are width-independent (pairs are exact-filtered after binning) —
    * so a sampled estimate is safe by construction.
    */
  def deriveOverlapWidth(
      left: DataFrame, right: DataFrame,
      loL: String, hiL: String, loR: String, hiR: String,
      sampleRows: Int = 4096): Double = {
    def spans(df: DataFrame, lo: String, hi: String) = df
      .select((col(hi) - col(lo)).cast("double").as("_s"))
      .limit(sampleRows)
    val m = spans(left, loL, hiL).unionAll(spans(right, loR, hiR))
      .agg(avg("_s")).head().getDouble(0)
    require(m > 0, "OVERLAP: cannot derive WIDTH from empty/zero spans")
    m
  }

  def intervalOverlapJoin(
      left: DataFrame, right: DataFrame, keys: Seq[String],
      loL: String, hiL: String, loR: String, hiR: String,
      width: Double): DataFrame = {
    def cells(df: DataFrame, lo: String, hi: String): DataFrame = df
      .where(col(hi) > col(lo))
      .withColumn("_cell", explode(sequence(
        floor(col(lo) / width).cast("long"),
        floor((col(hi) - lit(1e-9)) / width).cast("long"))))
    cells(left, loL, hiL)
      .join(cells(right, loR, hiR), keys :+ "_cell")
      .where(col(loL) < col(hiR) && col(loR) < col(hiL) &&
        col("_cell") === greatest(
          floor(col(loL) / width), floor(col(loR) / width)).cast("long"))
      .drop("_cell")
  }

  def rangeJoin(
      points: DataFrame, intervals: DataFrame,
      pointCol: String, loCol: String, hiCol: String,
      width: Double): DataFrame = {
    // [lo, hi) with hi <= lo matches nothing — and must be dropped
    // BEFORE the expansion: Spark's sequence(a, b) with b < a yields a
    // DESCENDING range, which would fabricate buckets
    val expanded = intervals
      .where(col(hiCol) > col(loCol))
      .withColumn("_bucket",
        explode(sequence(
          floor(col(loCol) / width).cast("long"),
          floor((col(hiCol) - lit(1e-9)) / width).cast("long"))))
    val bucketed = points.withColumn("_bucket",
      floor(col(pointCol) / width).cast("long"))
    bucketed.join(expanded, Seq("_bucket"))
      .where(col(pointCol) >= col(loCol) && col(pointCol) < col(hiCol))
      .drop("_bucket")
  }

  /** Salted equi-join for SKEWED keys: the classic manual remedy when
    * one join key carries a disproportionate share of the big side's
    * rows (AQE's skew-join split helps sort-merge joins it can see;
    * salting is the general, planner-independent form, and the shape
    * to reach for when a single hot key exceeds what one task can
    * hold).
    *
    * The big side gets a deterministic salt in [0, salts) derived from
    * its OTHER columns (hash of the whole row minus the key), so a hot
    * key's rows spread over `salts` partitions; the small side is
    * replicated once per salt value (explode of a `salts`-element
    * range — fine when small is dimension-sized). The join key becomes
    * (key, salt) and every result row appears exactly once.
    *
    * Output: big's columns then small's non-key columns.
    */
  def saltedJoin(
      big: DataFrame, small: DataFrame, keyCols: Seq[String],
      salts: Int): DataFrame = {
    require(salts >= 1, "salts must be >= 1")
    val nonKey = big.columns.filterNot(keyCols.contains).map(col).toSeq
    // hash() needs >= 1 arg; a key-only big side falls back to a
    // row-position salt (salt choice never affects result content,
    // only distribution)
    val saltSrc =
      if (nonKey.nonEmpty) hash(nonKey: _*)
      else hash(monotonically_increasing_id())
    val saltedBig = big.withColumn("_salt", pmod(saltSrc, lit(salts)))
    val saltedSmall = small.withColumn("_salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedBig.join(saltedSmall, keyCols :+ "_salt").drop("_salt")
  }

  /** Bloom-pruned equi-join: build a Bloom filter over the (already
    * filtered) dim side's keys, pre-filter the probe side with it
    * BEFORE the join's shuffle, then run the exact join — false
    * positives die there, so results are identical to the plain join
    * (which is the oracle). This is the explicit, user-controlled form
    * of Spark's runtime bloom filter (InjectRuntimeFilter), for when
    * the dim side is too big to broadcast-join but its key BITSET
    * still fits in memory: at 100 TB the shuffle then carries only
    * probable matches instead of the whole probe table.
    *
    * The one-row sketch aggregate feeds the probe filter as a SCALAR
    * SUBQUERY — the exact shape InjectRuntimeFilter plants — so the
    * sketch stays executor-side and nothing blocks the driver at plan
    * time (the earlier `.head()` + literal form both stalled planning
    * and bloated the plan with a ~1 MiB constant). An EMPTY dim yields
    * a NULL sketch; might_contain(NULL, k) is NULL, so every probe row
    * is filtered and the join is empty — same semantics, no special
    * case. Key columns must have distinct names on the two sides.
    */
  def bloomPrunedJoin(
      probe: DataFrame, dim: DataFrame,
      probeKey: String, dimKey: String,
      expectedItems: Long = 1L << 20, numBits: Long = 1L << 23)
      : DataFrame = {
    val sketch = dim
      .agg(call_function("graft_bloom_agg", col(dimKey),
        lit(expectedItems), lit(numBits)).as("sk"))
      .scalar()
    val pruned = probe.where(
      call_function("graft_bloom_contains", sketch, col(probeKey)))
    pruned.join(dim, pruned(probeKey) === dim(dimKey))
  }

  /** DisjointInterval — split possibly-overlapping intervals into the
    * elementary disjoint segments they cover; emits one row per
    * (input interval x covered segment) like the reference op
    * (RelOp.scala:723). One shuffle on the partition key; the
    * segment join is per-key local.
    */
  def disjointIntervals(
      intervals: DataFrame, partCol: String,
      loCol: String, hiCol: String): DataFrame = {
    val pts = intervals.select(col(partCol), col(loCol).as("_p"))
      .union(intervals.select(col(partCol), col(hiCol).as("_p")))
      .distinct()
    val w = Window.partitionBy(col(partCol)).orderBy(col("_p"))
    val segs = pts
      .withColumn("_s_hi", lead(col("_p"), 1).over(w))
      .filter(col("_s_hi").isNotNull)
      .withColumnRenamed("_p", "_s_lo")
    intervals.join(segs, Seq(partCol))
      .where(col("_s_lo") >= col(loCol) && col("_s_hi") <= col(hiCol))
      .withColumnRenamed("_s_lo", "out_lo")
      .withColumnRenamed("_s_hi", "out_hi")
  }

  /** Gap-based sessionization: a new session starts when the gap to the
    * previous row (per key, in `ord` order) exceeds `gapSeconds`.
    * Batch analogue of Structured Streaming's session_window.
    */
  def sessionize(
      df: DataFrame, keyCol: String, tsCol: String, ordTieCol: String,
      gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(ordTieCol))
    val gapped = df.withColumn("_prev_ts", lag(col(tsCol), 1).over(w))
      .withColumn("_new_session",
        when(col("_prev_ts").isNull, 1)
          .when(unix_micros(col(tsCol)) - unix_micros(col("_prev_ts"))
            > gapSeconds * 1000000L, 1)
          .otherwise(0))
    gapped.withColumn("session_id",
      sum(col("_new_session"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("_prev_ts", "_new_session")
  }
}
