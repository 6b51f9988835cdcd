package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Series-smoothing operators over an ordered (time, value) relation
  * (reference analogue: the analytics evaluators the ORDERED BY
  * family feeds; the GRAFT SMOOTH statement is their SQL front door).
  *
  * Scale shape shared with q257/q303/q304: the input is expected to be
  * an already-bounded series (a calendar-grain aggregate of the fact,
  * never the raw fact) — the sequential recurrence folds over the
  * sorted array INSIDE one aggregate row, so the distributed work is
  * exactly one collect_list aggregate. The recurrences repeat every
  * shared subexpression textually, keeping the IEEE double operation
  * sequence reproducible by a recursive-CTE oracle.
  */
object SmoothOps {

  /** Local-level Kalman filter: per step predict (p += q), gain
    * (k = p / (p + r)), update (l += k * (z - l); p *= 1 - k); init
    * l = first value, p = r. Emits one row per observation from the
    * second on: (time, actual, one-step pred, gain, filtered). */
  def kalman(df: DataFrame, timeCol: String, valueCol: String,
      q: Double, r: Double): DataFrame = {
    val series = df
      .select(col(timeCol).as("t"), col(valueCol).cast("double").as("x"))
      .agg(sort_array(collect_list(struct(col("t"), col("x")))).as("xs"))
    // native O(n) scan (plans/ScanFolds.KalmanScan) — same recurrence
    // and IEEE op order as the SQL fold it replaced, without the
    // interpreted ArrayAggregate + array_append quadratic copy
    series
      .select(explode(expr(
        s"graft_kalman_scan(xs, ${q}D, ${r}D)")).as("e"))
      .select(col("e.t").as(timeCol),
        round(col("e.a"), 6).as("actual"),
        round(col("e.pred"), 6).as("pred"),
        round(col("e.gain"), 6).as("gain"),
        round(col("e.filt"), 6).as("filt"))
  }

  /** Holt linear (double) exponential smoothing: init l = first value,
    * b = 0; per step l' = a*z + (1-a)*(l+b), b' = b_*(l'-l) + (1-b_)*b,
    * one-step forecast l + b emitted before the update. The complement
    * weights are precomputed in Scala and embedded as literals (for
    * the clean constants in use, 1-a round-trips to the exact literal
    * the oracle writes). */
  def holt(df: DataFrame, timeCol: String, valueCol: String,
      alpha: Double, beta: Double): DataFrame = {
    val series = df
      .select(col(timeCol).as("t"), col(valueCol).cast("double").as("x"))
      .agg(sort_array(collect_list(struct(col("t"), col("x")))).as("xs"))
    // native O(n) scan (plans/ScanFolds.HoltScan): complement weights
    // computed once as 1.0 - w, the exact double the old SQL literal
    // parsed to
    series
      .select(explode(expr(
        s"graft_holt_scan(xs, ${alpha}D, ${beta}D)")).as("e"))
      .select(col("e.t").as(timeCol),
        round(col("e.a"), 6).as("actual"),
        round(col("e.fc"), 6).as("forecast"),
        round(abs(col("e.a") - col("e.fc")), 6).as("abs_err"))
  }

  /** EWMA control chart (Lucas & Saccucci 1990): z_t = lambda x_t +
    * (1-lambda) z_{t-1} seeded at the series mean, against the
    * TIME-VARYING limits mu +/- L sigma sqrt(lambda/(2-lambda)
    * (1-(1-lambda)^{2t})), sigma estimated as the average moving
    * range / d2 (1.128). Both the moment pass and the chart fold run
    * IN TIME ORDER inside one aggregate row, and the band term rides
    * the fold as a pure (1-lambda)^2-multiplication chain — never
    * POW. Literals are decimal-exact squares of the complement
    * weight so the identical expression tree matches the
    * q320_ewma_chart gate query when fed the same series.
    *
    * The fold lambda references ONLY the accumulator, the element,
    * and literals: a column like sigma must never appear inside the
    * lambda body — projection collapse inlines the column's defining
    * expression (here an O(n) moments fold) into the per-element
    * evaluation, turning the linear fold O(n^2). The band term is
    * emitted bare and the L*sigma scaling happens after the explode
    * (same left-assoc multiplication tree, so the IEEE doubles — and
    * the oracle hash — are unchanged). */
  def ewma(df: DataFrame, timeCol: String, valueCol: String,
      lambda: Double, l: Double): DataFrame = {
    val series = df
      .select(col(timeCol).as("t"), col(valueCol).cast("double").as("x"))
      .agg(sort_array(collect_list(struct(col("t"), col("x")))).as("xs"))
    // native O(n) scan (plans/ScanFolds.EwmaSmoothScan): moments +
    // chart recurrence in one pass, band term emitted bare with the
    // L*sigma scaling applied after the explode — identical IEEE tree
    // to the SQL fold pair it replaced
    val folded = series.select(expr(
      s"graft_ewma_smooth_scan(xs, ${lambda}D)").as("st"))
    val hw = lit(l) * col("sigma") * sqrt(col("e.band"))
    folded
      .select(col("st.mu").as("mu"), col("st.sigma").as("sigma"),
        explode(col("st.f")).as("e"))
      .select(col("e.t").as(timeCol),
        round(col("e.x"), 6).as("actual"),
        round(col("e.z"), 6).as("z"),
        round(col("mu") + hw, 6).as("ucl"),
        round(col("mu") - hw, 6).as("lcl"))
      .withColumn("outf",
        col("z") > col("ucl") || col("z") < col("lcl"))
  }

  /** Additive Holt-Winters triple smoothing with season length `m`:
    * init from the first m observations (level = their mean, trend 0,
    * seasonal s_i = x_i - level); per step the one-step forecast
    * l + b + s_idx is emitted before the level/trend/seasonal update.
    * The seasonal state rides as m scalar slots with a CASE-selected
    * read and an if-guarded write per slot (generated here for the
    * statement's m), so the identical expression tree is expressible
    * as a recursive-CTE oracle with no list mutation. */
  def holtWinters(df: DataFrame, timeCol: String, valueCol: String,
      m: Int, alpha: Double, beta: Double, gamma: Double): DataFrame = {
    require(m >= 2, s"season length $m must be >= 2")
    val series = df
      .select(col(timeCol).as("t"), col(valueCol).cast("double").as("x"))
      .agg(sort_array(collect_list(struct(col("t"), col("x")))).as("xs"))
    // native O(n) scan (plans/ScanFolds.HoltWintersScan): the m
    // seasonal slots ride as a plain array with the same
    // CASE-selected read / single-slot write order the generated SQL
    // fold used
    series
      .select(explode(expr(
        s"graft_hw_scan(xs, $m, ${alpha}D, ${beta}D, ${gamma}D)"))
        .as("e"))
      .select(col("e.t").as(timeCol),
        round(col("e.a"), 6).as("actual"),
        round(col("e.fc"), 6).as("forecast"),
        round(abs(col("e.a") - col("e.fc")), 6).as("abs_err"))
  }
}
