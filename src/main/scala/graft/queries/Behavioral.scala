package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables

/** Behavioral / event-stream analytics (reference: sclera's ordered
  * stream operators + "analytics as relational ops" discipline —
  * analytics/sequence, analytics/transform) plus curation signals a
  * training-data pipeline computes over user-event and document logs.
  *
  * Scale notes per query are inline; the common shape is: shuffle once
  * on the entity key (user_id / group key), keep all per-row work
  * inside whole-stage codegen, broadcast every small model/stat table.
  */
object Behavioral {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Ordered conversion funnel: users who viewed, then clicked at or
    // after their first view, then purchased at or after that first
    // qualifying click. Each stage is one groupBy(user_id) min — the
    // fact shuffles on user_id once per stage and every stage output
    // is |users|-sized (small side of the next join).
    "q145_funnel" -> { (spark, dir) =>
      val e = Tables(spark, dir).events
        .select(col("user_id"), col("event_type"), col("ts"))
      val v = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t0"))
      val c = e.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("ts") >= col("t0"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val p = e.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("ts") >= col("t1"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      def stage(df: DataFrame, label: String): DataFrame =
        df.agg(count(lit(1)).as("users")).select(
          lit(label).as("stage"), col("users"))
      stage(v, "1_view").unionAll(stage(c, "2_click"))
        .unionAll(stage(p, "3_purchase"))
        .orderBy(col("stage"))
    },

    // Cohort retention: cohort = ISO week of the user's first event;
    // users active per (cohort, week offset). One groupBy(user_id) for
    // first-seen, the |users|-row result broadcast back onto the
    // event stream, then one count-distinct aggregation.
    "q146_cohort_retention" -> { (spark, dir) =>
      val e = Tables(spark, dir).events.select(col("user_id"), col("ts"))
      val first = e.groupBy(col("user_id")).agg(min(col("ts")).as("t0"))
      e.join(broadcast(first), "user_id")
        .select(
          col("user_id"),
          date_trunc("week", col("t0")).as("cohort"),
          (datediff(date_trunc("week", col("ts")).cast("date"),
            date_trunc("week", col("t0")).cast("date")) / 7)
            .cast("int").as("wk"))
        .groupBy(col("cohort"), col("wk"))
        .agg(countDistinct(col("user_id")).as("users"))
        .orderBy(col("cohort"), col("wk"))
    },

    // Exact equi-depth (10-quantile) histogram via ntile over a unique
    // total order. Needs ONE global range-partitioned sort — the
    // honest cost of exact quantiles; the 100 TB path swaps in the
    // mergeable t-digest sketch (q94) when +-eps is acceptable.
    // Exact equi-depth histogram WITHOUT a global-sort window: the
    // NTILE-over-everything plan puts the whole fact on one task. The
    // scale shape is the distributed-rank decomposition global sort
    // already uses: range-repartition on the sort key, assign local
    // positions per partition (bounded state, one pass), then shift
    // by the per-partition row-count prefix sums — a #partitions-row
    // table combined with a windowless triangular join and broadcast
    // back. Bucket = closed-form NTILE arithmetic on the global rank.
    "q147_equidepth_hist" -> { (spark, dir) =>
      val base = Tables(spark, dir).lineitem
        .select(col("l_extendedprice").as("x"),
          col("l_orderkey"), col("l_linenumber"))
      // partition count follows the session (scale-adaptive), not a
      // local-mode constant; the global rank below is partitioning-
      // independent because the sort key is unique.
      val parts = spark.sessionState.conf.numShufflePartitions
      val sorted = base
        .repartitionByRange(parts, col("x"), col("l_orderkey"),
          col("l_linenumber"))
        .sortWithinPartitions(col("x"), col("l_orderkey"),
          col("l_linenumber"))
      // per-partition ordinal WITHOUT the interpreted Row-conversion
      // mapPartitions: monotonically_increasing_id() is (partition id
      // << 33) | 0-based in-partition position, assigned in iterator
      // order — i.e. the sortWithinPartitions order — entirely inside
      // whole-stage codegen. Bit-split it back into (pid, rn).
      // persist: both the offset table and the final join read this —
      // without the cache the range shuffle + rank pass runs twice
      val local = sorted
        .withColumn("_mid", monotonically_increasing_id())
        .withColumn("pid", shiftright(col("_mid"), 33).cast("int"))
        .withColumn("rn",
          col("_mid").bitwiseAND(lit((1L << 33) - 1)) + lit(1L))
        .drop("_mid")
      graft.operators.CacheScope.scoped(local) // cache scoped to the action
      val counts = local.groupBy(col("pid")).agg(count(lit(1)).as("c"))
      val offs = counts.alias("a")
        .join(counts.alias("b"), col("b.pid") < col("a.pid"), "left")
        .groupBy(col("a.pid").as("pid"))
        .agg(coalesce(sum(col("b.c")), lit(0L)).as("off"))
      // grand total from the (already computed) per-partition counts —
      // never a second scan of the fact; coalesce preserves the old
      // count(*) empty-input semantics (0, not NULL — r11 ADVICE)
      val n = counts.agg(coalesce(sum(col("c")), lit(0L)).as("nn"))
      local.join(broadcast(offs), Seq("pid"))
        .crossJoin(broadcast(n))
        .withColumn("p", col("off") + col("rn") - 1)
        .withColumn("b", expr(
          """CAST(CASE WHEN nn DIV 10 = 0 THEN p + 1
            |  WHEN p < (nn DIV 10 + 1) * (nn % 10)
            |    THEN p DIV (nn DIV 10 + 1) + 1
            |  ELSE nn % 10
            |    + (p - (nn DIV 10 + 1) * (nn % 10)) DIV (nn DIV 10) + 1
            |END AS INT)""".stripMargin))
        .groupBy(col("b"))
        .agg(count(lit(1)).as("n"),
          min(col("x")).as("lo"), max(col("x")).as("hi"))
        .orderBy(col("b"))
    },

    // Trailing-window z-score anomaly gate: per user, flag values more
    // than 2.5 sample-stddevs from the trailing-20 mean (full frames
    // only). One window pass partitioned by user — state bounded per
    // key, scales with keys not rows.
    "q148_zscore_outliers" -> { (spark, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id")).rowsBetween(-19, 0)
      Tables(spark, dir).events
        .withColumn("mu", avg(col("value")).over(w))
        .withColumn("sd", stddev_samp(col("value")).over(w))
        .withColumn("cnt", count(lit(1)).over(w))
        .groupBy(col("user_id"))
        .agg(
          // sd > 0 guard: on an all-equal frame Spark's non-ANSI
          // division yields NULL (no anomaly) while DuckDB's IEEE
          // float division yields inf — guarding both sides pins one
          // cross-engine semantics (a zero-variance frame is never
          // anomalous)
          sum(when(col("cnt") === 20 && col("sd") > 0 &&
            abs((col("value") - col("mu")) / col("sd")) > 2.5, 1L)
            .otherwise(0L)).as("n_anomalies"),
          count(lit(1)).as("n"))
        .orderBy(col("user_id"))
    },

    // Out-of-vocabulary rate (quality signal): fraction of each doc's
    // tokens whose corpus frequency < 5. Token frequencies collapse
    // under map-side combine (Zipf skew lands on partial aggregation,
    // not the shuffle); the resulting vocab is broadcast so the
    // exploded token stream never shuffles.
    "q149_oov_rate" -> { (spark, dir) =>
      val toks = Tables(spark, dir).documents
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val rare = toks.groupBy(col("tok"))
        .agg(count(lit(1)).as("tf")).filter(col("tf") < 5)
        .select(col("tok"), lit(1).as("is_rare"))
      toks.join(broadcast(rare), Seq("tok"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"),
          sum(coalesce(col("is_rare"), lit(0))).as("n_oov"))
        .withColumn("oov_rate",
          round(col("n_oov").cast("double") / col("n_tok").cast("double"), 6))
        .orderBy(col("doc_id"))
    },

    // Sorted-neighborhood dedup blocking (Hernandez-Stolfo SNM): block
    // on an 8-char prefix, sort within each block, pair each doc with
    // its successor. Blocks are the partition key, so the quadratic
    // all-pairs never materializes — candidates are |docs| - |blocks|.
    "q150_blocked_pairs" -> { (spark, dir) =>
      val d = Tables(spark, dir).documents
        .select(col("doc_id"),
          substring(col("text"), 1, 8).as("blk"),
          substring(col("text"), 1, 24).as("sk"))
      val w = Window.partitionBy(col("blk"))
        .orderBy(col("sk"), col("doc_id"))
      d.withColumn("nbr_id", lead(col("doc_id"), 1).over(w))
        .withColumn("nbr_sk", lead(col("sk"), 1).over(w))
        .filter(col("nbr_id").isNotNull)
        .select(col("blk"), col("doc_id"), col("nbr_id"),
          when(col("sk") === col("nbr_sk"), 1).otherwise(0).as("same24"))
        .orderBy(col("blk"), col("doc_id"))
    },

    // Native session_window sessionization — Spark's built-in session
    // window (merge-while-overlapping) cross-checked against the
    // independent gap-break SQL derivation in the oracle (same
    // discipline as q47, different engine mechanism: this one is the
    // operator Structured Streaming uses for streaming sessions).
    "q151_session_window" -> { (spark, dir) =>
      Tables(spark, dir).events
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), col("sw.start").as("s_start"),
          col("sw.end").as("s_end"), col("n"))
        .orderBy(col("user_id"), col("s_start"))
    },

    // Keyed band (interval) join through the custom sweep exec
    // (plans/BandJoinExec): every purchase matched to the same user's
    // clicks in the preceding 30 minutes. The oracle is DuckDB's own
    // hash-join + filter plan of the identical theta join, so the
    // sweep's results are value-checked against an independent
    // algorithm.
    "q153_band_join" -> { (spark, dir) =>
      val e = Tables(spark, dir).events
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"), col("ts"))
      val clickWindows = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("c_id"),
          col("ts").as("lo"),
          (col("ts") + expr("INTERVAL 30 MINUTE")).as("hi"))
      graft.operators.ExtendedOps
        .bandJoin(purchases, clickWindows,
          Seq("user_id"), "ts", "lo", "hi")
        .select(col("user_id"), col("p_id"), col("c_id"))
        .orderBy(col("user_id"), col("p_id"), col("c_id"))
    },

    // Bigram PMI (collocation mining over the corpus): pointwise mutual
    // information of adjacent token pairs, top-50 by PMI among pairs
    // seen >= 5 times. Unigram and bigram counts collapse under
    // map-side combine; the unigram table is broadcast twice onto the
    // bigram aggregate (tiny vs the token stream), so only the counts
    // shuffle.
    "q154_bigram_pmi" -> { (spark, dir) =>
      val toks = Tables(spark, dir).documents
        .select(col("doc_id"), split(col("text"), " ").as("ts"))
      val total = toks.select(sum(size(col("ts"))).as("n_tok"))
      val uni = toks.select(explode(col("ts")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("uf"))
      val bi = toks.select(posexplode(col("ts")).as(Seq("i", "w1")),
          col("ts"))
        .filter(col("i") < size(col("ts")) - 1)
        .withColumn("w2", expr("ts[i + 1]"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("bf"))
        .filter(col("bf") >= 5)
      bi.join(broadcast(uni.withColumnRenamed("tok", "w1")
            .withColumnRenamed("uf", "uf1")), "w1")
        .join(broadcast(uni.withColumnRenamed("tok", "w2")
            .withColumnRenamed("uf", "uf2")), "w2")
        .crossJoin(broadcast(total))
        .withColumn("pmi", round(
          log(col("bf").cast("double") * col("n_tok").cast("double") /
            (col("uf1").cast("double") * col("uf2").cast("double"))), 6))
        .select(col("w1"), col("w2"), col("bf"), col("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(50)
    },

    // Lag-feature generation (feature engineering as a relational op):
    // per user, previous two values and the trailing-5 mean, the table
    // a downstream trainer consumes. One window pass per key;
    // passthrough doubles, no arithmetic except the frame mean.
    "q155_lag_features" -> { (spark, dir) =>
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables(spark, dir).events
        .withColumn("lag1", lag(col("value"), 1).over(byUser))
        .withColumn("lag2", lag(col("value"), 2).over(byUser))
        .withColumn("ma5", round(avg(col("value"))
          .over(byUser.rowsBetween(-4, 0)), 6))
        .select(col("user_id"), col("event_id"), col("value"),
          col("lag1"), col("lag2"), col("ma5"))
        .orderBy(col("user_id"), col("event_id"))
    },

    // Calendar-spine zero-fill: every (day, orderpriority) cell of
    // January 1996, including empty ones — the gap-free series a
    // forecaster needs. The spine is a generated literal cross join
    // (tiny, broadcast); the fact aggregates BEFORE joining, so the
    // outer join sees |days|x|priorities| vs |days|x|priorities| rows.
    // Seasonal-naive forecast backtest: per-type daily counts,
    // forecast(d) = actual(d - 7 days), scored by MAE over the days
    // where the lag exists. The whole query runs on the |types|x|days|
    // aggregate (one shuffle over the fact, then a self-join of a
    // ~150-row table); integer absolute errors sum exactly, so MAE is
    // float-order independent.
    // CUSUM change-point statistic per event type (Page 1954): over
    // the per-type daily count series, CUSUM_t = S_t - min(0,
    // min_{s<=t} S_s) where S is the running sum of deviations from
    // the series mean — the max-drawup formulation makes the
    // recursive max(0, ...) fold a pair of WINDOW functions, so the
    // whole detector is declarative: one shuffle to daily counts
    // (bounded |types| x |days|), windows over bounded partitions.
    "q229_cusum" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val daily = t.events
        .groupBy(col("event_type"), col("ts").cast("date").as("d"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
      val mu = Window.partitionBy(col("event_type"))
      val scored = daily
        .withColumn("mu", avg(col("n")).over(mu))
        .withColumn("s", sum(col("n") - col("mu")).over(w))
        .withColumn("cusum",
          col("s") - least(lit(0.0), min(col("s")).over(w)))
      scored.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          round(max(col("mu")), 6).as("mu"), // constant per type
          round(max(col("cusum")), 6).as("max_cusum"),
          round(max_by(col("cusum"), col("d")), 6).as("final_cusum"))
        .orderBy(col("event_type"))
    },

    "q226_forecast_baseline" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val daily = t.events
        .groupBy(col("event_type"), col("ts").cast("date").as("d"))
        .agg(count(lit(1)).as("n"))
      daily.as("a").join(daily.as("b"),
          col("a.event_type") === col("b.event_type") &&
          col("b.d") === date_sub(col("a.d"), 7))
        .select(col("a.event_type").as("event_type"),
          abs(col("a.n") - col("b.n")).as("abs_err"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          sum(col("abs_err")).cast("bigint").as("total_abs_err"),
          round(sum(col("abs_err")).cast("double") /
            count(lit(1)).cast("double"), 6).as("mae"))
        .orderBy(col("event_type"))
    },

    "q156_date_spine" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val days = spark.range(1).select(explode(expr(
        "sequence(DATE '1996-01-01', DATE '1996-01-31', INTERVAL 1 DAY)"))
        .as("d"))
      val prios = t.orders.select(col("o_orderpriority").as("prio"))
        .distinct()
      val spine = days.crossJoin(prios)
      val daily = t.orders
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1996-02-01"))
        .groupBy(col("o_orderdate").cast("date").as("d"),
          col("o_orderpriority").as("prio"))
        .agg(count(lit(1)).as("n"))
      spine.join(daily, Seq("d", "prio"), "left")
        .select(col("d"), col("prio"),
          coalesce(col("n"), lit(0L)).as("n"))
        .orderBy(col("d"), col("prio"))
    },

    // Rolling exact median over a trailing 5-row frame (robust local
    // level estimate; the windowed sibling of q136's robust stats).
    // Interpolated percentile over a bounded frame on both sides.
    "q158_rolling_median" -> { (spark, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id")).rowsBetween(-4, 0)
      Tables(spark, dir).events
        .withColumn("med5",
          round(expr("percentile(value, 0.5)").over(w), 6))
        .select(col("user_id"), col("event_id"), col("med5"))
        .orderBy(col("user_id"), col("event_id"))
    },

    // 2D skyline (Pareto frontier): parts where no other part is
    // cheaper-and-bigger. One pass: per-price max size, a running max
    // over strictly-cheaper prices, one broadcast join back — O(n log n)
    // instead of the quadratic NOT EXISTS, which is exactly what the
    // oracle runs (two independent algorithms must agree).
    "q159_skyline" -> { (spark, dir) =>
      val p = Tables(spark, dir).part
        .select(col("p_partkey"), col("p_retailprice").as("price"),
          col("p_size").as("sz"))
      val byPrice = p.groupBy(col("price"))
        .agg(max(col("sz")).as("pmax"))
      val wPrev = Window.orderBy(col("price"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val frontier = byPrice
        .withColumn("prevmax", max(col("pmax")).over(wPrev))
      p.join(broadcast(frontier), "price")
        .filter((col("prevmax").isNull || col("prevmax") < col("sz")) &&
          !(col("pmax") > col("sz")))
        .select(col("p_partkey"), col("price"), col("sz"))
        .orderBy(col("price"), col("p_partkey"))
    },

    // Share-of-total (RATIO_TO_REPORT): each nation's revenue share
    // within its region. Dimensions broadcast onto the fact, one
    // aggregation, then a 25-row window pass — the fact never shuffles
    // twice.
    "q160_share_of_total" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val rev = t.orders
        .join(broadcast(t.customer), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(col("o_totalprice").cast("decimal(38,6)")).as("dre"))
      val byRegion = Window.partitionBy(col("r_name"))
      rev
        .withColumn("rev", col("dre").cast("double"))
        .withColumn("share", round(
          col("dre").cast("double") /
            sum(col("dre")).over(byRegion).cast("double"), 6))
        .select(col("r_name"), col("n_name"), col("rev"), col("share"))
        .orderBy(col("r_name"), col("n_name"))
    },

    // Scalar (int8) quantization of the embedding corpus: per-dimension
    // min/max (a 64-row broadcast), codes = floor((x-lo)/(hi-lo)*255
    // + 0.5) — floor(+0.5) instead of round() because engines disagree
    // on round-half ties. Output is all-integer (count / saturated /
    // code sum) so the oracle is exact; the reconstruction-error bound
    // is spec-checked (EmbedQuantizeSpec). The explode stays inside the
    // scan partition; only the 64-row stats and the label agg shuffle.
    "q161_embed_quantize" -> { (spark, dir) =>
      val dims = Tables(spark, dir).embeddings
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("i", "xf")))
        .withColumn("x", col("xf").cast("double"))
      val stats = dims.groupBy(col("i"))
        .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      dims.join(broadcast(stats), "i")
        .withColumn("q",
          when(col("hi") === col("lo"), lit(0L)).otherwise(
            least(floor((col("x") - col("lo")) / (col("hi") - col("lo"))
              * 255.0 + 0.5), lit(255L))).cast("long"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_values"),
          sum(when(col("q") === 0L || col("q") === 255L, 1L)
            .otherwise(0L)).as("n_saturated"),
          sum(col("q")).as("code_sum"))
        .withColumn("mean_code",
          round(col("code_sum").cast("double") /
            col("n_values").cast("double"), 6))
        .orderBy(col("label"))
    },

    // Population stability index (train/serve drift detector): split
    // the corpus into reference (even doc_id) and current (odd) halves,
    // bucket n_chars into 10 equal-width bins over the global range
    // (broadcast 1-row min/max), Laplace-smooth the per-bin fractions,
    // psi = sum (pa-pb)*ln(pa/pb) per language. All counting until the
    // last step; one shuffle on (lang, bin).
    "q162_psi_drift" -> { (spark, dir) =>
      val d = Tables(spark, dir).documents
        .select(col("doc_id"), col("lang"),
          col("n_chars").cast("double").as("x"))
      val mm = d.agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      val binned = d.crossJoin(broadcast(mm))
        .withColumn("b", least(
          floor((col("x") - col("lo")) / ((col("hi") - col("lo")) / 10.0)),
          lit(9L)).cast("int"))
        .withColumn("side", (col("doc_id") % 2 === 0).cast("int"))
      val cells = binned.groupBy(col("lang"), col("b"))
        .agg(sum(col("side")).as("ca"),
          sum(lit(1) - col("side")).as("cb"))
      val totals = binned.groupBy(col("lang"))
        .agg(sum(col("side")).as("na"),
          sum(lit(1) - col("side")).as("nb"))
      cells.join(broadcast(totals), "lang")
        .withColumn("pa", (col("ca") + 1).cast("double") /
          (col("na") + 10).cast("double"))
        .withColumn("pb", (col("cb") + 1).cast("double") /
          (col("nb") + 10).cast("double"))
        .groupBy(col("lang"))
        .agg(round(sum((col("pa") - col("pb")) *
          log(col("pa") / col("pb"))), 6).as("psi"),
          count(lit(1)).as("n_bins"))
        .orderBy(col("lang"))
    },

    // PageRank (3 unrolled iterations) over the embedding near-dup
    // graph (q52's label-blocked cosine edges, symmetrized): rank
    // concentrates on documents with many near-duplicates — a
    // centrality-based curation signal. Determinism discipline as in
    // q39's k-means: per-edge contributions are exact DECIMAL(38,18)
    // sums, each round's rank is one rounded double — bit-identical
    // across engines regardless of aggregation order. Dangling-node
    // mass is dropped (documented simplification). Each round is one
    // shuffle on dst; the node list and count stay broadcast.
    "q163_pagerank" -> { (spark, dir) =>
      val e = Tables(spark, dir).embeddings
      val pairs = graft.operators.DedupOps
        .materializedCosinePairs(spark, dir, 4, 0.3)
        .select(col("vec_a").as("src"), col("vec_b").as("dst"))
      // persist the shared subtrees: the 3 unrolled rounds reference
      // edges/deg once each — without the cache the LSH-blocked
      // cosine self-join would re-run per round
      val edges = graft.operators.CacheScope.scoped(pairs.unionAll(
        pairs.select(col("dst").as("src"), col("src").as("dst"))))
      val deg = graft.operators.CacheScope.scoped(
        edges.groupBy(col("src")).agg(count(lit(1)).as("deg")))
      val nodes = e.select(col("vec_id"))
      val nDf = nodes.agg(count(lit(1)).cast("double").as("nn"))
      var r = nodes.crossJoin(broadcast(nDf))
        .select(col("vec_id"), (lit(1.0) / col("nn")).as("r"))
      for (_ <- 1 to 3) {
        val contrib = edges
          .join(r.withColumnRenamed("vec_id", "src"), "src")
          .join(deg, "src")
          .select(col("dst"),
            (col("r") / col("deg")).cast("decimal(38,18)").as("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("s"))
        r = nodes.crossJoin(broadcast(nDf))
          .join(contrib.withColumnRenamed("dst", "vec_id"),
            Seq("vec_id"), "left")
          .select(col("vec_id"), round(
            lit(0.15) / col("nn") + lit(0.85) *
              coalesce(col("s").cast("double"), lit(0.0)), 12).as("r"))
      }
      r.orderBy(col("r").desc, col("vec_id")).limit(20)
    },

    // HITS hubs & authorities (Kleinberg 1999) over the DIRECTED
    // near-dup graph (vec_a -> vec_b: the lower id endorses the
    // higher) — the mutual-reinforcement complement of q163's
    // PageRank. 2 rounds, L1-normalized each half-step. Same
    // determinism discipline as q163: contributions sum as exact
    // decimal(38,18) casts of ROUND-12 doubles, the normalizing
    // total is the exact decimal sum of those sums, each half-step
    // re-rounds to 12 — identical IEEE sequence to the unrolled-CTE
    // oracle. Scale shape: bounded LSH-blocked edge list (never
    // all-pairs), each half-step = one edge join + one aggregate,
    // state stays (node, score) pairs.
    "q324_hits" -> { (spark, dir) =>
      val e = Tables(spark, dir).embeddings
      val pairs = graft.operators.DedupOps
        .materializedCosinePairs(spark, dir, 4, 0.3)
        .select(col("vec_a").as("src"), col("vec_b").as("dst"))
      val edges = graft.operators.CacheScope.scoped(pairs)
      val nodes = e.select(col("vec_id"))
      val zero = lit(0).cast("decimal(38,18)")
      var hub = nodes.select(col("vec_id"), lit(1.0).as("h"))
      var auth = hub.select(col("vec_id"), lit(0.0).as("a"))
      for (_ <- 1 to 2) {
        // materialize each half-step's raw contribution sums with
        // lineage truncation: araw/hraw are each read TWICE (the
        // normalizing total + the score join), so unmaterialized the
        // previous half-steps' join+aggregate chains re-execute per
        // consumer — 2^half-steps recomputes by the last round (the
        // r11 plan dump printed ~4450 lines of unrolled lineage).
        // localCheckpoint computes each half-step once in its own
        // small job (r12 A/B: 3.7s -> 1.3s warm, TimeQ).
        val araw = edges
          .join(hub.withColumnRenamed("vec_id", "src"), "src")
          .select(col("dst"), col("h").cast("decimal(38,18)").as("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("s"))
          .localCheckpoint(true)
        val atot = araw.agg(sum(col("s")).as("tot"))
        auth = nodes.crossJoin(broadcast(atot))
          .join(araw.withColumnRenamed("dst", "vec_id"),
            Seq("vec_id"), "left")
          .select(col("vec_id"),
            round(coalesce(col("s"), zero).cast("double")
              / col("tot").cast("double"), 12).as("a"))
        val hraw = edges
          .join(auth.withColumnRenamed("vec_id", "dst"), "dst")
          .select(col("src"), col("a").cast("decimal(38,18)").as("c"))
          .groupBy(col("src")).agg(sum(col("c")).as("s"))
          .localCheckpoint(true)
        val htot = hraw.agg(sum(col("s")).as("tot"))
        hub = nodes.crossJoin(broadcast(htot))
          .join(hraw.withColumnRenamed("src", "vec_id"),
            Seq("vec_id"), "left")
          .select(col("vec_id"),
            round(coalesce(col("s"), zero).cast("double")
              / col("tot").cast("double"), 12).as("h"))
      }
      auth.join(hub, "vec_id")
        .select(col("vec_id"), col("a").as("authority"),
          col("h").as("hub"))
        .orderBy(col("authority").desc, col("vec_id")).limit(20)
    },

    // Label-propagation community detection (Raghavan et al. 2007)
    // over the embedding near-dup graph: labels init to node ids; each
    // of 3 synchronous rounds reassigns every node the MODE of its
    // neighbors' labels (ties → smaller label; isolated nodes keep
    // theirs). Deterministic by construction — the tie rule replaces
    // LPA's usual random tie-break — so the unrolled-CTE oracle
    // reproduces it exactly. Scale shape: same bounded LSH-blocked
    // edge list as q163 (never all-pairs), per-round cost = one edge
    // join + two aggregations, labels stay (node, label) pairs — no
    // per-node adjacency materialization, O(rounds) fixed passes.
    "q245_communities" -> { (spark, dir) =>
      val e = Tables(spark, dir).embeddings
      val pairs = graft.operators.DedupOps
        .materializedCosinePairs(spark, dir, 4, 0.3)
        .select(col("vec_a").as("src"), col("vec_b").as("dst"))
      val edges = graft.operators.CacheScope.scoped(pairs.unionAll(
        pairs.select(col("dst").as("src"), col("src").as("dst"))))
      val nodes = e.select(col("vec_id"))
      var lab = nodes.select(col("vec_id"), col("vec_id").as("lab"))
      for (_ <- 1 to 3) {
        val neigh = edges
          .join(lab.select(col("vec_id").as("dst"), col("lab").as("nlab")),
            "dst")
          .groupBy(col("src"), col("nlab"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("src"))
          .agg(min_by(col("nlab"), struct((-col("c")).as("nc"), col("nlab")))
            .as("mode"))
        // materialize the round's labels eagerly with lineage
        // truncation: lab is read twice per round (neigh + the
        // carry-forward join) — unmaterialized, the unrolled lineage
        // re-derives earlier rounds 2^round times. localCheckpoint
        // over the r11 scoped cache keeps the per-round optimizer
        // plan O(1) and computes each round in its own small job
        // instead of inside the final action's cache-fill DAG (the
        // q338 variance mechanism; r12 A/B 2.0s -> 1.2s warm).
        lab = lab
          .join(neigh.withColumnRenamed("src", "vec_id"),
            Seq("vec_id"), "left")
          .select(col("vec_id"), coalesce(col("mode"), col("lab")).as("lab"))
          .localCheckpoint(true)
      }
      lab.groupBy(col("lab"))
        .agg(count(lit(1)).as("n_members"), min(col("vec_id")).as("min_member"))
        .orderBy(col("lab"))
    },

    // k-core peeling profile (Seidman 1983, k=2): iteratively drop
    // nodes with degree < k among survivors; emit the alive count
    // after each of six synchronous rounds (round 0 = all nodes).
    // The profile exposes both the peel rate and convergence (equal
    // consecutive counts ==> THE k-core was reached; on the sparse
    // LSH graph the 2-core empties — itself a structural reading).
    // All arithmetic is integer degree counting; per round one
    // semi-join pair + one aggregate over the bounded LSH edge list.
    "q338_kcore" -> { (spark, dir) =>
      val e = Tables(spark, dir).embeddings
      val pairs = graft.operators.DedupOps
        .materializedCosinePairs(spark, dir, 4, 0.3)
        .select(col("vec_a").as("src"), col("vec_b").as("dst"))
      val edges = graft.operators.CacheScope.scoped(pairs.unionAll(
        pairs.select(col("dst").as("src"), col("src").as("dst"))))
      var alive = e.select(col("vec_id"))
      var profile = alive.agg(count(lit(1)).as("n_alive"))
        .select(lit(0).as("round"), col("n_alive"))
      for (i <- 1 to 6) {
        // materialize each round's survivor set EAGERLY and truncate
        // its lineage (round i is read by round i+1 twice and by its
        // own profile count — unmaterialized, the 7-way union
        // re-derives every earlier round per count, O(rounds^2)
        // joins). r11 used CacheScope here (9.3s -> 4.8s at sf0.1);
        // localCheckpoint goes further: the per-round plan the
        // optimizer carries stays O(1) instead of growing each round
        // (the r11 plan dump was ~4400 lines / 454 Exchanges of
        // printed lineage), and the round's rows are computed in
        // their own small job instead of racing the final union's
        // cache-materialization DAG — the measured source of the
        // r11 run-to-run variance (3.8-5.9s). r12 A/B (TimeQ, 3x2
        // passes): 5.4-16.3s scoped-cache -> 2.6-4.5s checkpointed.
        alive = edges
          .join(alive.select(col("vec_id").as("src")), "src")
          .join(alive.select(col("vec_id").as("dst")), "dst")
          .groupBy(col("src")).agg(count(lit(1)).as("deg"))
          .where(col("deg") >= 2).select(col("src").as("vec_id"))
          .localCheckpoint(true)
        profile = profile.unionAll(
          alive.agg(count(lit(1)).as("n_alive"))
            .select(lit(i).as("round"), col("n_alive")))
      }
      profile.orderBy(col("round"))
    },

    // Dedup threshold-sweep curve: pairs / affected-doc counts at
    // cosine thresholds 0.3..0.8 over ONE LSH candidate-pair scan —
    // the "choose your near-dup cutoff" planning table a curation
    // run consults before committing to a threshold. The 6-way
    // threshold fan-out rides the bounded pair list (never the
    // corpus); counts are exact integers, the affected rate one
    // division.
    "q349_dedup_thresholds" -> { (spark, dir) =>
      val e = Tables(spark, dir).embeddings
      val pairs = graft.operators.CacheScope.scoped(
        graft.operators.DedupOps.materializedCosinePairs(spark, dir, 4, 0.3)
          .select(col("vec_a"), col("vec_b"), col("cos")))
      val fan = pairs
        .select(col("vec_a"), col("vec_b"), col("cos"),
          explode(array(Seq(0.3, 0.4, 0.5, 0.6, 0.7, 0.8)
            .map(lit(_)): _*)).as("th"))
        .where(col("cos") >= col("th"))
      val stats = fan.groupBy(col("th"))
        .agg(count(lit(1)).as("n_pairs"))
      val docs = fan
        .select(col("th"),
          explode(array(col("vec_a"), col("vec_b"))).as("v"))
        .groupBy(col("th"))
        .agg(countDistinct(col("v")).as("n_docs"))
      val tot = e.agg(count(lit(1)).as("nt"))
      stats.join(docs, "th").crossJoin(broadcast(tot))
        .select(col("th"), col("n_pairs"), col("n_docs"),
          round(col("n_docs").cast("double")
            / col("nt").cast("double"), 6).as("affected_rate"))
        .orderBy(col("th"))
    },

    // Degree assortativity (Newman 2002) of the near-dup graph: the
    // Pearson correlation of endpoint degrees over all directed edge
    // orientations — do high-degree nodes attach to high-degree
    // nodes? ALL integer sums (degrees and their products over the
    // bounded edge list), one final division + sqrt.
    "q339_assortativity" -> { (spark, dir) =>
      val e = Tables(spark, dir).embeddings
      val pairs = graft.operators.DedupOps
        .materializedCosinePairs(spark, dir, 4, 0.3)
        .select(col("vec_a").as("src"), col("vec_b").as("dst"))
      val edges = graft.operators.CacheScope.scoped(pairs.unionAll(
        pairs.select(col("dst").as("src"), col("src").as("dst"))))
      val deg = edges.groupBy(col("src"))
        .agg(count(lit(1)).cast("decimal(38,0)").as("d"))
      edges
        .join(deg.select(col("src"), col("d").as("dx")), "src")
        .join(deg.select(col("src").as("dst"), col("d").as("dy")),
          "dst")
        .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
          sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
          sum(col("dx") * col("dx")).as("qx"),
          sum(col("dy") * col("dy")).as("qy"),
          sum(col("dx") * col("dy")).as("sxy"))
        .select(col("n").cast("bigint").as("n_arcs"),
          round((col("n") * col("sxy") - col("sx") * col("sy"))
            .cast("double")
            / sqrt(((col("n") * col("qx") - col("sx") * col("sx"))
              * (col("n") * col("qy") - col("sy") * col("sy")))
              .cast("double")), 6).as("assortativity"))
    },

    // Newman modularity of the q245 LPA communities: Q = sum over
    // communities of (e_c/m - (d_c/2m)^2) — how much denser inside
    // than a random degree-preserving rewiring. The SAME 3-round
    // deterministic LPA as q245 labels the nodes; e_c/d_c/m stay
    // EXACT integers; per-community terms are fixed double trees and
    // the grand Q folds in LABEL ORDER == the oracle's list_reduce.
    "q340_modularity" -> { (spark, dir) =>
      val e = Tables(spark, dir).embeddings
      val pairs = graft.operators.CacheScope.scoped(
        graft.operators.DedupOps.materializedCosinePairs(spark, dir, 4, 0.3)
          .select(col("vec_a").as("src"), col("vec_b").as("dst")))
      val edges = graft.operators.CacheScope.scoped(pairs.unionAll(
        pairs.select(col("dst").as("src"), col("src").as("dst"))))
      val nodes = e.select(col("vec_id"))
      var lab = nodes.select(col("vec_id"), col("vec_id").as("lab"))
      for (_ <- 1 to 3) {
        val neigh = edges
          .join(lab.select(col("vec_id").as("dst"),
            col("lab").as("nlab")), "dst")
          .groupBy(col("src"), col("nlab"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("src"))
          .agg(min_by(col("nlab"),
            struct((-col("c")).as("nc"), col("nlab"))).as("mode"))
        // same per-round materialization as q245 (localCheckpoint:
        // lineage-truncated, computed in its own job — see q245/q338)
        lab = lab
          .join(neigh.withColumnRenamed("src", "vec_id"),
            Seq("vec_id"), "left")
          .select(col("vec_id"),
            coalesce(col("mode"), col("lab")).as("lab"))
          .localCheckpoint(true)
      }
      // the final labels are read by dc AND ec — already materialized
      val labC = lab
      val mDf = pairs.agg(count(lit(1)).as("m"))
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
      val dc = labC
        .join(deg.withColumnRenamed("src", "vec_id"),
          Seq("vec_id"), "left")
        .groupBy(col("lab"))
        .agg(sum(coalesce(col("d"), lit(0L))).as("dc"),
          count(lit(1)).as("n_members"))
      val ec = pairs
        .join(labC.select(col("vec_id").as("src"),
          col("lab").as("la")), "src")
        .join(labC.select(col("vec_id").as("dst"),
          col("lab").as("lb")), "dst")
        .where(col("la") === col("lb"))
        .groupBy(col("la").as("lab")).agg(count(lit(1)).as("ec"))
      val terms = dc.join(ec, Seq("lab"), "left")
        .crossJoin(broadcast(mDf))
        .select(col("lab"), col("n_members"),
          coalesce(col("ec"), lit(0L)).as("ec"), col("dc"),
          (coalesce(col("ec"), lit(0L)).cast("double")
            / col("m").cast("double")
            - (col("dc").cast("double")
              / (lit(2) * col("m")).cast("double"))
              * (col("dc").cast("double")
                / (lit(2) * col("m")).cast("double"))).as("term"))
      val q = terms
        .agg(sort_array(collect_list(struct(col("lab"), col("term"))))
          .as("ts"))
        .select(expr(
          "aggregate(ts, CAST(0.0 AS DOUBLE), (a, e) -> a + e.term)")
          .as("q"))
      terms.crossJoin(broadcast(q))
        .select(col("lab"), col("n_members"), col("ec"), col("dc"),
          round(col("term"), 6).as("term"),
          round(col("q"), 6).as("modularity"))
        .orderBy(col("lab"))
    },

    // DBSCAN density clustering (Ester et al. 1996) over the embedding
    // corpus, relationally: the ε-neighborhood graph is the SAME
    // bounded LSH-blocked candidate pair list as q163/q245 (cos ≥ 0.3,
    // never all-pairs), degree ≥ minPts=3 marks core points, clusters
    // are connected components over CORE-CORE edges only (min-label
    // propagation, O(diameter) rounds), border points take the MIN
    // cluster among adjacent cores (DBSCAN leaves border assignment
    // order-dependent; min makes it deterministic), everything else is
    // noise. Per-node output with role + cluster. Scale shape: degree
    // is one hash aggregate on the edge list, core filtering is two
    // semi-joins, and nothing materializes per-node adjacency.
    "q251_dbscan" -> { (spark, dir) =>
      val e = Tables(spark, dir).embeddings
      val pairs = graft.operators.DedupOps
        .materializedCosinePairs(spark, dir, 4, 0.3)
        .select(col("vec_a"), col("vec_b"))
      // RAW persist here, CacheScope registration at the END of the
      // builder: connectedComponents runs internal barrier actions,
      // and an action-scoped cache would be DRAINED by the first of
      // them — unpersisting edges mid-build and recomputing the LSH
      // self-join for every later consumer (measured 6.4s -> 2.5s).
      val edges = pairs.unionAll(
        pairs.select(col("vec_b").as("vec_a"), col("vec_a").as("vec_b")))
        .persist()
      val deg = edges.groupBy(col("vec_a").as("vec_id"))
        .agg(count(lit(1)).as("deg"))
      val core = deg.where(col("deg") >= 3).select(col("vec_id")).persist()
      val coreEdges = edges
        .join(core.select(col("vec_id").as("vec_a")), "vec_a")
        .join(core.select(col("vec_id").as("vec_b")), "vec_b")
        .select(col("vec_a"), col("vec_b"))
      val comp = graft.operators.DedupOps
        .connectedComponents(coreEdges, "vec_a", "vec_b")
        .withColumnRenamed("node", "vec_id")
      // a core with no core neighbor is its own 1-core cluster
      val coreCl = core.join(comp, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("comp"), col("vec_id")).as("core_cl"))
      val borderCl = edges
        .join(core.select(col("vec_id").as("vec_a")), Seq("vec_a"),
          "left_anti")
        .join(coreCl.select(col("vec_id").as("vec_b"),
          col("core_cl").as("cl")), "vec_b")
        .groupBy(col("vec_a").as("vec_id"))
        .agg(min(col("cl")).as("border_cl"))
      val out = e.select(col("vec_id"))
        .join(deg, Seq("vec_id"), "left")
        .join(coreCl, Seq("vec_id"), "left")
        .join(borderCl, Seq("vec_id"), "left")
        .select(col("vec_id"), coalesce(col("deg"), lit(0L)).as("deg"),
          when(col("core_cl").isNotNull, lit("core"))
            .when(col("border_cl").isNotNull, lit("border"))
            .otherwise(lit("noise")).as("role"),
          coalesce(col("core_cl"), col("border_cl"), lit(-1L))
            .as("cluster"))
        .orderBy(col("vec_id"))
      // safe now — connectedComponents' internal actions are done;
      // the query's own consuming action frees both caches
      graft.operators.CacheScope.scoped(edges)
      graft.operators.CacheScope.scoped(core)
      out
    },

    // Federated three-format join (the reference's data-virtualization
    // pitch, external/objects/ExternalSource.scala): customers staged
    // as headered CSV, orders as JSONL, lineitem read from parquet —
    // one declarative plan over three source formats, revenue per
    // market segment. Format readers are just leaf scans to Catalyst:
    // the dimension (CSV) still broadcasts, pruning still applies.
    "q164_federated_join" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val csvPath = graft.sources.ExternalStage
        .materialize(dir, "csv_customer", t.customer) { (df, path) =>
          df.coalesce(1).write.mode("overwrite")
            .option("header", "true").csv(path)
        }
      val jsonPath = graft.sources.ExternalStage
        .materialize(dir, "json_orders_full", t.orders) { (df, path) =>
          df.coalesce(1).write.mode("overwrite").json(path)
        }
      val customers = spark.read.option("header", "true")
        .schema(t.customer.schema).csv(csvPath)
      val orders = spark.read.schema(t.orders.schema).json(jsonPath)
      orders
        .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(customers), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_lines"),
          (sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(38,6)")).cast("double")).as("revenue"))
        .orderBy(col("c_mktsegment"))
    },

    // Length-curriculum bins: per language, quartiles by document
    // length (the standard length-based curriculum schedule), with
    // exact-decimal mean chars per bin. One window pass per language
    // partition + one aggregate.
    "q165_quality_bins" -> { (spark, dir) =>
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n_chars"), col("doc_id"))
      Tables(spark, dir).documents
        .withColumn("bin", ntile(4).over(w))
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n"),
          min(col("n_chars")).as("lo"),
          max(col("n_chars")).as("hi"),
          (sum(col("n_chars").cast("decimal(38,6)")).cast("double") /
            count(lit(1)).cast("double")).as("mean_chars"))
        .orderBy(col("lang"), col("bin"))
    },

    // Survivorship policy over near-dup clusters: connected components
    // of the embedding cosine graph (q99's operator), keep the
    // max-L2-norm vector per cluster (near-zero embeddings are junk),
    // report keeper + cluster size. The end-to-end shape a curation
    // pipeline actually ships: graph -> policy -> survivors.
    "q166_survivorship" -> { (spark, dir) =>
      val e = Tables(spark, dir).embeddings
      val pairs = graft.operators.DedupOps
        .materializedCosinePairs(spark, dir, 4, 0.3)
        .select(col("vec_a"), col("vec_b"))
      val comps = graft.operators.DedupOps
        .connectedComponents(pairs, "vec_a", "vec_b")
      // norm via the same sequential array fold the oracle runs
      val withNorm = e
        .join(comps, e("vec_id") === comps("node"))
        .select(col("comp"), col("vec_id"),
          expr("aggregate(embedding, 0D, (acc, v) -> " +
            "acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))").as("norm2"))
      val byComp = Window.partitionBy(col("comp"))
        .orderBy(col("norm2").desc, col("vec_id"))
      withNorm
        .withColumn("rk", row_number().over(byComp))
        .groupBy(col("comp"))
        .agg(count(lit(1)).as("cluster_n"),
          max(when(col("rk") === 1, col("vec_id"))).as("keeper"),
          round(max(when(col("rk") === 1, col("norm2"))), 6)
            .as("keeper_norm2"))
        .orderBy(col("comp"))
    },

    // Rolling 7-day distinct active users per day — the classic
    // trailing-window DAU/WAU metric. Distinct counts don't compose
    // across days, so each day's trailing window re-scans its events:
    // expressed as the bucket-expansion RANGE JOIN (q108's operator,
    // width = 1 day) of event epochs against per-day [d-7d, d)
    // windows, then one count-distinct per day. Shuffle cost
    // |events| * 7/width-days, never |events| * |days|.
    "q167_rolling_dau" -> { (spark, dir) =>
      val events = Tables(spark, dir).events
        .select(col("user_id"),
          unix_timestamp(col("ts")).cast("double").as("pe"))
      val days = spark.range(1).select(explode(expr(
        "sequence(DATE '2024-01-08', DATE '2024-01-31', INTERVAL 1 DAY)"))
        .as("d"))
        .withColumn("hi", unix_timestamp(col("d")).cast("double"))
        .withColumn("lo", col("hi") - lit(7.0 * 86400))
      graft.operators.ExtendedOps
        .rangeJoin(events, days, "pe", "lo", "hi", 86400.0)
        .groupBy(col("d"))
        .agg(countDistinct(col("user_id")).as("dau7"))
        .orderBy(col("d"))
    },

    // q167's SKETCH TWIN — the 100-TB rolling-distinct path: daily
    // theta sketches persist once (one scan), and every 7-day rollup
    // MERGES the bounded sketch column (graft_theta_merge, the
    // sketch-warehouse re-aggregation pattern) instead of re-touching
    // the raw (user, day) rows per window. Verdict discipline: the
    // k=4096 sketch never caps at these cardinalities, so the merged
    // rollup must EQUAL the exact rolling distinct (equality, not
    // tolerance); the k=512 sketch genuinely evicts at sf0.1 and
    // stays inside the analytic bound.
    "q370_theta_rolling" -> { (spark, dir) =>
      // scoped: the (day, user) projection feeds both the daily
      // sketches and the exact rolling-distinct side
      val ev = graft.operators.CacheScope.scoped(
        Tables(spark, dir).events
          .select(to_date(col("ts")).as("day"), col("user_id")))
      val daily = ev.groupBy(col("day"))
        .agg(expr("graft_theta(user_id, 4096)").as("sk"),
          expr("graft_theta(user_id, 512)").as("sk_small"))
      val spine = spark.range(1).select(explode(expr(
        "sequence(DATE '2024-01-07', DATE '2024-01-30', INTERVAL 1 DAY)"))
        .as("d"))
      val win = spine.join(daily,
          col("day").between(date_sub(col("d"), 6), col("d")))
        .groupBy(col("d"))
        .agg(expr("graft_theta_merge(sk)").as("sk7"),
          expr("graft_theta_merge(sk_small)").as("sk7_small"))
      val exact = spine.join(ev.distinct(),
          col("day").between(date_sub(col("d"), 6), col("d")))
        .groupBy(col("d"))
        .agg(countDistinct(col("user_id")).as("exact_dau7"))
      exact.join(win, Seq("d"))
        .select(col("d"), col("exact_dau7"),
          (round(expr("graft_theta_estimate(sk7)")) ===
            col("exact_dau7")).as("uncapped_rollup_is_exact"),
          (abs(expr("graft_theta_estimate(sk7_small)") -
              col("exact_dau7")) /
            col("exact_dau7") <= 0.15).as("est_within_15pct"))
        .orderBy(col("d"))
    },

    // Error-burst detection: per user, maximal runs of consecutive
    // 'error' events with inter-event gaps <= 1 hour, keep bursts of
    // 2+. A break starts at any non-error or any >1h gap; cumulative
    // break count labels runs — one window pass per user, the
    // ops-monitoring sibling of the MATCH quantifier queries.
    "q168_error_bursts" -> { (spark, dir) =>
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val runs = Window.partitionBy(col("user_id"), col("run_id"))
      Tables(spark, dir).events
        .withColumn("is_err", (col("event_type") === "error").cast("int"))
        .withColumn("prev_err", lag(col("is_err"), 1, 0).over(byUser))
        .withColumn("gap_s",
          unix_timestamp(col("ts")) -
            unix_timestamp(lag(col("ts"), 1).over(byUser)))
        .withColumn("brk",
          when(col("is_err") === 1 && col("prev_err") === 1 &&
            col("gap_s") <= 3600, 0).otherwise(1))
        .withColumn("run_id", sum(col("brk")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .filter(col("is_err") === 1)
        .withColumn("burst_len", count(lit(1)).over(runs))
        .filter(col("burst_len") >= 2)
        .groupBy(col("user_id"), col("run_id"))
        .agg(min(col("ts")).as("burst_start"),
          max(col("ts")).as("burst_end"),
          count(lit(1)).as("n_errors"))
        .select(col("user_id"), col("burst_start"), col("burst_end"),
          col("n_errors"))
        .orderBy(col("user_id"), col("burst_start"))
    },

    // Sessionized conversion rate per day: sessions that contain a
    // purchase over total sessions, keyed by session start date.
    // Reuses the native session_window operator (q151), then one
    // aggregate — the end-to-end funnel KPI over sessions.
    "q169_session_conversion" -> { (spark, dir) =>
      Tables(spark, dir).events
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("sw"))
        .agg(max((col("event_type") === "purchase").cast("int"))
          .as("converted"))
        .groupBy(col("sw.start").cast("date").as("d"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("converted")).as("n_converted"),
          round(sum(col("converted")).cast("double") /
            count(lit(1)).cast("double"), 6).as("conv_rate"))
        .orderBy(col("d"))
    },

    // Quantile normalization (rank-based feature scaling): map each
    // document's length to its within-source percentile so sources
    // with different length distributions become comparable — the
    // standard preprocessing step before mixing corpora. One window
    // pass per source partition.
    "q170_quantile_norm" -> { (spark, dir) =>
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n_chars"), col("doc_id"))
      Tables(spark, dir).documents
        .withColumn("qn", round(percent_rank().over(w), 6))
        .select(col("doc_id"), col("source"), col("n_chars"), col("qn"))
        .orderBy(col("doc_id"))
    },

    // Group-wise OLS with residual outlier counts: fit
    // price ~ quantity per linestatus from exact decimal moment sums
    // (sum x, y, xy, x2 — order-immune), then count residuals beyond
    // 2 RMSE. Two passes over the fact, model broadcast back — the
    // relational form of "fit + score" (reference CLASSIFIED/
    // analytics-as-ops discipline).
    "q171_ols_residuals" -> { (spark, dir) =>
      val li = Tables(spark, dir).lineitem.select(
        col("l_linestatus").as("ls"),
        col("l_quantity").as("x"), col("l_extendedprice").as("y"))
      def dsum(c: org.apache.spark.sql.Column) =
        sum(c.cast("decimal(38,6)")).cast("double")
      val m = li.groupBy(col("ls")).agg(
        count(lit(1)).cast("double").as("n"),
        dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
        dsum(col("x") * col("y")).as("sxy"),
        dsum(col("x") * col("x")).as("sx2"))
        .withColumn("slope",
          (col("sxy") - col("sx") * col("sy") / col("n")) /
            (col("sx2") - col("sx") * col("sx") / col("n")))
        .withColumn("icept",
          col("sy") / col("n") - col("slope") * col("sx") / col("n"))
      // scored is read by the rmse pass AND the final outlier count;
      // deliberately NOT cached (measured this round: persisting the
      // fact-scale residual frame cost 2.4s -> 3.8s at sf0.1 — the
      // memory-store build outweighs one extra codegen'd scan+join)
      val scored = li.join(broadcast(m), "ls")
        .withColumn("resid",
          col("y") - (col("icept") + col("slope") * col("x")))
      val rmse = scored.groupBy(col("ls"), col("slope"), col("icept"))
        .agg(sqrt(dsum(col("resid") * col("resid")) /
          count(lit(1)).cast("double")).as("rmse"))
      scored.join(broadcast(rmse.select(col("ls"), col("rmse"))), "ls")
        .groupBy(col("ls"))
        .agg(count(lit(1)).as("n"),
          round(max(col("slope")), 6).as("slope"),
          round(max(col("icept")), 6).as("icept"),
          round(max(col("rmse")), 6).as("rmse"),
          sum(when(abs(col("resid")) > lit(2.0) * col("rmse"), 1L)
            .otherwise(0L)).as("n_outliers"))
        .orderBy(col("ls"))
    },

    // Welch's t-test: does mean document length differ between two
    // sources? Exact decimal moment sums -> means/variances -> the t
    // statistic and Welch-Satterthwaite dof, identical scalar IEEE
    // arithmetic on both engines.
    "q172_welch_t" -> { (spark, dir) =>
      val d = Tables(spark, dir).documents
        .select(col("source"), col("n_chars").cast("double").as("x"))
      def dsum(c: org.apache.spark.sql.Column) =
        sum(c.cast("decimal(38,6)")).cast("double")
      val m = d.groupBy(col("source")).agg(
        count(lit(1)).cast("double").as("n"),
        dsum(col("x")).as("sx"), dsum(col("x") * col("x")).as("sx2"))
        .withColumn("mean", col("sx") / col("n"))
        .withColumn("v",
          (col("sx2") - col("sx") * col("sx") / col("n")) /
            (col("n") - 1.0))
        .select(col("source"), col("n"), col("mean"), col("v"))
      val a = m.select(col("source").as("src_a"), col("n").as("na"),
        col("mean").as("ma"), col("v").as("va"))
      val b = m.select(col("source").as("src_b"), col("n").as("nb"),
        col("mean").as("mb"), col("v").as("vb"))
      a.join(b, col("src_a") < col("src_b"))
        .withColumn("sea", col("va") / col("na"))
        .withColumn("seb", col("vb") / col("nb"))
        .withColumn("t", round(
          (col("ma") - col("mb")) / sqrt(col("sea") + col("seb")), 6))
        .withColumn("dof", round(
          (col("sea") + col("seb")) * (col("sea") + col("seb")) /
            (col("sea") * col("sea") / (col("na") - 1.0) +
              col("seb") * col("seb") / (col("nb") - 1.0)), 6))
        .select(col("src_a"), col("src_b"), col("t"), col("dof"))
        .orderBy(col("src_a"), col("src_b"))
    },

    // Benford first-digit deviation of order totals: observed
    // first-digit fractions vs log10(1 + 1/d), max absolute deviation
    // per digit — the classic synthetic-data / fraud smoke test.
    "q173_benford" -> { (spark, dir) =>
      // digit via floor -> BIGINT -> string: integer formatting is
      // identical across engines, double formatting is not (scientific
      // notation thresholds differ)
      val d = Tables(spark, dir).orders
        .filter(col("o_totalprice") >= 1)
        .withColumn("digit",
          substring(floor(col("o_totalprice")).cast("long").cast("string"),
            1, 1).cast("int"))
      val n = d.agg(count(lit(1)).as("nt"))
      d.groupBy(col("digit")).agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(n))
        .withColumn("observed",
          round(col("cnt").cast("double") / col("nt").cast("double"), 6))
        .withColumn("expected",
          round(log(10.0, lit(1.0) +
            lit(1.0) / col("digit").cast("double")), 6))
        .withColumn("abs_dev",
          round(abs(col("observed") - col("expected")), 6))
        .select(col("digit"), col("cnt"), col("observed"),
          col("expected"), col("abs_dev"))
        .orderBy(col("digit"))
    },

    // Cumulative unique users by day (the growth curve): distinct
    // counts don't window, but first-seen dates do — one groupBy(user)
    // for first-seen, then a running sum over the daily new-user
    // counts joined onto the day spine. Never re-scans the event log
    // per day (contrast q167's trailing window, which must).
    "q174_cumulative_users" -> { (spark, dir) =>
      val firsts = Tables(spark, dir).events
        .groupBy(col("user_id"))
        .agg(min(col("ts")).cast("date").as("d0"))
        .groupBy(col("d0")).agg(count(lit(1)).as("new_users"))
      val days = spark.range(1).select(explode(expr(
        "sequence(DATE '2024-01-01', DATE '2024-01-31', INTERVAL 1 DAY)"))
        .as("d"))
      val w = Window.orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      days.join(broadcast(firsts), col("d0") === col("d"), "left")
        .select(col("d"), coalesce(col("new_users"), lit(0L)).as("nu"))
        .withColumn("cum_users", sum(col("nu")).over(w))
        .select(col("d"), col("nu").as("new_users"), col("cum_users"))
        .orderBy(col("d"))
    },

    // Unigram LM surprisal per document (the KenLM-style quality
    // signal, unigram order): corpus token probabilities, then each
    // doc's mean negative log-likelihood. The per-doc sum is an
    // ORDERED fold over token position (Spark aggregate() == DuckDB
    // list_reduce over LIST(... ORDER BY pos) — identical fp order,
    // bit-identical doubles, the q75/EWMA discipline). Frequencies
    // broadcast; the token stream never shuffles except the final
    // per-doc collect.
    "q175_unigram_surprisal" -> { (spark, dir) =>
      val toks = Tables(spark, dir).documents
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      val tf = toks.groupBy(col("tok")).agg(count(lit(1)).as("tf"))
      val total = toks.agg(count(lit(1)).as("nt"))
      toks.join(broadcast(tf), "tok")
        .crossJoin(broadcast(total))
        .withColumn("lnp",
          -log(col("tf").cast("double") / col("nt").cast("double")))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"),
          expr("""aggregate(
            transform(array_sort(collect_list(struct(pos, lnp))),
              p -> p.lnp),
            0D, (a, x) -> a + x)""").as("nll_sum"))
        .select(col("doc_id"), col("n_tok"),
          round(col("nll_sum") / col("n_tok").cast("double"), 6)
            .as("avg_nll"))
        .orderBy(col("doc_id"))
    },

    // k-nearest-neighbors classification (k=5, cosine) through the IVF
    // index (q101's machinery): train vectors go to their 1 nearest of
    // 16 fixed coarse lists, each test vector probes its nprobe=2
    // nearest lists, and the 5 most-similar in-list train vectors
    // majority-vote their labels (ties: higher count, then lower
    // label). Both per-vector funnels are graft_topk_by aggregates —
    // k rows of state per key, map-side combined. Neither fold is ever
    // broadcast or crossJoined: the candidate set per test vector is
    // |corpus| * nprobe / nlist, and nlist scales as ~sqrt(N) in
    // production, so the join on the list id stays distributed.
    // Completes the classifier family (nearest-centroid q40, naive
    // Bayes q126, kNN here).
    "q179_knn_classify" -> { (spark, dir) =>
      val e = Tables(spark, dir).embeddings
      val cents = e.where(col("vec_id") < 16)
        .select(col("vec_id").cast("int").as("c_id"),
          transform(col("embedding"), v => v.cast("double")).as("centroid"))
      val lists = e.where(col("vec_id") % 5 =!= 0)
        .crossJoin(broadcast(cents))
        .withColumn("d2", expr("graft_dist_sq(centroid, embedding)"))
        .groupBy(col("vec_id"))
        .agg(min_by(struct(col("c_id"), col("embedding"), col("label")),
          struct(col("d2"), col("c_id"))).as("_b"))
        .select(col("_b.c_id").as("c_id"), col("vec_id").as("t_id"),
          col("_b.embedding").as("te"), col("_b.label").as("tl"))
      val probes = e.where(col("vec_id") % 5 === 0)
        .crossJoin(broadcast(cents))
        .withColumn("d2", expr("graft_dist_sq(centroid, embedding)"))
        .groupBy(col("vec_id"), col("embedding"), col("label"))
        .agg(expr("graft_topk_by(-d2, c_id, c_id, 2)").as("top"))
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
          col("label").as("actual"), explode(col("top.tie")).as("c_id_l"))
        .select(col("c_id_l").cast("int").as("c_id"), col("q_id"),
          col("qe"), col("actual"))
      val votes = lists.join(probes, Seq("c_id"))
        .withColumn("cos", expr("graft_cosine(te, qe)"))
        .groupBy(col("q_id"), col("actual"))
        .agg(expr("graft_topk_by(cos, t_id, tl, 5)").as("top"))
        .select(col("q_id"), col("actual"), explode(col("top")).as("e"))
        .groupBy(col("q_id"), col("actual"), col("e.payload").as("tl"))
        .agg(count(lit(1)).as("votes"))
      votes.groupBy(col("q_id"), col("actual"))
        .agg(min_by(col("tl"),
          struct((-col("votes")).as("nv"), col("tl"))).as("predicted"))
        .select(col("q_id"), col("actual"), col("predicted"),
          (col("actual") === col("predicted")).as("correct"))
        .orderBy(col("q_id"))
    },

    // Time-to-convert distribution: minutes from each user's first
    // view to their first purchase at-or-after it, summarized by
    // discrete quartiles. Latencies are exact integer minutes
    // (truncated epoch-second difference), so the whole summary is
    // value-exact across engines.
    "q180_time_to_convert" -> { (spark, dir) =>
      val e = Tables(spark, dir).events
        .select(col("user_id"), col("event_type"), col("ts"))
      val v = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t0"))
      val p = e.filter(col("event_type") === "purchase")
        .join(v, "user_id").filter(col("ts") >= col("t0"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      p.join(v, "user_id")
        .select(expr(
          "CAST((unix_timestamp(t1) - unix_timestamp(t0)) DIV 60" +
            " AS DOUBLE)").as("mins"))
        .agg(count(lit(1)).as("n_converted"),
          expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY mins)")
            .as("p25_mins"),
          expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY mins)")
            .as("p50_mins"),
          expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY mins)")
            .as("p75_mins"),
          max(col("mins")).as("max_mins"))
    },

    // Winsorized mean: clip at the per-group 5th/95th discrete
    // percentiles (values actually present), then the §5 exact-decimal
    // mean. The 5-row percentile table is broadcast onto the fact.
    "q152_winsorize" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val li = t.lineitem.select(
        col("l_returnflag").as("rf"), col("l_extendedprice").as("x"))
      // exact discrete percentiles via the two-level bucketed
      // selection (operators/QuantileOps): the fact is touched by ONE
      // parallel histogram aggregate; every serial cumulation after
      // that is value-domain- or bucket-bounded — percentile_disc
      // (or a row-level window) would funnel the whole fact through
      // 3 serial group cumulations. Same standard-SQL smallest-value-
      // with-cume_dist>=p selection on the same integer counts, so
      // picks are identical.
      val p = graft.operators.QuantileOps.percentileDisc(
        li, "rf", "x", Seq(("lo", 0.05), ("hi", 0.95)))
      li.join(broadcast(p), "rf")
        .withColumn("cx", least(greatest(col("x"), col("lo")), col("hi")))
        .groupBy(col("rf"), col("lo"), col("hi"))
        .agg(
          (sum(col("cx").cast("decimal(38,6)")).cast("double") /
            count(lit(1)).cast("double")).as("wmean"),
          count(lit(1)).as("n"))
        .orderBy(col("rf"))
    })

  def oracle: Map[String, String] = Map(
    "q229_cusum" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |based AS (SELECT event_type, d, n,
        |    AVG(n) OVER (PARTITION BY event_type) AS mu
        |  FROM daily),
        |scored AS (SELECT event_type, d, mu,
        |    SUM(n - mu) OVER (PARTITION BY event_type ORDER BY d
        |      ROWS UNBOUNDED PRECEDING) AS s
        |  FROM based),
        |cus AS (SELECT event_type, d, mu,
        |    s - LEAST(0.0, MIN(s) OVER (PARTITION BY event_type
        |      ORDER BY d ROWS UNBOUNDED PRECEDING)) AS cusum
        |  FROM scored)
        |SELECT event_type, COUNT(*) AS n_days,
        |  ROUND(MAX(mu), 6) AS mu,
        |  ROUND(MAX(cusum), 6) AS max_cusum,
        |  ROUND(MAX_BY(cusum, d), 6) AS final_cusum
        |FROM cus GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q226_forecast_baseline" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT a.event_type, COUNT(*) AS n_days,
        |  CAST(SUM(ABS(a.n - b.n)) AS BIGINT) AS total_abs_err,
        |  ROUND(CAST(SUM(ABS(a.n - b.n)) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS mae
        |FROM daily a JOIN daily b
        |  ON a.event_type = b.event_type AND b.d = a.d - 7
        |GROUP BY a.event_type ORDER BY a.event_type""".stripMargin,
    "q145_funnel" ->
      """WITH v AS (
        |  SELECT user_id, MIN(ts) AS t0 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, MIN(e.ts) AS t1
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts >= v.t0
        |  GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, MIN(e.ts) AS t2
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= c.t1
        |  GROUP BY e.user_id)
        |SELECT '1_view' AS stage, COUNT(*) AS users FROM v
        |UNION ALL SELECT '2_click', COUNT(*) FROM c
        |UNION ALL SELECT '3_purchase', COUNT(*) FROM p
        |ORDER BY stage""".stripMargin,

    "q146_cohort_retention" ->
      """WITH f AS (
        |  SELECT user_id, MIN(ts) AS t0 FROM events GROUP BY user_id)
        |SELECT date_trunc('week', f.t0) AS cohort,
        |  CAST(datediff('day', CAST(date_trunc('week', f.t0) AS DATE),
        |    CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS INT) AS wk,
        |  COUNT(DISTINCT e.user_id) AS users
        |FROM events e JOIN f ON e.user_id = f.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q147_equidepth_hist" ->
      """WITH b AS (
        |  SELECT l_extendedprice AS x,
        |    NTILE(10) OVER (ORDER BY l_extendedprice, l_orderkey,
        |      l_linenumber) AS b
        |  FROM lineitem)
        |SELECT b, COUNT(*) AS n, MIN(x) AS lo, MAX(x) AS hi
        |FROM b GROUP BY b ORDER BY b""".stripMargin,

    "q148_zscore_outliers" ->
      """WITH z AS (
        |  SELECT user_id, value,
        |    AVG(value) OVER w AS mu,
        |    STDDEV_SAMP(value) OVER w AS sd,
        |    COUNT(*) OVER w AS cnt
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
        |SELECT user_id,
        |  CAST(SUM(CASE WHEN cnt = 20 AND sd > 0
        |    AND ABS((value - mu) / sd) > 2.5 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_anomalies,
        |  COUNT(*) AS n
        |FROM z GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q149_oov_rate" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |tf AS (
        |  SELECT tok, COUNT(*) AS tf FROM toks GROUP BY tok)
        |SELECT t.doc_id, COUNT(*) AS n_tok,
        |  CAST(SUM(CASE WHEN tf.tf < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_oov,
        |  ROUND(CAST(SUM(CASE WHEN tf.tf < 5 THEN 1 ELSE 0 END)
        |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS oov_rate
        |FROM toks t JOIN tf ON t.tok = tf.tok
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,

    "q150_blocked_pairs" ->
      """WITH d AS (
        |  SELECT doc_id, SUBSTRING(text, 1, 8) AS blk,
        |    SUBSTRING(text, 1, 24) AS sk
        |  FROM documents),
        |p AS (
        |  SELECT blk, doc_id, sk,
        |    LEAD(doc_id, 1) OVER w AS nbr_id,
        |    LEAD(sk, 1) OVER w AS nbr_sk
        |  FROM d WINDOW w AS (PARTITION BY blk ORDER BY sk, doc_id))
        |SELECT blk, doc_id, nbr_id,
        |  CASE WHEN sk = nbr_sk THEN 1 ELSE 0 END AS same24
        |FROM p WHERE nbr_id IS NOT NULL
        |ORDER BY blk, doc_id""".stripMargin,

    "q151_session_window" ->
      """WITH g AS (
        |  SELECT user_id, ts,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |      OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
        |      THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g)
        |SELECT user_id, MIN(ts) AS s_start,
        |  MAX(ts) + INTERVAL 30 MINUTE AS s_end, COUNT(*) AS n
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, s_start""".stripMargin,

    "q180_time_to_convert" ->
      """WITH v AS (
        |  SELECT user_id, MIN(ts) AS t0 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |p AS (
        |  SELECT e.user_id, MIN(e.ts) AS t1
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= v.t0
        |  GROUP BY e.user_id),
        |lat AS (
        |  SELECT CAST((CAST(epoch(date_trunc('second', t1)) AS BIGINT) -
        |    CAST(epoch(date_trunc('second', t0)) AS BIGINT)) // 60
        |    AS DOUBLE) AS mins
        |  FROM p JOIN v ON p.user_id = v.user_id)
        |SELECT COUNT(*) AS n_converted,
        |  percentile_disc(0.25) WITHIN GROUP (ORDER BY mins)
        |    AS p25_mins,
        |  percentile_disc(0.50) WITHIN GROUP (ORDER BY mins)
        |    AS p50_mins,
        |  percentile_disc(0.75) WITHIN GROUP (ORDER BY mins)
        |    AS p75_mins,
        |  MAX(mins) AS max_mins
        |FROM lat""".stripMargin,

    "q179_knn_classify" ->
      """WITH cents AS (SELECT CAST(vec_id AS INT) AS c_id,
        |    list_transform(embedding, v -> CAST(v AS DOUBLE)) AS centroid
        |  FROM embeddings WHERE vec_id < 16),
        |tr AS (SELECT e.vec_id AS t_id, e.embedding AS te,
        |    e.label AS tl, c.c_id,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_sum(list_transform(list_zip(c.centroid,
        |        e.embedding),
        |        x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |           * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))),
        |        c.c_id) AS ark
        |  FROM embeddings e CROSS JOIN cents c WHERE e.vec_id % 5 <> 0),
        |lists AS (SELECT c_id, t_id, te, tl FROM tr WHERE ark = 1),
        |pr AS (SELECT e.vec_id AS q_id, e.embedding AS qe,
        |    e.label AS actual, c.c_id,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_sum(list_transform(list_zip(c.centroid,
        |        e.embedding),
        |        x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |           * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))),
        |        c.c_id) AS ark
        |  FROM embeddings e CROSS JOIN cents c WHERE e.vec_id % 5 = 0),
        |probes AS (SELECT q_id, qe, actual, c_id FROM pr WHERE ark <= 2),
        |scored AS (SELECT p.q_id, p.actual, l.t_id, l.tl,
        |    list_sum(list_transform(list_zip(l.te, p.qe),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |    / (SQRT(list_sum(list_transform(l.te,
        |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
        |      * SQRT(list_sum(list_transform(p.qe,
        |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cos
        |  FROM lists l JOIN probes p USING (c_id)),
        |top5 AS (
        |  SELECT q_id, actual, tl FROM (
        |    SELECT q_id, actual, tl,
        |      ROW_NUMBER() OVER (PARTITION BY q_id
        |        ORDER BY cos DESC, t_id) AS rn
        |    FROM scored) s WHERE rn <= 5),
        |votes AS (
        |  SELECT q_id, actual, tl, COUNT(*) AS votes
        |  FROM top5 GROUP BY 1, 2, 3)
        |SELECT q_id, actual, tl AS predicted, actual = tl AS correct
        |FROM (
        |  SELECT q_id, actual, tl,
        |    ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY votes DESC, tl) AS vr
        |  FROM votes) v
        |WHERE vr = 1 ORDER BY q_id""".stripMargin,

    "q175_unigram_surprisal" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(generate_series(1, len(string_split(text, ' '))))
        |      AS pos,
        |    unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |tf AS (SELECT tok, COUNT(*) AS tf FROM toks GROUP BY tok),
        |tot AS (SELECT COUNT(*) AS nt FROM toks),
        |scored AS (
        |  SELECT doc_id, pos,
        |    -LN(CAST(tf.tf AS DOUBLE) / CAST(nt AS DOUBLE)) AS lnp
        |  FROM toks JOIN tf ON toks.tok = tf.tok CROSS JOIN tot)
        |SELECT doc_id, COUNT(*) AS n_tok,
        |  ROUND(list_reduce(
        |      list_prepend(CAST(0 AS DOUBLE), LIST(lnp ORDER BY pos)),
        |      (a, x) -> a + x) / CAST(COUNT(*) AS DOUBLE), 6)
        |    AS avg_nll
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q174_cumulative_users" ->
      """WITH f AS (
        |  SELECT user_id, CAST(MIN(ts) AS DATE) AS d0
        |  FROM events GROUP BY user_id),
        |daily AS (
        |  SELECT d0, COUNT(*) AS new_users FROM f GROUP BY d0),
        |days AS (
        |  SELECT CAST(unnest(generate_series(DATE '2024-01-01',
        |    DATE '2024-01-31', INTERVAL 1 DAY)) AS DATE) AS d)
        |SELECT d, COALESCE(new_users, 0) AS new_users,
        |  CAST(SUM(COALESCE(new_users, 0)) OVER (ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum_users
        |FROM days LEFT JOIN daily ON d0 = d
        |ORDER BY d""".stripMargin,

    "q171_ols_residuals" ->
      """WITH li AS (
        |  SELECT l_linestatus AS ls, l_quantity AS x,
        |    l_extendedprice AS y
        |  FROM lineitem),
        |m AS (
        |  SELECT ls, CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sx2
        |  FROM li GROUP BY ls),
        |m2 AS (
        |  SELECT ls, (sxy - sx * sy / n) / (sx2 - sx * sx / n) AS slope,
        |    sx, sy, n FROM m),
        |m3 AS (SELECT ls, slope, sy / n - slope * sx / n AS icept
        |  FROM m2),
        |scored AS (
        |  SELECT li.ls AS ls, slope, icept,
        |    y - (icept + slope * x) AS resid
        |  FROM li JOIN m3 ON li.ls = m3.ls),
        |r AS (
        |  SELECT ls, SQRT(CAST(SUM(CAST(resid * resid
        |      AS DECIMAL(38,6))) AS DOUBLE) /
        |    CAST(COUNT(*) AS DOUBLE)) AS rmse
        |  FROM scored GROUP BY ls)
        |SELECT s.ls AS ls, COUNT(*) AS n,
        |  ROUND(MAX(s.slope), 6) AS slope,
        |  ROUND(MAX(s.icept), 6) AS icept,
        |  ROUND(MAX(r.rmse), 6) AS rmse,
        |  CAST(SUM(CASE WHEN ABS(s.resid) > 2.0 * r.rmse
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM scored s JOIN r ON s.ls = r.ls
        |GROUP BY s.ls ORDER BY s.ls""".stripMargin,

    "q172_welch_t" ->
      """WITH d AS (
        |  SELECT source, CAST(n_chars AS DOUBLE) AS x FROM documents),
        |m AS (
        |  SELECT source, CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sx2
        |  FROM d GROUP BY source),
        |mm AS (
        |  SELECT source, n, sx / n AS mean,
        |    (sx2 - sx * sx / n) / (n - 1.0) AS v
        |  FROM m)
        |SELECT a.source AS src_a, b.source AS src_b,
        |  ROUND((a.mean - b.mean) /
        |    SQRT(a.v / a.n + b.v / b.n), 6) AS t,
        |  ROUND((a.v / a.n + b.v / b.n) * (a.v / a.n + b.v / b.n) /
        |    ((a.v / a.n) * (a.v / a.n) / (a.n - 1.0) +
        |      (b.v / b.n) * (b.v / b.n) / (b.n - 1.0)), 6) AS dof
        |FROM mm a JOIN mm b ON a.source < b.source
        |ORDER BY src_a, src_b""".stripMargin,

    "q173_benford" ->
      """WITH d AS (
        |  SELECT CAST(SUBSTRING(CAST(CAST(FLOOR(o_totalprice)
        |    AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
        |  FROM orders WHERE o_totalprice >= 1),
        |n AS (SELECT COUNT(*) AS nt FROM d)
        |SELECT digit, COUNT(*) AS cnt,
        |  ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(nt AS DOUBLE), 6)
        |    AS observed,
        |  ROUND(LN(1.0 + 1.0 / CAST(digit AS DOUBLE)) / LN(10.0), 6)
        |    AS expected,
        |  ROUND(ABS(
        |    ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(nt AS DOUBLE), 6) -
        |    ROUND(LN(1.0 + 1.0 / CAST(digit AS DOUBLE)) / LN(10.0), 6)
        |  ), 6) AS abs_dev
        |FROM d CROSS JOIN n GROUP BY digit, nt ORDER BY digit"""
        .stripMargin,

    "q170_quantile_norm" ->
      """SELECT doc_id, source, n_chars,
        |  ROUND(PERCENT_RANK() OVER (PARTITION BY source
        |    ORDER BY n_chars, doc_id), 6) AS qn
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q168_error_bursts" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err,
        |    COALESCE(LAG(CASE WHEN event_type = 'error' THEN 1 ELSE 0
        |      END) OVER w, 0) AS prev_err,
        |    epoch(date_trunc('second', ts)) -
        |      epoch(date_trunc('second', LAG(ts) OVER w)) AS gap_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |b AS (
        |  SELECT *, CASE WHEN is_err = 1 AND prev_err = 1
        |    AND gap_s <= 3600 THEN 0 ELSE 1 END AS brk
        |  FROM g),
        |r AS (
        |  SELECT user_id, ts, is_err,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
        |  FROM b)
        |SELECT user_id, MIN(ts) AS burst_start, MAX(ts) AS burst_end,
        |  COUNT(*) AS n_errors
        |FROM r WHERE is_err = 1
        |GROUP BY user_id, run_id HAVING COUNT(*) >= 2
        |ORDER BY user_id, burst_start""".stripMargin,

    "q169_session_conversion" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_type,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |      OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
        |      THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts, event_type,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g),
        |sess AS (
        |  SELECT user_id, sid, CAST(MIN(ts) AS DATE) AS d,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS converted
        |  FROM s GROUP BY 1, 2)
        |SELECT d, COUNT(*) AS n_sessions,
        |  CAST(SUM(converted) AS BIGINT) AS n_converted,
        |  ROUND(CAST(SUM(converted) AS DOUBLE) /
        |    CAST(COUNT(*) AS DOUBLE), 6) AS conv_rate
        |FROM sess GROUP BY d ORDER BY d""".stripMargin,

    "q167_rolling_dau" ->
      """WITH days AS (
        |  SELECT CAST(unnest(generate_series(DATE '2024-01-08',
        |    DATE '2024-01-31', INTERVAL 1 DAY)) AS DATE) AS d),
        |w AS (
        |  SELECT d, epoch(CAST(d AS TIMESTAMP)) AS hi,
        |    epoch(CAST(d AS TIMESTAMP)) - 7.0 * 86400 AS lo
        |  FROM days),
        |e AS (
        |  SELECT user_id, epoch(CAST(date_trunc('second', ts)
        |    AS TIMESTAMP)) AS pe
        |  FROM events)
        |SELECT d, COUNT(DISTINCT user_id) AS dau7
        |FROM w JOIN e ON e.pe >= w.lo AND e.pe < w.hi
        |GROUP BY d ORDER BY d""".stripMargin,

    "q370_theta_rolling" ->
      """WITH ev AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
        |  FROM events),
        |days AS (
        |  SELECT CAST(unnest(generate_series(DATE '2024-01-07',
        |    DATE '2024-01-30', INTERVAL 1 DAY)) AS DATE) AS d)
        |SELECT d, CAST(COUNT(DISTINCT user_id) AS BIGINT)
        |    AS exact_dau7,
        |  TRUE AS uncapped_rollup_is_exact,
        |  TRUE AS est_within_15pct
        |FROM days JOIN ev ON ev.day BETWEEN d - 6 AND d
        |GROUP BY d ORDER BY d""".stripMargin,

    "q165_quality_bins" ->
      """WITH b AS (
        |  SELECT lang, n_chars,
        |    NTILE(4) OVER (PARTITION BY lang
        |      ORDER BY n_chars, doc_id) AS bin
        |  FROM documents)
        |SELECT lang, bin, COUNT(*) AS n,
        |  CAST(MIN(n_chars) AS BIGINT) AS lo,
        |  CAST(MAX(n_chars) AS BIGINT) AS hi,
        |  CAST(SUM(CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE) /
        |    CAST(COUNT(*) AS DOUBLE) AS mean_chars
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q166_survivorship" ->
      s"""WITH RECURSIVE ${Pipeline.lshPairsCtes},
        |p AS (SELECT vec_a, vec_b FROM prs WHERE cos >= 0.3),
        |e AS (SELECT vec_a AS u, vec_b AS v FROM p
        |      UNION SELECT vec_b, vec_a FROM p),
        |reach(u, r) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM e)
        |  UNION
        |  SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.u),
        |c AS (SELECT u AS vec_id, MIN(r) AS comp FROM reach GROUP BY u),
        |n AS (SELECT c.vec_id, c.comp,
        |    list_sum(list_transform(embedding,
        |      v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) AS norm2
        |  FROM c JOIN embeddings ON embeddings.vec_id = c.vec_id),
        |rk AS (SELECT comp, vec_id, norm2,
        |    ROW_NUMBER() OVER (PARTITION BY comp
        |      ORDER BY norm2 DESC, vec_id) AS rk
        |  FROM n)
        |SELECT comp, COUNT(*) AS cluster_n,
        |  CAST(MAX(CASE WHEN rk = 1 THEN vec_id END) AS BIGINT)
        |    AS keeper,
        |  ROUND(MAX(CASE WHEN rk = 1 THEN norm2 END), 6)
        |    AS keeper_norm2
        |FROM rk GROUP BY comp ORDER BY comp""".stripMargin,

    "q164_federated_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        |FROM orders
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // 3 unrolled synchronous LPA rounds; mode with (count desc, label
    // asc) tie-break mirrors the Spark min_by struct exactly
    "q245_communities" ->
      s"""WITH ${Pipeline.lshPairsCtes},
        |pairs AS (SELECT vec_a AS src, vec_b AS dst FROM prs
        |  WHERE cos >= 0.3),
        |edges AS (
        |  SELECT src, dst FROM pairs
        |  UNION ALL SELECT dst AS src, src AS dst FROM pairs),
        |l0 AS (SELECT vec_id, vec_id AS lab FROM embeddings),
        |n1 AS (SELECT e.src, l.lab AS nlab, COUNT(*) AS c
        |  FROM edges e JOIN l0 l ON e.dst = l.vec_id
        |  GROUP BY e.src, l.lab),
        |m1 AS (SELECT src, nlab FROM (SELECT src, nlab,
        |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY c DESC, nlab)
        |      AS rk FROM n1) WHERE rk = 1),
        |l1 AS (SELECT l.vec_id, COALESCE(m.nlab, l.lab) AS lab
        |  FROM l0 l LEFT JOIN m1 m ON l.vec_id = m.src),
        |n2 AS (SELECT e.src, l.lab AS nlab, COUNT(*) AS c
        |  FROM edges e JOIN l1 l ON e.dst = l.vec_id
        |  GROUP BY e.src, l.lab),
        |m2 AS (SELECT src, nlab FROM (SELECT src, nlab,
        |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY c DESC, nlab)
        |      AS rk FROM n2) WHERE rk = 1),
        |l2 AS (SELECT l.vec_id, COALESCE(m.nlab, l.lab) AS lab
        |  FROM l1 l LEFT JOIN m2 m ON l.vec_id = m.src),
        |n3 AS (SELECT e.src, l.lab AS nlab, COUNT(*) AS c
        |  FROM edges e JOIN l2 l ON e.dst = l.vec_id
        |  GROUP BY e.src, l.lab),
        |m3 AS (SELECT src, nlab FROM (SELECT src, nlab,
        |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY c DESC, nlab)
        |      AS rk FROM n3) WHERE rk = 1),
        |l3 AS (SELECT l.vec_id, COALESCE(m.nlab, l.lab) AS lab
        |  FROM l2 l LEFT JOIN m3 m ON l.vec_id = m.src)
        |SELECT lab, COUNT(*) AS n_members, MIN(vec_id) AS min_member
        |FROM l3 GROUP BY lab ORDER BY lab""".stripMargin,

    "q338_kcore" -> {
      val rounds = (1 to 6).map { i =>
        s"""d$i AS (SELECT e.src, COUNT(*) AS deg
           |  FROM edges e JOIN a${i - 1} x ON e.src = x.vec_id
           |  JOIN a${i - 1} y ON e.dst = y.vec_id GROUP BY e.src),
           |a$i AS (SELECT src AS vec_id FROM d$i WHERE deg >= 2)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH ${Pipeline.lshPairsCtes},
        |pairs AS (SELECT vec_a AS src, vec_b AS dst FROM prs
        |  WHERE cos >= 0.3),
        |edges AS (
        |  SELECT src, dst FROM pairs
        |  UNION ALL SELECT dst AS src, src AS dst FROM pairs),
        |a0 AS (SELECT vec_id FROM embeddings),
        |$rounds
        |${(0 to 6).map(i =>
            s"SELECT $i AS round, COUNT(*) AS n_alive FROM a$i")
          .mkString("\n UNION ALL ")}
        |ORDER BY round""".stripMargin
    },

    "q349_dedup_thresholds" ->
      s"""WITH ${Pipeline.lshPairsCtes},
        |p AS (SELECT vec_a, vec_b, cos FROM prs WHERE cos >= 0.3),
        |l AS (SELECT th FROM (VALUES (0.3), (0.4), (0.5), (0.6),
        |    (0.7), (0.8)) t(th)),
        |fan AS (SELECT CAST(l.th AS DOUBLE) AS th, vec_a, vec_b
        |  FROM l JOIN p ON p.cos >= l.th),
        |stats AS (SELECT th, COUNT(*) AS n_pairs FROM fan
        |  GROUP BY th),
        |docs AS (SELECT th, CAST(COUNT(DISTINCT v) AS BIGINT)
        |    AS n_docs
        |  FROM (SELECT th, vec_a AS v FROM fan
        |    UNION ALL SELECT th, vec_b FROM fan)
        |  GROUP BY th),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt
        |  FROM embeddings)
        |SELECT th, n_pairs, n_docs,
        |  ROUND(CAST(n_docs AS DOUBLE) / CAST(nt AS DOUBLE), 6)
        |    AS affected_rate
        |FROM stats JOIN docs USING (th) CROSS JOIN tot
        |ORDER BY th""".stripMargin,

    "q339_assortativity" ->
      s"""WITH ${Pipeline.lshPairsCtes},
        |pairs AS (SELECT vec_a AS src, vec_b AS dst FROM prs
        |  WHERE cos >= 0.3),
        |edges AS (
        |  SELECT src, dst FROM pairs
        |  UNION ALL SELECT dst AS src, src AS dst FROM pairs),
        |deg AS (SELECT src, CAST(COUNT(*) AS HUGEINT) AS d
        |  FROM edges GROUP BY src),
        |j AS (SELECT dx.d AS dx, dy.d AS dy
        |  FROM edges e JOIN deg dx ON dx.src = e.src
        |  JOIN deg dy ON dy.src = e.dst),
        |g AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
        |    SUM(dx) AS sx, SUM(dy) AS sy,
        |    SUM(dx*dx) AS qx, SUM(dy*dy) AS qy, SUM(dx*dy) AS sxy
        |  FROM j)
        |SELECT CAST(n AS BIGINT) AS n_arcs,
        |  ROUND(CAST(n*sxy - sx*sy AS DOUBLE)
        |    / SQRT(CAST((n*qx - sx*sx) * (n*qy - sy*sy) AS DOUBLE)),
        |    6) AS assortativity
        |FROM g""".stripMargin,

    "q340_modularity" ->
      s"""WITH ${Pipeline.lshPairsCtes},
        |pairs AS (SELECT vec_a AS src, vec_b AS dst FROM prs
        |  WHERE cos >= 0.3),
        |edges AS (
        |  SELECT src, dst FROM pairs
        |  UNION ALL SELECT dst AS src, src AS dst FROM pairs),
        |l0 AS (SELECT vec_id, vec_id AS lab FROM embeddings),
        |n1 AS (SELECT e.src, l.lab AS nlab, COUNT(*) AS c
        |  FROM edges e JOIN l0 l ON e.dst = l.vec_id
        |  GROUP BY e.src, l.lab),
        |m1 AS (SELECT src, nlab FROM (SELECT src, nlab,
        |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY c DESC, nlab)
        |      AS rk FROM n1) WHERE rk = 1),
        |l1 AS (SELECT l.vec_id, COALESCE(m.nlab, l.lab) AS lab
        |  FROM l0 l LEFT JOIN m1 m ON l.vec_id = m.src),
        |n2 AS (SELECT e.src, l.lab AS nlab, COUNT(*) AS c
        |  FROM edges e JOIN l1 l ON e.dst = l.vec_id
        |  GROUP BY e.src, l.lab),
        |m2 AS (SELECT src, nlab FROM (SELECT src, nlab,
        |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY c DESC, nlab)
        |      AS rk FROM n2) WHERE rk = 1),
        |l2 AS (SELECT l.vec_id, COALESCE(m.nlab, l.lab) AS lab
        |  FROM l1 l LEFT JOIN m2 m ON l.vec_id = m.src),
        |n3 AS (SELECT e.src, l.lab AS nlab, COUNT(*) AS c
        |  FROM edges e JOIN l2 l ON e.dst = l.vec_id
        |  GROUP BY e.src, l.lab),
        |m3 AS (SELECT src, nlab FROM (SELECT src, nlab,
        |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY c DESC, nlab)
        |      AS rk FROM n3) WHERE rk = 1),
        |l3 AS (SELECT l.vec_id, COALESCE(m.nlab, l.lab) AS lab
        |  FROM l2 l LEFT JOIN m3 m ON l.vec_id = m.src),
        |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM pairs),
        |deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
        |dc AS (SELECT l.lab,
        |    CAST(SUM(COALESCE(deg.d, 0)) AS BIGINT) AS dc,
        |    COUNT(*) AS n_members
        |  FROM l3 l LEFT JOIN deg ON deg.src = l.vec_id
        |  GROUP BY l.lab),
        |ec AS (SELECT la.lab AS lab, COUNT(*) AS ec
        |  FROM pairs p JOIN l3 la ON la.vec_id = p.src
        |  JOIN l3 lb ON lb.vec_id = p.dst
        |  WHERE la.lab = lb.lab GROUP BY la.lab),
        |terms AS (SELECT dc.lab, dc.n_members,
        |    COALESCE(ec.ec, 0) AS ec, dc.dc,
        |    CAST(COALESCE(ec.ec, 0) AS DOUBLE) / CAST(m AS DOUBLE)
        |      - (CAST(dc.dc AS DOUBLE) / CAST(2 * m AS DOUBLE))
        |        * (CAST(dc.dc AS DOUBLE) / CAST(2 * m AS DOUBLE))
        |      AS term
        |  FROM dc LEFT JOIN ec ON ec.lab = dc.lab CROSS JOIN mm),
        |q AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    LIST(term ORDER BY lab)), (a, e) -> a + e) AS q
        |  FROM terms)
        |SELECT lab, n_members, ec, dc, ROUND(term, 6) AS term,
        |  ROUND(q, 6) AS modularity
        |FROM terms CROSS JOIN q ORDER BY lab""".stripMargin,

    // same ε-graph; reachability closure over core-core edges only
    "q251_dbscan" ->
      s"""WITH RECURSIVE ${Pipeline.lshPairsCtes},
        |p AS (SELECT vec_a, vec_b FROM prs WHERE cos >= 0.3),
        |e AS (SELECT vec_a AS u, vec_b AS v FROM p
        |  UNION ALL SELECT vec_b, vec_a FROM p),
        |deg AS (SELECT u AS vec_id, COUNT(*) AS deg FROM e GROUP BY u),
        |core AS (SELECT vec_id FROM deg WHERE deg >= 3),
        |ce AS (SELECT u, v FROM e
        |  WHERE u IN (SELECT vec_id FROM core)
        |    AND v IN (SELECT vec_id FROM core)),
        |reach(u, r) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM ce)
        |  UNION
        |  SELECT ce.u, reach.r FROM ce JOIN reach ON ce.v = reach.u),
        |comp AS (SELECT u AS vec_id, MIN(r) AS comp FROM reach GROUP BY u),
        |corec AS (SELECT c.vec_id, COALESCE(m.comp, c.vec_id) AS core_cl
        |  FROM core c LEFT JOIN comp m USING (vec_id)),
        |border AS (SELECT e.u AS vec_id, MIN(cc.core_cl) AS border_cl
        |  FROM e JOIN corec cc ON e.v = cc.vec_id
        |  WHERE e.u NOT IN (SELECT vec_id FROM core) GROUP BY e.u)
        |SELECT emb.vec_id, COALESCE(d.deg, 0) AS deg,
        |  CASE WHEN cr.vec_id IS NOT NULL THEN 'core'
        |       WHEN b.vec_id IS NOT NULL THEN 'border'
        |       ELSE 'noise' END AS role,
        |  COALESCE(cr.core_cl, b.border_cl, -1) AS cluster
        |FROM embeddings emb
        |LEFT JOIN deg d ON emb.vec_id = d.vec_id
        |LEFT JOIN corec cr ON emb.vec_id = cr.vec_id
        |LEFT JOIN border b ON emb.vec_id = b.vec_id
        |ORDER BY emb.vec_id""".stripMargin,

    "q163_pagerank" ->
      s"""WITH ${Pipeline.lshPairsCtes},
        |pairs AS (SELECT vec_a AS src, vec_b AS dst FROM prs
        |  WHERE cos >= 0.3),
        |edges AS (
        |  SELECT src, dst FROM pairs
        |  UNION ALL SELECT dst AS src, src AS dst FROM pairs),
        |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
        |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn FROM embeddings),
        |r0 AS (SELECT vec_id, CAST(1 AS DOUBLE) / nn AS r
        |       FROM embeddings CROSS JOIN nn),
        |c1 AS (SELECT e.dst AS vec_id,
        |    SUM(CAST(r.r / d.deg AS DECIMAL(38,18))) AS s
        |  FROM edges e JOIN r0 r ON r.vec_id = e.src
        |  JOIN deg d ON d.src = e.src GROUP BY e.dst),
        |r1 AS (SELECT n.vec_id, ROUND(0.15 / nn + 0.85 *
        |    CAST(COALESCE(c1.s, 0) AS DOUBLE), 12) AS r
        |  FROM embeddings n CROSS JOIN nn
        |  LEFT JOIN c1 ON c1.vec_id = n.vec_id),
        |c2 AS (SELECT e.dst AS vec_id,
        |    SUM(CAST(r.r / d.deg AS DECIMAL(38,18))) AS s
        |  FROM edges e JOIN r1 r ON r.vec_id = e.src
        |  JOIN deg d ON d.src = e.src GROUP BY e.dst),
        |r2 AS (SELECT n.vec_id, ROUND(0.15 / nn + 0.85 *
        |    CAST(COALESCE(c2.s, 0) AS DOUBLE), 12) AS r
        |  FROM embeddings n CROSS JOIN nn
        |  LEFT JOIN c2 ON c2.vec_id = n.vec_id),
        |c3 AS (SELECT e.dst AS vec_id,
        |    SUM(CAST(r.r / d.deg AS DECIMAL(38,18))) AS s
        |  FROM edges e JOIN r2 r ON r.vec_id = e.src
        |  JOIN deg d ON d.src = e.src GROUP BY e.dst),
        |r3 AS (SELECT n.vec_id, ROUND(0.15 / nn + 0.85 *
        |    CAST(COALESCE(c3.s, 0) AS DOUBLE), 12) AS r
        |  FROM embeddings n CROSS JOIN nn
        |  LEFT JOIN c3 ON c3.vec_id = n.vec_id)
        |SELECT vec_id, r FROM r3
        |ORDER BY r DESC, vec_id LIMIT 20""".stripMargin,

    "q324_hits" ->
      s"""WITH ${Pipeline.lshPairsCtes},
        |pairs AS (SELECT vec_a AS src, vec_b AS dst FROM prs
        |  WHERE cos >= 0.3),
        |a1r AS (SELECT dst,
        |    SUM(CAST(CAST(1.0 AS DOUBLE) AS DECIMAL(38,18))) AS s
        |  FROM pairs GROUP BY dst),
        |a1t AS (SELECT SUM(s) AS tot FROM a1r),
        |a1 AS (SELECT n.vec_id, ROUND(
        |    CAST(COALESCE(a1r.s, CAST(0 AS DECIMAL(38,18)))
        |      AS DOUBLE) / CAST(tot AS DOUBLE), 12) AS a
        |  FROM embeddings n CROSS JOIN a1t
        |  LEFT JOIN a1r ON a1r.dst = n.vec_id),
        |h1r AS (SELECT p.src, SUM(CAST(a.a AS DECIMAL(38,18))) AS s
        |  FROM pairs p JOIN a1 a ON a.vec_id = p.dst GROUP BY p.src),
        |h1t AS (SELECT SUM(s) AS tot FROM h1r),
        |h1 AS (SELECT n.vec_id, ROUND(
        |    CAST(COALESCE(h1r.s, CAST(0 AS DECIMAL(38,18)))
        |      AS DOUBLE) / CAST(tot AS DOUBLE), 12) AS h
        |  FROM embeddings n CROSS JOIN h1t
        |  LEFT JOIN h1r ON h1r.src = n.vec_id),
        |a2r AS (SELECT p.dst, SUM(CAST(h.h AS DECIMAL(38,18))) AS s
        |  FROM pairs p JOIN h1 h ON h.vec_id = p.src GROUP BY p.dst),
        |a2t AS (SELECT SUM(s) AS tot FROM a2r),
        |a2 AS (SELECT n.vec_id, ROUND(
        |    CAST(COALESCE(a2r.s, CAST(0 AS DECIMAL(38,18)))
        |      AS DOUBLE) / CAST(tot AS DOUBLE), 12) AS a
        |  FROM embeddings n CROSS JOIN a2t
        |  LEFT JOIN a2r ON a2r.dst = n.vec_id),
        |h2r AS (SELECT p.src, SUM(CAST(a.a AS DECIMAL(38,18))) AS s
        |  FROM pairs p JOIN a2 a ON a.vec_id = p.dst GROUP BY p.src),
        |h2t AS (SELECT SUM(s) AS tot FROM h2r),
        |h2 AS (SELECT n.vec_id, ROUND(
        |    CAST(COALESCE(h2r.s, CAST(0 AS DECIMAL(38,18)))
        |      AS DOUBLE) / CAST(tot AS DOUBLE), 12) AS h
        |  FROM embeddings n CROSS JOIN h2t
        |  LEFT JOIN h2r ON h2r.src = n.vec_id)
        |SELECT a2.vec_id, a2.a AS authority, h2.h AS hub
        |FROM a2 JOIN h2 ON h2.vec_id = a2.vec_id
        |ORDER BY authority DESC, a2.vec_id LIMIT 20""".stripMargin,

    "q162_psi_drift" ->
      """WITH d AS (
        |  SELECT doc_id, lang, CAST(n_chars AS DOUBLE) AS x
        |  FROM documents),
        |mm AS (SELECT MIN(x) AS lo, MAX(x) AS hi FROM d),
        |binned AS (
        |  SELECT lang,
        |    CAST(LEAST(FLOOR((x - lo) / ((hi - lo) / 10.0)), 9) AS INT)
        |      AS b,
        |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS side
        |  FROM d CROSS JOIN mm),
        |cells AS (
        |  SELECT lang, b, SUM(side) AS ca, SUM(1 - side) AS cb
        |  FROM binned GROUP BY 1, 2),
        |totals AS (
        |  SELECT lang, SUM(side) AS na, SUM(1 - side) AS nb
        |  FROM binned GROUP BY 1),
        |p AS (
        |  SELECT cells.lang AS lang,
        |    CAST(ca + 1 AS DOUBLE) / CAST(na + 10 AS DOUBLE) AS pa,
        |    CAST(cb + 1 AS DOUBLE) / CAST(nb + 10 AS DOUBLE) AS pb
        |  FROM cells JOIN totals ON cells.lang = totals.lang)
        |SELECT lang, ROUND(SUM((pa - pb) * LN(pa / pb)), 6) AS psi,
        |  COUNT(*) AS n_bins
        |FROM p GROUP BY lang ORDER BY lang""".stripMargin,

    "q161_embed_quantize" ->
      """WITH dims AS (
        |  SELECT vec_id, label,
        |    unnest(generate_series(1, len(embedding))) AS i,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |stats AS (
        |  SELECT i, MIN(x) AS lo, MAX(x) AS hi FROM dims GROUP BY i),
        |codes AS (
        |  SELECT label,
        |    CAST(CASE WHEN hi = lo THEN 0
        |      ELSE LEAST(FLOOR((x - lo) / (hi - lo) * 255 + 0.5), 255)
        |    END AS BIGINT) AS q
        |  FROM dims JOIN stats USING (i))
        |SELECT label, COUNT(*) AS n_values,
        |  CAST(SUM(CASE WHEN q = 0 OR q = 255 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_saturated,
        |  CAST(SUM(q) AS BIGINT) AS code_sum,
        |  ROUND(CAST(SUM(q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |    AS mean_code
        |FROM codes GROUP BY label ORDER BY label""".stripMargin,

    "q158_rolling_median" ->
      """SELECT user_id, event_id,
        |  ROUND(MEDIAN(value) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS med5
        |FROM events ORDER BY user_id, event_id""".stripMargin,

    "q159_skyline" ->
      """SELECT p_partkey, p_retailprice AS price, p_size AS sz
        |FROM part p1
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part p2
        |  WHERE p2.p_retailprice <= p1.p_retailprice
        |    AND p2.p_size >= p1.p_size
        |    AND (p2.p_retailprice < p1.p_retailprice
        |      OR p2.p_size > p1.p_size))
        |ORDER BY price, p_partkey""".stripMargin,

    "q160_share_of_total" ->
      """WITH rev AS (
        |  SELECT r_name, n_name,
        |    SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS dre
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2)
        |SELECT r_name, n_name, CAST(dre AS DOUBLE) AS rev,
        |  ROUND(CAST(dre AS DOUBLE) /
        |    CAST(SUM(dre) OVER (PARTITION BY r_name) AS DOUBLE), 6)
        |    AS share
        |FROM rev ORDER BY r_name, n_name""".stripMargin,

    "q154_bigram_pmi" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |tot AS (SELECT CAST(SUM(len(ts)) AS BIGINT) AS n_tok FROM toks),
        |uni AS (
        |  SELECT unnest(ts) AS tok FROM toks),
        |uf AS (SELECT tok, COUNT(*) AS uf FROM uni GROUP BY tok),
        |idx AS (
        |  SELECT ts, unnest(generate_series(1, len(ts) - 1)) AS i
        |  FROM toks),
        |bi AS (
        |  SELECT ts[i] AS w1, ts[i + 1] AS w2, COUNT(*) AS bf
        |  FROM idx GROUP BY 1, 2 HAVING COUNT(*) >= 5)
        |SELECT w1, w2, bf,
        |  ROUND(LN(CAST(bf AS DOUBLE) * CAST(n_tok AS DOUBLE) /
        |    (CAST(u1.uf AS DOUBLE) * CAST(u2.uf AS DOUBLE))), 6) AS pmi
        |FROM bi
        |JOIN uf u1 ON bi.w1 = u1.tok
        |JOIN uf u2 ON bi.w2 = u2.tok
        |CROSS JOIN tot
        |ORDER BY pmi DESC, w1, w2 LIMIT 50""".stripMargin,

    "q155_lag_features" ->
      """SELECT user_id, event_id, value,
        |  LAG(value, 1) OVER w AS lag1,
        |  LAG(value, 2) OVER w AS lag2,
        |  ROUND(AVG(value) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS ma5
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_id""".stripMargin,

    "q156_date_spine" ->
      """WITH days AS (
        |  SELECT CAST(unnest(generate_series(DATE '1996-01-01',
        |    DATE '1996-01-31', INTERVAL 1 DAY)) AS DATE) AS d),
        |prios AS (
        |  SELECT DISTINCT o_orderpriority AS prio FROM orders),
        |daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |    o_orderpriority AS prio, COUNT(*) AS n
        |  FROM orders
        |  WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1996-02-01'
        |  GROUP BY 1, 2)
        |SELECT days.d, prios.prio, COALESCE(daily.n, 0) AS n
        |FROM days CROSS JOIN prios
        |LEFT JOIN daily ON daily.d = days.d AND daily.prio = prios.prio
        |ORDER BY 1, 2""".stripMargin,

    "q153_band_join" ->
      """WITH p AS (
        |  SELECT user_id, event_id AS p_id, ts FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, event_id AS c_id, ts AS lo,
        |    ts + INTERVAL 30 MINUTE AS hi
        |  FROM events WHERE event_type = 'click')
        |SELECT p.user_id, p.p_id, c.c_id
        |FROM p JOIN c ON p.user_id = c.user_id
        |  AND c.lo <= p.ts AND p.ts < c.hi
        |ORDER BY p.user_id, p.p_id, c.c_id""".stripMargin,

    "q152_winsorize" ->
      """WITH p AS (
        |  SELECT l_returnflag AS rf,
        |    percentile_disc(0.05) WITHIN GROUP
        |      (ORDER BY l_extendedprice) AS lo,
        |    percentile_disc(0.95) WITHIN GROUP
        |      (ORDER BY l_extendedprice) AS hi
        |  FROM lineitem GROUP BY 1)
        |SELECT rf, lo, hi,
        |  CAST(SUM(CAST(LEAST(GREATEST(l_extendedprice, lo), hi)
        |      AS DECIMAL(38,6))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS wmean,
        |  COUNT(*) AS n
        |FROM lineitem JOIN p ON l_returnflag = rf
        |GROUP BY rf, lo, hi ORDER BY rf""".stripMargin)
}
