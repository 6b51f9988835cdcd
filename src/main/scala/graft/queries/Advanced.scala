package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.functions.{TextFunctions => TF}
import graft.operators.SeqMatchOp

/** Round-2 surface: multi-dimensional aggregation (ROLLUP / CUBE /
  * GROUPING SETS — reference: sql/expr/relational aggregates with
  * grouping qualifiers), exact percentiles, MATCH with per-label
  * aggregates (reference: analytics/sequence/matcher/aggregate/
  * SeqAggregate.scala), TF-IDF term scoring (reference: analytics/nlp),
  * stateful-dedup batch analogue, array-function surface, deterministic
  * hash sampling, and pg_attribute-style catalog introspection
  * (reference: pgcatalog/).
  */
object Advanced {

  /** Raw deterministic-seed generator streams over the events spine
    * (fixed repartition(1) + sort layout, so a fixed seed reproduces
    * the exact stream): uniform, gaussian, int-uniform, white noise.
    * q92 aggregates this to its driver-checkable contract;
    * AdvancedSpec asserts the raw-stream distributional contract. */
  def randomStream(t: Tables): DataFrame =
    t.events.select(col("event_id"))
      .repartition(1).sortWithinPartitions(col("event_id"))
      .select(
        col("event_id"),
        rand(42).as("f_uniform"),
        randn(42).as("f_gaussian"),
        (rand(7) * lit(100.0)).cast("int").as("f_int_uniform"),
        (randn(9) * lit(0.1)).as("f_whitenoise"))

  private def dec(c: Column): Column = c.cast(DecimalType(38, 6))
  private def dsum(c: Column): Column = sum(dec(c)).cast("double")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ROLLUP (year, priority): hierarchical subtotals + grand total.
    "q71_rollup" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      t.orders
        .withColumn("o_year", year(col("o_orderdate")))
        .rollup(col("o_year"), col("o_orderpriority"))
        .agg(
          grouping(col("o_year")).cast("int").as("g_year"),
          grouping(col("o_orderpriority")).cast("int").as("g_prio"),
          count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .select(
          coalesce(col("o_year"), lit(-1)).as("yr"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
          col("g_year"), col("g_prio"), col("n"), col("total"))
        .orderBy(col("g_year"), col("g_prio"), col("yr"), col("prio"))
    },

    // CUBE (status, priority): all 4 grouping combinations.
    "q72_cube" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      t.orders
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          grouping(col("o_orderstatus")).cast("int").as("g_status"),
          grouping(col("o_orderpriority")).cast("int").as("g_prio"),
          count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
          col("g_status"), col("g_prio"), col("n"), col("total"))
        .orderBy(col("g_status"), col("g_prio"), col("status"), col("prio"))
    },

    // Explicit GROUPING SETS: (status), (priority), () — disjoint
    // grouping shapes in one pass.
    "q73_grouping_sets" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      t.orders.createOrReplaceTempView("graft_gs_orders")
      spark.sql(
        """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
          |  COALESCE(o_orderpriority, 'ALL') AS prio,
          |  CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
          |  CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
          |  COUNT(*) AS n,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
          |FROM graft_gs_orders
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          |ORDER BY g_status, g_prio, status, prio""".stripMargin)
    },

    // Exact interpolated percentiles + median per priority. ROUND(6)
    // snaps the (<=4-decimal-grid) interpolated values so a last-ulp
    // formula difference between engines cannot surface.
    "q74_percentiles" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      t.orders
        .groupBy(col("o_orderpriority"))
        .agg(
          round(expr("percentile(o_totalprice, 0.25D)"), 6).as("p25"),
          round(expr("percentile(o_totalprice, 0.5D)"), 6).as("p50"),
          round(expr("percentile(o_totalprice, 0.75D)"), 6).as("p75"),
          round(expr("percentile(o_totalprice, 0.9D)"), 6).as("p90"),
          round(expr("median(o_totalprice)"), 6).as("med"))
        .orderBy(col("o_orderpriority"))
    },

    // MATCH with per-label aggregates: for every `click view* purchase`
    // match, the count and value-sum of matched rows per label
    // (reference SeqAggregate semantics).
    "q75_match_label_aggs" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      SeqMatchOp.matchPattern(
        t.events, "user_id", "ts", "event_type", "click view* purchase",
        valueCol = Some("value"))
        .select(col("user_id"), col("match_id"), col("n_rows"),
          col("first_ord"), col("last_ord"), col("path"),
          col("n_click"), col("sum_click"),
          col("n_view"), col("sum_view"),
          col("n_purchase"), col("sum_purchase"))
        .orderBy(col("user_id"), col("match_id"))
    },

    // The fuller reference SeqAggregate family per match (SeqMinMax /
    // SeqAvg / SeqOpt absent-wrapping): per-label min/max/avg of the
    // value over each match's rows, null when the label never fired
    // (view* can match zero rows). avg derives from the run-ordered
    // sum, so the doubles are engine-deterministic.
    "q227_match_rich_aggs" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      SeqMatchOp.matchPattern(
        t.events, "user_id", "ts", "event_type", "click view* purchase",
        valueCol = Some("value"), rich = true)
        .select(col("user_id"), col("match_id"), col("n_rows"),
          col("n_click"),
          round(col("min_click"), 6).as("min_click"),
          round(col("max_click"), 6).as("max_click"),
          round(col("avg_click"), 6).as("avg_click"),
          col("n_view"),
          round(col("min_view"), 6).as("min_view"),
          round(col("max_view"), 6).as("max_view"),
          round(col("avg_view"), 6).as("avg_view"),
          round(col("min_purchase"), 6).as("min_purchase"),
          round(col("avg_purchase"), 6).as("avg_purchase"))
        .orderBy(col("user_id"), col("match_id"))
    },

    // MATCH ARG aggregate (reference SeqArgAggregate / the parser's
    // ARG(...) OVER <match>): per match, the ROW at which the value
    // attains its maximum — ties toward the earliest matched row, the
    // running-argmax semantics. The oracle reuses q227's window-SQL
    // match derivation and picks the arg row with a lexicographic
    // struct-min over (-value, position).
    "q234_match_arg" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      SeqMatchOp.matchPattern(
        t.events, "user_id", "ts", "event_type", "click view* purchase",
        valueCol = Some("value"), arg = true)
        .select(col("user_id"), col("match_id"), col("n_rows"),
          col("argmax_ord"), col("argmax_label"),
          round(col("argmax_value"), 6).as("argmax_value"))
        .orderBy(col("user_id"), col("match_id"))
    },

    // TF-IDF: top-3 scoring terms per document (docs 0..49), idf over
    // the full corpus. explode -> two aggregations -> window top-k:
    // every stage is a shuffle on a bounded key space.
    "q76_tfidf" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val nDocs = t.documents.count()
      val terms = t.documents
        .select(col("doc_id"), explode(TF.regexTokens(col("text"))).as("term"))
      val tf = terms.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val dfreq = terms.select(col("doc_id"), col("term")).distinct()
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("term"))
      tf.join(dfreq, "term")
        .where(col("doc_id") < 50)
        .withColumn("tfidf",
          round(col("tf") * log(lit(nDocs.toDouble) / col("df")), 6))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("term"), col("tf"),
          col("df"), col("tfidf"))
        .orderBy(col("doc_id"), col("rk"))
    },

    // Stateful streaming dedup, batch analogue: first event per
    // (user_id, event_type) — the same keep-first discipline
    // dropDuplicates runs under a watermark in graft.streaming.
    "q77_stream_dedup" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      t.events
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("ts"))
        .orderBy(col("user_id"), col("event_type"))
    },

    // Array-function surface over document tokens.
    "q78_array_funcs" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val toks = TF.tokens(col("text"))
      t.documents.select(
        col("doc_id"),
        size(toks).as("n_toks"),
        size(array_distinct(toks)).as("n_dist"),
        array_contains(toks, "the").as("has_the"),
        element_at(toks, 1).as("first_tok"),
        element_at(toks, -1).as("last_tok"),
        coalesce(array_position(toks, "the"), lit(0L)).as("pos_the"),
        array_join(slice(array_sort(array_distinct(toks)), 1, 3), "-")
          .as("first3_sorted"))
        .orderBy(col("doc_id"))
    },

    // Deterministic hash sampling: keep docs whose portable fingerprint
    // lands in bucket 0 of 20 — reproducible cross-engine sampling for
    // pipeline splits (train/held-out) at any scale.
    "q79_hash_sample" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      t.documents
        .withColumn("fp", expr("graft_fingerprint(text)"))
        .withColumn("bucket", pmod(col("fp"), lit(20L)))
        .where(col("bucket") === 0)
        .select(col("doc_id"), col("fp"), col("bucket"))
        .orderBy(col("doc_id"))
    },

    // DISTINCT ON through the custom Catalyst logical operator
    // (plans/DistinctOnPlan + RewriteDistinctOn, injected via
    // GraftExtensions): most recent lineitem per part.
    "q81_distinct_on_ext" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      graft.operators.ExtendedOps.distinctOn(
        t.lineitem,
        keys = Seq("l_partkey"),
        order = Seq(("l_shipdate", false), ("l_orderkey", true),
          ("l_linenumber", true)))
        .select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_shipdate"), col("l_quantity"))
        .orderBy(col("l_partkey"))
    },

    // Benchmark decontamination: for each benchmark doc (stand-in:
    // doc_id % 97 == 0), how many training docs share at least one
    // 3-token shingle. Shingles are hashed to longs (portable
    // polynomial hash), exploded, and semi-joined — the standard
    // decontamination shape at corpus scale: the benchmark side is
    // tiny and broadcast, the training side streams.
    "q82_contamination" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val sh = t.documents.select(
        col("doc_id"),
        explode(expr("graft_shingle_hashes(text, 3)")).as("h"))
        .distinct()
      val bench = sh.where(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("bench_id"), col("h"))
      val train = sh.where(col("doc_id") % 97 =!= 0)
        .select(col("doc_id").as("train_id"), col("h"))
      // Scale shape: INNER join with the tiny bench side broadcast, so
      // the training corpus streams once (a bench LEFT JOIN train
      // would force Spark to build the 100-TB train side); zero-hit
      // benchmark docs are restored by a tiny-vs-tiny left join.
      val hits = train.join(broadcast(bench), Seq("h"))
        .groupBy(col("bench_id"))
        .agg(countDistinct(col("train_id")).as("n_hits"))
      bench.select(col("bench_id")).distinct()
        .join(hits, Seq("bench_id"), "left")
        .select(col("bench_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_contaminated"))
        .orderBy(col("bench_id"))
    },

    // Stratified sampling with exact per-language quotas: the 10
    // lowest-fingerprint docs per language — deterministic,
    // engine-portable, reproducible at any scale (train/eval splits).
    "q83_stratified_sample" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("fp"), col("doc_id"))
      t.documents
        .withColumn("fp", expr("graft_fingerprint(text)"))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 10)
        .select(col("lang"), col("rk"), col("doc_id"), col("fp"))
        .orderBy(col("lang"), col("rk"))
    },

    // PII scrubbing accounting: per-doc email/URL match counts and the
    // post-scrub length — pure codegen'd regex scalar work.
    "q84_pii_scrub" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
      val url = "https?://[^ ]+"
      t.documents.select(
        col("doc_id"),
        regexp_count(col("text"), lit(email)).as("n_email"),
        regexp_count(col("text"), lit(url)).as("n_url"),
        length(regexp_replace(regexp_replace(col("text"), url, ""),
          email, "")).as("scrubbed_len"))
        .orderBy(col("doc_id"))
    },

    // Repetition quality signal: fraction of repeated word bigrams.
    // Raw double division of the two exact counts — bit-identical
    // across engines, no rounding (whose half-way ties are not).
    "q85_repetition" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val bg = expr(TF.shinglesSql("text", 2))
      t.documents.select(
        col("doc_id"),
        size(bg).as("n_bigrams"),
        size(array_distinct(bg)).as("n_distinct"),
        when(size(bg) > 0,
          (size(bg) - size(array_distinct(bg))).cast("double")
            / size(bg).cast("double"))
          .otherwise(lit(0.0)).as("rep_ratio"))
        .orderBy(col("doc_id"))
    },

    // Remaining trig + time-part scalar functions of the reference's
    // library: ACOS/ASIN/ATAN2/TAN, HOUR/MINUTE/SECOND, millisecond
    // extraction, WEEK_OF_MONTH (explicit day-arithmetic formula on
    // both sides — engine week conventions differ).
    "q91_trig_time" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      t.events.select(
        col("event_id"),
        round(acos(lit(1.0) - col("value") / lit(1000.0)), 6).as("f_acos"),
        round(asin(col("value") / lit(1000.0)), 6).as("f_asin"),
        round(atan2(col("value"), lit(100.0)), 6).as("f_atan2"),
        round(tan(col("value") / lit(100.0)), 6).as("f_tan"),
        hour(col("ts")).as("f_hour"),
        minute(col("ts")).as("f_minute"),
        second(col("ts")).as("f_second"),
        (expr("unix_micros(ts) % 1000000") / lit(1000)).cast("long")
          .as("f_ms_of_sec"),
        ((dayofmonth(col("ts")) - lit(1)) / lit(7)).cast("int")
          .plus(lit(1)).as("f_week_of_month"))
        .orderBy(col("event_id"))
    },

    // Deterministic-seed random generators (reference RANDOM/
    // RANDINTUNIFORM/RANDGAUSSIAN/WHITENOISE). Generator VALUES are
    // engine-specific (Spark's XorShift streams have no DuckDB twin),
    // so the driver-checkable output is the q94 pattern: exact bucket
    // counts plus distributional VERDICTS over the generated streams
    // (range bounds, moments within tolerance) that the oracle
    // expects all-true — a broken generator flips a boolean and fails
    // the hash. AdvancedSpec asserts the raw-stream contract (range,
    // moments, determinism under a fixed seed+layout) separately.
    "q92_random_gen" -> { (spark, dir) =>
      Advanced.randomStream(Tables(spark, dir))
        .groupBy((col("event_id") % 4).as("bucket"))
        .agg(count(lit(1)).as("n"),
          (min(col("f_uniform")) >= 0.0 && max(col("f_uniform")) < 1.0)
            .as("uniform_in_range"),
          (abs(avg(col("f_uniform")) - 0.5) < 0.05).as("uniform_mean_ok"),
          (abs(avg(col("f_gaussian"))) < 0.15).as("gaussian_mean_ok"),
          (min(col("f_int_uniform")) >= 0 &&
            max(col("f_int_uniform")) <= 99).as("int_in_range"),
          (stddev(col("f_whitenoise")) > 0.05 &&
            stddev(col("f_whitenoise")) < 0.15).as("noise_std_ok"))
        .orderBy(col("bucket"))
    },

    // Approximate aggregates — the 100-TB path where the exact twins
    // (q24 count-distinct, q74 percentiles) need full shuffles/sorts:
    // HyperLogLog++ count-distinct and t-digest quantiles are one-pass,
    // mergeable, fixed-size sketches. Raw sketch estimates are
    // engine-specific, so the driver-checkable output is the EXACT
    // values plus per-group tolerance VERDICTS (sketch vs exact inside
    // 2%/5%): the oracle hash-checks the exact columns and expects
    // every verdict true — a sketch drifting out of tolerance flips a
    // boolean and fails the hash. AdvancedSpec additionally pins the
    // raw estimates' relative error.
    "q94_approx_stats" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      t.orders
        .groupBy(col("o_orderpriority"))
        .agg(
          countDistinct(col("o_custkey")).as("exact_cust"),
          round(expr("percentile(o_totalprice, 0.5D)"), 6).as("exact_p50"),
          round(expr("percentile(o_totalprice, 0.95D)"), 6).as("exact_p95"),
          approx_count_distinct(col("o_custkey"), rsd = 0.01).as("_acd"),
          expr("approx_percentile(o_totalprice, 0.5)").as("_ap50"),
          expr("approx_percentile(o_totalprice, 0.95)").as("_ap95"))
        .select(col("o_orderpriority"),
          col("exact_cust"), col("exact_p50"), col("exact_p95"),
          (abs(col("_acd") - col("exact_cust")).cast("double") /
            col("exact_cust").cast("double") <= 0.02)
            .as("acd_within_2pct"),
          (abs(col("_ap50") - col("exact_p50")) /
            col("exact_p50") <= 0.05).as("ap50_within_5pct"),
          (abs(col("_ap95") - col("exact_p95")) /
            col("exact_p95") <= 0.05).as("ap95_within_5pct"))
        .orderBy(col("o_orderpriority"))
    },

    // Cross-segment audience overlap via mergeable HLL SKETCHES
    // (Spark's native Apache DataSketches hll_sketch_agg/hll_union) —
    // the 100-TB way to answer "how many users do two event types
    // share": each segment collapses to ONE ~kilobyte sketch in one
    // scan; every pairwise union/intersection (inclusion-exclusion)
    // is then sketch algebra on the broadcast 5-row frame — the raw
    // ID sets are never shuffled against each other. Driver check =
    // the q94 pattern: exact columns hash-checked, sketch estimates
    // reach the driver as all-true tolerance verdicts.
    "q296_hll_overlap" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val per = t.events
        .select(col("event_type"), col("user_id")).distinct()
      val sk = per.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_n"),
          expr("hll_sketch_agg(user_id, 14)").as("sk"))
      val inter = per.as("x").join(per.as("y"),
          col("x.user_id") === col("y.user_id") &&
          col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("type_a"),
          col("y.event_type").as("type_b"))
        .agg(countDistinct(col("x.user_id")).as("exact_inter"))
      sk.as("a").join(sk.as("b"),
          col("a.event_type") < col("b.event_type"))
        .select(col("a.event_type").as("type_a"),
          col("b.event_type").as("type_b"),
          col("a.exact_n").as("exact_a"),
          col("b.exact_n").as("exact_b"),
          expr("hll_sketch_estimate(a.sk)").as("_ea"),
          expr("hll_sketch_estimate(b.sk)").as("_eb"),
          expr("hll_sketch_estimate(hll_union(a.sk, b.sk))")
            .as("_eu"))
        .join(inter, Seq("type_a", "type_b"))
        .select(col("type_a"), col("type_b"),
          col("exact_a"), col("exact_b"), col("exact_inter"),
          (col("exact_a") + col("exact_b") - col("exact_inter"))
            .as("exact_union"),
          (abs(col("_ea") - col("exact_a")).cast("double") /
            col("exact_a").cast("double") <= 0.02)
            .as("est_a_within_2pct"),
          (abs(col("_eb") - col("exact_b")).cast("double") /
            col("exact_b").cast("double") <= 0.02)
            .as("est_b_within_2pct"),
          (abs(col("_eu") - (col("exact_a") + col("exact_b") -
              col("exact_inter"))).cast("double") /
            (col("exact_a") + col("exact_b") - col("exact_inter"))
              .cast("double") <= 0.02)
            .as("est_union_within_2pct"),
          (abs((col("_ea") + col("_eb") - col("_eu")) -
              col("exact_inter")).cast("double") /
            col("exact_inter").cast("double") <= 0.05)
            .as("est_inter_within_5pct"))
        .orderBy(col("type_a"), col("type_b"))
    },

    // Daily-audience SET ALGEBRA via native theta/KMV sketches
    // (plans/ThetaSketch.scala; Beyer et al. SIGMOD'07, the
    // DataSketches theta formulation) — the piece HLL can NOT do:
    // |A INTERSECT B| and |A \ B| estimated DIRECTLY on the retained
    // hash samples, not by inclusion-exclusion on noisy estimates.
    // Key = (user, activity day); each segment collapses to one
    // k-bounded sketch in one scan, and all pairwise set ops are
    // sketch algebra on the 5-row frame. Driver check = the q94/q296
    // discipline, PLUS the exactness contract proven in-query: the
    // k=65536 sketch never caps at these cardinalities, so its
    // estimate/intersect/difference must equal the exact integers
    // (equality verdicts, not tolerances); the k=1024 sketch genuinely
    // evicts (~1.6k-16k distinct keys per segment) and lands inside
    // the analytic error bounds.
    "q368_theta_setops" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      // scoped: the distinct daily-audience frame feeds BOTH the
      // sketch aggregate and the exact pairwise intersections
      val per = graft.operators.CacheScope.scoped(t.events
        .select(col("event_type"),
          concat_ws("/", col("user_id"), to_date(col("ts")).cast("string"))
            .as("k"))
        .distinct())
      val sk = per.groupBy(col("event_type"))
        .agg(countDistinct(col("k")).as("exact_n"),
          expr("graft_theta(k, 1024)").as("sk"),
          expr("graft_theta(k, 65536)").as("ske"))
      val inter = per.as("x").join(per.as("y"),
          col("x.k") === col("y.k") &&
          col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("type_a"),
          col("y.event_type").as("type_b"))
        .agg(count(lit(1)).as("exact_inter"))
      sk.as("a").join(sk.as("b"),
          col("a.event_type") < col("b.event_type"))
        .select(col("a.event_type").as("type_a"),
          col("b.event_type").as("type_b"),
          col("a.exact_n").as("exact_a"),
          col("b.exact_n").as("exact_b"),
          expr("graft_theta_estimate(a.sk)").as("_ea"),
          expr("graft_theta_estimate(graft_theta_union(a.sk, b.sk))")
            .as("_eu"),
          expr("graft_theta_intersect(a.sk, b.sk)").as("_ei"),
          expr("graft_theta_anotb(a.sk, b.sk)").as("_ed"),
          expr("graft_theta_estimate(a.ske)").as("_xa"),
          expr("graft_theta_intersect(a.ske, b.ske)").as("_xi"),
          expr("graft_theta_anotb(a.ske, b.ske)").as("_xd"))
        .join(inter, Seq("type_a", "type_b"))
        .select(col("type_a"), col("type_b"),
          col("exact_a"), col("exact_b"), col("exact_inter"),
          (col("exact_a") - col("exact_inter")).as("exact_anotb"),
          (col("exact_a") + col("exact_b") - col("exact_inter"))
            .as("exact_union"),
          (round(col("_xa")) === col("exact_a"))
            .as("uncapped_est_is_exact"),
          (round(col("_xi")) === col("exact_inter"))
            .as("uncapped_inter_is_exact"),
          (round(col("_xd")) === (col("exact_a") - col("exact_inter")))
            .as("uncapped_anotb_is_exact"),
          (abs(col("_ea") - col("exact_a")) /
            col("exact_a") <= 0.10).as("est_a_within_10pct"),
          (abs(col("_eu") - (col("exact_a") + col("exact_b") -
              col("exact_inter"))) /
            (col("exact_a") + col("exact_b") - col("exact_inter"))
            <= 0.10).as("est_union_within_10pct"),
          (abs(col("_ei") - col("exact_inter")) /
            col("exact_inter") <= 0.20).as("est_inter_within_20pct"),
          (abs(col("_ed") - (col("exact_a") - col("exact_inter"))) /
            (col("exact_a") - col("exact_inter")) <= 0.20)
            .as("est_anotb_within_20pct"))
        .orderBy(col("type_a"), col("type_b"))
    },

    // Timezone conversion (reference TOUTC / TOTIMEZONE) across DST
    // boundaries, plus replace-first-occurrence (reference
    // REPLACEFIRST) composed from strpos/substring.
    "q93_tz_replace" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val ts = col("o_orderdate").cast("timestamp")
      val p = col("o_orderpriority")
      val pos = instr(p, "-")
      t.orders.select(
        col("o_orderkey"),
        to_utc_timestamp(ts, "America/New_York").as("to_utc_ny"),
        from_utc_timestamp(ts, "Asia/Tokyo").as("from_utc_tokyo"),
        when(pos > 0,
          concat(substring(p, lit(1), pos - 1), lit(":"),
            expr("substring(o_orderpriority, instr(o_orderpriority, '-') + 1)")))
          .otherwise(p).as("first_dash_colon"))
        .orderBy(col("o_orderkey"))
    },

    // Complex-type surface: build a status->count map per priority
    // (map_from_entries over collected structs), extract values by
    // key, list the sorted key set — flattened back to scalars so the
    // oracle (which derives the same values with FILTER aggregates)
    // stays engine-neutral.
    "q90_complex_types" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      t.orders
        .groupBy(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("o_orderpriority"))
        .agg(map_from_entries(array_sort(
          collect_list(struct(col("o_orderstatus"), col("cnt")))))
          .as("m"))
        .select(
          col("o_orderpriority"),
          coalesce(element_at(col("m"), "F"), lit(0L)).as("n_f"),
          coalesce(element_at(col("m"), "O"), lit(0L)).as("n_o"),
          coalesce(element_at(col("m"), "P"), lit(0L)).as("n_p"),
          array_join(array_sort(map_keys(col("m"))), ",").as("statuses"),
          size(col("m")).as("n_statuses"))
        .orderBy(col("o_orderpriority"))
    },

    // Second tranche of the scalar string library: char codes, edge
    // slices, containment predicates, translate, hashes, printf.
    "q89_string_funcs2" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      t.customer.select(
        col("c_custkey"),
        ascii(col("c_name")).as("f_ascii"),
        chr(lit(65) + col("c_custkey") % 26).as("f_chr"),
        expr("left(c_name, 5)").as("f_left"),
        expr("right(c_name, 4)").as("f_right"),
        col("c_name").contains("00").as("f_contains"),
        col("c_name").startsWith("Customer").as("f_starts"),
        col("c_mktsegment").endsWith("RY").as("f_ends"),
        translate(col("c_mktsegment"), "AEIOU", "aeiou").as("f_translate"),
        md5(col("c_name")).as("f_md5"),
        sha2(col("c_mktsegment"), 256).as("f_sha256"),
        format_string("%s-%d", col("c_mktsegment"), col("c_custkey"))
          .as("f_printf"))
        .orderBy(col("c_custkey"))
    },

    // Sentence segmentation stats (reference: analytics/nlp ParseTask
    // sentence extraction re-expressed as codegen'd regex splits).
    "q86_sentences" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val sents = filter(split(col("text"), "[.!?]+"),
        s => length(s) > 0)
      t.documents.select(
        col("doc_id"),
        size(sents).as("n_sent"),
        when(size(sents) > 0,
          length(col("text")).cast("double")
            / size(sents).cast("double"))
          .otherwise(lit(0.0)).as("avg_sent_chars"),
        coalesce(array_max(transform(sents, s => length(s))), lit(0))
          .as("max_sent_chars"))
        .orderBy(col("doc_id"))
    },

    // pg_attribute-style column catalog over every registered table
    // (reference: pgcatalog/ attribute views). Metadata-only.
    "q80_pg_attribute" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      import spark.implicits._
      val dfs = Map(
        "region" -> t.region, "nation" -> t.nation,
        "customer" -> t.customer, "supplier" -> t.supplier,
        "part" -> t.part, "orders" -> t.orders,
        "lineitem" -> t.lineitem, "events" -> t.events,
        "documents" -> t.documents, "embeddings" -> t.embeddings)
      Tables.names
        .flatMap { n =>
          dfs(n).schema.fields.zipWithIndex.map { case (f, i) =>
            (n, i + 1, f.name)
          }
        }
        .toDF("relname", "attnum", "attname")
        .orderBy(col("relname"), col("attnum"))
    }
  )

  def oracle: Map[String, String] = Map(
    "q71_rollup" ->
      """SELECT COALESCE(yr_raw, -1) AS yr,
        |  COALESCE(o_orderpriority, 'ALL') AS prio,
        |  CAST(GROUPING(yr_raw) AS INT) AS g_year,
        |  CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
        |FROM (SELECT CAST(YEAR(o_orderdate) AS INT) AS yr_raw,
        |    o_orderpriority, o_totalprice FROM orders)
        |GROUP BY ROLLUP (yr_raw, o_orderpriority)
        |ORDER BY g_year, g_prio, yr, prio""".stripMargin,

    "q72_cube" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |  COALESCE(o_orderpriority, 'ALL') AS prio,
        |  CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
        |  CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY g_status, g_prio, status, prio""".stripMargin,

    "q73_grouping_sets" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |  COALESCE(o_orderpriority, 'ALL') AS prio,
        |  CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
        |  CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY g_status, g_prio, status, prio""".stripMargin,

    // exact bucket counts hash-checked; generator quality reaches the
    // driver as all-true distributional verdicts
    "q92_random_gen" ->
      """SELECT event_id % 4 AS bucket, COUNT(*) AS n,
        |  TRUE AS uniform_in_range, TRUE AS uniform_mean_ok,
        |  TRUE AS gaussian_mean_ok, TRUE AS int_in_range,
        |  TRUE AS noise_std_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // exact columns hash-checked; the sketch estimates reach the
    // driver as tolerance verdicts that must all be true
    // exact sets via the bounded (type, user) frame; estimates stay
    // Spark-side as all-true tolerance verdicts (q94 pattern)
    "q296_hll_overlap" ->
      """WITH per AS (
        |  SELECT DISTINCT event_type, user_id FROM events),
        |sk AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS exact_n
        |  FROM per GROUP BY event_type),
        |inter AS (
        |  SELECT x.event_type AS type_a, y.event_type AS type_b,
        |    CAST(COUNT(*) AS BIGINT) AS exact_inter
        |  FROM per x JOIN per y ON x.user_id = y.user_id
        |    AND x.event_type < y.event_type
        |  GROUP BY 1, 2)
        |SELECT i.type_a, i.type_b,
        |  a.exact_n AS exact_a, b.exact_n AS exact_b, i.exact_inter,
        |  a.exact_n + b.exact_n - i.exact_inter AS exact_union,
        |  TRUE AS est_a_within_2pct,
        |  TRUE AS est_b_within_2pct,
        |  TRUE AS est_union_within_2pct,
        |  TRUE AS est_inter_within_5pct
        |FROM inter i
        |JOIN sk a ON i.type_a = a.event_type
        |JOIN sk b ON i.type_b = b.event_type
        |ORDER BY i.type_a, i.type_b""".stripMargin,

    "q368_theta_setops" ->
      """WITH per AS (
        |  SELECT DISTINCT event_type,
        |    user_id || '/' || CAST(CAST(ts AS DATE) AS VARCHAR) AS k
        |  FROM events),
        |n AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS exact_n
        |  FROM per GROUP BY event_type),
        |i AS (
        |  SELECT x.event_type AS type_a, y.event_type AS type_b,
        |    CAST(COUNT(*) AS BIGINT) AS exact_inter
        |  FROM per x JOIN per y ON x.k = y.k
        |    AND x.event_type < y.event_type
        |  GROUP BY 1, 2)
        |SELECT i.type_a, i.type_b,
        |  a.exact_n AS exact_a, b.exact_n AS exact_b, i.exact_inter,
        |  a.exact_n - i.exact_inter AS exact_anotb,
        |  a.exact_n + b.exact_n - i.exact_inter AS exact_union,
        |  TRUE AS uncapped_est_is_exact,
        |  TRUE AS uncapped_inter_is_exact,
        |  TRUE AS uncapped_anotb_is_exact,
        |  TRUE AS est_a_within_10pct,
        |  TRUE AS est_union_within_10pct,
        |  TRUE AS est_inter_within_20pct,
        |  TRUE AS est_anotb_within_20pct
        |FROM i
        |JOIN n a ON i.type_a = a.event_type
        |JOIN n b ON i.type_b = b.event_type
        |ORDER BY i.type_a, i.type_b""".stripMargin,

    "q94_approx_stats" ->
      """SELECT o_orderpriority,
        |  COUNT(DISTINCT o_custkey) AS exact_cust,
        |  ROUND(QUANTILE_CONT(o_totalprice, 0.5), 6) AS exact_p50,
        |  ROUND(QUANTILE_CONT(o_totalprice, 0.95), 6) AS exact_p95,
        |  TRUE AS acd_within_2pct,
        |  TRUE AS ap50_within_5pct,
        |  TRUE AS ap95_within_5pct
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q74_percentiles" ->
      """SELECT o_orderpriority,
        |  ROUND(QUANTILE_CONT(o_totalprice, 0.25), 6) AS p25,
        |  ROUND(QUANTILE_CONT(o_totalprice, 0.5), 6) AS p50,
        |  ROUND(QUANTILE_CONT(o_totalprice, 0.75), 6) AS p75,
        |  ROUND(QUANTILE_CONT(o_totalprice, 0.9), 6) AS p90,
        |  ROUND(MEDIAN(o_totalprice), 6) AS med
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    // Same independent window-SQL derivation as q62 (leftmost-shortest
    // non-overlapping `click view* purchase`), then a join back to the
    // positioned rows aggregates each match's rows per label. Ordered
    // list_reduce folds reproduce the matcher's left-to-right double
    // summation bit-for-bit.
    "q75_match_label_aggs" ->
      """WITH pos AS (SELECT user_id, ts, event_id, event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS p
        |  FROM events),
        |cum AS (SELECT user_id, ts, event_type, p,
        |    SUM(CASE WHEN event_type <> 'view' THEN 1 ELSE 0 END)
        |      OVER w AS nv,
        |    MAX(CASE WHEN event_type = 'click' THEN p END) OVER w AS cp
        |  FROM pos
        |  WINDOW w AS (PARTITION BY user_id ORDER BY p
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |nv_at AS (SELECT user_id, event_type, p, nv, cp,
        |    MAX(CASE WHEN event_type = 'click' THEN nv END) OVER
        |      (PARTITION BY user_id ORDER BY p
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cnv
        |  FROM cum),
        |matches AS (SELECT user_id, cp, p,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY p)
        |      AS match_id
        |  FROM nv_at
        |  WHERE event_type = 'purchase' AND cp IS NOT NULL
        |    AND nv - 1 - cnv = 0)
        |SELECT m.user_id, m.match_id,
        |  CAST(COUNT(*) AS INT) AS n_rows,
        |  MIN(r.ts) AS first_ord, MAX(r.ts) AS last_ord,
        |  STRING_AGG(r.event_type, '->' ORDER BY r.p) AS path,
        |  CAST(COUNT(*) FILTER (WHERE r.event_type = 'click') AS INT)
        |    AS n_click,
        |  CASE WHEN COUNT(*) FILTER (WHERE r.event_type = 'click') = 0
        |    THEN 0.0 ELSE list_reduce(
        |      list_prepend(0.0, LIST(r.value ORDER BY r.p)
        |        FILTER (WHERE r.event_type = 'click')),
        |      (a, b) -> a + b) END AS sum_click,
        |  CAST(COUNT(*) FILTER (WHERE r.event_type = 'view') AS INT)
        |    AS n_view,
        |  CASE WHEN COUNT(*) FILTER (WHERE r.event_type = 'view') = 0
        |    THEN 0.0 ELSE list_reduce(
        |      list_prepend(0.0, LIST(r.value ORDER BY r.p)
        |        FILTER (WHERE r.event_type = 'view')),
        |      (a, b) -> a + b) END AS sum_view,
        |  CAST(COUNT(*) FILTER (WHERE r.event_type = 'purchase') AS INT)
        |    AS n_purchase,
        |  CASE WHEN COUNT(*) FILTER (WHERE r.event_type = 'purchase') = 0
        |    THEN 0.0 ELSE list_reduce(
        |      list_prepend(0.0, LIST(r.value ORDER BY r.p)
        |        FILTER (WHERE r.event_type = 'purchase')),
        |      (a, b) -> a + b) END AS sum_purchase
        |FROM matches m
        |JOIN pos r ON r.user_id = m.user_id
        |  AND r.p BETWEEN m.cp AND m.p
        |GROUP BY m.user_id, m.match_id
        |ORDER BY m.user_id, m.match_id""".stripMargin,

    // q75's NFA-replicating CTE with the richer per-label family:
    // min/max via FILTERed MIN/MAX (NULL when the label never fired),
    // avg = the same run-ordered sum / count
    // q227's match CTEs + a lexicographic struct-min on (-value, p):
    // max value, ties to the earliest matched position — exactly the
    // matcher's strictly-greater scan
    "q234_match_arg" ->
      """WITH pos AS (SELECT user_id, ts, event_id, event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS p
        |  FROM events),
        |cum AS (SELECT user_id, ts, event_type, p,
        |    SUM(CASE WHEN event_type <> 'view' THEN 1 ELSE 0 END)
        |      OVER w AS nv,
        |    MAX(CASE WHEN event_type = 'click' THEN p END) OVER w AS cp
        |  FROM pos
        |  WINDOW w AS (PARTITION BY user_id ORDER BY p
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |nv_at AS (SELECT user_id, event_type, p, nv, cp,
        |    MAX(CASE WHEN event_type = 'click' THEN nv END) OVER
        |      (PARTITION BY user_id ORDER BY p
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cnv
        |  FROM cum),
        |matches AS (SELECT user_id, cp, p,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY p)
        |      AS match_id
        |  FROM nv_at
        |  WHERE event_type = 'purchase' AND cp IS NOT NULL
        |    AND nv - 1 - cnv = 0),
        |best AS (SELECT m.user_id, m.match_id,
        |    CAST(COUNT(*) AS INT) AS n_rows,
        |    MIN({'negv': -r.value, 'p': r.p, 'ts': r.ts,
        |      'lab': r.event_type, 'v': r.value}) AS b
        |  FROM matches m
        |  JOIN pos r ON r.user_id = m.user_id
        |    AND r.p BETWEEN m.cp AND m.p
        |  GROUP BY m.user_id, m.match_id)
        |SELECT user_id, match_id, n_rows,
        |  b['ts'] AS argmax_ord, b['lab'] AS argmax_label,
        |  ROUND(b['v'], 6) AS argmax_value
        |FROM best ORDER BY user_id, match_id""".stripMargin,

    "q227_match_rich_aggs" ->
      """WITH pos AS (SELECT user_id, ts, event_id, event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS p
        |  FROM events),
        |cum AS (SELECT user_id, ts, event_type, p,
        |    SUM(CASE WHEN event_type <> 'view' THEN 1 ELSE 0 END)
        |      OVER w AS nv,
        |    MAX(CASE WHEN event_type = 'click' THEN p END) OVER w AS cp
        |  FROM pos
        |  WINDOW w AS (PARTITION BY user_id ORDER BY p
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |nv_at AS (SELECT user_id, event_type, p, nv, cp,
        |    MAX(CASE WHEN event_type = 'click' THEN nv END) OVER
        |      (PARTITION BY user_id ORDER BY p
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cnv
        |  FROM cum),
        |matches AS (SELECT user_id, cp, p,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY p)
        |      AS match_id
        |  FROM nv_at
        |  WHERE event_type = 'purchase' AND cp IS NOT NULL
        |    AND nv - 1 - cnv = 0)
        |SELECT m.user_id, m.match_id,
        |  CAST(COUNT(*) AS INT) AS n_rows,
        |  CAST(COUNT(*) FILTER (WHERE r.event_type = 'click') AS INT)
        |    AS n_click,
        |  ROUND(MIN(r.value) FILTER (WHERE r.event_type = 'click'), 6)
        |    AS min_click,
        |  ROUND(MAX(r.value) FILTER (WHERE r.event_type = 'click'), 6)
        |    AS max_click,
        |  ROUND(CASE WHEN COUNT(*) FILTER (WHERE r.event_type = 'click')
        |    = 0 THEN NULL ELSE list_reduce(
        |      list_prepend(0.0, LIST(r.value ORDER BY r.p)
        |        FILTER (WHERE r.event_type = 'click')),
        |      (a, b) -> a + b)
        |    / COUNT(*) FILTER (WHERE r.event_type = 'click') END, 6)
        |    AS avg_click,
        |  CAST(COUNT(*) FILTER (WHERE r.event_type = 'view') AS INT)
        |    AS n_view,
        |  ROUND(MIN(r.value) FILTER (WHERE r.event_type = 'view'), 6)
        |    AS min_view,
        |  ROUND(MAX(r.value) FILTER (WHERE r.event_type = 'view'), 6)
        |    AS max_view,
        |  ROUND(CASE WHEN COUNT(*) FILTER (WHERE r.event_type = 'view')
        |    = 0 THEN NULL ELSE list_reduce(
        |      list_prepend(0.0, LIST(r.value ORDER BY r.p)
        |        FILTER (WHERE r.event_type = 'view')),
        |      (a, b) -> a + b)
        |    / COUNT(*) FILTER (WHERE r.event_type = 'view') END, 6)
        |    AS avg_view,
        |  ROUND(MIN(r.value) FILTER (WHERE r.event_type = 'purchase'), 6)
        |    AS min_purchase,
        |  ROUND(CASE WHEN COUNT(*) FILTER
        |      (WHERE r.event_type = 'purchase') = 0
        |    THEN NULL ELSE list_reduce(
        |      list_prepend(0.0, LIST(r.value ORDER BY r.p)
        |        FILTER (WHERE r.event_type = 'purchase')),
        |      (a, b) -> a + b)
        |    / COUNT(*) FILTER (WHERE r.event_type = 'purchase') END, 6)
        |    AS avg_purchase
        |FROM matches m
        |JOIN pos r ON r.user_id = m.user_id
        |  AND r.p BETWEEN m.cp AND m.p
        |GROUP BY m.user_id, m.match_id
        |ORDER BY m.user_id, m.match_id""".stripMargin,

    "q76_tfidf" ->
      """WITH terms AS (SELECT doc_id, unnest(list_filter(
        |    regexp_split_to_array(LOWER(text), '[^a-z0-9]+'),
        |    x -> LENGTH(x) > 0)) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms
        |  GROUP BY doc_id, term),
        |dfreq AS (SELECT term, COUNT(*) AS df
        |  FROM (SELECT DISTINCT doc_id, term FROM terms)
        |  GROUP BY term),
        |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
        |scored AS (SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |    ROUND(tf.tf * LN(n.n_docs / dfreq.df), 6) AS tfidf
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n
        |  WHERE tf.doc_id < 50),
        |ranked AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, term) AS INT) AS rk FROM scored)
        |SELECT doc_id, rk, term, tf, df, tfidf FROM ranked
        |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,

    "q77_stream_dedup" ->
      """SELECT user_id, event_type, event_id, ts FROM (
        |  SELECT user_id, event_type, event_id, ts,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS rn
        |  FROM events) x
        |WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin,

    "q78_array_funcs" ->
      """WITH toks AS (SELECT doc_id,
        |    regexp_split_to_array(text, '\s+') AS a FROM documents)
        |SELECT doc_id,
        |  CAST(len(a) AS INT) AS n_toks,
        |  CAST(len(list_distinct(a)) AS INT) AS n_dist,
        |  list_contains(a, 'the') AS has_the,
        |  a[1] AS first_tok,
        |  a[-1] AS last_tok,
        |  CAST(COALESCE(list_position(a, 'the'), 0) AS BIGINT) AS pos_the,
        |  array_to_string(list_sort(list_distinct(a))[1:3], '-')
        |    AS first3_sorted
        |FROM toks ORDER BY doc_id""".stripMargin,

    "q79_hash_sample" ->
      """WITH fp AS (SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(SUBSTRING(text, 1, 256), ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |    (h, c) -> (h * 31 + c) % 1000000000000000) AS fp
        |  FROM documents)
        |SELECT doc_id, fp, fp % 20 AS bucket FROM fp
        |WHERE fp % 20 = 0 ORDER BY doc_id""".stripMargin,

    "q93_tz_replace" ->
      """SELECT o_orderkey,
        |  timezone('America/New_York', o_orderdate::TIMESTAMP)::TIMESTAMP
        |    AS to_utc_ny,
        |  timezone('Asia/Tokyo',
        |    o_orderdate::TIMESTAMP::TIMESTAMPTZ)::TIMESTAMP
        |    AS from_utc_tokyo,
        |  CASE WHEN strpos(o_orderpriority, '-') > 0
        |    THEN substring(o_orderpriority, 1,
        |        strpos(o_orderpriority, '-') - 1) || ':' ||
        |      substring(o_orderpriority, strpos(o_orderpriority, '-') + 1)
        |    ELSE o_orderpriority END AS first_dash_colon
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q91_trig_time" ->
      """SELECT event_id,
        |  ROUND(ACOS(1.0 - value / 1000.0), 6) AS f_acos,
        |  ROUND(ASIN(value / 1000.0), 6) AS f_asin,
        |  ROUND(ATAN2(value, 100.0), 6) AS f_atan2,
        |  ROUND(TAN(value / 100.0), 6) AS f_tan,
        |  CAST(HOUR(ts) AS INT) AS f_hour,
        |  CAST(MINUTE(ts) AS INT) AS f_minute,
        |  CAST(SECOND(ts) AS INT) AS f_second,
        |  CAST(epoch_us(ts) % 1000000 // 1000 AS BIGINT) AS f_ms_of_sec,
        |  CAST((DAY(ts) - 1) // 7 + 1 AS INT) AS f_week_of_month
        |FROM events ORDER BY event_id""".stripMargin,

    "q90_complex_types" ->
      """SELECT o_orderpriority,
        |  CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
        |    AS n_f,
        |  CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT)
        |    AS n_o,
        |  CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT)
        |    AS n_p,
        |  STRING_AGG(DISTINCT o_orderstatus, ','
        |    ORDER BY o_orderstatus) AS statuses,
        |  CAST(COUNT(DISTINCT o_orderstatus) AS INT) AS n_statuses
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q89_string_funcs2" ->
      """SELECT c_custkey,
        |  CAST(ascii(c_name) AS INT) AS f_ascii,
        |  chr(CAST(65 + c_custkey % 26 AS INT)) AS f_chr,
        |  left(c_name, 5) AS f_left,
        |  right(c_name, 4) AS f_right,
        |  contains(c_name, '00') AS f_contains,
        |  starts_with(c_name, 'Customer') AS f_starts,
        |  ends_with(c_mktsegment, 'RY') AS f_ends,
        |  translate(c_mktsegment, 'AEIOU', 'aeiou') AS f_translate,
        |  md5(c_name) AS f_md5,
        |  sha256(c_mktsegment) AS f_sha256,
        |  printf('%s-%d', c_mktsegment, c_custkey) AS f_printf
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q86_sentences" ->
      """WITH s AS (SELECT doc_id, LENGTH(text) AS n_chars_t,
        |    list_filter(regexp_split_to_array(text, '[.!?]+'),
        |      x -> LENGTH(x) > 0) AS sents
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(sents) AS INT) AS n_sent,
        |  CASE WHEN len(sents) > 0
        |    THEN CAST(n_chars_t AS DOUBLE) / CAST(len(sents) AS DOUBLE)
        |    ELSE 0.0 END AS avg_sent_chars,
        |  CAST(COALESCE(list_max(list_transform(sents,
        |    x -> LENGTH(x))), 0) AS INT) AS max_sent_chars
        |FROM s ORDER BY doc_id""".stripMargin,

    "q82_contamination" ->
      """WITH toks AS (SELECT doc_id,
        |    regexp_split_to_array(text, '\s+') AS a FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(SUBSTRING(s.sh3, 1, 256), ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (h, c) -> (h * 31 + c) % 1000000000000000) AS h
        |  FROM toks, UNNEST(list_transform(range(1, len(a) - 1),
        |    i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS s(sh3)),
        |bench AS (SELECT doc_id AS bench_id, h FROM sh
        |  WHERE doc_id % 97 = 0),
        |train AS (SELECT doc_id AS train_id, h FROM sh
        |  WHERE doc_id % 97 <> 0)
        |SELECT bench_id, COUNT(DISTINCT train_id) AS n_contaminated
        |FROM bench LEFT JOIN train USING (h)
        |GROUP BY bench_id ORDER BY bench_id""".stripMargin,

    "q83_stratified_sample" ->
      """WITH fp AS (SELECT lang, doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(SUBSTRING(text, 1, 256), ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (h, c) -> (h * 31 + c) % 1000000000000000) AS fp
        |  FROM documents),
        |ranked AS (SELECT lang, doc_id, fp,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY fp, doc_id) AS INT) AS rk
        |  FROM fp)
        |SELECT lang, rk, doc_id, fp FROM ranked WHERE rk <= 10
        |ORDER BY lang, rk""".stripMargin,

    "q84_pii_scrub" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+')) AS INT) AS n_email,
        |  CAST(len(regexp_extract_all(text, 'https?://[^ ]+')) AS INT)
        |    AS n_url,
        |  CAST(LENGTH(regexp_replace(regexp_replace(text,
        |    'https?://[^ ]+', '', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '', 'g')) AS INT)
        |    AS scrubbed_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q85_repetition" ->
      """WITH bg AS (SELECT doc_id,
        |    CASE WHEN len(regexp_split_to_array(text, '\s+')) >= 2
        |      THEN list_transform(
        |        range(1, len(regexp_split_to_array(text, '\s+'))),
        |        i -> regexp_split_to_array(text, '\s+')[i] || ' ' ||
        |             regexp_split_to_array(text, '\s+')[i+1])
        |      ELSE [] END AS b
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(b) AS INT) AS n_bigrams,
        |  CAST(len(list_distinct(b)) AS INT) AS n_distinct,
        |  CASE WHEN len(b) > 0
        |    THEN CAST(len(b) - len(list_distinct(b)) AS DOUBLE)
        |      / CAST(len(b) AS DOUBLE)
        |    ELSE 0.0 END AS rep_ratio
        |FROM bg ORDER BY doc_id""".stripMargin,

    "q81_distinct_on_ext" ->
      """SELECT l_partkey, l_orderkey, l_linenumber, l_shipdate,
        |  l_quantity
        |FROM (SELECT l_partkey, l_orderkey, l_linenumber, l_shipdate,
        |    l_quantity,
        |    ROW_NUMBER() OVER (PARTITION BY l_partkey
        |      ORDER BY l_shipdate DESC, l_orderkey, l_linenumber) AS rn
        |  FROM lineitem) x
        |WHERE rn = 1
        |ORDER BY l_partkey""".stripMargin,

    "q80_pg_attribute" ->
      """SELECT table_name AS relname,
        |  CAST(ordinal_position AS INT) AS attnum,
        |  column_name AS attname
        |FROM information_schema.columns
        |WHERE table_name IN ('region', 'nation', 'customer', 'supplier',
        |  'part', 'orders', 'lineitem', 'events', 'documents',
        |  'embeddings')
        |ORDER BY relname, attnum""".stripMargin
  )
}
