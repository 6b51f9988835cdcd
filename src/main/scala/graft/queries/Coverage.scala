package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.functions.{TextFunctions => TF}
import graft.operators.ExtendedOps

/** Remaining reference-surface coverage: quantified subqueries
  * (ANY/ALL), USING joins, text-line external sources, and NLP term
  * frequencies (reference: analytics/nlp). */
object Coverage {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ANY/ALL quantified comparisons (compiled to min/max scalars —
    // the standard decorrelation for non-null, non-empty subqueries).
    "q63_any_all" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val promoSizes = t.part.where(col("p_type") === "PROMO")
        .agg(max(col("p_size")).as("max_ps"), min(col("p_size")).as("min_ps"))
      t.part.crossJoin(broadcast(promoSizes))
        .select(col("p_partkey"),
          (col("p_size") > col("max_ps")).as("gt_all_promo"),
          (col("p_size") > col("min_ps")).as("gt_any_promo"))
        .orderBy(col("p_partkey"))
    },

    // JOIN ... USING (shared column collapses to one output column).
    "q64_join_using" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val n = t.nation.withColumnRenamed("n_regionkey", "regionkey")
      val r = t.region.withColumnRenamed("r_regionkey", "regionkey")
      n.join(r, Seq("regionkey"))
        .select(col("regionkey"), col("n_name"), col("r_name"))
        .orderBy(col("n_name"))
    },

    // Text-line external source: documents round-tripped through a
    // plain .txt file (reference: external text sources).
    "q65_text_source" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val tmp = graft.sources.ExternalStage.materialize(dir, "txt_documents",
        t.documents.select(col("text"))) { (df, path) =>
        df.coalesce(1).write.mode("overwrite").text(path)
      }
      val lines = spark.read.text(tmp)
      lines.select(TF.tokens(col("value")).as("toks"))
        .agg(
          count(lit(1)).as("n_lines"),
          sum(size(col("toks")).cast("long")).as("n_tokens"),
          countDistinct(element_at(col("toks"), 1)).as("n_first_words"))
    },

    // Categorical imputation: fill synthesized-missing event types with
    // the per-user mode (deterministic tie-break) — the categorical
    // sibling of q38's mean imputation (reference analytics/ml/imputer).
    "q67_impute_mode" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val ev = t.events.withColumn("et",
        when(col("event_type") === "error", lit(null))
          .otherwise(col("event_type")))
      val modeW = Window.partitionBy(col("user_id"))
        .orderBy(col("cnt").desc, col("et"))
      val modes = ev.where(col("et").isNotNull)
        .groupBy(col("user_id"), col("et"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rk", row_number().over(modeW))
        .where(col("rk") === 1)
        .select(col("user_id"), col("et").as("mode_et"))
      ev.join(modes, Seq("user_id"), "left")
        .select(col("event_id"), col("user_id"),
          col("et").isNull.as("was_missing"),
          coalesce(col("et"), col("mode_et")).as("et_imputed"))
        .orderBy(col("event_id"))
    },

    // RANGE window frames (value-based, vs the ROWS frames of q30):
    // peers within a totalprice distance and a trailing time interval.
    "q69_range_frame" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val wPrice = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"))
        .rangeBetween(-50000L, 0L)
      t.orders.select(
        col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
        count(lit(1)).over(wPrice).as("n_within_50k"),
        sum(col("o_totalprice").cast("decimal(38,6)")).over(wPrice)
          .cast("double").as("sum_within_50k"))
        .orderBy(col("o_orderkey"))
    },

    // LATERAL correlated table subquery: top-2 orders per customer,
    // evaluated per outer row (decorrelated by Catalyst into a ranked
    // window join — no per-row re-execution).
    "q98_lateral" -> { (spark, dir) =>
      Tables(spark, dir).registerAll()
      spark.sql(
        """SELECT c_custkey, o_orderkey, o_totalprice
          |FROM customer, LATERAL (
          |  SELECT o_orderkey, o_totalprice FROM orders
          |  WHERE o_custkey = c_custkey
          |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
          |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin)
    },

    // NATURAL JOIN through the SQL interface (shared column names
    // collapse to the join key automatically).
    "q96_natural_join" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      t.nation.withColumnRenamed("n_regionkey", "regionkey")
        .createOrReplaceTempView("graft_nj_nation")
      t.region.withColumnRenamed("r_regionkey", "regionkey")
        .createOrReplaceTempView("graft_nj_region")
      spark.sql(
        """SELECT regionkey, n_name, r_name
          |FROM graft_nj_nation NATURAL JOIN graft_nj_region
          |ORDER BY n_name""".stripMargin)
    },

    // Multiset compounds: INTERSECT ALL / EXCEPT ALL keep duplicate
    // multiplicities (the bag-semantics twins of q13's set versions).
    "q97_compound_all" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val big = t.orders.where(col("o_totalprice") > 150000.0)
        .select(col("o_custkey"))
      val urgent = t.orders.where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      val i = big.intersectAll(urgent).groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n")).withColumn("src", lit("intersect_all"))
      val e = big.exceptAll(urgent).groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n")).withColumn("src", lit("except_all"))
      i.unionAll(e).orderBy(col("src"), col("o_custkey"))
    },

    // pg_catalog-style schema introspection (reference: pgcatalog/).
    "q68_pg_catalog" -> { (spark, dir) =>
      graft.sources.Catalog.pgClass(spark, dir)
        .orderBy(col("relname"))
    },

    // Vocabulary coverage curve: what share of all corpus tokens do
    // the most frequent ~k terms cover, for k in {5, 10, 20}
    // (the synthetic corpus draws from a ~31-term vocabulary; on a
    // real corpus the targets scale to 100/1k/10k unchanged)?
    // The tokenizer-budget planning table. Per-term ranking is
    // avoided entirely: terms collapse to the COUNT-OF-COUNTS
    // histogram (one row per distinct frequency m — value-domain
    // bounded), cumulative terms/tokens run over that bounded frame
    // from the most frequent m down, and each target picks the
    // crossing row (smallest cum_terms >= k) with an exact integer
    // min_by. All integer until the final coverage division.
    "q350_vocab_coverage" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val counts = t.documents
        .select(explode(TF.regexTokens(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("m"))
      val cc = counts.groupBy(col("m"))
        .agg(count(lit(1)).as("n_terms"))
        .withColumn("tokens_m", col("m") * col("n_terms"))
      val w = Window.orderBy(col("m").desc)
      val cum = cc
        .withColumn("cum_terms", sum(col("n_terms")).over(w))
        .withColumn("cum_tokens", sum(col("tokens_m")).over(w))
      val tot = cc.agg(sum(col("tokens_m")).as("total_tokens"))
      cum
        .select(col("m"), col("cum_terms"), col("cum_tokens"),
          explode(array(lit(5L), lit(10L), lit(20L))).as("k"))
        .where(col("cum_terms") >= col("k"))
        .groupBy(col("k"))
        .agg(min_by(struct(col("m"), col("cum_terms"),
          col("cum_tokens")), col("cum_terms")).as("s"))
        .crossJoin(broadcast(tot))
        .select(col("k"), col("s.m").as("cutoff_count"),
          col("s.cum_terms").as("terms_used"),
          round(col("s.cum_tokens").cast("double")
            / col("total_tokens").cast("double"), 6).as("coverage"))
        .orderBy(col("k"))
    },

    // Lexical diversity per source: type-token ratio and Herdan's C
    // (ln V / ln N — the size-robust variant) — the vocabulary-
    // richness signals a corpus monitor tracks per feed. ONE token
    // fan-out to per-(source, term) counts, then exact integer V/N
    // per source; TTR is one division, C one LN ratio.
    "q355_lexical_diversity" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      t.documents
        .select(col("source"),
          explode(TF.regexTokens(col("text"))).as("term"))
        .groupBy(col("source"), col("term"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("v_types"),
          sum(col("c")).as("n_tokens"))
        .select(col("source"), col("v_types"), col("n_tokens"),
          round(col("v_types").cast("double")
            / col("n_tokens").cast("double"), 6).as("ttr"),
          round(log(col("v_types").cast("double"))
            / log(col("n_tokens").cast("double")), 6)
            .as("herdan_c"))
        .orderBy(col("source"))
    },

    // Simpson diversity of the term distribution per source (Simpson
    // 1949): D = 1 - sum n_t(n_t - 1) / (N(N - 1)) — the probability
    // two random tokens differ. ALL integer arithmetic off the same
    // per-(source, term) counts, one final division.
    "q356_simpson_diversity" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      t.documents
        .select(col("source"),
          explode(TF.regexTokens(col("text"))).as("term"))
        .groupBy(col("source"), col("term"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(sum(col("c") * (col("c") - 1)).as("pairs_same"),
          sum(col("c")).as("n"))
        .select(col("source"), col("n").as("n_tokens"),
          round(lit(1.0) - col("pairs_same").cast("double")
            / (col("n") * (col("n") - 1)).cast("double"), 6)
            .as("simpson_d"))
        .orderBy(col("source"))
    },

    // NLP term frequency: top-5 regex tokens per language.
    "q66_term_freq" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n").desc, col("term"))
      t.documents
        .select(col("lang"), explode(TF.regexTokens(col("text"))).as("term"))
        .groupBy(col("lang"), col("term"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 5)
        .orderBy(col("lang"), col("rk"))
    },

    // Heavy hitters via the native SpaceSaving sketch aggregate
    // (graft_topk TypedImperativeAggregate): same answer as q66's
    // groupBy+window top-k, but with |groups| x capacity state and
    // map-side combine instead of a shuffle row per distinct term —
    // the sketch trade at corpus scale. Capacity (1024) far exceeds
    // this vocabulary, so counts are exact and the oracle applies.
    "q112_heavy_hitters" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      t.documents
        .select(col("lang"), explode(TF.regexTokens(col("text"))).as("term"))
        .groupBy(col("lang"))
        .agg(expr("graft_topk(term, 5)").as("top"))
        .select(col("lang"), posexplode(col("top")).as(Seq("pos", "ts")))
        .select(col("lang"), col("ts.term").as("term"),
          col("ts.n").as("n"), (col("pos") + 1).cast("int").as("rk"))
        .orderBy(col("lang"), col("rk"))
    },

    // Rank-distribution window functions: PERCENT_RANK / CUME_DIST
    // (the remaining ANSI window inventory beyond q30/q69).
    "q102_rank_funcs" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal"))
      t.customer.select(col("c_custkey"), col("c_mktsegment"),
        (round(percent_rank().over(w), 6) + lit(0.0)).as("pr"),
        (round(cume_dist().over(w), 6) + lit(0.0)).as("cd"))
        .orderBy(col("c_custkey"))
    },

    // Extended string surface: padding, repetition, reversal,
    // delimited-field extraction, edit distance.
    "q103_string_funcs3" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      t.part.select(col("p_partkey"),
        lpad(col("p_brand"), 12, "*").as("lp"),
        rpad(col("p_brand"), 12, "*").as("rp"),
        reverse(col("p_name")).as("rev"),
        repeat(col("p_type"), 2).as("rep"),
        expr("split_part(p_name, ' ', 1)").as("first_word"),
        levenshtein(col("p_name"), col("p_brand")).as("lev"))
        .orderBy(col("p_partkey"))
    },

    // DataSource V2 generator table (sources/GenSource): deterministic
    // synthetic rows produced on the executors with id-range filter
    // pushdown and column pruning; the oracle rebuilds the identical
    // table from DuckDB's range(). Integer-only aggregates (exact,
    // order-immune).
    "q105_gen_source" -> { (spark, dir) =>
      spark.read.format("graft.sources.GenSource")
        .option("rows", "100000").option("parts", "8").load()
        .where(col("id") >= 1000L && col("id") < 60000L)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("id")).as("sum_id"),
          min(col("id")).as("min_id"),
          max(col("id")).as("max_id"),
          countDistinct(col("tok")).as("n_tok"))
        .orderBy(col("bucket"))
    },

    // Calendar date-part surface beyond q22/q91: day-of-week/year,
    // quarter, ISO week, month truncation/arithmetic.
    "q106_date_parts" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      t.orders.select(col("o_orderkey"), col("o_orderdate"),
        dayofweek(col("o_orderdate")).as("dow"),
        dayofyear(col("o_orderdate")).as("doy"),
        quarter(col("o_orderdate")).as("qtr"),
        weekofyear(col("o_orderdate")).as("iso_week"),
        last_day(col("o_orderdate")).as("month_end"),
        to_date(date_trunc("month", col("o_orderdate"))).as("month_start"),
        add_months(col("o_orderdate"), 2).as("plus2m"))
        .orderBy(col("o_orderkey"))
    },

    // Regexp surface: extract, replace-all, count, match predicate.
    "q107_regexp" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      t.documents.select(col("doc_id"),
        regexp_extract(col("text"), "([a-z]+)", 1).as("first_word"),
        length(regexp_replace(col("text"), "[aeiou]", "_"))
          .as("replaced_len"),
        expr("regexp_count(text, 'ing')").as("n_ing"),
        col("text").rlike("^the").as("starts_the"))
        .orderBy(col("doc_id"))
    },

    // Range join without an equality key (point-in-interval): bucket
    // expansion turns the theta join into a hash equi-join on the
    // bucket id (ExtendedOps.rangeJoin) — Spark alone would plan a
    // BroadcastNestedLoopJoin here.
    "q108_range_join" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      import spark.implicits._
      val bands = Seq(
        (1, 0.0, 50000.0), (2, 50000.0, 100000.0),
        (3, 100000.0, 200000.0), (4, 200000.0, 400000.0),
        (5, 400000.0, 600000.0)).toDF("band_id", "lo", "hi")
      ExtendedOps.rangeJoin(
        t.orders.select(col("o_orderkey"), col("o_totalprice")),
        bands, "o_totalprice", "lo", "hi", width = 25000.0)
        .groupBy(col("band_id"))
        .agg(count(lit(1)).as("n"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy(col("band_id"))
    },

    // The injected range-join OPTIMIZER RULE behind the oracle gate
    // (previously spec-only): the SAME plain theta join a user writes,
    // with the conf-gated rewrite forced on and REQUIRED to have fired
    // (the optimized plan must carry the bucket-expansion marker) —
    // results must equal DuckDB's own theta join, proving the rule
    // transparent. The conf is scoped to this query: the plan is
    // pinned while it's on, then the key unsets.
    "q435_range_rewrite_sql" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      import spark.implicits._
      val bands = Seq(
        (1, 0.0, 50000.0), (2, 50000.0, 100000.0),
        (3, 100000.0, 200000.0), (4, 200000.0, 400000.0),
        (5, 400000.0, 600000.0)).toDF("band_id", "lo", "hi")
      spark.conf.set(graft.plans.RangeJoinRewrite.WidthKey, "25000.0")
      try {
        val df = t.orders.select(col("o_orderkey"), col("o_totalprice"))
          .join(bands, col("o_totalprice") >= col("lo") &&
            col("o_totalprice") < col("hi"))
          .groupBy(col("band_id"))
          .agg(count(lit(1)).as("n"),
            min(col("o_orderkey")).as("min_key"),
            max(col("o_orderkey")).as("max_key"))
          .orderBy(col("band_id"))
        require(df.queryExecution.optimizedPlan.toString
          .contains("_graft_pb"), "range-join rewrite did not fire")
        df.queryExecution.executedPlan // pin the plan under the conf
        df
      } finally spark.conf
        .unset(graft.plans.RangeJoinRewrite.WidthKey)
    },

    // The injected band-join OPTIMIZER RULE behind the oracle gate:
    // a keyed interval join written as a plain `k = k AND lo <= t
    // AND t < hi` DataFrame join, rewrite forced on and required to
    // have swapped in the BandJoin sweep; oracle = DuckDB's own join.
    "q436_band_rewrite_sql" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val pts = t.lineitem.select(col("l_suppkey").as("k"),
        col("l_extendedprice").as("tv"), col("l_orderkey"))
      val iv = t.supplier.select(col("s_suppkey").as("k2"),
        (col("s_acctbal") * 10).as("lo"),
        (col("s_acctbal") * 10 + 50000).as("hi"))
      spark.conf.set(graft.plans.BandJoinRewrite.EnabledKey, "true")
      try {
        val df = pts.join(iv, col("k") === col("k2") &&
            col("tv") >= col("lo") && col("tv") < col("hi"))
          .groupBy(col("k"))
          .agg(count(lit(1)).as("n"),
            min(col("l_orderkey")).as("min_key"),
            max(col("l_orderkey")).as("max_key"))
          .orderBy(col("k"))
        require(df.queryExecution.optimizedPlan.toString
          .contains("BandJoin"), "band-join rewrite did not fire")
        df.queryExecution.executedPlan // pin the plan under the conf
        df
      } finally spark.conf
        .unset(graft.plans.BandJoinRewrite.EnabledKey)
    },

    // Skew-resistant salted join: lineitem's 3-value returnflag key is
    // maximal skew — salting spreads each hot key over 16 sub-keys.
    // Results must be identical to the plain join (the oracle).
    "q113_salted_join" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      import spark.implicits._
      val flags = Seq(("A", "async"), ("N", "none"), ("R", "returned"))
        .toDF("l_returnflag", "flag_desc")
      ExtendedOps.saltedJoin(
        t.lineitem.select(col("l_returnflag"), col("l_quantity")),
        flags, Seq("l_returnflag"), salts = 16)
        .groupBy(col("l_returnflag"), col("flag_desc"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(38,6)")).cast("double")
            .as("sum_qty"))
        .orderBy(col("l_returnflag"))
    },

    // Bitwise operator surface over BIGINT keys.
    "q104_bitwise" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      t.orders.select(col("o_orderkey"),
        col("o_orderkey").bitwiseAND(lit(255L)).as("band"),
        col("o_orderkey").bitwiseOR(lit(4096L)).as("bor"),
        col("o_orderkey").bitwiseXOR(col("o_custkey")).as("bxor"),
        expr("shiftleft(o_orderkey, 2)").as("shl"),
        expr("shiftright(o_orderkey, 3)").as("shr"),
        expr("~o_orderkey").as("bnot"))
        .orderBy(col("o_orderkey"))
    },

    // Linear interpolation of missing values over each user's ordered
    // event stream — the time-weighted ordered-stream sibling of q38's
    // group-mean imputation (reference analytics/ml/imputer + ordered
    // stream ops). Each missing value takes
    // prev + (next - prev) * elapsed/gap by event time; stream edges
    // fall back to the nearest non-null side. One window partition per
    // user — state bounded per key, shuffle on user_id only.
    "q115_interpolate" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val base = t.events.select(
        col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("tus"),
        when(col("event_type") === "error", lit(null).cast("double"))
          .otherwise(col("value")).as("v"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tus"), col("event_id"))
      val back = w.rowsBetween(Window.unboundedPreceding, 0)
      val fwd = w.rowsBetween(0, Window.unboundedFollowing)
      val pv = last(col("v"), ignoreNulls = true).over(back)
      val pt = last(when(col("v").isNotNull, col("tus")),
        ignoreNulls = true).over(back)
      val nv = first(col("v"), ignoreNulls = true).over(fwd)
      val nt = first(when(col("v").isNotNull, col("tus")),
        ignoreNulls = true).over(fwd)
      base.select(col("event_id"), col("user_id"),
        col("v").isNull.as("was_missing"),
        when(col("v").isNotNull, col("v"))
          .when(pt.isNull, nv)
          .when(nt.isNull, pv)
          .when(nt === pt, pv)
          .otherwise(pv + (nv - pv) *
            ((col("tus") - pt).cast("double") /
              (nt - pt).cast("double")))
          .as("v_interp"))
        .orderBy(col("event_id"))
    },

    // Count-Min sketch frequency estimates (graft_cms
    // TypedImperativeAggregate): fixed depth*width state, map-side
    // combine, elementwise-add merge — the 100-TB path for per-key
    // frequency where exact counting shuffles a row per distinct key.
    // The portable double-hash arithmetic is replicated in the DuckDB
    // oracle, so estimates (collisions included) are value-checked,
    // not rows-only; exact_n sits alongside for the quality contract.
    "q117_cms_sketch" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val sk = t.events.agg(expr("graft_cms(event_type, 4, 64)").as("sk"))
      t.events.groupBy(col("event_type")).agg(count(lit(1)).as("exact_n"))
        .crossJoin(broadcast(sk))
        .select(col("event_type"), col("exact_n"),
          expr("graft_cms_estimate(sk, event_type, 4, 64)").as("est_n"))
        .orderBy(col("event_type"))
    },

    // Bloom-pruned join: the probe (fact) side is pre-filtered by a
    // Bloom filter built over the selective dim side's keys before the
    // join shuffle; the exact join then removes false positives, so
    // the result — and the oracle — is the plain join.
    "q118_bloom_prune" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val dim = t.orders
        .where(col("o_orderpriority") === "1-URGENT" &&
          col("o_totalprice") > 350000.0)
        .select(col("o_orderkey"), col("o_orderdate"))
      ExtendedOps.bloomPrunedJoin(
          t.lineitem.select(col("l_orderkey"), col("l_extendedprice"),
            col("l_discount")),
          dim, "l_orderkey", "o_orderkey")
        .groupBy(year(col("o_orderdate")).as("yr"))
        .agg(count(lit(1)).as("n"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(38,6)")).cast("double").as("revenue"))
        .orderBy(col("yr"))
    },

    // Table alias / column rename (reference fromItemAlias — the
    // relational rename operator, not a spec detail): self-join of
    // nation under two aliases with positional column renames, the
    // same SQL string running verbatim on both engines.
    "q456_table_alias_sql" -> { (spark, dir) =>
      Tables(spark, dir).registerAll()
      spark.sql(
        """SELECT a.n_name AS nation_a, b.n_name AS nation_b,
          |  a.n_regionkey AS shared_region
          |FROM nation a JOIN nation b
          |  ON a.n_regionkey = b.n_regionkey
          |  AND a.n_nationkey < b.n_nationkey
          |ORDER BY nation_a, nation_b""".stripMargin)
    },

    // CAST / type conversions (reference ScalCast): the conversion
    // matrix over engine-portable reprs — string->int, numeric
    // widen/narrow, decimal rescale surfaced as DOUBLE, date->string,
    // int->string; TRY-style failed parse is exercised via a NULLIF
    // guard both engines share.
    "q457_cast_matrix_sql" -> { (spark, dir) =>
      Tables(spark, dir).registerAll()
      spark.sql(
        """SELECT o_orderkey,
          |  CAST(CAST(o_orderkey AS STRING) AS BIGINT) AS rt_int,
          |  CAST(o_orderkey AS INT) AS narrowed,
          |  CAST(CAST(o_totalprice AS DECIMAL(18,1)) AS DOUBLE)
          |    AS rescaled,
          |  CAST(CAST(o_orderdate AS DATE) AS STRING) AS date_str,
          |  CAST(SUBSTRING(o_orderpriority, 1, 1) AS INT) AS prio_num
          |FROM orders
          |WHERE o_orderkey <= 200
          |ORDER BY o_orderkey""".stripMargin)
    },

    // Exact bounded top-k aggregate (plans/TopKBy.scala): the native
    // graft_topk_by TypedImperativeAggregate — k rows of state per
    // group, map-side combine, NEVER a per-group window sort — whose
    // determinism contract (score DESC, tie ASC, unique tie) lets a
    // row_number window replicate it exactly in DuckDB.
    "q458_topk_agg_sql" -> { (spark, dir) =>
      Tables(spark, dir).registerAll()
      spark.sql(
        """SELECT o_orderstatus, t.payload AS o_orderkey,
          |  t.score AS price
          |FROM (
          |  SELECT o_orderstatus,
          |    explode(graft_topk_by(CAST(o_totalprice AS DOUBLE),
          |      o_orderkey, o_orderkey, 5)) AS t
          |  FROM orders GROUP BY o_orderstatus)
          |ORDER BY o_orderstatus, price DESC, o_orderkey""".stripMargin)
    },

    // Parquet sink partitioned by key: the write side of the layout
    // family — orders staged PARTITIONED BY o_orderstatus, read back
    // THROUGH the partition filter (pruned at planning time), and the
    // aggregate over the round trip must equal the direct aggregate.
    "q459_partitioned_sink_sql" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val tmp = graft.sources.ExternalStage.materialize(dir,
        "part_sink_orders", t.orders) { (df, path) =>
        df.write.mode("overwrite")
          .partitionBy("o_orderstatus").parquet(path)
      }
      spark.read.parquet(tmp)
        .where(col("o_orderstatus") === "F")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(38,6)"))
            .cast("double").as("total"))
        .orderBy(col("o_orderpriority"))
    },

    // Named external-location registry as a RELATION: GRAFT ADD
    // LOCATION binds the name, EXTERNAL(<name>) reads it inside
    // ordinary SQL (reference external/objects/ExternalSource) — the
    // oracle is the same select from the raw table.
    "q460_location_registry_sql" -> { (spark, dir) =>
      Tables(spark, dir).registerAll()
      spark.sql(s"GRAFT ADD LOCATION reg460 PARQUET " +
        s"'$dir/supplier.parquet'").collect()
      spark.sql(
        """SELECT s_nationkey, COUNT(*) AS n,
          |  MIN(s_name) AS first_name
          |FROM EXTERNAL(reg460)
          |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)
    },

    // Custom DSv2 batch SINK round trip (sources/CollectSink.scala —
    // SupportsWrite/BatchWrite two-phase commit): the relation writes
    // THROUGH the sink (task buffers -> task commit messages -> the
    // driver's job commit publishes atomically), then the published
    // rows rebuild a frame the oracle checks — the sink's value path,
    // not just its lifecycle spec.
    "q461_dsv2_sink_sql" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      graft.sources.CollectSink.clear("q461")
      t.supplier.select(col("s_suppkey"), col("s_name"))
        .write.format("graft.sources.CollectSink")
        .option("table", "q461").mode("append").save()
      val rows = graft.sources.CollectSink.rows("q461")
        .map(r => (r(0).asInstanceOf[Long], r(1).toString))
      import spark.implicits._
      rows.toDF("s_suppkey", "s_name").orderBy(col("s_suppkey"))
    },

    // Incremental Bloom-manifest refresh as an ORACLE row (the
    // append-only lakehouse maintenance lane): the layout stages in
    // TWO phases — even orderkeys indexed first, odd orderkeys
    // APPENDED after the build — so the point lookup for an ODD key
    // only answers correctly if refreshBloom indexed the new files
    // (O(new data), never O(layout)). Oracle = the plain filter over
    // the full table.
    "q462_bloom_refresh_sql" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val base = new org.apache.hadoop.fs.Path(
        graft.sources.CacheFs.root(spark),
        s"bloomref_${Integer.toHexString(dir.hashCode)}").toString
      if (!graft.sources.CacheFs.complete(spark, base, "_APPENDED")) {
        t.lineitem.where(col("l_orderkey") % 2 === 0)
          .repartition(8, col("l_orderkey"))
          .write.mode("overwrite").parquet(base)
        graft.sources.FileManifest.buildBloom(spark, base, "l_orderkey")
        t.lineitem.where(col("l_orderkey") % 2 === 1)
          .repartition(8, col("l_orderkey"))
          .write.mode("append").parquet(base)
        graft.sources.CacheFs.touch(spark, base, "_APPENDED")
      }
      graft.sources.FileManifest.refreshBloom(spark, base, "l_orderkey")
      graft.sources.FileManifest
        .bloomLookup(spark, base, "l_orderkey", 1L)
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity").cast("decimal(38,6)")).cast("double")
            .as("total_qty"))
    },

    // posexplode / UNNEST WITH ORDINALITY: token arrays flattened with
    // their position (reference: sql UNNEST + array surface).
    "q116_pos_explode" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      t.documents.where(col("doc_id") < 50)
        .select(col("doc_id"),
          posexplode(TF.tokens(col("text"))))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("col").as("tok"))
        .where(col("pos") < 20)
        .orderBy(col("doc_id"), col("pos"))
    }
  )

  def oracle: Map[String, String] = Map(
    "q456_table_alias_sql" ->
      """SELECT a.n_name AS nation_a, b.n_name AS nation_b,
        |  a.n_regionkey AS shared_region
        |FROM nation a JOIN nation b
        |  ON a.n_regionkey = b.n_regionkey
        |  AND a.n_nationkey < b.n_nationkey
        |ORDER BY nation_a, nation_b""".stripMargin,

    "q457_cast_matrix_sql" ->
      """SELECT o_orderkey,
        |  CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS rt_int,
        |  CAST(o_orderkey AS INT) AS narrowed,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,1)) AS DOUBLE)
        |    AS rescaled,
        |  CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS date_str,
        |  CAST(SUBSTRING(o_orderpriority, 1, 1) AS INT) AS prio_num
        |FROM orders
        |WHERE o_orderkey <= 200
        |ORDER BY o_orderkey""".stripMargin,

    // the round trip through the partitioned layout must be lossless
    "q459_partitioned_sink_sql" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
        |    AS total
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority"""
        .stripMargin,

    "q460_location_registry_sql" ->
      """SELECT s_nationkey, COUNT(*) AS n, MIN(s_name) AS first_name
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey"""
        .stripMargin,

    "q462_bloom_refresh_sql" ->
      """SELECT l_orderkey, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)
        |    AS total_qty
        |FROM lineitem WHERE l_orderkey = 1
        |GROUP BY l_orderkey""".stripMargin,

    // what came out of the sink must be what went in
    "q461_dsv2_sink_sql" ->
      """SELECT s_suppkey, s_name FROM supplier ORDER BY s_suppkey"""
        .stripMargin,

    // graft_topk_by's determinism contract == the window top-k under
    // ORDER BY score DESC, tie ASC
    "q458_topk_agg_sql" ->
      """SELECT o_orderstatus, o_orderkey, price FROM (
        |  SELECT o_orderstatus, o_orderkey,
        |    CAST(o_totalprice AS DOUBLE) AS price,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders)
        |WHERE rk <= 5
        |ORDER BY o_orderstatus, price DESC, o_orderkey""".stripMargin,

    "q63_any_all" ->
      """SELECT p_partkey,
        |  p_size > ALL (SELECT p_size FROM part WHERE p_type = 'PROMO')
        |    AS gt_all_promo,
        |  p_size > ANY (SELECT p_size FROM part WHERE p_type = 'PROMO')
        |    AS gt_any_promo
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q64_join_using" ->
      """SELECT regionkey, n_name, r_name
        |FROM (SELECT n_name, n_regionkey AS regionkey FROM nation) n
        |JOIN (SELECT r_name, r_regionkey AS regionkey FROM region) r
        |USING (regionkey)
        |ORDER BY n_name""".stripMargin,

    "q65_text_source" ->
      """SELECT COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT))
        |    AS BIGINT) AS n_tokens,
        |  COUNT(DISTINCT regexp_split_to_array(text, '\s+')[1])
        |    AS n_first_words
        |FROM documents""".stripMargin,

    "q67_impute_mode" ->
      """WITH ev AS (SELECT event_id, user_id,
        |    CASE WHEN event_type = 'error' THEN NULL
        |      ELSE event_type END AS et
        |  FROM events),
        |modes AS (SELECT user_id, et AS mode_et FROM (
        |    SELECT user_id, et, COUNT(*) AS cnt,
        |      ROW_NUMBER() OVER (PARTITION BY user_id
        |        ORDER BY COUNT(*) DESC, et) AS rk
        |    FROM ev WHERE et IS NOT NULL GROUP BY user_id, et) x
        |  WHERE rk = 1)
        |SELECT event_id, ev.user_id, et IS NULL AS was_missing,
        |  COALESCE(et, mode_et) AS et_imputed
        |FROM ev LEFT JOIN modes ON ev.user_id = modes.user_id
        |ORDER BY event_id""".stripMargin,

    "q69_range_frame" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
        |  COUNT(*) OVER w AS n_within_50k,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) OVER w
        |    AS DOUBLE) AS sum_within_50k
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice
        |  RANGE BETWEEN 50000 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,

    "q98_lateral" ->
      """SELECT c_custkey, o_orderkey, o_totalprice
        |FROM customer, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey = c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin,

    "q96_natural_join" ->
      """SELECT regionkey, n_name, r_name
        |FROM (SELECT n_name, n_regionkey AS regionkey FROM nation)
        |NATURAL JOIN (SELECT r_name, r_regionkey AS regionkey FROM region)
        |ORDER BY n_name""".stripMargin,

    "q97_compound_all" ->
      """WITH big AS (SELECT o_custkey FROM orders
        |    WHERE o_totalprice > 150000.0),
        |  urgent AS (SELECT o_custkey FROM orders
        |    WHERE o_orderpriority = '1-URGENT')
        |SELECT o_custkey, n, src FROM (
        |  SELECT o_custkey, COUNT(*) AS n, 'intersect_all' AS src
        |  FROM (SELECT o_custkey FROM big
        |        INTERSECT ALL SELECT o_custkey FROM urgent)
        |  GROUP BY o_custkey
        |  UNION ALL
        |  SELECT o_custkey, COUNT(*) AS n, 'except_all' AS src
        |  FROM (SELECT o_custkey FROM big
        |        EXCEPT ALL SELECT o_custkey FROM urgent)
        |  GROUP BY o_custkey)
        |ORDER BY src, o_custkey""".stripMargin,

    "q68_pg_catalog" ->
      """SELECT relname, 'r' AS relkind, CAST(n_atts AS INT) AS n_atts
        |FROM (VALUES
        |  ('region', 2), ('nation', 3), ('customer', 5),
        |  ('supplier', 4), ('part', 6), ('orders', 6),
        |  ('lineitem', 11), ('events', 6), ('documents', 5),
        |  ('embeddings', 3)) AS t(relname, n_atts)
        |ORDER BY relname""".stripMargin,

    // q112 = the sketch aggregate in its exact regime, so the oracle
    // is the same exact top-5 as q66's.
    "q112_heavy_hitters" ->
      """WITH terms AS (SELECT lang, unnest(list_filter(
        |    regexp_split_to_array(LOWER(text), '[^a-z0-9]+'),
        |    x -> LENGTH(x) > 0)) AS term
        |  FROM documents),
        |counted AS (SELECT lang, term, COUNT(*) AS n FROM terms
        |  GROUP BY lang, term),
        |ranked AS (SELECT lang, term, n,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY n DESC, term) AS INT) AS rk
        |  FROM counted)
        |SELECT lang, term, n, rk FROM ranked WHERE rk <= 5
        |ORDER BY lang, rk""".stripMargin,

    // exact per-source V/N counts; LN ratio as the identical tree
    "q355_lexical_diversity" ->
      """WITH terms AS (SELECT source, unnest(list_filter(
        |    regexp_split_to_array(LOWER(text), '[^a-z0-9]+'),
        |    x -> LENGTH(x) > 0)) AS term
        |  FROM documents),
        |counted AS (SELECT source, term,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM terms GROUP BY source, term),
        |g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS v_types,
        |    CAST(SUM(c) AS BIGINT) AS n_tokens
        |  FROM counted GROUP BY source)
        |SELECT source, v_types, n_tokens,
        |  ROUND(CAST(v_types AS DOUBLE) / CAST(n_tokens AS DOUBLE),
        |    6) AS ttr,
        |  ROUND(LN(CAST(v_types AS DOUBLE))
        |    / LN(CAST(n_tokens AS DOUBLE)), 6) AS herdan_c
        |FROM g ORDER BY source""".stripMargin,

    // all-integer same-pair counting, one division
    "q356_simpson_diversity" ->
      """WITH terms AS (SELECT source, unnest(list_filter(
        |    regexp_split_to_array(LOWER(text), '[^a-z0-9]+'),
        |    x -> LENGTH(x) > 0)) AS term
        |  FROM documents),
        |counted AS (SELECT source, term,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM terms GROUP BY source, term),
        |g AS (SELECT source,
        |    CAST(SUM(c * (c - 1)) AS BIGINT) AS pairs_same,
        |    CAST(SUM(c) AS BIGINT) AS n
        |  FROM counted GROUP BY source)
        |SELECT source, n AS n_tokens,
        |  ROUND(1.0 - CAST(pairs_same AS DOUBLE)
        |    / CAST(n * (n - 1) AS DOUBLE), 6) AS simpson_d
        |FROM g ORDER BY source""".stripMargin,

    // same count-of-counts collapse; the crossing row picked by the
    // same exact integer rule
    "q350_vocab_coverage" ->
      """WITH terms AS (SELECT unnest(list_filter(
        |    regexp_split_to_array(LOWER(text), '[^a-z0-9]+'),
        |    x -> LENGTH(x) > 0)) AS term
        |  FROM documents),
        |counts AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS m
        |  FROM terms GROUP BY term),
        |cc AS (SELECT m, CAST(COUNT(*) AS BIGINT) AS n_terms,
        |    m * CAST(COUNT(*) AS BIGINT) AS tokens_m
        |  FROM counts GROUP BY m),
        |cum AS (SELECT m,
        |    CAST(SUM(n_terms) OVER (ORDER BY m DESC) AS BIGINT)
        |      AS cum_terms,
        |    CAST(SUM(tokens_m) OVER (ORDER BY m DESC) AS BIGINT)
        |      AS cum_tokens
        |  FROM cc),
        |tot AS (SELECT CAST(SUM(tokens_m) AS BIGINT)
        |    AS total_tokens FROM cc),
        |l AS (SELECT k FROM (VALUES (5), (10), (20)) t(k)),
        |x AS (SELECT l.k, cum.m, cum.cum_terms, cum.cum_tokens,
        |    ROW_NUMBER() OVER (PARTITION BY l.k
        |      ORDER BY cum.cum_terms) AS rk
        |  FROM l JOIN cum ON cum.cum_terms >= l.k)
        |SELECT CAST(k AS BIGINT) AS k, m AS cutoff_count,
        |  cum_terms AS terms_used,
        |  ROUND(CAST(cum_tokens AS DOUBLE)
        |    / CAST(total_tokens AS DOUBLE), 6) AS coverage
        |FROM x CROSS JOIN tot WHERE rk = 1 ORDER BY k""".stripMargin,

    "q66_term_freq" ->
      """WITH terms AS (SELECT lang, unnest(list_filter(
        |    regexp_split_to_array(LOWER(text), '[^a-z0-9]+'),
        |    x -> LENGTH(x) > 0)) AS term
        |  FROM documents),
        |counted AS (SELECT lang, term, COUNT(*) AS n FROM terms
        |  GROUP BY lang, term),
        |ranked AS (SELECT lang, term, n,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY n DESC, term) AS INT) AS rk
        |  FROM counted)
        |SELECT lang, term, n, rk FROM ranked WHERE rk <= 5
        |ORDER BY lang, rk""".stripMargin,

    "q102_rank_funcs" ->
      """SELECT c_custkey, c_mktsegment,
        |  ROUND(PERCENT_RANK() OVER (PARTITION BY c_mktsegment
        |    ORDER BY c_acctbal), 6) + 0.0 AS pr,
        |  ROUND(CUME_DIST() OVER (PARTITION BY c_mktsegment
        |    ORDER BY c_acctbal), 6) + 0.0 AS cd
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q103_string_funcs3" ->
      """SELECT p_partkey,
        |  LPAD(p_brand, 12, '*') AS lp,
        |  RPAD(p_brand, 12, '*') AS rp,
        |  REVERSE(p_name) AS rev,
        |  REPEAT(p_type, 2) AS rep,
        |  SPLIT_PART(p_name, ' ', 1) AS first_word,
        |  CAST(LEVENSHTEIN(p_name, p_brand) AS INT) AS lev
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q105_gen_source" ->
      """WITH g AS (SELECT i AS id,
        |    CAST(((i * 2654435761) % 2147483647) % 100 AS INT) AS bucket,
        |    't' || CAST(i % 997 AS VARCHAR) AS tok
        |  FROM range(0, 100000) t(i))
        |SELECT bucket, COUNT(*) AS n, CAST(SUM(id) AS BIGINT) AS sum_id,
        |  MIN(id) AS min_id, MAX(id) AS max_id,
        |  COUNT(DISTINCT tok) AS n_tok
        |FROM g WHERE id >= 1000 AND id < 60000
        |GROUP BY bucket ORDER BY bucket""".stripMargin,

    // DuckDB dayofweek is 0=Sunday..6, Spark's is 1=Sunday..7 (+1);
    // DuckDB date_trunc returns DATE already; DuckDB regexp_replace
    // needs the 'g' flag to replace all like Spark does.
    "q106_date_parts" ->
      """SELECT o_orderkey, o_orderdate,
        |  CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
        |  CAST(dayofyear(o_orderdate) AS INT) AS doy,
        |  CAST(quarter(o_orderdate) AS INT) AS qtr,
        |  CAST(weekofyear(o_orderdate) AS INT) AS iso_week,
        |  last_day(o_orderdate) AS month_end,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |  CAST(o_orderdate + INTERVAL 2 MONTH AS DATE) AS plus2m
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q107_regexp" ->
      """SELECT doc_id,
        |  regexp_extract(text, '([a-z]+)', 1) AS first_word,
        |  CAST(LENGTH(regexp_replace(text, '[aeiou]', '_', 'g')) AS INT)
        |    AS replaced_len,
        |  CAST(len(regexp_extract_all(text, 'ing')) AS INT) AS n_ing,
        |  regexp_matches(text, '^the') AS starts_the
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q108_range_join" ->
      """WITH bands(band_id, lo, hi) AS (VALUES
        |    (1, 0.0, 50000.0), (2, 50000.0, 100000.0),
        |    (3, 100000.0, 200000.0), (4, 200000.0, 400000.0),
        |    (5, 400000.0, 600000.0)),
        |j AS (SELECT o_orderkey, band_id FROM orders JOIN bands
        |  ON o_totalprice >= lo AND o_totalprice < hi)
        |SELECT band_id, COUNT(*) AS n, MIN(o_orderkey) AS min_key,
        |  MAX(o_orderkey) AS max_key
        |FROM j GROUP BY band_id ORDER BY band_id""".stripMargin,

    // the rewrite must be invisible in results: q108's own oracle
    "q435_range_rewrite_sql" ->
      """WITH bands(band_id, lo, hi) AS (VALUES
        |    (1, 0.0, 50000.0), (2, 50000.0, 100000.0),
        |    (3, 100000.0, 200000.0), (4, 200000.0, 400000.0),
        |    (5, 400000.0, 600000.0)),
        |j AS (SELECT o_orderkey, band_id FROM orders JOIN bands
        |  ON o_totalprice >= lo AND o_totalprice < hi)
        |SELECT band_id, COUNT(*) AS n, MIN(o_orderkey) AS min_key,
        |  MAX(o_orderkey) AS max_key
        |FROM j GROUP BY band_id ORDER BY band_id""".stripMargin,

    "q436_band_rewrite_sql" ->
      """WITH j AS (SELECT l.l_suppkey AS k, l.l_orderkey
        |  FROM lineitem l JOIN supplier s
        |    ON l.l_suppkey = s.s_suppkey
        |    AND l.l_extendedprice >= s.s_acctbal * 10
        |    AND l.l_extendedprice < s.s_acctbal * 10 + 50000)
        |SELECT k, COUNT(*) AS n, MIN(l_orderkey) AS min_key,
        |  MAX(l_orderkey) AS max_key
        |FROM j GROUP BY k ORDER BY k""".stripMargin,

    "q113_salted_join" ->
      """WITH flags(l_returnflag, flag_desc) AS (VALUES
        |    ('A', 'async'), ('N', 'none'), ('R', 'returned'))
        |SELECT l_returnflag, flag_desc, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)
        |    AS sum_qty
        |FROM lineitem JOIN flags USING (l_returnflag)
        |GROUP BY l_returnflag, flag_desc
        |ORDER BY l_returnflag""".stripMargin,

    "q104_bitwise" ->
      """SELECT o_orderkey,
        |  o_orderkey & 255 AS band,
        |  o_orderkey | 4096 AS bor,
        |  xor(o_orderkey, o_custkey) AS bxor,
        |  o_orderkey << 2 AS shl,
        |  o_orderkey >> 3 AS shr,
        |  ~o_orderkey AS bnot
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    // Identical double arithmetic order on both sides — raw doubles
    // hash bit-identically, no rounding needed.
    "q115_interpolate" ->
      """WITH base AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS tus,
        |    CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
        |  FROM events),
        |f AS (
        |  SELECT event_id, user_id, tus, v,
        |    LAST_VALUE(v IGNORE NULLS) OVER wb AS pv,
        |    LAST_VALUE(CASE WHEN v IS NOT NULL THEN tus END IGNORE NULLS)
        |      OVER wb AS pt,
        |    FIRST_VALUE(v IGNORE NULLS) OVER wf AS nv,
        |    FIRST_VALUE(CASE WHEN v IS NOT NULL THEN tus END IGNORE NULLS)
        |      OVER wf AS nt
        |  FROM base
        |  WINDOW
        |    wb AS (PARTITION BY user_id ORDER BY tus, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wf AS (PARTITION BY user_id ORDER BY tus, event_id
        |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_id, user_id, v IS NULL AS was_missing,
        |  CASE WHEN v IS NOT NULL THEN v
        |       WHEN pt IS NULL THEN nv
        |       WHEN nt IS NULL THEN pv
        |       WHEN nt = pt THEN pv
        |       ELSE pv + (nv - pv) *
        |         (CAST(tus - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
        |  END AS v_interp
        |FROM f ORDER BY event_id""".stripMargin,

    // Exact replica of the sketch arithmetic: cell(r, b) = total rows
    // whose key double-hashes to bucket b in row r; estimate = min
    // over rows of the key's cells.
    "q117_cms_sketch" ->
      """WITH hk AS (SELECT event_type,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(SUBSTRING(event_type, 1, 256), ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (h, c) -> (h * 31 + c) % 1000000000000000) AS h1,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(SUBSTRING(event_type, 1, 256), ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (h, c) -> (h * 131 + c) % 1000000000000000) AS h2,
        |    CAST(COUNT(*) AS BIGINT) AS exact_n
        |  FROM events GROUP BY event_type),
        |cells AS (SELECT r.range AS r, (h1 + r.range * h2) % 64 AS bucket,
        |    CAST(SUM(exact_n) AS BIGINT) AS n
        |  FROM hk CROSS JOIN range(4) r GROUP BY 1, 2)
        |SELECT event_type, exact_n, CAST(MIN(n) AS BIGINT) AS est_n
        |FROM hk CROSS JOIN range(4) r
        |JOIN cells ON cells.r = r.range
        |  AND cells.bucket = (h1 + r.range * h2) % 64
        |GROUP BY event_type, exact_n
        |ORDER BY event_type""".stripMargin,

    "q118_bloom_prune" ->
      """SELECT year(o_orderdate) AS yr, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 350000
        |GROUP BY 1 ORDER BY yr""".stripMargin,

    "q116_pos_explode" ->
      """WITH d AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS l
        |  FROM documents WHERE doc_id < 50),
        |u AS (SELECT doc_id, generate_subscripts(l, 1) - 1 AS pos,
        |    unnest(l) AS tok FROM d)
        |SELECT doc_id, pos, tok FROM u
        |WHERE pos < 20 ORDER BY doc_id, pos""".stripMargin
  )
}
