package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Distribution-comparison and trend statistics a corpus/feed monitor
  * runs continuously: two-sample Kolmogorov-Smirnov drift, binned ROC
  * AUC for quality-filter models, Gini concentration, Mann-Kendall /
  * Theil-Sen trend, Holt linear exponential smoothing, and BFS hop
  * distances over the near-dup graph. (Reference analogue: the stats
  * evaluators under modules/core/src/main/scala/sql/expr/aggregate —
  * the family here extends them with the monitoring statistics a
  * 100-TB feed pipeline actually alarms on.)
  *
  * Scale shape shared by all of them: the fact-scale work is always
  * ONE hash aggregate down to a BOUNDED summary frame (bin tables
  * capped at 32-65 rows, calendar-bounded daily/monthly series,
  * LSH-capped edge lists); every window, self-join, or sequential
  * fold then runs on that bounded frame, never on the fact. All
  * statistics stay in integer arithmetic until ONE final double
  * division, so the DuckDB oracle reproduces every value bit-for-bit.
  */
object Stats {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // One-way ANOVA F over per-source doc-length distributions. The
    // fact-scale work is ONE hash aggregate to per-group integer
    // (n, sum, sum-of-squares); every sum stays exact integer. The
    // only non-integer step — sum over groups of s_g^2/n_g, whose
    // per-group division is unavoidable — is an ORDERED fold over the
    // group-sorted bounded frame (Spark aggregate() == DuckDB
    // list_reduce over LIST(... ORDER BY source): identical fp order,
    // bit-identical doubles). F = (SSB*(N-k)) / (SSW*(k-1)) is then
    // deterministic double arithmetic with ONE final division.
    // Multi-armed-bandit experiment accounting per variant (event
    // type as the arm, value > 100 as success): Beta(1+s, 1+f)
    // posterior parameters and mean, plus the UCB1 exploration score
    // mean + sqrt(2 ln N / n) — the statistics an experimentation
    // platform recomputes over the full log each batch. ONE hash
    // aggregate to the |arms|-row frame; every number is a
    // deterministic function of exact integer counts (ln/sqrt on the
    // bounded frame), so raw doubles hash-match.
    "q297_bandit_posterior" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val arms = t.events.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") > 100.0, 1L).otherwise(0L)).as("s"))
      val tot = arms.agg(sum(col("n")).as("n_total"))
      arms.crossJoin(broadcast(tot))
        .select(col("event_type"), col("n"), col("s"),
          (col("s") + 1L).as("post_a"),
          (col("n") - col("s") + 1L).as("post_b"),
          round((col("s") + 1L).cast("double") /
            (col("n") + 2L).cast("double"), 6).as("post_mean"),
          round(col("s").cast("double") / col("n").cast("double") +
            sqrt(lit(2.0) * log(col("n_total").cast("double")) /
              col("n").cast("double")), 6).as("ucb1"))
        .orderBy(col("event_type"))
    },

    // Mutual information + normalized MI between source and lang —
    // the dependence measure (in nats) that complements q289's
    // Cramér's V: MI = sum_cells (c/n) ln(c*n/(r_i*c_j)), NMI =
    // MI/sqrt(H_row*H_col). Margins broadcast to the bounded cell
    // frame; the three fp-sensitive sums (cells, row entropy, col
    // entropy) are ORDERED folds so DuckDB reproduces them
    // bit-for-bit.
    "q298_mutual_info" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val d = t.documents.select(col("source"), col("lang"))
      val obs = d.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("c"))
      val rowm = d.groupBy(col("source")).agg(count(lit(1)).as("nr"))
      val colm = d.groupBy(col("lang")).agg(count(lit(1)).as("nc"))
      val tot = d.agg(count(lit(1)).as("nt"))
      val hr = rowm.crossJoin(broadcast(tot))
        .withColumn("term", (col("nr").cast("double") /
            col("nt").cast("double")) *
          -log(col("nr").cast("double") / col("nt").cast("double")))
        .agg(expr("""aggregate(
          transform(array_sort(collect_list(struct(source, term))),
            p -> p.term), 0D, (a, x) -> a + x)""").as("h_row"))
      val hc = colm.crossJoin(broadcast(tot))
        .withColumn("term", (col("nc").cast("double") /
            col("nt").cast("double")) *
          -log(col("nc").cast("double") / col("nt").cast("double")))
        .agg(expr("""aggregate(
          transform(array_sort(collect_list(struct(lang, term))),
            p -> p.term), 0D, (a, x) -> a + x)""").as("h_col"))
      obs.join(broadcast(rowm), Seq("source"))
        .join(broadcast(colm), Seq("lang"))
        .crossJoin(broadcast(tot))
        .withColumn("term", (col("c").cast("double") /
            col("nt").cast("double")) *
          log(col("c").cast("double") * col("nt").cast("double") /
            (col("nr").cast("double") * col("nc").cast("double"))))
        .groupBy(col("nt"))
        .agg(count(lit(1)).as("n_cells"),
          expr("""aggregate(
            transform(array_sort(collect_list(struct(source, lang, term))),
              p -> p.term), 0D, (a, x) -> a + x)""").as("mi"))
        .crossJoin(hr).crossJoin(hc)
        .select(col("nt").as("n"), col("n_cells"),
          round(col("mi"), 6).as("mi"),
          round(col("h_row"), 6).as("h_row"),
          round(col("h_col"), 6).as("h_col"),
          round(col("mi") / sqrt(col("h_row") * col("h_col")), 6)
            .as("nmi"))
    },

    // Spearman rank correlation between doc length (n_chars) and
    // space count per source — the monotone-association check a
    // mixed-format corpus monitor wants (Pearson on raw values is
    // dominated by outlier docs). No global sort: midranks come from
    // the BOUNDED per-source distinct-value frames (one count
    // aggregate + a window on the value frame, same shape as q274's
    // rank-sum), doubled so they stay integer (2*midrank =
    // 2*cum_before + tied + 1); the per-row joins back are broadcasts
    // of those bounded frames. All sums are DECIMAL(38,0)-exact;
    // rho = (n*Sxy - Sx*Sy) / (sqrt(n*Sxx - Sx^2) * sqrt(n*Syy -
    // Sy^2)) is scale-invariant so the doubling cancels; ONE final
    // double division.
    "q287_spearman" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val d = t.documents.select(col("source"),
        col("n_chars").as("x"),
        (length(col("text")) -
          length(expr("replace(text, ' ', '')"))).as("y"))
      def ranks2(c: String): DataFrame = {
        val cnt = d.groupBy(col("source"), col(c))
          .agg(count(lit(1)).as("cnt"))
        cnt.withColumn("cumb", coalesce(sum(col("cnt")).over(
            Window.partitionBy(col("source")).orderBy(col(c))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select(col("source"), col(c),
            (lit(2L) * col("cumb") + col("cnt") + lit(1L)).as(s"r_$c"))
      }
      val dec = "decimal(38,0)"
      d.join(broadcast(ranks2("x")), Seq("source", "x"))
        .join(broadcast(ranks2("y")), Seq("source", "y"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          sum(col("r_x")).as("sx"), sum(col("r_y")).as("sy"),
          sum(col("r_x").cast(dec) * col("r_x")).as("sxx"),
          sum(col("r_y").cast(dec) * col("r_y")).as("syy"),
          sum(col("r_x").cast(dec) * col("r_y")).as("sxy"))
        .select(col("source"), col("n"),
          round((col("n").cast(dec) * col("sxy") -
              col("sx").cast(dec) * col("sy")).cast("double") /
            (sqrt((col("n").cast(dec) * col("sxx") -
                col("sx").cast(dec) * col("sx")).cast("double")) *
             sqrt((col("n").cast(dec) * col("syy") -
                col("sy").cast(dec) * col("sy")).cast("double"))),
            6).as("rho"))
        .orderBy(col("source"))
    },

    // Brown-Forsythe Levene test (variance homogeneity across
    // sources, deviations from the group MEDIAN — the robust variant
    // in production use): z = |x - median_g| doubled to stay integer
    // (2z = |2x - 2*median|, 2*median is integer for integer data
    // under linear interpolation), then the one-way ANOVA F over z —
    // F is scale-invariant so the doubling cancels. Same exact-fold
    // discipline as q273: per-group integer (n, sum, sum-of-squares),
    // the one fp fold ordered over the group-sorted bounded frame.
    "q288_levene" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val med = t.documents.groupBy(col("source"))
        .agg(round(lit(2.0) * expr("percentile(n_chars, 0.5)"))
          .cast("long").as("m2"))
      val z = t.documents.select(col("source"), col("n_chars"))
        .join(broadcast(med), Seq("source"))
        .select(col("source"),
          abs(lit(2L) * col("n_chars") - col("m2")).as("z2"))
      val g = z.groupBy(col("source"))
        .agg(count(lit(1)).as("n_g"), sum(col("z2")).as("s_g"),
          sum(col("z2") * col("z2")).as("q_g"))
      g.agg(count(lit(1)).as("k"), sum(col("n_g")).as("n"),
          sum(col("s_g")).as("st"), sum(col("q_g")).as("qt"),
          expr("""aggregate(
            transform(array_sort(collect_list(struct(source, s_g, n_g))),
              p -> (p.s_g * p.s_g) / CAST(p.n_g AS DOUBLE)),
            0D, (a, x) -> a + x)""").as("sgn"))
        .select(col("k"), col("n"),
          round(col("sgn") - (col("st") * col("st"))
            .cast("double") / col("n").cast("double"), 6).as("ssb"),
          round(col("qt").cast("double") - col("sgn"), 6).as("ssw"),
          round(((col("sgn") - (col("st") * col("st")).cast("double")
              / col("n").cast("double")) * (col("n") - col("k"))
              .cast("double"))
            / ((col("qt").cast("double") - col("sgn"))
              * (col("k") - lit(1)).cast("double")), 6).as("f"))
    },

    // Cramér's V effect size over the source x lang contingency —
    // the chi-square (q137) normalized to [0,1] so drift alarms are
    // comparable across tables. One count aggregate per margin (all
    // broadcast back to the bounded cell frame); the chi2 sum is an
    // ORDERED fold over the (source, lang)-sorted cells, so the fp
    // order is identical in DuckDB; V = sqrt(chi2 / (n*min(r-1,c-1))).
    "q289_cramers_v" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val d = t.documents.select(col("source"), col("lang"))
      val obs = d.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("o"))
      val rowm = d.groupBy(col("source")).agg(count(lit(1)).as("nr"))
      val colm = d.groupBy(col("lang")).agg(count(lit(1)).as("nc"))
      val tot = d.agg(count(lit(1)).as("nt"),
        countDistinct(col("source")).as("r"),
        countDistinct(col("lang")).as("c"))
      obs.join(broadcast(rowm), Seq("source"))
        .join(broadcast(colm), Seq("lang"))
        .crossJoin(broadcast(tot))
        .withColumn("e", col("nr").cast("double") *
          col("nc").cast("double") / col("nt").cast("double"))
        .withColumn("term",
          (col("o").cast("double") - col("e")) *
          (col("o").cast("double") - col("e")) / col("e"))
        .groupBy(col("nt"), col("r"), col("c"))
        .agg(count(lit(1)).as("n_cells"),
          expr("""aggregate(
            transform(array_sort(collect_list(struct(source, lang, term))),
              p -> p.term), 0D, (a, x) -> a + x)""").as("chi2"))
        .select(col("nt").as("n"), col("n_cells"),
          round(col("chi2"), 6).as("chi2"),
          round(sqrt(col("chi2") / (col("nt").cast("double") *
            least(col("r") - 1, col("c") - 1).cast("double"))), 6)
            .as("v"))
    },

    "q273_anova" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val g = t.documents.groupBy(col("source"))
        .agg(count(lit(1)).as("n_g"),
          sum(col("n_chars")).as("s_g"),
          sum(col("n_chars") * col("n_chars")).as("q_g"))
      g.agg(count(lit(1)).as("k"), sum(col("n_g")).as("n"),
          sum(col("s_g")).as("st"), sum(col("q_g")).as("qt"),
          expr("""aggregate(
            transform(array_sort(collect_list(struct(source, s_g, n_g))),
              p -> (p.s_g * p.s_g) / CAST(p.n_g AS DOUBLE)),
            0D, (a, x) -> a + x)""").as("sgn"))
        .select(col("k"), col("n"),
          round(col("sgn") - (col("st") * col("st"))
            .cast("double") / col("n").cast("double"), 6).as("ssb"),
          round(col("qt").cast("double") - col("sgn"), 6).as("ssw"),
          round(((col("sgn") - (col("st") * col("st")).cast("double")
              / col("n").cast("double")) * (col("n") - col("k"))
              .cast("double"))
            / ((col("qt").cast("double") - col("sgn"))
              * (col("k") - lit(1)).cast("double")), 6).as("f"))
    },

    // Mann-Whitney U (rank-sum) of each source's doc-length
    // distribution vs the REST of the corpus, computed WITHOUT any
    // global rank: U doubles to the exact integer identity
    // U2 = sum over values of a_v * (2*cumB_before + b_v) (the +b_v
    // term is the tie/midrank half, kept doubled so everything stays
    // integer until the final AUC division by 2*n_a*n_b). The fact
    // collapses in ONE (source, value) count aggregate; cumulatives
    // are windows on the bounded (sources x distinct-lengths) frame.
    "q274_mann_whitney" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val counts = t.documents.groupBy(col("source"), col("n_chars"))
        .agg(count(lit(1)).as("a_v"))
      val totals = counts.groupBy(col("n_chars"))
        .agg(sum(col("a_v")).as("t_v"))
        .withColumn("cum_t_bef", coalesce(sum(col("t_v")).over(
          Window.orderBy(col("n_chars"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val bySrc = counts
        .withColumn("cum_a_bef", coalesce(sum(col("a_v")).over(
          Window.partitionBy(col("source")).orderBy(col("n_chars"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .join(totals, "n_chars")
      val perSrc = bySrc.groupBy(col("source"))
        .agg(sum(col("a_v")).as("n_s"),
          sum(col("a_v") * (lit(2) * (col("cum_t_bef") - col("cum_a_bef"))
            + (col("t_v") - col("a_v")))).as("u2"))
      val n = t.documents.agg(count(lit(1)).as("n_tot"))
      perSrc.crossJoin(broadcast(n))
        .select(col("source"), col("n_s"), col("u2"),
          round(col("u2").cast("double")
            / (lit(2L) * col("n_s") * (col("n_tot") - col("n_s")))
              .cast("double"), 6).as("auc"))
        .orderBy(col("source"))
    },

    // Two-sample Kolmogorov-Smirnov drift: each source's doc-length
    // distribution vs the REST of the corpus, on a 32-bin equi-width
    // grid. The binning bounds come from a broadcast 1-row min/max
    // aggregate; after the per-(source,bin) count aggregate the whole
    // computation lives on a <= #sources*32-row frame. The KS
    // statistic itself is exact integer cross-multiplication — max
    // over bins of |cum_src*(N-n_src) - cum_rest*n_src| — divided by
    // n_src*(N-n_src) once at the end.
    "q253_ks_drift" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      graft.operators.DriftOps
        .ksDrift(t.documents, "n_chars", "source", 32)
        .select(col("grp").as("source"), col("n_grp").as("n_src"),
          col("ks"))
    },

    // The same drift OPERATOR through its SQL front door, on a
    // different table/column/bin-count — proving the statement
    // generalizes beyond the q253 instance.
    "q270_drift_sql" -> { (spark, dir) =>
      Tables(spark, dir).registerAll()
      spark.sql(
        "GRAFT DRIFT lineitem VALUE l_extendedprice " +
          "GROUP l_returnflag BINS 16")
    },

    // Binned ROC AUC of a deterministic quality score (vowel ratio)
    // against a binary label (lang = 'en'): per-64-bin positive /
    // negative counts from ONE fact aggregate, then the whole ROC
    // curve + trapezoidal AUC on the <=65-row bin frame. The AUC
    // numerator stays integer — sum over bins in descending score
    // order of fp_i * (2*cumTP_prev + tp_i) — and divides by 2*P*N
    // once. The binned curve IS the production form at 100 TB: exact
    // per-row ranks would be a global sort.
    "q254_roc_auc" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val scored = t.documents.select(
        floor(length(regexp_replace(lower(col("text")), "[^aeiou]", ""))
          * 64 / (length(col("text")) + 1)).as("bin"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      val bins = scored.groupBy(col("bin"))
        .agg(sum(col("pos")).as("tp"),
          (count(lit(1)) - sum(col("pos"))).as("fp"))
      val roc = bins
        .withColumn("cum_tp",
          sum(col("tp")).over(Window.orderBy(col("bin").desc)))
        .withColumn("cum_fp",
          sum(col("fp")).over(Window.orderBy(col("bin").desc)))
      val totals = bins.agg(sum(col("tp")).as("p"), sum(col("fp")).as("n"))
      val auc = roc
        .select((col("fp") * (lit(2) * (col("cum_tp") - col("tp"))
          + col("tp"))).as("seg"))
        .agg(sum(col("seg")).as("auc2pn"))
      roc.crossJoin(broadcast(totals)).crossJoin(broadcast(auc))
        .select(col("bin"), col("cum_tp"), col("cum_fp"),
          round(col("cum_tp").cast("double") / col("p").cast("double"), 6)
            .as("tpr"),
          round(col("cum_fp").cast("double") / col("n").cast("double"), 6)
            .as("fpr"),
          round(col("auc2pn").cast("double")
            / (lit(2) * col("p") * col("n")).cast("double"), 6).as("auc"))
        .orderBy(col("bin"))
    },

    // Gini concentration of doc length per language, computed on the
    // DISTINCT-value domain: the pairwise sum |x_i - x_j| collapses
    // to 2 * sum_v c_v * (v*cumc_<v - cums_<v) over distinct values
    // with their counts, so the per-language window runs over the
    // distinct length domain (bounded by the length range), never the
    // fact. G = sum / (n * total) — one double division per language.
    "q255_gini" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val vc = t.documents
        .groupBy(col("lang"), col("n_chars").as("v"))
        .agg(count(lit(1)).cast("decimal(38,0)").as("c"))
      val w = Window.partitionBy(col("lang")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, -1)
      vc
        .withColumn("cumc", coalesce(sum(col("c")).over(w),
          lit(0).cast("decimal(38,0)")))
        .withColumn("cums", coalesce(sum(col("c") * col("v")).over(w),
          lit(0).cast("decimal(38,0)")))
        .groupBy(col("lang"))
        .agg(sum(col("c") * (col("v") * col("cumc") - col("cums")))
          .as("num"),
          sum(col("c")).as("n"), sum(col("c") * col("v")).as("tot"))
        .select(col("lang"), col("n").cast("long").as("n_docs"),
          round(col("num").cast("double")
            / (col("n") * col("tot")).cast("double"), 6).as("gini"))
        .orderBy(col("lang"))
    },

    // Mann-Kendall trend test + Theil-Sen slope over the daily order
    // count series. The series is calendar-bounded (<= #days rows
    // whatever the fact volume), so the rank window and the all-pairs
    // i<j self-join are bounded work; S and n_pairs are integers, the
    // slope is the exact median of pairwise slopes.
    "q256_trend" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val daily = t.orders.groupBy(col("o_orderdate").as("d"))
        .agg(count(lit(1)).as("x"))
      val s = daily
        .withColumn("rn", row_number().over(Window.orderBy(col("d"))))
        .select(col("rn"), col("x"))
      val pairs = s.select(col("rn").as("i"), col("x").as("xi"))
        .join(broadcast(s.select(col("rn").as("j"), col("x").as("xj"))),
          col("j") > col("i"))
      pairs
        .select(signum(col("xj") - col("xi")).cast("long").as("sgn"),
          ((col("xj") - col("xi")).cast("double")
            / (col("j") - col("i")).cast("double")).as("slope"))
        .agg(sum(col("sgn")).as("s_stat"), count(lit(1)).as("n_pairs"),
          round(expr("percentile(slope, 0.5D)"), 6).as("theil_sen"))
        .select(col("s_stat"), col("n_pairs"),
          round(col("s_stat").cast("double")
            / col("n_pairs").cast("double"), 6).as("kendall_tau"),
          col("theil_sen"))
    },

    // Holt linear (double) exponential smoothing over the monthly
    // revenue series, alpha=0.5 beta=0.3, init l1=x1 b1=0: level /
    // trend fold emitting the one-step-ahead in-sample forecast per
    // month. The fact-scale work is one month aggregate; the
    // sequential recurrence folds over the bounded (<= #months)
    // sorted array INSIDE one aggregate row — both engines execute
    // the identical IEEE double operation sequence, so every value
    // hash-matches after rounding.
    "q257_holt" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val monthly = t.orders
        .groupBy(trunc(col("o_orderdate"), "month").as("m"))
        .agg(sum(col("o_totalprice")).cast("double").as("x"))
      // the generic SmoothOps fold (also behind GRAFT SMOOTH ... HOLT)
      // runs the identical recurrence text with the complements
      // precomputed to the same literals
      graft.operators.SmoothOps.holt(monthly, "m", "x", 0.5, 0.3)
        .orderBy(col("m"))
    },

    // BFS hop distances from the minimum node over the embedding
    // near-dup graph (same capped LSH-blocked edge list as q163
    // PageRank). Fixed 8 rounds of min-distance propagation over the
    // REACHED set only — each round one equi-join frontier->edges +
    // one min aggregate, materialized through the same lineage
    // barrier as connectedComponents (a lazy loop that references
    // the previous round twice doubles the plan per round — 2^8
    // copies of the edge build without the barrier; measured 81s ->
    // ~2s at sf0.1). The edge list is bucket-capped upstream so no
    // round is quadratic; per-round state is (node, dist) pairs.
    // Kruskal-Wallis rank test across ALL sources at once (the k-group
    // completion of q274's two-sample Mann-Whitney): midranks come
    // from the same bounded (source x value) count frame with NO
    // global rank — doubled midrank 2R = 2*cumT_before + t_v + 1 stays
    // exact integer, per-group rank sums are integer aggregates, and
    // the only fp steps are the ordered fold of R2_g^2/n_g (bit-
    // identical to DuckDB's list_reduce) and the closing H formula
    // with its tie correction.
    "q284_kruskal_wallis" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val counts = t.documents.groupBy(col("source"), col("n_chars"))
        .agg(count(lit(1)).as("a_v"))
      val totals = counts.groupBy(col("n_chars"))
        .agg(sum(col("a_v")).as("t_v"))
        .withColumn("cum_t_bef", coalesce(sum(col("t_v")).over(
          Window.orderBy(col("n_chars"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val perSrc = counts.join(totals, "n_chars")
        .groupBy(col("source"))
        .agg(sum(col("a_v")).as("n_g"),
          sum(col("a_v") * (lit(2) * col("cum_t_bef") + col("t_v")
            + lit(1))).as("r2_g"))
      val ties = totals.agg(
        sum(col("t_v") * col("t_v") * col("t_v") - col("t_v")).as("tsum"))
      val folded = perSrc.agg(
        count(lit(1)).as("k"), sum(col("n_g")).as("n"),
        expr("""aggregate(
          transform(array_sort(collect_list(struct(source, r2_g, n_g))),
            p -> (p.r2_g * p.r2_g) / CAST(p.n_g AS DOUBLE)),
          0D, (a, x) -> a + x)""").as("rr"))
      folded.crossJoin(broadcast(ties))
        .select(col("k"), col("n"),
          round((lit(3.0) * col("rr")
            / (col("n") * (col("n") + lit(1))).cast("double")
            - lit(3.0) * (col("n") + lit(1)).cast("double"))
            / (lit(1.0) - col("tsum").cast("double")
              / (col("n") * col("n") * col("n") - col("n"))
                .cast("double")), 6).as("h"))
    },

    // AR(2) autoregression on the daily order-count series: OLS fit
    // of y_t = c + phi1*y_{t-1} + phi2*y_{t-2} via the exact 3x3
    // normal equations — every moment sum is an exact integer over
    // the calendar-bounded lag frame, each sum is cast to double ONCE
    // (all < 2^53), and the Cramer determinants are the identical
    // IEEE expression tree in both engines (the AlsOps discipline,
    // one order up). One-step forecast from the last two observations.
    "q281_ar2" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val daily = t.orders.groupBy(col("o_orderdate").as("d"))
        .agg(count(lit(1)).as("y"))
      val w = Window.orderBy(col("d"))
      val lagged = daily
        .withColumn("y1", lag(col("y"), 1).over(w))
        .withColumn("y2", lag(col("y"), 2).over(w))
        .where(col("y2").isNotNull)
      val g = lagged.agg(
        count(lit(1)).as("n"),
        sum(col("y")).as("sy"), sum(col("y1")).as("s1"),
        sum(col("y2")).as("s2"),
        sum(col("y1") * col("y1")).as("s11"),
        sum(col("y1") * col("y2")).as("s12"),
        sum(col("y2") * col("y2")).as("s22"),
        sum(col("y") * col("y1")).as("sy1"),
        sum(col("y") * col("y2")).as("sy2"),
        max_by(col("y"), col("d")).as("ylast"),
        max_by(col("y1"), col("d")).as("yprev"))
      val nd = col("n").cast("double")
      val s1 = col("s1").cast("double"); val s2 = col("s2").cast("double")
      val s11 = col("s11").cast("double")
      val s12 = col("s12").cast("double")
      val s22 = col("s22").cast("double")
      val sy = col("sy").cast("double")
      val sy1 = col("sy1").cast("double")
      val sy2 = col("sy2").cast("double")
      val det = nd * (s11 * s22 - s12 * s12) -
        s1 * (s1 * s22 - s2 * s12) + s2 * (s1 * s12 - s2 * s11)
      val dc = sy * (s11 * s22 - s12 * s12) -
        s1 * (sy1 * s22 - sy2 * s12) + s2 * (sy1 * s12 - sy2 * s11)
      val d1 = nd * (sy1 * s22 - sy2 * s12) -
        sy * (s1 * s22 - s2 * s12) + s2 * (s1 * sy2 - s2 * sy1)
      val d2 = nd * (s11 * sy2 - s12 * sy1) -
        s1 * (s1 * sy2 - s2 * sy1) + sy * (s1 * s12 - s2 * s11)
      val c = dc / det; val p1 = d1 / det; val p2 = d2 / det
      g.select(col("n").as("n_obs"),
        round(c, 6).as("c"),
        round(p1, 6).as("phi1"), round(p2, 6).as("phi2"),
        round(c + p1 * col("ylast").cast("double")
          + p2 * col("yprev").cast("double"), 6).as("forecast"))
    },

    // 30-day rolling Pearson correlation between daily order volume
    // and daily revenue (the pairs-trading / metric-coupling monitor).
    // The fact collapses in ONE daily aggregate to a bounded calendar
    // frame; every rolling sum is an exact integer window on that
    // frame (revenue pre-quantized to integer thousands of cents), so
    // num/den are exact and the only fp ops are two IEEE sqrts and
    // one division — bit-identical in any engine.
    "q279_rolling_corr" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val daily = t.orders.groupBy(col("o_orderdate").as("d"))
        .agg(count(lit(1)).as("x"),
          // prices arrive as DOUBLE: floor(p*100 + 0.5) is the
          // engine-portable cents quantization (CAST truncates in
          // Spark but rounds in DuckDB — never bare-cast a double)
          floor(sum(floor(col("o_totalprice") * lit(100) + lit(0.5))
            .cast("long")) / lit(1000)).cast("long").as("y"))
      val w = Window.orderBy(col("d")).rowsBetween(-29, 0)
      daily
        .withColumn("rn", row_number().over(Window.orderBy(col("d"))))
        .withColumn("nw", count(lit(1)).over(w))
        .withColumn("sx", sum(col("x")).over(w))
        .withColumn("sy", sum(col("y")).over(w))
        .withColumn("sxx", sum(col("x") * col("x")).over(w))
        .withColumn("syy", sum(col("y") * col("y")).over(w))
        .withColumn("sxy", sum(col("x") * col("y")).over(w))
        .where(col("rn") >= 30)
        .select(col("d"),
          round((col("nw") * col("sxy") - col("sx") * col("sy"))
            .cast("double")
            / (sqrt((col("nw") * col("sxx") - col("sx") * col("sx"))
                .cast("double"))
              * sqrt((col("nw") * col("syy") - col("sy") * col("sy"))
                .cast("double"))), 6).as("corr30"))
        .orderBy(col("d"))
    },

    // Weighted MULTI-source shortest paths over the near-dup graph
    // (q258's weighted twin — "distance to the nearest hub"): edge
    // weight = the quantized cosine distance floor((1-cos)*4 + 0.5)+1
    // (small exact integers, so path sums are engine-portable AND the
    // oracle's walk enumeration dedups instead of exploding), hubs =
    // every graph node with vec_id % 50 == 0, relaxed by 8
    // Bellman-Ford rounds. Each round is ONE edge equi-join + ONE
    // min aggregate — the distributed-BF shape that holds at any
    // scale (no per-node priority queue, no driver-side frontier);
    // rounds materialize via the RDD lineage cut like q258. Oracle:
    // the <=8-hop walk enumeration as a recursive CTE, MIN per node.
    "q276_shortest_path" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val cand = graft.operators.DedupOps
        .materializedCosinePairs(spark, dir, 4, 0.1)
        .select(col("vec_a"), col("vec_b"),
          (floor((lit(1.0) - col("cos")) * lit(4.0) + lit(0.5))
            .cast("long") + lit(1L)).as("w"))
      val edges0 = cand.union(cand.select(col("vec_b").as("vec_a"),
        col("vec_a").as("vec_b"), col("w")))
      val edges = spark.createDataFrame(edges0.rdd, edges0.schema).persist()
      var dist = edges.select(col("vec_a").as("node")).distinct()
        .where(col("node") % 50 === 0)
        .select(col("node"), lit(0L).as("d"))
      var prev: Option[org.apache.spark.sql.DataFrame] = None
      // min-propagation is monotone (node set grows, per-node d only
      // drops), so (count, sum d) unchanged == fixed point: further
      // rounds are no-ops and the result is IDENTICAL to the full 8 —
      // stop paying for them (each barrier round costs a shuffle +
      // materialize whatever the frontier did).
      var sig = (-1L, -1L)
      var converged = false
      for (_ <- 1 to 8 if !converged) {
        val next = dist
          .join(edges, dist("node") === edges("vec_a"))
          .select(col("vec_b").as("node"), (col("d") + col("w")).as("d"))
        val merged = dist.union(next)
          .groupBy(col("node")).agg(min(col("d")).as("d"))
        // the RDD round-trip BREAKS LINEAGE — merged references dist
        // twice (union + join), so without truncation the logical
        // plan doubles per round (OOMs the cache builder by round 8);
        // a plain persist dedups the DATA but not the plan tree.
        val mat = spark.createDataFrame(merged.rdd, merged.schema).persist()
        val row = mat.agg(count(lit(1)), sum(col("d"))).head()
        val newSig = (row.getLong(0), row.getLong(1))
        converged = newSig == sig
        sig = newSig
        prev.foreach(_.unpersist())
        prev = Some(mat)
        dist = mat
      }
      edges.unpersist()
      graft.operators.CacheScope.scoped(dist)
      dist.orderBy(col("node"))
    },

    "q258_bfs" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val cand = graft.operators.DedupOps
        .materializedCosinePairs(spark, dir, 4, 0.3)
        .select(col("vec_a"), col("vec_b"))
      val edges0 = cand.union(
        cand.select(col("vec_b").as("vec_a"), col("vec_a").as("vec_b")))
      val edges = spark.createDataFrame(edges0.rdd, edges0.schema).persist()
      var dist = edges.agg(min(col("vec_a")).as("node"))
        .select(col("node"), lit(0L).as("d"))
      var prev: Option[org.apache.spark.sql.DataFrame] = None
      // same fixed-point early exit as q276: BFS min-propagation is
      // monotone, so an unchanged (count, sum d) signature means every
      // remaining round is a no-op with an identical result
      var sig = (-1L, -1L)
      var converged = false
      for (_ <- 1 to 8 if !converged) {
        val next = dist
          .join(edges, dist("node") === edges("vec_a"))
          .select(col("vec_b").as("node"), (col("d") + lit(1L)).as("d"))
        val merged = dist.union(next)
          .groupBy(col("node")).agg(min(col("d")).as("d"))
        // the RDD round-trip BREAKS LINEAGE — merged references dist
        // twice (union + join), so without truncation the logical
        // plan doubles per round (OOMs the cache builder by round 8);
        // a plain persist dedups the DATA but not the plan tree.
        val mat = spark.createDataFrame(merged.rdd, merged.schema).persist()
        val row = mat.agg(count(lit(1)), sum(col("d"))).head()
        val newSig = (row.getLong(0), row.getLong(1))
        converged = newSig == sig
        sig = newSig
        prev.foreach(_.unpersist())
        prev = Some(mat)
        dist = mat
      }
      edges.unpersist()
      // hand the final round's cache to the action-scoped drain so
      // the verify/bench action that consumes it also frees it
      graft.operators.CacheScope.scoped(dist)
      dist.orderBy(col("node"))
    },

    // 5-fold cross-validation of the nearest-centroid classifier
    // (q40's model) over the embedding corpus — the evaluation
    // harness every trained-model operator needs. The leave-fold-out
    // centroids come from ONE algebraic identity, not 5 re-trainings:
    // centroid(fold f excluded, label l, dim d) =
    // (S[l,d] - S[f,l,d]) / (n[l] - n[f,l]) — two aggregates over the
    // posexploded corpus, never a scan per fold. Folds are portable
    // fingerprint buckets; per-dim sums go through exact
    // DECIMAL(38,18) so the centroid doubles are bit-identical; each
    // vector then scores against its fold's 4 held-out centroids via
    // the same array-fold distance both engines evaluate in dim
    // order. Output: per-fold held-out accuracy.
    "q266_cv_centroid" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val e = t.embeddings.select(col("vec_id"), col("label"),
        transform(col("embedding"), v => v.cast("double")).as("x"),
        pmod(expr("graft_fingerprint(CAST(vec_id AS STRING))"),
          lit(5L)).as("fold"))
      val dims = e.select(col("vec_id"), col("label"), col("fold"),
        posexplode(col("x")).as(Seq("d", "v")))
      val byLabel = dims.groupBy(col("label"), col("d"))
        .agg(sum(col("v").cast("decimal(38,18)")).as("s"),
          count(lit(1)).as("n"))
      val byFold = dims.groupBy(col("fold"), col("label"), col("d"))
        .agg(sum(col("v").cast("decimal(38,18)")).as("sf"),
          count(lit(1)).as("nf"))
      // held-out centroid arrays, dim-sorted so the distance fold
      // walks the same order as the embedding array
      val cents = byFold.join(byLabel, Seq("label", "d"))
        .select(col("fold"), col("label"), col("d"),
          ((col("s") - col("sf")).cast("double")
            / (col("n") - col("nf")).cast("double")).as("c"))
        .groupBy(col("fold"), col("label"))
        .agg(transform(
          sort_array(collect_list(struct(col("d"), col("c")))),
          p => p("c")).as("centroid"))
        .select(col("fold"), col("label").as("cand"), col("centroid"))
      val joined = e.join(broadcast(cents), Seq("fold"))
        .select(col("vec_id"), col("fold"), col("label").as("truth"),
          col("cand"), expr("graft_dist_sq(x, centroid)").as("d2"))
      joined
        .groupBy(col("vec_id"), col("fold"), col("truth"))
        .agg(min_by(col("cand"), struct(col("d2"), col("cand")))
          .as("pred"))
        .groupBy(col("fold"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("truth") === col("pred"), 1L).otherwise(0L))
            .as("n_correct"))
        .select(col("fold"), col("n"), col("n_correct"),
          round(col("n_correct").cast("double") / col("n").cast("double"),
            6).as("accuracy"))
        .orderBy(col("fold"))
    },

    // Depth-2 CART tree: the q263 stump machinery applied
    // recursively — root split over all bins, then the same EXACT
    // integer-rational Gini argmin within each side. The root
    // threshold is collected as a 1-row model artifact (the k-means-
    // centroid precedent), the side evaluation is ONE windowed pass
    // over the side-tagged bin table — never a re-scan of the fact,
    // which was aggregated to <= 65 bins once. Unsplittable sides
    // (single bin) emit no row.
    "q271_tree2" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val scored = t.documents.select(
        floor(length(regexp_replace(lower(col("text")), "[^aeiou]", ""))
          * 64 / (length(col("text")) + 1)).as("bin"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      // raw persist: the root-threshold head() below is an action and
      // would drain an action-scoped cache mid-build (q251's lesson)
      val bins = scored.groupBy(col("bin"))
        .agg(sum(col("pos")).as("p"),
          (count(lit(1)) - sum(col("pos"))).as("q"))
        .persist()

      def best(sided: DataFrame): DataFrame = {
        val tot = sided.groupBy(col("side"))
          .agg(sum(col("p")).as("tp"), sum(col("q")).as("tq"))
        val wc = Window.partitionBy(col("side")).orderBy(col("bin"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val cand = sided
          .withColumn("pl", coalesce(sum(col("p")).over(wc), lit(0L)))
          .withColumn("nl", coalesce(sum(col("q")).over(wc), lit(0L)))
          .join(broadcast(tot), Seq("side"))
          .select(col("side"), col("bin").as("t"), col("pl"), col("nl"),
            (col("tp") - col("pl")).as("pr"),
            (col("tq") - col("nl")).as("nr"),
            (col("tp") + col("tq")).as("n"))
          .where(col("pl") + col("nl") > 0
            && col("pr") + col("nr") > 0)
          .select(col("side"), col("t"), col("pl"), col("nl"),
            col("pr"), col("nr"), col("n"),
            (col("pl") + col("nl")).as("cl"),
            (col("pr") + col("nr")).as("cr"),
            ((col("pl") * col("pl") + col("nl") * col("nl"))
              * (col("pr") + col("nr"))
              + (col("pr") * col("pr") + col("nr") * col("nr"))
              * (col("pl") + col("nl"))).as("num"),
            ((col("pl") + col("nl")) * (col("pr") + col("nr")))
              .as("den"))
        val beat = cand.select(col("side").as("side2"),
          col("t").as("t2"), col("num").as("num2"),
          col("den").as("den2"))
        cand.join(broadcast(beat),
            col("side") === col("side2")
            && ((col("num2").cast("decimal(38,0)") * col("den")
              > col("num").cast("decimal(38,0)") * col("den2"))
            || (col("num2").cast("decimal(38,0)") * col("den")
              === col("num").cast("decimal(38,0)") * col("den2")
              && col("t2") < col("t"))), "left_anti")
          .select(col("side").as("node"), col("t").as("threshold_bin"),
            col("cl").as("n_left"), col("cr").as("n_right"),
            when(col("pl") >= col("nl"), "en").otherwise("other")
              .as("left_label"),
            when(col("pr") >= col("nr"), "en").otherwise("other")
              .as("right_label"),
            round((col("n").cast("double")
              - col("num").cast("double") / col("den").cast("double"))
              / col("n").cast("double"), 6).as("gini"))
      }

      val root = best(bins.withColumn("side", lit("root")))
      // 1-row model artifact, like collected k-means centroids
      val t0 = root.select(col("threshold_bin")).head().getLong(0)
      val sided = bins.withColumn("side",
        when(col("bin") < t0, "left").otherwise("right"))
      val out = root.unionAll(best(sided)).orderBy(col("node"))
      graft.operators.CacheScope.scoped(bins)
      out
    },

    // Wald's sequential probability ratio test (SPRT, 1945) over the
    // daily purchase-conversion stream: H0 p=0.05 vs H1 p=0.07,
    // alpha=beta=0.05. Daily (conversions, trials) come from one
    // fact aggregate; the log-likelihood-ratio random walk
    // LLR_t = x_t ln(p1/p0) + (n_t-x_t) ln((1-p1)/(1-p0)) cumulates
    // over the calendar-bounded day frame (sequential running sum,
    // order-deterministic); the decision is sticky at the FIRST
    // boundary crossing (ln 19 / -ln 19), located via two 1-row
    // first-crossing aggregates.
    "q269_sprt" -> { (spark, dir) =>
      val ev = Tables(spark, dir).events
      val daily = ev.groupBy(to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("x"))
      val c1 = log(lit(0.07) / lit(0.05))
      val c2 = log(lit(0.93) / lit(0.95))
      val w = Window.orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val walk = daily
        .withColumn("llr", sum(col("x").cast("double") * c1
          + (col("n") - col("x")).cast("double") * c2).over(w))
      val up = log(lit(19.0)); val dn = -log(lit(19.0))
      val firstCross = walk.agg(
        min(when(col("llr") >= up, col("d"))).as("d_up"),
        min(when(col("llr") <= dn, col("d"))).as("d_dn"))
      walk.crossJoin(broadcast(firstCross))
        .select(col("d"), col("n"), col("x"), round(col("llr"), 9)
          .as("llr"),
          when(col("d_up").isNotNull
            && (col("d_dn").isNull || col("d_up") <= col("d_dn"))
            && col("d") >= col("d_up"), "accept_h1")
          .when(col("d_dn").isNotNull
            && (col("d_up").isNull || col("d_dn") < col("d_up"))
            && col("d") >= col("d_dn"), "accept_h0")
          .otherwise("continue").as("decision"))
        .orderBy(col("d"))
    },

    // Nelson-Aalen cumulative hazard over user lifetimes — the
    // estimator-pair companion to q211's Kaplan-Meier (same lifetime
    // table, same censoring rule): H(t) = sum_{t_i<=t} d_i/n_i with
    // the Poisson variance sum d_i/n_i^2. The fact-scale work is the
    // per-user min/max aggregate; everything after lives on the
    // <= #days frame, where the prefix windows are sequential
    // running sums — order-deterministic on both engines.
    "q268_nelson_aalen" -> { (spark, dir) =>
      val ev = Tables(spark, dir).events
      val life = ev.groupBy(col("user_id"))
        .agg(min(unix_timestamp(col("ts"))).as("first_s"),
          max(unix_timestamp(col("ts"))).as("last_s"))
        .crossJoin(broadcast(
          ev.agg(max(unix_timestamp(col("ts"))).as("end_s"))))
        .select(col("user_id"),
          expr("(last_s - first_s) div 86400").as("t"),
          (col("end_s") - col("last_s") > 3L * 86400).as("observed"))
      val byDay = life.groupBy(col("t"))
        .agg(sum(when(col("observed"), 1L).otherwise(0L)).as("d"),
          sum(when(col("observed"), 0L).otherwise(1L)).as("c"))
      val wPrefix = Window.orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, 0)
      byDay
        .withColumn("n_at_risk", sum(col("d") + col("c")).over(
          Window.orderBy(col("t"))
            .rowsBetween(0, Window.unboundedFollowing)))
        .withColumn("hterm",
          col("d").cast("double") / col("n_at_risk").cast("double"))
        .withColumn("vterm",
          col("d").cast("double")
            / (col("n_at_risk") * col("n_at_risk")).cast("double"))
        .select(col("t"), col("n_at_risk"), col("d"), col("c"),
          round(sum(col("hterm")).over(wPrefix), 9).as("cum_hazard"),
          round(sum(col("vterm")).over(wPrefix), 9).as("hazard_var"))
        .orderBy(col("t"))
    },

    // Classical seasonal decomposition of the monthly order series:
    // trend = centered 12-month moving sum / 12 (full windows only),
    // seasonal = per-month-of-year mean of detrended values kept as
    // the exact integer pair (sum of 12x-S, count), residual = the
    // remainder. Every window/join runs on the <= #months frame; all
    // three components stay integer until one textual double
    // expression both engines evaluate in the identical order.
    "q262_seasonal" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val monthly = t.orders
        .groupBy(trunc(col("o_orderdate"), "month").as("m"))
        .agg(count(lit(1)).as("x"))
      val w = Window.orderBy(col("m")).rowsBetween(-6, 5)
      val tr = monthly
        .withColumn("s12", sum(col("x")).over(w))
        .withColumn("n12", count(lit(1)).over(w))
        .where(col("n12") === 12)
        .withColumn("moy", month(col("m")))
      val seas = tr.groupBy(col("moy"))
        .agg(sum(lit(12L) * col("x") - col("s12")).as("num"),
          count(lit(1)).as("cnt"))
      tr.join(broadcast(seas), Seq("moy"))
        .select(col("m"), col("x"),
          round(col("s12").cast("double") / lit(12).cast("double"), 6)
            .as("trend"),
          round(col("num").cast("double")
            / (lit(12L) * col("cnt")).cast("double"), 6).as("seasonal"),
          round(col("x")
            - col("s12").cast("double") / lit(12).cast("double")
            - col("num").cast("double")
              / (lit(12L) * col("cnt")).cast("double"), 6).as("resid"))
        .orderBy(col("m"))
    },

    // Decision stump (a single CART node): the best threshold split
    // of the vowel-ratio score predicting lang='en' by weighted Gini
    // impurity. Candidate evaluation = one fact aggregate to 64 bins
    // + cumulative sums; the argmin is EXACT — candidates compare as
    // cross-multiplied integer rationals (never a double argmin,
    // whose near-ties would be engine-dependent), tie broken by the
    // smaller threshold via an anti-join on the 64-row frame.
    "q263_decision_stump" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val scored = t.documents.select(
        floor(length(regexp_replace(lower(col("text")), "[^aeiou]", ""))
          * 64 / (length(col("text")) + 1)).as("bin"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      val bins = scored.groupBy(col("bin"))
        .agg(sum(col("pos")).as("p"),
          (count(lit(1)) - sum(col("pos"))).as("q"))
      val tot = bins.agg(sum(col("p")).as("tp"), sum(col("q")).as("tq"))
      val wc = Window.orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val cand = bins
        .withColumn("pl", coalesce(sum(col("p")).over(wc), lit(0L)))
        .withColumn("nl", coalesce(sum(col("q")).over(wc), lit(0L)))
        .crossJoin(broadcast(tot))
        .select(col("bin").as("t"), col("pl"), col("nl"),
          (col("tp") - col("pl")).as("pr"),
          (col("tq") - col("nl")).as("nr"),
          (col("tp") + col("tq")).as("n"))
        .where(col("pl") + col("nl") > 0)
        .select(col("t"), col("pl"), col("nl"), col("pr"), col("nr"),
          col("n"), (col("pl") + col("nl")).as("cl"),
          (col("pr") + col("nr")).as("cr"),
          ((col("pl") * col("pl") + col("nl") * col("nl"))
            * (col("pr") + col("nr"))
            + (col("pr") * col("pr") + col("nr") * col("nr"))
            * (col("pl") + col("nl"))).as("num"),
          ((col("pl") + col("nl")) * (col("pr") + col("nr"))).as("den"))
      val beat = cand.select(col("t").as("t2"), col("num").as("num2"),
        col("den").as("den2"))
      cand.join(broadcast(beat),
          (col("num2").cast("decimal(38,0)") * col("den")
            > col("num").cast("decimal(38,0)") * col("den2"))
          || (col("num2").cast("decimal(38,0)") * col("den")
            === col("num").cast("decimal(38,0)") * col("den2")
            && col("t2") < col("t")), "left_anti")
        .select(col("t").as("threshold_bin"), col("cl").as("n_left"),
          col("cr").as("n_right"),
          when(col("pl") >= col("nl"), "en").otherwise("other")
            .as("left_label"),
          when(col("pr") >= col("nr"), "en").otherwise("other")
            .as("right_label"),
          round((col("n").cast("double")
            - col("num").cast("double") / col("den").cast("double"))
            / col("n").cast("double"), 6).as("gini"))
    },

    // Local-level Kalman filter over the daily order-count series —
    // the state-space twin of q257's Holt smoother (fixed process
    // noise Q=2, measurement noise R=10, init level=x1 P=10). The
    // fact-scale work is ONE day aggregate to the calendar-bounded
    // series; the filter recurrence folds over the sorted (day,
    // count) array INSIDE one aggregate row — both engines execute
    // the identical IEEE double operation sequence (the gain
    // subexpression is repeated in the same textual form everywhere
    // it is used), so every value hash-matches after rounding. Daily
    // counts are integers, so the series itself is exact on both
    // sides.
    "q303_kalman" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val daily = t.orders
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).cast("double").as("x"))
      val series = daily
        .agg(sort_array(collect_list(struct(col("d"), col("x"))))
          .as("xs"))
      // native O(n) scan — same recurrence/IEEE order as the SQL fold
      // it replaced (q = 2, r = 10, init p = r); see
      // plans/ScanFolds.KalmanScan
      series
        .select(explode(expr(
          "graft_kalman_scan(xs, 2.0D, 10.0D)")).as("e"))
        .select(col("e.t").as("d"), col("e.a").cast("long").as("actual"),
          round(col("e.pred"), 6).as("pred"),
          round(col("e.gain"), 6).as("gain"),
          round(col("e.filt"), 6).as("filt"))
        .orderBy(col("d"))
    },

    // Additive Holt-Winters (triple exponential smoothing, weekly
    // season m=7, alpha=0.3 beta=0.1 gamma=0.2) over the daily
    // order-count series — the seasonal completion of q257's Holt
    // fit. Init from the first 7 observations (level = their mean —
    // exact, integer counts sum exactly in doubles in any order —
    // trend 0, seasonal s_i = x_i - level); the fold then walks days
    // 8..n emitting the one-step forecast l + b + s_idx before each
    // update. The seasonal state rides as SEVEN scalar slots with a
    // CASE-selected read and an if-guarded write per slot, so the
    // identical expression tree is expressible in both engines (no
    // list mutation); every repeated subexpression (the new level)
    // is textually identical wherever it is referenced.
    "q304_holt_winters" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val daily = t.orders
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).cast("double").as("x"))
      // the generic SmoothOps fold (also behind GRAFT SMOOTH ...
      // HOLTWINTERS) generates the identical slot/CASE expression
      // tree for m=7 with the complements precomputed to the same
      // literals; daily counts are integers so the rounded actual
      // casts back exactly
      graft.operators.SmoothOps
        .holtWinters(daily, "d", "x", 7, 0.3, 0.1, 0.2)
        .select(col("d"), col("actual").cast("long").as("actual"),
          col("forecast"), col("abs_err"))
        .orderBy(col("d"))
    },

    // Binary-segmentation changepoint (single best split per series) —
    // the OFFLINE complement of q229's CUSUM monitor (ref:
    // analytics/sequence semantics; algorithm = Scott & Knott 1974
    // style binary segmentation, first level). Per event_type daily
    // count series: prefix sums of x and x^2 through PARTITIONED
    // windows make each candidate split's two-segment SSE an O(1)
    // per-row expression (SSE = sxx - sx^2/n per side); the argmin is
    // a per-type aggregate with a min-k tie-break. ONE shuffle on
    // event_type; per-type window state is calendar-bounded (<= #days
    // rows) whatever the fact volume, so the shape survives 100 TB.
    // Daily counts are integers => prefix sums are EXACT in doubles in
    // any accumulation order (so ordered-prefix vs whole-partition
    // sums cannot drift between engines); the cost formula is
    // textually identical on both sides, so the exact-equality argmin
    // filter selects the same row(s).
    "q308_binseg" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val daily = t.events
        .groupBy(col("event_type"), col("ts").cast("date").as("d"))
        .agg(count(lit(1)).cast("double").as("x"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
      val tot = Window.partitionBy(col("event_type"))
      val scored = daily
        .withColumn("k", row_number().over(w).cast("double"))
        .withColumn("sx", sum(col("x")).over(w))
        .withColumn("sxx", sum(col("x") * col("x")).over(w))
        .withColumn("n", count(lit(1)).over(tot).cast("double"))
        .withColumn("sxt", sum(col("x")).over(tot))
        .withColumn("sxxt", sum(col("x") * col("x")).over(tot))
      val cands = scored
        .where(col("k") >= 5 && col("k") <= col("n") - 5)
        .withColumn("cost",
          (col("sxx") - col("sx") * col("sx") / col("k")) +
          ((col("sxxt") - col("sxx")) -
            (col("sxt") - col("sx")) * (col("sxt") - col("sx"))
              / (col("n") - col("k"))))
      cands.withColumn("best", min(col("cost")).over(tot))
        .where(col("cost") === col("best"))
        .groupBy(col("event_type"))
        .agg(
          max(col("n")).cast("bigint").as("n_days"),
          min(col("k")).cast("bigint").as("split_k"),
          min_by(col("d"), col("k")).as("split_d"),
          round(min_by(col("sx") / col("k"), col("k")), 6)
            .as("left_mean"),
          round(min_by((col("sxt") - col("sx")) / (col("n") - col("k")),
            col("k")), 6).as("right_mean"),
          round(max(col("sxxt") - col("sxt") * col("sxt") / col("n")), 6)
            .as("sse_total"),
          round(min_by(col("cost"), col("k")), 6).as("sse_split"))
        .orderBy(col("event_type"))
    },

    // Isotonic regression (non-decreasing fit) of the daily event
    // counts, per event_type — the calibration primitive (Barlow et
    // al. 1972; equals the pool-adjacent-violators solution) via the
    // MINIMAX closed form: fit[i] = max_{j<=i} min_{k>=i} mean(x[j..k]).
    // On the calendar-bounded series the O(n^2) (j,k) interval-mean
    // frame is tiny whatever the fact volume: interval means come from
    // exact integer prefix sums (one double division, textually
    // identical in the oracle), the inner min is a suffix running-min
    // window PARTITIONED by (type, j), the outer max a plain groupBy.
    // ONE fact-scale shuffle (the daily groupBy); everything after is
    // bounded-frame work. Fits emitted as raw doubles — identical
    // IEEE trees on both engines, no rounding needed.
    "q309_isotonic" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val daily = t.events
        .groupBy(col("event_type"), col("ts").cast("date").as("d"))
        .agg(count(lit(1)).cast("double").as("x"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
      val idx = daily
        .withColumn("i", row_number().over(w).cast("double"))
        .withColumn("sx", sum(col("x")).over(w))
      val a = idx.select(col("event_type").as("et"), col("i").as("j"),
        col("sx").as("sxj"), col("x").as("xj"))
      val b = idx.select(col("event_type").as("et2"), col("i").as("k"),
        col("sx").as("sxk"))
      val pairs = a
        .join(b, col("et") === col("et2") && col("j") <= col("k"))
        .withColumn("m",
          (col("sxk") - col("sxj") + col("xj"))
            / (col("k") - col("j") + lit(1.0)))
      val wsuf = Window.partitionBy(col("et"), col("j"))
        .orderBy(col("k").desc)
      val fit = pairs.withColumn("gm", min(col("m")).over(wsuf))
        .groupBy(col("et"), col("k")).agg(max(col("gm")).as("fit"))
      idx.join(fit,
          col("event_type") === col("et") && col("i") === col("k"))
        .select(col("event_type"), col("d"),
          col("x").cast("bigint").as("x"), col("fit"))
        .orderBy(col("event_type"), col("d"))
    },

    // Two-group log-rank test (Mantel 1966) — the hypothesis-test
    // completion of the survival family (q211 Kaplan-Meier curve,
    // q268 Nelson-Aalen hazard): does group 0's churn distribution
    // differ from group 1's? Lifetimes/censoring as in q268 but with
    // a 1-day inactivity horizon (q268's 3-day horizon leaves zero
    // churn events in the gate data's 30-day window — a test needs
    // deaths); groups =
    // user_id parity. Everything stays INTEGER on the bounded
    // per-day frame — per-group death/censor counts pivot into one
    // row per day, at-risk counts are suffix sums — until the two
    // classical fp sums (expected deaths Σ d*n1/n and hypergeometric
    // variance), each an ORDERED fold over the day frame so the IEEE
    // order matches DuckDB's list_reduce exactly. ONE fact-scale
    // shuffle (the per-user aggregate); the day frame is
    // observation-span-bounded.
    "q310_logrank" -> { (spark, dir) =>
      val ev = Tables(spark, dir).events
      val life = ev.groupBy(col("user_id"))
        .agg(min(unix_timestamp(col("ts"))).as("first_s"),
          max(unix_timestamp(col("ts"))).as("last_s"))
        .crossJoin(broadcast(
          ev.agg(max(unix_timestamp(col("ts"))).as("end_s"))))
        .select(pmod(col("user_id"), lit(2)).as("g"),
          expr("(last_s - first_s) div 86400").as("t"),
          (col("end_s") - col("last_s") > 86400L).as("observed"))
      val byDay = life.groupBy(col("t")).agg(
        sum(when(col("g") === 1 && col("observed"), 1L)
          .otherwise(0L)).as("d1"),
        sum(when(col("g") === 0 && col("observed"), 1L)
          .otherwise(0L)).as("d0"),
        sum(when(col("g") === 1 && !col("observed"), 1L)
          .otherwise(0L)).as("c1"),
        sum(when(col("g") === 0 && !col("observed"), 1L)
          .otherwise(0L)).as("c0"))
      val wSuf = Window.orderBy(col("t"))
        .rowsBetween(0, Window.unboundedFollowing)
      val risk = byDay
        .withColumn("n1", sum(col("d1") + col("c1")).over(wSuf))
        .withColumn("n0", sum(col("d0") + col("c0")).over(wSuf))
        .withColumn("n", col("n1") + col("n0"))
        .withColumn("d", col("d1") + col("d0"))
        .where(col("d") > 0L)
      risk.agg(
          max(col("n1") + col("n0")).as("n_risk_first"),
          max(col("n1")).as("n1_risk_first"),
          sum(col("d1")).as("o1"),
          sum(col("d")).as("events_total"),
          expr("""aggregate(
            transform(array_sort(collect_list(struct(t, d, n1, n))),
              r -> CAST(r.d AS DOUBLE) * CAST(r.n1 AS DOUBLE)
                / CAST(r.n AS DOUBLE)),
            0D, (a, x) -> a + x)""").as("e1"),
          expr("""aggregate(
            transform(array_sort(collect_list(struct(t, d, n1, n))),
              r -> IF(r.n > 1,
                CAST(r.d AS DOUBLE)
                  * (CAST(r.n1 AS DOUBLE) / CAST(r.n AS DOUBLE))
                  * (1.0D - CAST(r.n1 AS DOUBLE) / CAST(r.n AS DOUBLE))
                  * (CAST(r.n - r.d AS DOUBLE)
                      / CAST(r.n - 1 AS DOUBLE)),
                0.0D)),
            0D, (a, x) -> a + x)""").as("v1"))
        .select(col("n_risk_first"), col("n1_risk_first"), col("o1"),
          col("events_total"), col("e1"), col("v1"),
          ((col("o1").cast("double") - col("e1"))
            * (col("o1").cast("double") - col("e1"))
            / col("v1")).as("chi2"),
          (((col("o1").cast("double") - col("e1"))
            * (col("o1").cast("double") - col("e1"))
            / col("v1")) > 3.841).as("significant_05"))
    },

    // Theil-Sen robust trend per series (Theil 1950/Sen 1968 — the
    // breakdown-resistant complement of q256's least-squares trend):
    // slope = exact MEDIAN of all pairwise slopes, intercept = exact
    // median of the residuals under that slope. The O(n²) pair frame
    // is calendar-bounded whatever the fact volume; medians are exact
    // middle-rank selections (row_number over (slope, i, j) inside
    // each type partition — deterministic under ties) so both engines
    // pick the same element(s); the even-case midpoint is one
    // commutative 2-value AVG. Pairwise slopes are ratios of exact
    // integer differences — bit-identical doubles cross-engine. ONE
    // fact-scale shuffle (the daily aggregate).
    "q311_theil_sen" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val daily = t.events
        .groupBy(col("event_type"), col("ts").cast("date").as("d"))
        .agg(count(lit(1)).cast("double").as("x"))
      graft.operators.TrendOps
        .theilSen(daily, "event_type", "d", "x")
        .orderBy(col("event_type"))
    },

    // Mann-Kendall trend test (Mann 1945/Kendall 1975) — the
    // significance companion to q311's Theil-Sen slope (the classical
    // pairing for monotone-trend detection): S = Σ sign(x_j - x_i)
    // over the calendar-bounded pair frame stays INTEGER, the tie
    // correction Σ t(t-1)(2t+5) is an integer aggregate over the
    // bounded per-value count frame, and the only fp steps are the
    // closing textual formulas (Var S, the continuity-corrected Z,
    // tie-adjusted Kendall tau-b) both engines evaluate identically.
    // ONE fact-scale shuffle (the daily aggregate).
    "q312_mann_kendall" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val daily = t.events
        .groupBy(col("event_type"), col("ts").cast("date").as("d"))
        .agg(count(lit(1)).as("x"))
      graft.operators.TrendOps
        .mannKendall(daily, "event_type", "d", "x")
        .orderBy(col("event_type"))
    },

    // Wald-Wolfowitz runs test (1940) — the randomness diagnostic the
    // trend family needs as its null-model check: is the daily series
    // a random scatter around its median, or does it clump? Median by
    // the exact middle-rank selection (deterministic (x, d) order),
    // at-median days excluded per the classical recipe, runs counted
    // with ONE lag comparison per row — everything INTEGER until the
    // closing mu/sigma/Z formulas, which are the same textual fp
    // trees as the DuckDB oracle. ONE fact-scale shuffle; all windows
    // partitioned by event_type over the calendar-bounded frame.
    "q315_runs_test" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val daily = t.events
        .groupBy(col("event_type"), col("ts").cast("date").as("d"))
        .agg(count(lit(1)).as("x"))
      val wOrd = Window.partitionBy(col("event_type"))
        .orderBy(col("x"), col("d"))
      val wCnt = Window.partitionBy(col("event_type"))
      val med = daily
        .withColumn("rn", row_number().over(wOrd).cast("long"))
        .withColumn("n", count(lit(1)).over(wCnt))
        .where(col("rn") === expr("(n + 1) div 2")
          || col("rn") === expr("(n + 2) div 2"))
        .groupBy(col("event_type").as("et"))
        .agg(avg(col("x").cast("double")).as("med"))
      val wD = Window.partitionBy(col("event_type")).orderBy(col("d"))
      val runs = daily
        .join(broadcast(med), col("event_type") === col("et"))
        .where(col("x").cast("double") =!= col("med"))
        .withColumn("s",
          (col("x").cast("double") > col("med")).cast("int"))
        .withColumn("prev", lag(col("s"), 1).over(wD))
        .groupBy(col("event_type"))
        .agg(max(col("med")).as("med"),
          sum(col("s")).cast("long").as("n1"),
          (count(lit(1)) - sum(col("s"))).cast("long").as("n2"),
          (lit(1L) + sum(when(col("prev").isNotNull
            && col("s") =!= col("prev"), 1L).otherwise(0L))).as("runs"))
      runs.select(col("event_type"), col("med"), col("n1"), col("n2"),
          col("runs"),
          (lit(1.0) + (lit(2L) * col("n1") * col("n2")).cast("double")
            / (col("n1") + col("n2")).cast("double")).as("mu"),
          ((col("runs").cast("double")
            - (lit(1.0)
              + (lit(2L) * col("n1") * col("n2")).cast("double")
                / (col("n1") + col("n2")).cast("double")))
            / sqrt((lit(2L) * col("n1") * col("n2")
                * (lit(2L) * col("n1") * col("n2")
                  - col("n1") - col("n2"))).cast("double")
              / ((col("n1") + col("n2")) * (col("n1") + col("n2"))
                * (col("n1") + col("n2") - 1L)).cast("double")))
            .as("z"))
        .orderBy(col("event_type"))
    },

    // Hodges-Lehmann location estimator (1963) per series — the
    // robust center the Wilcoxon family inverts to: exact MEDIAN of
    // all n(n+1)/2 Walsh averages (x_i + x_j)/2, i <= j. Walsh
    // averages of integer counts are exact halves (one division by
    // 2.0 of an exact integer sum), the median is the same
    // deterministic middle-rank selection as q311 — bit-identical
    // cross-engine with no rounding. The plain mean rides along for
    // the robustness contrast. ONE fact-scale shuffle; the pair
    // frame is calendar-bounded.
    "q316_hodges_lehmann" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val daily = t.events
        .groupBy(col("event_type"), col("ts").cast("date").as("d"))
        .agg(count(lit(1)).as("x"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
      val idx = daily.withColumn("i", row_number().over(w).cast("long"))
      val a = idx.select(col("event_type").as("et"),
        col("i").as("ia"), col("x").as("xa"))
      val b = idx.select(col("event_type").as("et2"),
        col("i").as("ib"), col("x").as("xb"))
      val walsh = a
        .join(b, col("et") === col("et2") && col("ia") <= col("ib"))
        .select(col("et"), col("ia"), col("ib"),
          ((col("xa") + col("xb")).cast("double") / lit(2.0)).as("wv"))
      val ws = Window.partitionBy(col("et"))
        .orderBy(col("wv"), col("ia"), col("ib"))
      val wc = Window.partitionBy(col("et"))
      val hl = walsh
        .withColumn("rn", row_number().over(ws).cast("long"))
        .withColumn("m", count(lit(1)).over(wc))
        .where(col("rn") === expr("(m + 1) div 2")
          || col("rn") === expr("(m + 2) div 2"))
        .groupBy(col("et"))
        .agg(avg(col("wv")).as("hl_location"), max(col("m")).as("n_walsh"))
      val mean = daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          (sum(col("x")).cast("double")
            / count(lit(1)).cast("double")).as("mean"))
      mean.join(hl, col("event_type") === col("et"))
        .select(col("event_type"), col("n_days"), col("n_walsh"),
          col("hl_location"), col("mean"))
        .orderBy(col("event_type"))
    },

    // Probability-forecast calibration with the Murphy (1973) Brier
    // decomposition — the evaluation harness every probabilistic
    // scorer needs: per-ship-month return rates (l_returnflag = 'R'
    // tracks line age in TPC-H) learned on the even-orderkey half
    // forecast the odd half; Brier = REL - RES +
    // UNC checked as emitted columns. Scale shape: the fact collapses
    // to ONE per-group count row in a single scan (train/test x
    // late/on-time as conditional sums); every rate is an exact
    // integer ratio; the three decomposition sums run as ORDERED
    // folds over the bounded group frame so the fp order matches the
    // oracle's list_reduce; the direct Brier is computed from COUNTS
    // (late*(p-1)^2 + ontime*p^2 per group), never a fact-scale
    // double sum with nondeterministic order.
    "q318_calibration" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val li = t.lineitem.select(
        trunc(col("l_shipdate"), "month").as("g"),
        (col("l_returnflag") === "R").as("y"),
        (pmod(col("l_orderkey"), lit(2)) === 0).as("tr"))
      val grp = li.groupBy(col("g")).agg(
        sum(when(col("tr"), 1L).otherwise(0L)).as("n_tr"),
        sum(when(col("tr") && col("y"), 1L).otherwise(0L)).as("late_tr"),
        sum(when(!col("tr"), 1L).otherwise(0L)).as("n_te"),
        sum(when(!col("tr") && col("y"), 1L).otherwise(0L)).as("late_te"))
      val tot = grp.agg(sum(col("n_te")).as("nt"),
        sum(col("late_te")).as("lt"))
      val scored = grp.crossJoin(broadcast(tot))
        .withColumn("p", col("late_tr").cast("double")
          / col("n_tr").cast("double"))
        .withColumn("o", col("late_te").cast("double")
          / col("n_te").cast("double"))
        .withColumn("obar", col("lt").cast("double")
          / col("nt").cast("double"))
      scored.agg(
          count(lit(1)).as("n_groups"),
          max(col("nt")).as("n_test"),
          expr("""aggregate(
            transform(array_sort(collect_list(struct(g, late_te, n_te,
                p))),
              r -> (CAST(r.late_te AS DOUBLE) * (r.p - 1.0D)
                  * (r.p - 1.0D)
                + CAST(r.n_te - r.late_te AS DOUBLE) * r.p * r.p)),
            0D, (a, x) -> a + x)""").as("bsum"),
          expr("""aggregate(
            transform(array_sort(collect_list(struct(g, n_te, p, o))),
              r -> CAST(r.n_te AS DOUBLE) * (r.p - r.o)
                * (r.p - r.o)),
            0D, (a, x) -> a + x)""").as("relsum"),
          expr("""aggregate(
            transform(array_sort(collect_list(struct(g, n_te, o,
                obar))),
              r -> CAST(r.n_te AS DOUBLE) * (r.o - r.obar)
                * (r.o - r.obar)),
            0D, (a, x) -> a + x)""").as("ressum"),
          max(col("obar")).as("obar"))
        .select(col("n_groups"), col("n_test"),
          (col("bsum") / col("n_test").cast("double")).as("brier"),
          (col("relsum") / col("n_test").cast("double"))
            .as("reliability"),
          (col("ressum") / col("n_test").cast("double"))
            .as("resolution"),
          (col("obar") * (lit(1.0) - col("obar"))).as("uncertainty"))
    },

    // EWMA control chart (Lucas & Saccucci 1990; lambda=0.2, L=3)
    // over the daily order-count series — the smoothed-memory member
    // of the control-chart family next to q229's CUSUM (sudden
    // shifts) and q308's binseg (offline split): the EWMA statistic
    // z_t = 0.2 x_t + 0.8 z_{t-1} against TIME-VARYING limits
    // mu0 +/- 3 sigma sqrt(lambda/(2-lambda) (1 - 0.64^t)), sigma
    // estimated from the average moving range / d2(=1.128). Scale
    // shape: ONE fact aggregate to the calendar-bounded daily series;
    // mu0/sigma come from exact integer sums (counts and |count
    // diffs|) with one division each; the recursion folds over the
    // sorted array inside one aggregate row, identical IEEE op
    // sequence to the oracle's recursive CTE; the band term rides the
    // fold as w_t = w_{t-1} * 0.64 (a pure multiplication chain —
    // never POW, whose rounding may differ across engines). The
    // out-of-control flag compares the ROUNDED emitted values so the
    // verdict is a pure function of the hash-checked columns.
    "q320_ewma_chart" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val daily = t.orders
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).as("x"))
      val w = Window.orderBy(col("d"))
      val agg = daily
        .withColumn("mr", abs(col("x") - lag(col("x"), 1).over(w)))
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"),
          sum(col("mr")).as("smr"), count(col("mr")).as("nmr"),
          sort_array(collect_list(struct(col("d"), col("x"))))
            .as("xs"))
      // one native O(n) pass over the collected series — same
      // recurrence + IEEE op order as the SQL fold it replaced
      // (ArrayAggregate is interpreted and array_append re-copies the
      // accumulator, an O(n^2) fold; see plans/ScanFolds.scala)
      val folded = agg.select(
        expr("graft_ewma_chart(xs, sx, n, smr, nmr)").as("f"),
        (col("sx").cast("double") / col("n").cast("double")).as("mu"))
      folded.select(col("mu"), explode(col("f")).as("e"))
        .select(col("e.d").as("d"), col("e.x").as("x"),
          round(col("e.z"), 6).as("z"),
          round(col("mu") + col("e.hw"), 6).as("ucl"),
          round(col("mu") - col("e.hw"), 6).as("lcl"))
        .withColumn("outf",
          col("z") > col("ucl") || col("z") < col("lcl"))
        .orderBy(col("d"))
    },

    // Ljung-Box portmanteau test (Ljung & Box 1978) at lags 1..5 over
    // the daily order-count series — the whiteness test that closes
    // the q250 ACF family: Q_m = n(n+2) sum_{k<=m} r_k^2/(n-k), with
    // r_k the same exact-integer ACF ratio q250 emits. Scale shape:
    // ONE fact aggregate to the calendar-bounded daily series; per-lag
    // numerators/denominators stay exact decimal products of integer
    // sums; the only double arithmetic is the cumulative r^2/(n-k)
    // fold, run in LAG ORDER inside one aggregate row — the identical
    // IEEE op sequence as the oracle's recursive CTE.
    "q321_ljung_box" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val daily = t.orders
        .groupBy(col("o_orderdate").as("d"))
        .agg(count(lit(1)).as("x"))
      val s = daily
        .withColumn("rn", row_number().over(Window.orderBy(col("d"))))
        .select(col("rn"), col("x").cast("decimal(38,0)").as("x"))
      val glob = s.agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("x")).as("sx"), sum(col("x") * col("x")).as("q"))
      val lagged = s
        .select(col("rn"), col("x"),
          explode(array((1 to 5).map(lit(_)): _*)).as("lag"))
        .withColumn("tgt", col("rn") + col("lag"))
        .join(s.select(col("rn").as("tgt"), col("x").as("y")), "tgt")
      val perLag = lagged.groupBy(col("lag"))
        .agg(sum(col("x") * col("y")).as("p"),
          sum(col("x")).as("a"), sum(col("y")).as("b"))
        .crossJoin(broadcast(glob))
        .select(col("lag"),
          (col("n") * col("n") * col("p")
            - col("n") * col("sx") * (col("a") + col("b"))
            + (col("n") - col("lag")) * col("sx") * col("sx"))
            .as("num"),
          (col("n") * col("n") * col("q")
            - col("n") * col("sx") * col("sx")).as("den"),
          col("n"))
      perLag
        .agg(sort_array(collect_list(struct(
          col("lag"), col("num"), col("den"), col("n")))).as("ls"))
        .select(expr(
          """aggregate(
            |  ls,
            |  named_struct('c', CAST(0.0 AS DOUBLE),
            |    'f', cast(array() as
            |      array<struct<lag: int, acf: double, lb: double>>)),
            |  (acc, e) -> named_struct(
            |    'c', acc.c
            |      + (CAST(e.num AS DOUBLE) / CAST(e.den AS DOUBLE))
            |        * (CAST(e.num AS DOUBLE) / CAST(e.den AS DOUBLE))
            |        / CAST(e.n - e.lag AS DOUBLE),
            |    'f', array_append(acc.f, named_struct(
            |      'lag', e.lag,
            |      'acf', CAST(e.num AS DOUBLE) / CAST(e.den AS DOUBLE),
            |      'lb', CAST(e.n * (e.n + 2) AS DOUBLE)
            |        * (acc.c
            |          + (CAST(e.num AS DOUBLE) / CAST(e.den AS DOUBLE))
            |            * (CAST(e.num AS DOUBLE) / CAST(e.den AS DOUBLE))
            |            / CAST(e.n - e.lag AS DOUBLE)))))).f
            |""".stripMargin.trim).as("fr"))
        .select(explode(col("fr")).as("e"))
        .select(col("e.lag").as("lag"),
          round(col("e.acf"), 6).as("acf"),
          round(col("e.lb"), 6).as("lb_q"))
        .orderBy(col("lag"))
    },

    // McNemar's paired-classifier test (McNemar 1947, continuity-
    // corrected) over documents: two deterministic quality heuristics
    // (A: length >= 600 chars; B: text mentions ' the ') judged
    // against the lang='en' label; the test isolates the DISCORDANT
    // pairs b (A right, B wrong) and c (A wrong, B right) and asks if
    // the two classifiers err at the same marginal rate:
    // chi2 = (|b-c|-1)^2/(b+c). Scale shape: ONE codegen projection +
    // ONE count aggregate to four integers; the statistic is exact
    // integer arithmetic with a single final double division.
    "q323_mcnemar" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val judged = t.documents.select(
        ((col("n_chars") >= 600) === (col("lang") === "en"))
          .as("ok_a"),
        (col("text").contains(" the ") === (col("lang") === "en"))
          .as("ok_b"))
      judged.agg(
        count(lit(1)).as("n"),
        sum(when(col("ok_a") && !col("ok_b"), 1L).otherwise(0L))
          .as("b"),
        sum(when(!col("ok_a") && col("ok_b"), 1L).otherwise(0L))
          .as("c"))
        .select(col("n"), col("b"), col("c"),
          round(when(col("b") + col("c") > 0,
            ((abs(col("b") - col("c")) - lit(1))
              * (abs(col("b") - col("c")) - lit(1))).cast("double")
              / (col("b") + col("c")).cast("double"))
            .otherwise(lit(0.0)), 6).as("chi2"))
    },

    // Cochran's Q test (Cochran 1950) for k=3 correlated binary
    // "treatments" over documents — do three deterministic filter
    // rules (length > 200 chars, contains a digit, lang = 'en') pass
    // at the same rate on the same docs?
    // Q = (k-1)(k*sum G_j^2 - T^2) / (k*T - sum L_i^2), G_j = rule
    // totals, L_i = per-doc pass count, T = total passes. Scale
    // shape: ONE codegen projection + ONE aggregate to six integers
    // (sum L_i^2 folds into the same pass because L_i <= 3); the
    // statistic is EXACT integer arithmetic, one double division.
    "q326_cochran_q" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val rules = t.documents.select(
        when(col("n_chars") > 200, 1L).otherwise(0L).as("r1"),
        when(col("text").rlike("[0-9]"), 1L).otherwise(0L).as("r2"),
        when(col("lang") === "en", 1L).otherwise(0L).as("r3"))
      rules.agg(
        count(lit(1)).as("n_docs"),
        sum(col("r1")).as("g1"), sum(col("r2")).as("g2"),
        sum(col("r3")).as("g3"),
        sum((col("r1") + col("r2") + col("r3"))
          * (col("r1") + col("r2") + col("r3"))).as("sl2"))
        .select(col("n_docs"), col("g1"), col("g2"), col("g3"),
          round((lit(2) * (lit(3) * (col("g1") * col("g1")
              + col("g2") * col("g2") + col("g3") * col("g3"))
            - (col("g1") + col("g2") + col("g3"))
              * (col("g1") + col("g2") + col("g3")))).cast("double")
            / (lit(3) * (col("g1") + col("g2") + col("g3"))
              - col("sl2")).cast("double"), 6).as("q_stat"))
    },

    // Durbin-Watson first-order autocorrelation statistic (Durbin &
    // Watson 1950) of the OLS-detrended MONTHLY order series:
    // DW = sum (e_t - e_{t-1})^2 / sum e_t^2. The residual is kept
    // EXACT by clearing denominators — with slope N_b/D and intercept
    // (D*sx - N_b*st)/(nD), the scaled residual
    // R_t = nD x_t - D sx + N_b st - n N_b t is pure integer and the
    // common (nD) factor cancels in the ratio, so BOTH sums stay
    // exact decimals and DW is ONE double division (slope is a
    // second). Monthly grid bounds the frame at ~80 rows and keeps
    // every product far inside decimal(38,0).
    "q322_durbin_watson" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val monthly = t.orders
        .groupBy(date_trunc("month", col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("x"))
      val s = monthly
        .withColumn("rn", row_number().over(Window.orderBy(col("m"))))
        .select(col("rn").cast("decimal(38,0)").as("tt"),
          col("x").cast("decimal(38,0)").as("x"))
      val g = s.agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("tt")).as("st"), sum(col("x")).as("sx"),
        sum(col("tt") * col("tt")).as("stt"),
        sum(col("tt") * col("x")).as("stx"))
      val r = s.crossJoin(broadcast(g))
        .select(col("tt"),
          (col("n") * (col("n") * col("stt") - col("st") * col("st"))
              * col("x")
            - (col("n") * col("stt") - col("st") * col("st"))
              * col("sx")
            + (col("n") * col("stx") - col("st") * col("sx"))
              * col("st")
            - col("n")
              * (col("n") * col("stx") - col("st") * col("sx"))
              * col("tt")).as("r"),
          (col("n") * col("stx") - col("st") * col("sx")).as("nb"),
          (col("n") * col("stt") - col("st") * col("st")).as("d"))
      r.withColumn("pr",
          lag(col("r"), 1).over(Window.orderBy(col("tt"))))
        .agg(count(lit(1)).as("n_months"),
          sum(col("r") * col("r")).as("srr"),
          sum(when(col("pr").isNotNull,
            (col("r") - col("pr")) * (col("r") - col("pr"))))
            .as("sd"),
          max(col("nb")).as("nb"), max(col("d")).as("d"))
        .select(col("n_months"),
          round(col("sd").cast("double") / col("srr").cast("double"),
            6).as("dw"),
          round(col("nb").cast("double") / col("d").cast("double"),
            6).as("slope"))
    },

    // CUPED variance-reduction adjustment (Deng et al. 2013): the
    // experiment-analysis primitive that removes pre-period variance
    // from a post-period metric. Split the 30-day event window in
    // half; per user X = pre-period value sum, Y = post;
    // theta = cov(X,Y)/var(X); Y_adj = Y - theta (X - Xbar). Scale
    // shape: ONE fact aggregate to the per-user frame (values kept
    // exact as decimal(38,6) -> x1e6 integers), cov/var from EXACT
    // integer sums in a 1-row broadcast, and Y_adj is per-row double
    // arithmetic over exact inputs — the identical correctly-rounded
    // expression tree in both engines, no fact-scale double sum.
    // Difference-in-differences (Card & Krueger 1994, the classic
    // quasi-experimental estimator): deterministic treatment split
    // (odd user ids), pre/post split at mid-month, DiD =
    // (post_T - pre_T) - (post_C - pre_C) over cell means. Exactness
    // discipline: cell sums accumulate as DECIMAL(38,6) (order-
    // independent), each mean is ONE double division, and the DiD is
    // the identical 4-term expression tree in both engines. Scale
    // shape: one fact aggregate to a 4-row cell frame; everything
    // after is 1-row algebra.
    "q373_did" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val cells = t.events
        .withColumn("treated", col("user_id") % 2 === 1)
        .withColumn("post", dayofmonth(col("ts")) > 15)
        .groupBy(col("treated"), col("post"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(38,6)")).as("s"))
        .select(col("treated"), col("post"), col("n"),
          (col("s").cast("double") / col("n").cast("double")).as("m"))
      def cell(tr: Boolean, po: Boolean, c: String) = (
        max(when(col("treated") === tr && col("post") === po,
          col(c))))
      cells.agg(
          cell(tr = false, po = false, "n").as("n_pre_c"),
          cell(tr = true, po = false, "n").as("n_pre_t"),
          cell(tr = false, po = true, "n").as("n_post_c"),
          cell(tr = true, po = true, "n").as("n_post_t"),
          cell(tr = false, po = false, "m").as("_m_pre_c"),
          cell(tr = true, po = false, "m").as("_m_pre_t"),
          cell(tr = false, po = true, "m").as("_m_post_c"),
          cell(tr = true, po = true, "m").as("_m_post_t"))
        .select(
          col("n_pre_c"), col("n_pre_t"),
          col("n_post_c"), col("n_post_t"),
          round(col("_m_pre_c"), 6).as("m_pre_c"),
          round(col("_m_pre_t"), 6).as("m_pre_t"),
          round(col("_m_post_c"), 6).as("m_post_c"),
          round(col("_m_post_t"), 6).as("m_post_t"),
          round((col("_m_post_t") - col("_m_pre_t")) -
            (col("_m_post_c") - col("_m_pre_c")), 6).as("did"))
    },

    // Empirical-Bayes JAMES-STEIN shrinkage of per-group means
    // (James & Stein 1961; Efron & Morris 1975 — the estimator that
    // beats the raw group means whenever there are >= 4 groups):
    // noisy per-source means shrink toward the grand mean of means by
    // B = 1 - (g-3) * vbar / SS, where vbar is the mean sampling
    // variance of a group mean (pooled within-variance / n_i) and
    // SS = sum (m_i - mbar)^2; B clamps at 0. Exactness: all moments
    // from DECIMAL(38,6)/(38,12) integer-exact sums; mbar, SS, and
    // vbar via ordered folds on the bounded |groups| frame; theta_i
    // is per-row double algebra over exact inputs. One fact
    // aggregate; everything after is |groups|-frame algebra.
    "q381_james_stein" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val per = t.documents.groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars").cast("decimal(38,0)")).as("s"),
          sum((col("n_chars") * col("n_chars")).cast("decimal(38,0)"))
            .as("q"))
        .select(col("source"), col("n"),
          (col("s").cast("double") / col("n").cast("double")).as("m"),
          // within-group variance (sample): (q - s^2/n) / (n-1)
          ((col("q").cast("double") -
            col("s").cast("double") * col("s").cast("double") /
              col("n").cast("double")) /
            (col("n") - lit(1)).cast("double")).as("v"),
          // sampling variance of this group's mean
          ((col("q").cast("double") -
            col("s").cast("double") * col("s").cast("double") /
              col("n").cast("double")) /
            (col("n") - lit(1)).cast("double") /
            col("n").cast("double")).as("vm"))
      val mom = per
        .agg(sort_array(collect_list(struct(col("source"),
            col("m"), col("vm")))).as("xs"),
          count(lit(1)).as("g"))
        .select(col("g"),
          (expr("aggregate(xs, CAST(0.0 AS DOUBLE), " +
            "(a, e) -> a + e.m)") / col("g").cast("double"))
            .as("mbar"),
          (expr("aggregate(xs, CAST(0.0 AS DOUBLE), " +
            "(a, e) -> a + e.vm)") / col("g").cast("double"))
            .as("vbar"))
      val ss = per.crossJoin(broadcast(mom))
        .agg(sort_array(collect_list(struct(col("source"),
            ((col("m") - col("mbar")) * (col("m") - col("mbar")))
              .as("d2")))).as("ds"),
          max(col("g")).as("g2"), max(col("mbar")).as("mbar2"),
          max(col("vbar")).as("vbar2"))
        .select(col("g2"), col("mbar2"), col("vbar2"),
          expr("aggregate(ds, CAST(0.0 AS DOUBLE), (a, e) -> a + e.d2)")
            .as("ss"))
        .select(col("g2"), col("mbar2"),
          greatest(lit(0.0), lit(1.0) -
            (col("g2") - lit(3)).cast("double") * col("vbar2") /
              col("ss")).as("b"))
      per.crossJoin(broadcast(ss))
        .select(col("source"), col("n"),
          round(col("m"), 6).as("m_raw"),
          round(col("mbar2") + col("b") * (col("m") - col("mbar2")), 6)
            .as("m_shrunk"),
          round(col("b"), 6).as("shrink_b"))
        .orderBy(col("source"))
    },

    // Delete-one-group JACKKNIFE for ratio metrics (Quenouille 1956 /
    // Tukey 1958; the standard error every ratio metric — mean chars
    // per doc, revenue per user — actually needs, since the ratio of
    // sums is NOT a mean of rows): drop one SOURCE at a time,
    // recompute R_(-i) = (S - s_i)/(C - c_i) from the per-group sums,
    // var_jk = (g-1)/g * sum_i (R_(-i) - Rbar)^2. Exactness: group
    // sums are DECIMAL(38,6); every replicate is single-division
    // algebra on the bounded |groups| frame; both folds (Rbar and the
    // variance) run in group order — identical trees both engines.
    // Scale shape: ONE fact aggregate to |groups| rows; replicates
    // are frame algebra, never a re-scan per group (the naive
    // jackknife re-scans the corpus g times).
    "q380_jackknife" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val per = t.documents.groupBy(col("source"))
        .agg(count(lit(1)).as("c"),
          sum(col("n_chars").cast("decimal(38,6)")).as("s"))
      val tot = per.agg(sum(col("c")).as("ct"),
        sum(col("s")).as("st"), count(lit(1)).as("g"))
      val loo = per.crossJoin(broadcast(tot))
        .select(col("source"), col("c"), col("g"),
          (col("st").cast("double") / col("ct").cast("double"))
            .as("r_full"),
          ((col("st") - col("s")).cast("double") /
            (col("ct") - col("c")).cast("double")).as("r_loo"))
      val rbar = loo
        .agg(sort_array(collect_list(
          struct(col("source"), col("r_loo")))).as("xs"),
          max(col("g")).as("g"))
        .select(
          (expr("aggregate(xs, CAST(0.0 AS DOUBLE), " +
            "(a, e) -> a + e.r_loo)") / col("g").cast("double"))
            .as("rbar"))
      val varjk = loo.crossJoin(broadcast(rbar))
        .agg(sort_array(collect_list(struct(col("source"),
            ((col("r_loo") - col("rbar")) *
              (col("r_loo") - col("rbar"))).as("d2")))).as("ds"),
          max(col("g")).as("g"))
        .select(
          sqrt(expr("aggregate(ds, CAST(0.0 AS DOUBLE), " +
            "(a, e) -> a + e.d2)") *
            (col("g") - lit(1)).cast("double") /
            col("g").cast("double")).as("jk_se"))
      loo.crossJoin(broadcast(varjk))
        .select(col("source"), col("c").as("n_docs"),
          round(col("r_loo"), 6).as("r_loo"),
          round(col("r_full"), 6).as("r_full"),
          round(col("jk_se"), 6).as("jk_se"))
        .orderBy(col("source"))
    },

    // Experiment POWER ANALYSIS: the minimum detectable effect (MDE)
    // for the two-proportion test at alpha=.05 two-sided, power=.80
    // (z constants 1.959964 / 0.841621 as literals — the standard
    // planning numbers, no special functions): per source, with the
    // observed long-doc rate p and group size n/2 per arm,
    // MDE = (z_a + z_b) * sqrt(2 p (1-p) / (n/2)). The planning read
    // run BEFORE an experiment ships — complements the q209 z-test
    // (did it move) and q294 bootstrap (how precise). Exact counts,
    // fixed expression tree, one fact aggregate to |sources| rows.
    "q378_mde" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      t.documents.groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("n_chars") > 200, 1L).otherwise(0L)).as("k"))
        .select(col("source"), col("n"), col("k"),
          round(col("k").cast("double") / col("n").cast("double"), 6)
            .as("p"),
          round((lit(1.959964) + lit(0.841621)) *
            sqrt(lit(2.0) *
              (col("k").cast("double") / col("n").cast("double")) *
              (lit(1.0) -
                col("k").cast("double") / col("n").cast("double")) /
              (col("n").cast("double") / lit(2.0))), 6).as("mde"))
        .orderBy(col("source"))
    },

    // Wilson score interval (Wilson 1927 — the proportion CI that
    // behaves at small n and extreme p, the per-segment companion of
    // the q294 bootstrap): center (p + z^2/2n) / (1 + z^2/n),
    // half-width z sqrt(p(1-p)/n + z^2/4n^2) / (1 + z^2/n), z=1.96
    // literal. Exact counts, single divisions, identical tree both
    // engines; one fact aggregate to |source x lang| rows.
    "q379_wilson_ci" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val z = lit(1.959964)
      val base = t.documents.groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("k"))
        .withColumn("nn", col("n").cast("double"))
        .withColumn("p", col("k").cast("double") / col("n").cast("double"))
      base.select(col("source"), col("n"), col("k"),
          round(col("p"), 6).as("p_en"),
          round((col("p") + z * z / (lit(2.0) * col("nn")) -
            z * sqrt(col("p") * (lit(1.0) - col("p")) / col("nn") +
              z * z / (lit(4.0) * col("nn") * col("nn")))) /
            (lit(1.0) + z * z / col("nn")), 6).as("ci_lo"),
          round((col("p") + z * z / (lit(2.0) * col("nn")) +
            z * sqrt(col("p") * (lit(1.0) - col("p")) / col("nn") +
              z * z / (lit(4.0) * col("nn") * col("nn")))) /
            (lit(1.0) + z * z / col("nn")), 6).as("ci_hi"))
        .orderBy(col("source"))
    },

    // Post-stratification ATE (the survey-sampling / experiment-
    // analysis adjustment next to CUPED and DiD): within each stratum
    // (event type — the confounder proxy) the treated/control outcome
    // means difference, combined with population stratum weights:
    // ATE = sum_s (n_s / n) (mean_Ts - mean_Cs). Exactness: stratum
    // sums accumulate as DECIMAL(38,6), each mean ONE division, and
    // the weighted combination folds in stratum order over the sorted
    // bounded frame — the identical tree both engines. Scale shape:
    // one fact aggregate to a |strata| x 2 cell frame.
    "q376_strat_ate" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val cells = t.events
        .withColumn("treated", col("user_id") % 2 === 1)
        .groupBy(col("event_type"), col("treated"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(38,6)")).as("s"))
      val strata = cells.groupBy(col("event_type"))
        .agg(sum(col("n")).as("n_s"),
          max(when(col("treated"), col("n"))).as("n_t"),
          max(when(!col("treated"), col("n"))).as("n_c"),
          (max(when(col("treated"), col("s"))).cast("double") /
            max(when(col("treated"), col("n"))).cast("double"))
            .as("m_t"),
          (max(when(!col("treated"), col("s"))).cast("double") /
            max(when(!col("treated"), col("n"))).cast("double"))
            .as("m_c"))
      val tot = strata.agg(sum(col("n_s")).as("n_total"))
      val terms = strata.crossJoin(broadcast(tot))
        .select(col("event_type"), col("n_s"), col("n_t"), col("n_c"),
          round(col("m_t"), 6).as("m_t"),
          round(col("m_c"), 6).as("m_c"),
          round(col("m_t") - col("m_c"), 6).as("diff"),
          ((col("n_s").cast("double") / col("n_total").cast("double"))
            * (col("m_t") - col("m_c"))).as("_w"))
      val ate = terms
        .agg(sort_array(collect_list(
          struct(col("event_type"), col("_w")))).as("ws"))
        .select(round(expr(
          "aggregate(ws, CAST(0.0 AS DOUBLE), (a, e) -> a + e._w)"), 6)
          .as("strat_ate"))
      terms.crossJoin(broadcast(ate))
        .select(col("event_type"), col("n_s"), col("n_t"), col("n_c"),
          col("m_t"), col("m_c"), col("diff"), col("strat_ate"))
        .orderBy(col("event_type"))
    },

    "q325_cuped" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val ev = t.events.select(col("user_id"),
        (col("ts") < lit("2024-01-16").cast("timestamp")).as("pre"),
        (col("value").cast("decimal(38,6)") * lit(1000000))
          .cast("decimal(38,0)").as("v6"))
      val per = ev.groupBy(col("user_id"))
        .agg(
          coalesce(sum(when(col("pre"), col("v6"))),
            lit(0).cast("decimal(38,0)")).as("x"),
          coalesce(sum(when(!col("pre"), col("v6"))),
            lit(0).cast("decimal(38,0)")).as("y"))
      val g = per.agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      val theta =
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
      per.crossJoin(broadcast(g))
        .select(col("user_id"),
          round(col("x").cast("double") / lit(1000000.0), 6)
            .as("x_pre"),
          round(col("y").cast("double") / lit(1000000.0), 6)
            .as("y_post"),
          round(theta, 6).as("theta"),
          round((col("y").cast("double") - theta
            * (col("x").cast("double")
              - col("sx").cast("double") / col("n").cast("double")))
            / lit(1000000.0), 6).as("y_adj"))
        .orderBy(col("user_id"))
    },

    // Classical additive seasonal decomposition (the moving-average
    // method of Macaulay 1931, period 7) of the daily order series:
    // trend = centered MA-7, seasonal = phase mean of the detrended
    // series re-centered to sum to zero, remainder = x - trend -
    // seasonal. Determinism: the MA-7 sum T7 and the phase sums
    // SD_p = sum(7x - T7) stay EXACT integers; trend = T7/7 and the
    // phase mean are single double divisions; the 7-value centering
    // mean folds in PHASE ORDER inside one aggregate row == the
    // oracle's recursive CTE; remainder is the identical per-row
    // double tree. Phase = rn mod 7 (grid phase, robust to calendar
    // gaps). Scale: ONE fact aggregate to the bounded daily grid.
    "q327_seasonal_decomp" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val daily = t.orders
        .groupBy(col("o_orderdate").as("d"))
        .agg(count(lit(1)).as("x"))
      val w = Window.orderBy(col("d"))
      val ma = Window.orderBy(col("d")).rowsBetween(-3, 3)
      val s = daily
        .withColumn("rn", row_number().over(w))
        .withColumn("t7", sum(col("x")).over(ma))
        .withColumn("k7", count(lit(1)).over(ma))
        .where(col("k7") === 7)
        .select(col("d"), col("x"), (col("rn") % 7).as("p"),
          col("t7"), (lit(7) * col("x") - col("t7")).as("d7"))
      val phase = s.groupBy(col("p"))
        .agg(sum(col("d7")).as("sd"), count(lit(1)).as("c"))
      val m = phase
        .agg(sort_array(collect_list(struct(col("p"), col("sd"),
          col("c")))).as("ps"))
        .select(expr(
          """aggregate(ps, CAST(0.0 AS DOUBLE),
            |  (acc, e) -> acc
            |    + CAST(e.sd AS DOUBLE) / CAST(7 * e.c AS DOUBLE))
            |""".stripMargin.trim).as("msum"))
        .select((col("msum") / lit(7.0)).as("m"))
      s.join(broadcast(phase), "p").crossJoin(broadcast(m))
        .select(col("d"), col("x"),
          round(col("t7").cast("double") / lit(7.0), 6).as("trend"),
          round(col("sd").cast("double")
            / (lit(7) * col("c")).cast("double") - col("m"), 6)
            .as("seasonal"),
          round(col("x").cast("double")
            - col("t7").cast("double") / lit(7.0)
            - (col("sd").cast("double")
              / (lit(7) * col("c")).cast("double") - col("m")), 6)
            .as("remainder"))
        .orderBy(col("d"))
    },

    // Embedding-distribution drift per label over the QUANTIZED
    // corpus — the monitoring twin of q161's int8 quantization:
    // centroid cosine of each label's code vector against the global
    // centroid, plus the L2 centroid shift. Quantized codes make
    // every cross-row sum EXACT integers (the q161 grid: floor((x-lo)
    // /(hi-lo)*255+.5) capped at 255), the 1/n centroid factors
    // cancel inside the cosine, and the shift numerator
    // sum_i (n*sl_i - n_l*sg_i)^2 clears denominators so the only
    // doubles are one sqrt and one division each. Scale shape: ONE
    // fact fan-out to (label, dim) partial sums — a 10x64 bounded
    // frame — then all arithmetic on the bounded frame.
    "q328_embed_drift" -> { (spark, dir) =>
      val dims = Tables(spark, dir).embeddings
        .select(col("label"),
          posexplode(col("embedding")).as(Seq("i", "xf")))
        .withColumn("x", col("xf").cast("double"))
      val stats = dims.groupBy(col("i"))
        .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      val codes = dims.join(broadcast(stats), "i")
        .withColumn("q",
          when(col("hi") === col("lo"), lit(0L)).otherwise(
            least(floor((col("x") - col("lo"))
              / (col("hi") - col("lo")) * 255.0 + 0.5), lit(255L)))
            .cast("long"))
      val perLabelDim = codes.groupBy(col("label"), col("i"))
        .agg(sum(col("q")).cast("decimal(38,0)").as("sl"),
          count(lit(1)).cast("decimal(38,0)").as("nl"))
      val globalDim = perLabelDim.groupBy(col("i"))
        .agg(sum(col("sl")).as("sg"), sum(col("nl")).as("ng"))
      perLabelDim.join(broadcast(globalDim), "i")
        .groupBy(col("label"))
        .agg(max(col("nl")).cast("bigint").as("n_label"),
          sum(col("sl") * col("sg")).as("dot"),
          sum(col("sl") * col("sl")).as("aa"),
          sum(col("sg") * col("sg")).as("bb"),
          sum((col("ng") * col("sl") - col("nl") * col("sg"))
            * (col("ng") * col("sl") - col("nl") * col("sg")))
            .as("ss"),
          max(col("nl") * col("ng")).as("nn"))
        .select(col("label"), col("n_label"),
          round(col("dot").cast("double")
            / (sqrt(col("aa").cast("double"))
              * sqrt(col("bb").cast("double"))), 6).as("cos_global"),
          round(sqrt(col("ss").cast("double"))
            / col("nn").cast("double"), 6).as("l2_shift"))
        .orderBy(col("label"))
    },

    // Grubbs' extreme-outlier statistic (Grubbs 1950) per source over
    // doc lengths: G = max|x - mean| / stddev, kept exact by clearing
    // denominators — G^2 = max((n x - sx)^2) (n-1) / (n (n sxx -
    // sx^2)), all integer until ONE final double division + sqrt.
    // ONE scan to per-source integer sums.
    "q329_grubbs" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val d = t.documents.select(col("source"),
        col("n_chars").cast("decimal(38,0)").as("x"))
      val g = d.groupBy(col("source"))
        .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
          sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"))
      d.join(broadcast(g), "source")
        .select(col("source"), col("n"), col("sx"), col("sxx"),
          ((col("n") * col("x") - col("sx"))
            * (col("n") * col("x") - col("sx"))).as("dev2"))
        .groupBy(col("source"))
        .agg(max(col("n")).as("n"), max(col("dev2")).as("mdev2"),
          max(col("sx")).as("sx"), max(col("sxx")).as("sxx"))
        .select(col("source"), col("n").cast("bigint").as("n_docs"),
          round(sqrt((col("mdev2") * (col("n") - 1)).cast("double")
            / (col("n") * (col("n") * col("sxx")
              - col("sx") * col("sx"))).cast("double")), 6).as("g"))
        .orderBy(col("source"))
    },

    // Split-conformal prediction intervals (Papadopoulos et al. 2002 /
    // Lei et al. 2018) for the monthly OLS trend: fit on the FIRST
    // half of the months, take the ceil(0.9(m+1))-th smallest absolute
    // calibration residual as the distribution-free 90% half-width.
    // Exactness: with slope N_b/D and intercept cleared as in q322,
    // the scaled residual R_t = nD x_t - D sx + N_b st - n N_b t and
    // the fitted numerator F_t = D sx - N_b st + n N_b t are pure
    // integers; the quantile pick is an EXACT integer order statistic
    // (rank by (|R|, t)); yhat/lo/hi are single divisions of exact
    // integers by (nD); the coverage flag compares integers. ~80-row
    // bounded monthly frame after ONE fact aggregate.
    "q330_conformal" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val monthly = t.orders
        .groupBy(date_trunc("month", col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("x"))
      val s = monthly
        .withColumn("rn", row_number().over(Window.orderBy(col("m"))))
        .select(col("m"), col("rn"),
          col("rn").cast("decimal(38,0)").as("tt"),
          col("x").cast("decimal(38,0)").as("x"))
      val tot = s.agg(count(lit(1)).as("ntot"))
      val sh = s.crossJoin(broadcast(tot))
        .withColumn("h", floor(col("ntot") / lit(2.0)).cast("int"))
      val train = sh.where(col("rn") <= col("h"))
        .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
          sum(col("tt")).as("st"), sum(col("x")).as("sx"),
          sum(col("tt") * col("tt")).as("stt"),
          sum(col("tt") * col("x")).as("stx"))
        .select(col("n"), col("sx"), col("st"),
          (col("n") * col("stx") - col("st") * col("sx")).as("nb"),
          (col("n") * col("stt") - col("st") * col("st")).as("d"))
      val calib = sh.where(col("rn") > col("h"))
        .crossJoin(broadcast(train))
        .select(col("m"), col("x"), col("tt"),
          (col("n") * col("d")).as("nd"),
          (col("d") * col("sx") - col("nb") * col("st")
            + col("n") * col("nb") * col("tt")).as("f"),
          (col("n") * col("d") * col("x")
            - (col("d") * col("sx") - col("nb") * col("st")
              + col("n") * col("nb") * col("tt"))).as("r"))
      val ranked = calib
        .withColumn("absr", abs(col("r")))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("absr"), col("tt"))))
        .withColumn("mcal",
          count(lit(1)).over(Window.partitionBy()))
      val qsel = ranked
        .where(col("rk") === floor((lit(9) * (col("mcal") + 1) + 9)
          / lit(10.0)).cast("int"))
        .select(col("absr").as("qr"))
      ranked.crossJoin(broadcast(qsel))
        .select(col("m"), col("x").cast("bigint").as("x"),
          round(col("f").cast("double") / col("nd").cast("double"), 6)
            .as("yhat"),
          round((col("f") - col("qr")).cast("double")
            / col("nd").cast("double"), 6).as("lo"),
          round((col("f") + col("qr")).cast("double")
            / col("nd").cast("double"), 6).as("hi"),
          (col("absr") <= col("qr")).as("covered"))
        .orderBy(col("m"))
    },

    // Kendall tau-b rank correlation (Kendall 1945, tie-corrected)
    // between monthly order volume and monthly distinct customers —
    // completing the rank-correlation family next to Spearman:
    // tau_b = (C - D) / sqrt((n0 - n1)(n0 - n2)) with concordant/
    // discordant/tie counts ALL exact integers from the pairwise
    // self-join of the ~80-row bounded monthly frame (pair count is
    // quadratic only in the BOUNDED frame, never the fact); one
    // final sqrt + division.
    "q331_kendall_tau" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val monthly = t.orders
        .groupBy(date_trunc("month", col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("x"),
          countDistinct(col("o_custkey")).as("y"))
        .withColumn("rn", row_number().over(Window.orderBy(col("m"))))
        .select(col("rn"), col("x"), col("y"))
      val a = monthly.select(col("rn").as("arn"), col("x").as("ax"),
        col("y").as("ay"))
      val b = monthly.select(col("rn").as("brn"), col("x").as("bx"),
        col("y").as("by"))
      a.join(b, col("arn") < col("brn"))
        .agg(count(lit(1)).as("n0"),
          sum(when((col("ax") < col("bx")) && (col("ay") < col("by"))
            || (col("ax") > col("bx")) && (col("ay") > col("by")),
            1L).otherwise(0L)).as("c"),
          sum(when((col("ax") < col("bx")) && (col("ay") > col("by"))
            || (col("ax") > col("bx")) && (col("ay") < col("by")),
            1L).otherwise(0L)).as("dd"),
          sum(when(col("ax") === col("bx"), 1L).otherwise(0L))
            .as("n1"),
          sum(when(col("ay") === col("by"), 1L).otherwise(0L))
            .as("n2"))
        .select(col("n0"), col("c"), col("dd").as("d"),
          round((col("c") - col("dd")).cast("double")
            / sqrt(((col("n0") - col("n1"))
              * (col("n0") - col("n2"))).cast("double")), 6)
            .as("tau_b"))
    },

    // Cohen's kappa inter-rater agreement (Cohen 1960) between the
    // q323 classifier pair — chance-corrected agreement:
    // kappa = (po - pe)/(1 - pe), cleared to the all-integer form
    // (n·agree - (aP·bP + aN·bN)) / (n² - (aP·bP + aN·bN)). ONE
    // codegen projection + ONE aggregate to four integers, one
    // double division.
    "q334_cohen_kappa" -> { (spark, dir) =>
      val j = Tables(spark, dir).documents.select(
        (col("n_chars") >= 600).as("a"),
        col("text").contains(" the ").as("b"))
      j.agg(count(lit(1)).as("n"),
        sum(when(col("a") === col("b"), 1L).otherwise(0L))
          .as("agree"),
        sum(when(col("a"), 1L).otherwise(0L)).as("ap"),
        sum(when(col("b"), 1L).otherwise(0L)).as("bp"))
        .select(col("n"), col("agree"),
          round((col("n") * col("agree")
            - (col("ap") * col("bp")
              + (col("n") - col("ap")) * (col("n") - col("bp"))))
            .cast("double")
            / (col("n") * col("n")
              - (col("ap") * col("bp")
                + (col("n") - col("ap")) * (col("n") - col("bp"))))
              .cast("double"), 6).as("kappa"))
    },

    // Mood's median test (Mood 1950) across sources: does each
    // source's doc-length distribution sit above/below the GRAND
    // median at the same rate? The grand median is an exact order
    // statistic read off the distinct-value histogram (cumulative
    // window over the value domain — bounded by |distinct lengths|,
    // never the corpus); cells are exact integer counts; each
    // source's chi-square contribution clears the expected-count
    // denominators to (O·n − rt·ct)²/(n·rt·ct); the grand statistic
    // folds the contributions in SOURCE ORDER == the oracle's
    // list_reduce. ONE fact aggregate per stage.
    "q335_mood_median" -> { (spark, dir) =>
      val d = Tables(spark, dir).documents
        .select(col("source"), col("n_chars").as("x"))
      val hist = d.groupBy(col("x")).agg(count(lit(1)).as("c"))
      val tot = d.agg(count(lit(1)).as("n"))
      val med = hist
        .withColumn("cum",
          sum(col("c")).over(Window.orderBy(col("x"))))
        .crossJoin(broadcast(tot))
        .where(col("cum") * 2 >= col("n"))
        .agg(min(col("x")).as("med"))
      val cells = d.crossJoin(broadcast(med))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("rt"),
          sum(when(col("x") > col("med"), 1L).otherwise(0L))
            .as("above"))
      val glob = cells.agg(sum(col("above")).as("ca"),
        sum(col("rt") - col("above")).as("cb"),
        sum(col("rt")).as("n"))
      val pc = cells.crossJoin(broadcast(glob))
        .select(col("source"), col("rt"), col("above"),
          ((col("above") * col("n") - col("rt") * col("ca"))
            * (col("above") * col("n") - col("rt") * col("ca")))
            .cast("double")
            .divide((col("n") * col("rt") * col("ca")).cast("double"))
            .plus(
              (((col("rt") - col("above")) * col("n")
                - col("rt") * col("cb"))
                * ((col("rt") - col("above")) * col("n")
                  - col("rt") * col("cb"))).cast("double")
                / (col("n") * col("rt") * col("cb")).cast("double"))
            .as("contrib"))
      val chi = pc
        .agg(sort_array(collect_list(struct(col("source"),
          col("contrib")))).as("cs"))
        .select(expr(
          "aggregate(cs, CAST(0.0 AS DOUBLE), (a, e) -> a + e.contrib)")
          .as("chi2"))
      pc.crossJoin(broadcast(chi))
        .select(col("source"), col("rt"), col("above"),
          round(col("contrib"), 6).as("contrib"),
          round(col("chi2"), 6).as("chi2"))
        .orderBy(col("source"))
    },

    // Cohen's d / Hedges' g effect sizes between every source pair
    // (Cohen 1988; Hedges 1981 small-sample correction) — the
    // magnitude companion to q172's Welch t: pooled-variance terms
    // kept as exact integer sums ((n·Σx²−(Σx)²)/n per side), d and
    // g are fixed correctly-rounded double trees over those exact
    // inputs. ONE fact aggregate to the 20-row source frame; 190
    // bounded pairs.
    "q336_effect_size" -> { (spark, dir) =>
      val d = Tables(spark, dir).documents
        .select(col("source"), col("n_chars").cast("decimal(38,0)")
          .as("x"))
      val m = d.groupBy(col("source")).agg(
        count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("x")).as("sx"), sum(col("x") * col("x")).as("q"))
      val a = m.select(col("source").as("src_a"), col("n").as("na"),
        col("sx").as("sxa"), col("q").as("qa"))
      val b = m.select(col("source").as("src_b"), col("n").as("nb"),
        col("sx").as("sxb"), col("q").as("qb"))
      val t1 = (col("na") * col("qa") - col("sxa") * col("sxa"))
        .cast("double") / col("na").cast("double")
      val t2 = (col("nb") * col("qb") - col("sxb") * col("sxb"))
        .cast("double") / col("nb").cast("double")
      val sp2 = (t1 + t2) / (col("na") + col("nb") - 2).cast("double")
      val dv = (col("sxa").cast("double") / col("na").cast("double")
        - col("sxb").cast("double") / col("nb").cast("double")) /
        sqrt(sp2)
      a.join(b, col("src_a") < col("src_b"))
        .select(col("src_a"), col("src_b"),
          round(dv, 6).as("cohen_d"),
          round(dv * (lit(1.0) - lit(3.0)
            / (lit(4) * (col("na") + col("nb")) - 9).cast("double")),
            6).as("hedges_g"))
        .orderBy(col("src_a"), col("src_b"))
    },

    // First-order partial correlation (Yule 1907): the order-volume /
    // distinct-customer correlation with the shared time trend
    // partialled out — r_xy.z = (r_xy - r_xz r_yz) /
    // sqrt((1-r_xz²)(1-r_yz²)) over the monthly frame (x = orders,
    // y = distinct customers, z = month index). Each pairwise r is
    // the exact-integer product-moment ratio (one division + sqrt);
    // the partialling formula is a fixed double tree over those
    // three values. ONE fact aggregate to the ~80-row monthly frame.
    "q337_partial_corr" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val monthly = t.orders
        .groupBy(date_trunc("month", col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("xr"),
          countDistinct(col("o_custkey")).as("yr"))
        .withColumn("rn", row_number().over(Window.orderBy(col("m"))))
        .select(col("rn").cast("decimal(38,0)").as("z"),
          col("xr").cast("decimal(38,0)").as("x"),
          col("yr").cast("decimal(38,0)").as("y"))
      def r(sab: org.apache.spark.sql.Column,
          sa: org.apache.spark.sql.Column,
          sb: org.apache.spark.sql.Column,
          qa: org.apache.spark.sql.Column,
          qb: org.apache.spark.sql.Column) =
        (col("n") * sab - sa * sb).cast("double") /
          sqrt(((col("n") * qa - sa * sa)
            * (col("n") * qb - sb * sb)).cast("double"))
      val g = monthly.agg(
        count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("z")).as("sz"),
        sum(col("x") * col("x")).as("qx"),
        sum(col("y") * col("y")).as("qy"),
        sum(col("z") * col("z")).as("qz"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("z")).as("sxz"),
        sum(col("y") * col("z")).as("syz"))
      val rxy = r(col("sxy"), col("sx"), col("sy"), col("qx"),
        col("qy"))
      val rxz = r(col("sxz"), col("sx"), col("sz"), col("qx"),
        col("qz"))
      val ryz = r(col("syz"), col("sy"), col("sz"), col("qy"),
        col("qz"))
      g.select(col("n").cast("bigint").as("n_months"),
        round(rxy, 6).as("r_xy"),
        round(rxz, 6).as("r_xz"),
        round(ryz, 6).as("r_yz"),
        round((rxy - rxz * ryz)
          / sqrt((lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz)),
          6).as("r_partial"))
    },

    // Turning-point test of series randomness (Kendall 1973): count
    // strict local maxima/minima of the daily order series; under
    // i.i.d. the count is ~N(2(n-2)/3, (16n-29)/90), so the z-score
    // flags serial structure. ALL integer counting off lag/lead
    // windows over the calendar-bounded daily frame; E/Var/z are a
    // fixed double tree over (T, n).
    "q341_turning_points" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val daily = t.orders
        .groupBy(col("o_orderdate").as("d"))
        .agg(count(lit(1)).as("x"))
      val w = Window.orderBy(col("d"))
      daily
        .withColumn("p", lag(col("x"), 1).over(w))
        .withColumn("f", lead(col("x"), 1).over(w))
        .agg(count(lit(1)).as("n"),
          sum(when(col("p").isNotNull && col("f").isNotNull
            && ((col("x") > col("p") && col("x") > col("f"))
              || (col("x") < col("p") && col("x") < col("f"))),
            1L).otherwise(0L)).as("tp"))
        .select(col("n"), col("tp"),
          round((col("tp").cast("double")
            - (lit(2) * (col("n") - 2)).cast("double") / lit(3.0))
            / sqrt((lit(16) * col("n") - 29).cast("double")
              / lit(90.0)), 6).as("z"))
    },

    // Wilcoxon signed-rank test (Wilcoxon 1945) for a paired
    // location shift: each of the first h months paired with the
    // month h later (h = floor(n/2)), d_i = x_{i+h} - x_i. Midranks
    // of |d| come EXACTLY off the distinct-|d| histogram (cumulative
    // over the value domain; midrank = prior + (c+1)/2 is a .5-exact
    // double), zero differences drop per the standard treatment,
    // W+ sums midranks where d > 0, and the tie-corrected z is a
    // fixed double tree over integer sums. Bounded monthly frame
    // throughout.
    "q342_signed_rank" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val monthly = t.orders
        .groupBy(date_trunc("month", col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("x"))
        .withColumn("rn", row_number().over(Window.orderBy(col("m"))))
        .select(col("rn"), col("x"))
      val tot = monthly.agg(count(lit(1)).as("nt"))
      val paired = monthly.crossJoin(broadcast(tot))
        .withColumn("h", floor(col("nt") / lit(2.0)).cast("int"))
        .where(col("rn") <= col("h"))
        .join(monthly.select((col("rn")).as("rn2"), col("x").as("x2")),
          col("rn2") === col("rn") + col("h"))
        .select((col("x2") - col("x")).as("dd"))
        .where(col("dd") =!= 0)
        .select(abs(col("dd")).as("ad"),
          (col("dd") > 0).cast("long").as("pos"))
      val hist = paired.groupBy(col("ad"))
        .agg(count(lit(1)).as("c"), sum(col("pos")).as("cp"))
      val ranked = hist
        .withColumn("cum", sum(col("c")).over(Window.orderBy(col("ad"))))
        .select(col("ad"), col("c"), col("cp"),
          ((col("cum") - col("c")).cast("double")
            + (col("c") + 1).cast("double") / lit(2.0)).as("midrank"))
      val g = ranked.agg(
        sum(col("c")).as("n"),
        sum(col("cp").cast("double") * col("midrank"))
          .as("wplus"),
        sum((col("c") * col("c") * col("c") - col("c")))
          .as("tiecorr"))
      g.select(col("n").cast("bigint").as("n_pairs"),
        round(col("wplus"), 6).as("w_plus"),
        round((col("wplus")
          - (col("n") * (col("n") + 1)).cast("double") / lit(4.0))
          / sqrt((col("n") * (col("n") + 1)
              * (lit(2) * col("n") + 1)).cast("double") / lit(24.0)
            - col("tiecorr").cast("double") / lit(48.0)), 6).as("z"))
    },

    // Forecast-accuracy backtest with MASE (Hyndman & Koehler 2006):
    // the seasonal-naive model (x_{t-7}) scored against the naive-1
    // scale over the daily series — MAE terms are EXACT integer
    // |difference| sums, MASE is one double ratio of exact sums
    // (scaled by the differing term counts). ONE fact aggregate to
    // the calendar-bounded frame; no per-row double sums anywhere.
    "q343_mase" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val daily = t.orders
        .groupBy(col("o_orderdate").as("d"))
        .agg(count(lit(1)).as("x"))
      val w = Window.orderBy(col("d"))
      daily
        .withColumn("p1", lag(col("x"), 1).over(w))
        .withColumn("p7", lag(col("x"), 7).over(w))
        .agg(
          sum(when(col("p1").isNotNull, abs(col("x") - col("p1"))))
            .as("sae1"),
          sum(when(col("p1").isNotNull, 1L).otherwise(0L)).as("n1"),
          sum(when(col("p7").isNotNull, abs(col("x") - col("p7"))))
            .as("sae7"),
          sum(when(col("p7").isNotNull, 1L).otherwise(0L)).as("n7"))
        .select(col("n1"), col("n7"),
          round(col("sae1").cast("double") / col("n1").cast("double"),
            6).as("mae_naive1"),
          round(col("sae7").cast("double") / col("n7").cast("double"),
            6).as("mae_snaive7"),
          round((col("sae7").cast("double") / col("n7").cast("double"))
            / (col("sae1").cast("double") / col("n1").cast("double")),
            6).as("mase"))
    },

    // Decile gain/lift table — the ranking-model evaluation classic
    // completing the ML-eval family next to q254's ROC and q318's
    // calibration: documents ranked by length (the quality-score
    // proxy), label = lang='en'; per decile the positive rate, the
    // cumulative gain from the top, and the lift over the base rate.
    // Deciles come from the DISTRIBUTED exact NTILE (range
    // repartition + per-partition row numbers + offset join — never
    // a global window over the fact); everything after is integer
    // counts on the 10-row frame with single double divisions.
    "q344_gain_deciles" -> { (spark, dir) =>
      val d = Tables(spark, dir).documents
        .select(col("doc_id"), col("n_chars"),
          (col("lang") === "en").cast("long").as("pos"))
      val n = d.agg(count(lit(1)))
      val deciled = graft.operators.LmOps.distributedNtile(
        d, 10, "n_chars", "doc_id", n)
      val per = deciled
        .groupBy((lit(11) - col("bucket_id")).as("decile"))
        .agg(count(lit(1)).as("n_docs"), sum(col("pos")).as("n_pos"))
      val tot = per.agg(sum(col("n_docs")).as("nt"),
        sum(col("n_pos")).as("pt"))
      per.crossJoin(broadcast(tot))
        .withColumn("cum_pos",
          sum(col("n_pos")).over(Window.orderBy(col("decile"))))
        .select(col("decile"), col("n_docs"), col("n_pos"),
          round(col("n_pos").cast("double")
            / col("n_docs").cast("double"), 6).as("pos_rate"),
          round(col("cum_pos").cast("double")
            / col("pt").cast("double"), 6).as("gain"),
          round((col("n_pos").cast("double")
            / col("n_docs").cast("double"))
            / (col("pt").cast("double") / col("nt").cast("double")),
            6).as("lift"))
        .orderBy(col("decile"))
    },

    // Generalized ESD outlier test (Rosner 1983), two unrolled
    // rounds over the monthly order series: each round computes the
    // Grubbs-style statistic with CLEARED denominators (q329's
    // all-integer trick), removes the argmax-|deviation| month
    // (deterministic tie-break by month index), and recomputes on
    // the remainder. Bounded monthly frame; per round one aggregate
    // + one 1-row broadcast anti-filter.
    "q345_esd" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val monthly = t.orders
        .groupBy(date_trunc("month", col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("xr"))
        .withColumn("rn", row_number().over(Window.orderBy(col("m"))))
        .select(col("rn"), col("xr").cast("decimal(38,0)").as("x"))
      def round1(s: org.apache.spark.sql.DataFrame, tag: Int) = {
        val g = s.agg(count(lit(1)).cast("decimal(38,0)").as("n"),
          sum(col("x")).as("sx"), sum(col("x") * col("x")).as("q"))
        val dev = s.crossJoin(broadcast(g))
          .withColumn("r2",
            (col("n") * col("x") - col("sx"))
              * (col("n") * col("x") - col("sx")))
        val sel = dev
          .agg(max(struct(col("r2"), col("rn"))).as("s"))
          .select(col("s.r2").as("mr2"), col("s.rn").as("sel_rn"))
        val out = dev.crossJoin(broadcast(sel))
          .where(col("rn") === col("sel_rn"))
          .select(lit(tag).as("round"), col("rn").as("removed_rn"),
            round(sqrt((col("mr2") * (col("n") - 1)).cast("double")
              / (col("n") * (col("n") * col("q")
                - col("sx") * col("sx"))).cast("double")), 6)
              .as("g_stat"))
        val rest = dev.crossJoin(broadcast(sel))
          .where(col("rn") =!= col("sel_rn"))
          .select(col("rn"), col("x"))
        (out, rest)
      }
      val (o1, rest1) = round1(monthly, 1)
      val (o2, _) = round1(rest1, 2)
      o1.unionAll(o2).orderBy(col("round"))
    },

    // Seasonal/trend strength diagnostics (Hyndman, FPP3 §4.4):
    // F_s = max(0, 1 - Var(R)/Var(S+R)) and
    // F_t = max(0, 1 - Var(R)/Var(T+R)) over the q327 decomposition.
    // The components reuse q327's exact integer T7/SD_p skeleton
    // (S+R = x - T, T+R = x - S, so only the three per-row doubles
    // are needed); all six variance sums accumulate in DATE ORDER
    // inside one aggregate row — the identical IEEE fold as the
    // oracle's recursive CTE — and the (n-1) factors cancel in the
    // ratios.
    "q346_seasonal_strength" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val daily = t.orders
        .groupBy(col("o_orderdate").as("d"))
        .agg(count(lit(1)).as("x"))
      val w = Window.orderBy(col("d"))
      val ma = Window.orderBy(col("d")).rowsBetween(-3, 3)
      val s = daily
        .withColumn("rn", row_number().over(w))
        .withColumn("t7", sum(col("x")).over(ma))
        .withColumn("k7", count(lit(1)).over(ma))
        .where(col("k7") === 7)
        .select(col("d"), col("x"), (col("rn") % 7).as("p"),
          col("t7"), (lit(7) * col("x") - col("t7")).as("d7"))
      val phase = s.groupBy(col("p"))
        .agg(sum(col("d7")).as("sd"), count(lit(1)).as("c"))
      val m = phase
        .agg(sort_array(collect_list(struct(col("p"), col("sd"),
          col("c")))).as("ps"))
        .select(expr(
          """aggregate(ps, CAST(0.0 AS DOUBLE),
            |  (acc, e) -> acc
            |    + CAST(e.sd AS DOUBLE) / CAST(7 * e.c AS DOUBLE))
            |""".stripMargin.trim).as("msum"))
        .select((col("msum") / lit(7.0)).as("m"))
      val seas = col("sd").cast("double")
        ./((lit(7) * col("c")).cast("double")).minus(col("m"))
      val trend = col("t7").cast("double") / lit(7.0)
      val rows = s.join(broadcast(phase), "p").crossJoin(broadcast(m))
        .select(col("d"),
          (col("x").cast("double") - trend - seas).as("r"),
          (col("x").cast("double") - trend).as("sr"),
          (col("x").cast("double") - seas).as("tr"))
      val folded = rows
        .agg(sort_array(collect_list(struct(col("d"), col("r"),
          col("sr"), col("tr")))).as("xs"))
        .select(expr(
          """aggregate(
            |  xs,
            |  named_struct('n', 0L, 'sr', CAST(0.0 AS DOUBLE),
            |    'qr', CAST(0.0 AS DOUBLE), 'ss', CAST(0.0 AS DOUBLE),
            |    'qs', CAST(0.0 AS DOUBLE), 'st', CAST(0.0 AS DOUBLE),
            |    'qt', CAST(0.0 AS DOUBLE)),
            |  (a, e) -> named_struct(
            |    'n', a.n + 1L,
            |    'sr', a.sr + e.r, 'qr', a.qr + e.r * e.r,
            |    'ss', a.ss + e.sr, 'qs', a.qs + e.sr * e.sr,
            |    'st', a.st + e.tr, 'qt', a.qt + e.tr * e.tr))
            |""".stripMargin.trim).as("a"))
      folded.select(col("a.n").as("n_days"),
        round(greatest(lit(0.0), lit(1.0)
          - (col("a.qr") - col("a.sr") * col("a.sr")
              / col("a.n").cast("double"))
            / (col("a.qs") - col("a.ss") * col("a.ss")
              / col("a.n").cast("double"))), 6).as("f_seasonal"),
        round(greatest(lit(0.0), lit(1.0)
          - (col("a.qr") - col("a.sr") * col("a.sr")
              / col("a.n").cast("double"))
            / (col("a.qt") - col("a.st") * col("a.st")
              / col("a.n").cast("double"))), 6).as("f_trend"))
    },

    // Two-sample energy distance (Székely & Rizzo 2004) between the
    // even/odd doc-id halves' length distributions — the
    // metric-space drift detector next to q253's KS and q162's PSI.
    // The naive form is all-pairs E|X-Y|; here each cross term
    // G = sum_i a_i (v_i(2CB_i - TB) - 2SB_i + TSB) comes from
    // PREFIX SUMS over the sorted distinct-value histogram — O(k)
    // on a frame bounded by the value domain, never the corpus, and
    // ALL integer until the three final divisions.
    "q347_energy_distance" -> { (spark, dir) =>
      val d = Tables(spark, dir).documents
        .select(col("n_chars").cast("decimal(38,0)").as("v"),
          when(col("doc_id") % 2 === 0, 1L).otherwise(0L).as("ea"))
      val hist = d.groupBy(col("v"))
        .agg(sum(col("ea")).cast("decimal(38,0)").as("a"),
          sum(lit(1L) - col("ea")).cast("decimal(38,0)").as("b"))
      val w = Window.orderBy(col("v"))
      val pre = hist
        .withColumn("ca", sum(col("a")).over(w))
        .withColumn("cb", sum(col("b")).over(w))
        .withColumn("sa", sum(col("a") * col("v")).over(w))
        .withColumn("sb", sum(col("b") * col("v")).over(w))
      val tot = hist.agg(sum(col("a")).as("ta"), sum(col("b")).as("tb"),
        sum(col("a") * col("v")).as("tsa"),
        sum(col("b") * col("v")).as("tsb"))
      val g = pre.crossJoin(broadcast(tot))
        .agg(
          sum(col("a") * (col("v") * (lit(2) * col("cb") - col("tb"))
            - lit(2) * col("sb") + col("tsb"))).as("gxy"),
          sum(col("a") * (col("v") * (lit(2) * col("ca") - col("ta"))
            - lit(2) * col("sa") + col("tsa"))).as("gxx"),
          sum(col("b") * (col("v") * (lit(2) * col("cb") - col("tb"))
            - lit(2) * col("sb") + col("tsb"))).as("gyy"),
          max(col("ta")).as("ta"), max(col("tb")).as("tb"))
      g.select(col("ta").cast("bigint").as("n_even"),
        col("tb").cast("bigint").as("n_odd"),
        round(col("gxy").cast("double")
          / (col("ta") * col("tb")).cast("double"), 6)
          .as("mean_cross_dist"),
        round(lit(2.0) * (col("gxy").cast("double")
            / (col("ta") * col("tb")).cast("double"))
          - col("gxx").cast("double")
            / (col("ta") * col("ta")).cast("double")
          - col("gyy").cast("double")
            / (col("tb") * col("tb")).cast("double"), 6)
          .as("energy_dist"))
    },

    // Haar wavelet decomposition (Haar 1910), 3 levels over the
    // first 1024 days of the order series — the multi-resolution
    // energy profile a series monitor uses to localize variance by
    // time scale. Every coefficient is a DYADIC rational ((a±b)/2
    // per level, so denominators are powers of two) — EXACT in
    // doubles, order-independent energy sums, no rounding anywhere
    // before the final display ROUND. Per level: one pair-grouped
    // aggregate over the bounded daily grid.
    "q348_haar_wavelet" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val daily = t.orders
        .groupBy(col("o_orderdate").as("d"))
        .agg(count(lit(1)).as("xr"))
        .withColumn("rn", row_number().over(Window.orderBy(col("d"))))
        .where(col("rn") <= 1024)
        .select(col("rn"), col("xr").cast("double").as("x"))
      def level(s: org.apache.spark.sql.DataFrame, lev: Int) = {
        val tagged = s.select(
          floor((col("rn") + 1) / lit(2.0)).cast("int").as("g"),
          (col("rn") % 2).as("par"), col("x"))
        val paired = tagged.groupBy(col("g"))
          .agg(
            ((max(when(col("par") === 1, col("x")))
              + max(when(col("par") === 0, col("x")))) / lit(2.0))
              .as("a"),
            ((max(when(col("par") === 1, col("x")))
              - max(when(col("par") === 0, col("x")))) / lit(2.0))
              .as("dd"))
        val stats = paired.agg(count(lit(1)).as("n_coef"),
          sum(col("dd") * col("dd")).as("energy"),
          max(abs(col("dd"))).as("max_abs_detail"))
          .select(lit(lev).as("level"), col("n_coef"),
            round(col("energy"), 6).as("detail_energy"),
            round(col("max_abs_detail"), 6).as("max_abs_detail"))
        (paired.select(col("g").as("rn"), col("a").as("x")), stats)
      }
      val (s1, l1) = level(daily, 1)
      val (s2, l2) = level(s1, 2)
      val (_, l3) = level(s2, 3)
      l1.unionAll(l2).unionAll(l3).orderBy(col("level"))
    },

    // Two-sample Cramér-von Mises statistic (Anderson 1962) between
    // the even/odd doc-id halves' length distributions — the
    // whole-CDF companion to q253's KS (max gap) and q347's energy
    // distance: T = nm/(n+m)² Σ_z (F_n(z) − G_m(z))² over the
    // combined sample. On the distinct-value histogram the sum
    // clears ALL denominators: Σ (a_i+b_i)(m·CA_i − n·CB_i)² is
    // pure integer off cumulative counts (value-domain bounded),
    // and T is ONE double division by nm(n+m)².
    "q351_cvm" -> { (spark, dir) =>
      val d = Tables(spark, dir).documents
        .select(col("n_chars").as("v"),
          when(col("doc_id") % 2 === 0, 1L).otherwise(0L).as("ea"))
      val hist = d.groupBy(col("v"))
        .agg(sum(col("ea")).cast("decimal(38,0)").as("a"),
          sum(lit(1L) - col("ea")).cast("decimal(38,0)").as("b"))
      val w = Window.orderBy(col("v"))
      val pre = hist
        .withColumn("ca", sum(col("a")).over(w))
        .withColumn("cb", sum(col("b")).over(w))
      val tot = hist.agg(sum(col("a")).as("n"), sum(col("b")).as("m"))
      pre.crossJoin(broadcast(tot))
        .agg(sum((col("a") + col("b"))
          * (col("m") * col("ca") - col("n") * col("cb"))
          * (col("m") * col("ca") - col("n") * col("cb"))).as("s"),
          max(col("n")).as("n"), max(col("m")).as("m"))
        .select(col("n").cast("bigint").as("n_even"),
          col("m").cast("bigint").as("n_odd"),
          round(col("s").cast("double")
            / (col("n") * col("m") * (col("n") + col("m"))
              * (col("n") + col("m"))).cast("double"), 6)
            .as("cvm_t"))
    },

    // Gumbel extreme-value fit on monthly block maxima (Gumbel 1958,
    // method of moments: beta = s sqrt(6)/pi, mu = mean - gamma_E
    // beta) — the capacity-planning tail model: "what daily order
    // peak should we provision for once a year?" Block maxima and
    // their moment sums stay EXACT integers off two hash aggregates;
    // mu/beta/the 12-month return level x_T = mu - beta ln(-ln(1 -
    // 1/T)) are one fixed double tree (pi and the Euler-Mascheroni
    // constant as shared literals).
    "q352_gumbel_fit" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val daily = t.orders
        .groupBy(col("o_orderdate").as("d"))
        .agg(count(lit(1)).as("x"))
      val blocks = daily
        .groupBy(date_trunc("month", col("d")).as("m"))
        .agg(max(col("x")).cast("decimal(38,0)").as("bm"))
      val g = blocks.agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("bm")).as("sx"), sum(col("bm") * col("bm")).as("q"))
      val mean = col("sx").cast("double") / col("n").cast("double")
      val beta = sqrt((col("n") * col("q") - col("sx") * col("sx"))
        .cast("double")
        / (col("n") * (col("n") - 1)).cast("double"))
        .multiply(sqrt(lit(6.0))).divide(lit(math.Pi))
      val mu = mean - lit(0.5772156649015329) * beta
      g.select(col("n").cast("bigint").as("n_blocks"),
        round(mean, 6).as("block_max_mean"),
        round(mu, 6).as("gumbel_mu"),
        round(beta, 6).as("gumbel_beta"),
        round(mu - beta
          * log(lit(-1.0) * log(lit(1.0) - lit(1.0) / lit(12.0))),
          6).as("return_level_12mo"))
    },

    // Diebold-Mariano forecast-comparison test (Diebold & Mariano
    // 1995, absolute-error loss, h=1 so the plain variance is the
    // asymptotic one): does naive-1 beat seasonal-naive
    // SIGNIFICANTLY on the daily series, not just on q343's MASE
    // point estimate? The loss differentials d_t = |e1_t| - |e7_t|
    // are EXACT integers wherever both forecasts exist, so n, Σd,
    // Σd² are exact and DM = d̄ / sqrt(s²/n) is a fixed double tree.
    "q353_diebold_mariano" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val daily = t.orders
        .groupBy(col("o_orderdate").as("d"))
        .agg(count(lit(1)).as("x"))
      val w = Window.orderBy(col("d"))
      daily
        .withColumn("p1", lag(col("x"), 1).over(w))
        .withColumn("p7", lag(col("x"), 7).over(w))
        .where(col("p1").isNotNull && col("p7").isNotNull)
        .select((abs(col("x") - col("p1")) - abs(col("x") - col("p7")))
          .cast("decimal(38,0)").as("dd"))
        .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
          sum(col("dd")).as("sd"),
          sum(col("dd") * col("dd")).as("qd"))
        .select(col("n").cast("bigint").as("n_days"),
          round(col("sd").cast("double") / col("n").cast("double"), 6)
            .as("mean_loss_diff"),
          round((col("sd").cast("double") / col("n").cast("double"))
            / sqrt(((col("n") * col("qd") - col("sd") * col("sd"))
              .cast("double")
              / (col("n") * (col("n") - 1)).cast("double"))
              / col("n").cast("double")), 6).as("dm_stat"))
    },

    // Point-process burstiness per event type (Goh & Barabási 2008):
    // inter-arrival statistics over each type's event-time sequence —
    // mean gap, coefficient of variation, and the burstiness index
    // B = (CV - 1)/(CV + 1) (B→-1 periodic, 0 Poisson, →1 bursty).
    // Inter-arrival MICROSECONDS are exact integers off a
    // per-type-partitioned lag (the q229 bounded-per-key shape), so
    // every moment sum is exact and CV/B are fixed double trees.
    "q354_burstiness" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val gaps = t.events
        .withColumn("pts", lag(col("ts"), 1).over(w))
        .where(col("pts").isNotNull)
        .select(col("event_type"),
          (unix_micros(col("ts")) - unix_micros(col("pts")))
            .cast("decimal(38,0)").as("g"))
      val cv = sqrt(((col("n") * col("q") - col("s") * col("s"))
        .cast("double")
        / (col("n") * (col("n") - 1)).cast("double")))
        ./(col("s").cast("double") / col("n").cast("double"))
      gaps.groupBy(col("event_type"))
        .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
          sum(col("g")).as("s"), sum(col("g") * col("g")).as("q"))
        .select(col("event_type"), col("n").cast("bigint").as("n_gaps"),
          round(col("s").cast("double") / col("n").cast("double")
            / lit(1000000.0), 6).as("mean_gap_s"),
          round(cv, 6).as("cv"),
          round((cv - lit(1.0)) / (cv + lit(1.0)), 6)
            .as("burstiness"))
        .orderBy(col("event_type"))
    }
  )

  def oracle: Map[String, String] = Map(
    // same exact counts; ln/sqrt on the bounded arm frame
    "q297_bandit_posterior" ->
      """WITH arms AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN value > 100.0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS s
        |  FROM events GROUP BY event_type),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM arms)
        |SELECT event_type, n, s,
        |  s + 1 AS post_a, n - s + 1 AS post_b,
        |  ROUND(CAST(s + 1 AS DOUBLE) / CAST(n + 2 AS DOUBLE), 6)
        |    AS post_mean,
        |  ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
        |    + SQRT(2.0 * LN(CAST(n_total AS DOUBLE))
        |        / CAST(n AS DOUBLE)), 6) AS ucb1
        |FROM arms CROSS JOIN tot ORDER BY event_type""".stripMargin,

    // same margins; the three fp folds ordered exactly like the
    // Spark array_sort folds
    "q298_mutual_info" ->
      """WITH d AS (SELECT source, lang FROM documents),
        |obs AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM d GROUP BY 1, 2),
        |rowm AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS nr
        |  FROM d GROUP BY 1),
        |colm AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS nc
        |  FROM d GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM d),
        |hr AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    LIST((CAST(nr AS DOUBLE) / CAST(nt AS DOUBLE))
        |      * -LN(CAST(nr AS DOUBLE) / CAST(nt AS DOUBLE))
        |      ORDER BY source)), (a, x) -> a + x) AS h_row
        |  FROM rowm CROSS JOIN tot),
        |hc AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    LIST((CAST(nc AS DOUBLE) / CAST(nt AS DOUBLE))
        |      * -LN(CAST(nc AS DOUBLE) / CAST(nt AS DOUBLE))
        |      ORDER BY lang)), (a, x) -> a + x) AS h_col
        |  FROM colm CROSS JOIN tot),
        |mi AS (
        |  SELECT nt, CAST(COUNT(*) AS BIGINT) AS n_cells,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      LIST((CAST(c AS DOUBLE) / CAST(nt AS DOUBLE))
        |        * LN(CAST(c AS DOUBLE) * CAST(nt AS DOUBLE)
        |            / (CAST(nr AS DOUBLE) * CAST(nc AS DOUBLE)))
        |        ORDER BY source, lang)), (a, x) -> a + x) AS mi
        |  FROM obs JOIN rowm USING (source) JOIN colm USING (lang)
        |  CROSS JOIN tot GROUP BY nt)
        |SELECT nt AS n, n_cells, ROUND(mi, 6) AS mi,
        |  ROUND(h_row, 6) AS h_row, ROUND(h_col, 6) AS h_col,
        |  ROUND(mi / SQRT(h_row * h_col), 6) AS nmi
        |FROM mi CROSS JOIN hr CROSS JOIN hc""".stripMargin,

    // doubled midranks from the bounded value frames; DECIMAL/HUGEINT
    // keeps every sum exact until the final division
    "q287_spearman" ->
      """WITH d AS (
        |  SELECT source, n_chars AS x,
        |    LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) AS y
        |  FROM documents),
        |xc AS (SELECT source, x, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM d GROUP BY 1, 2),
        |xr AS (SELECT source, x,
        |    2 * COALESCE(CAST(SUM(cnt) OVER (PARTITION BY source
        |      ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      1 PRECEDING) AS BIGINT), 0) + cnt + 1 AS r_x
        |  FROM xc),
        |yc AS (SELECT source, y, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM d GROUP BY 1, 2),
        |yr AS (SELECT source, y,
        |    2 * COALESCE(CAST(SUM(cnt) OVER (PARTITION BY source
        |      ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      1 PRECEDING) AS BIGINT), 0) + cnt + 1 AS r_y
        |  FROM yc),
        |j AS (SELECT d.source, xr.r_x, yr.r_y
        |  FROM d JOIN xr ON d.source = xr.source AND d.x = xr.x
        |  JOIN yr ON d.source = yr.source AND d.y = yr.y),
        |s AS (SELECT source,
        |    CAST(COUNT(*) AS HUGEINT) AS n,
        |    CAST(SUM(r_x) AS HUGEINT) AS sx,
        |    CAST(SUM(r_y) AS HUGEINT) AS sy,
        |    CAST(SUM(CAST(r_x AS HUGEINT) * r_x) AS HUGEINT) AS sxx,
        |    CAST(SUM(CAST(r_y AS HUGEINT) * r_y) AS HUGEINT) AS syy,
        |    CAST(SUM(CAST(r_x AS HUGEINT) * r_y) AS HUGEINT) AS sxy
        |  FROM j GROUP BY source)
        |SELECT source, CAST(n AS BIGINT) AS n,
        |  ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
        |       * SQRT(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS rho
        |FROM s ORDER BY source""".stripMargin,

    // doubled |x - median| deviations; same fold discipline as q273
    "q288_levene" ->
      """WITH med AS (
        |  SELECT source, CAST(ROUND(2 * MEDIAN(n_chars)) AS BIGINT)
        |    AS m2
        |  FROM documents GROUP BY source),
        |z AS (
        |  SELECT d.source, ABS(2 * d.n_chars - m.m2) AS z2
        |  FROM documents d JOIN med m ON d.source = m.source),
        |g AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_g,
        |    CAST(SUM(z2) AS BIGINT) AS s_g,
        |    CAST(SUM(z2 * z2) AS BIGINT) AS q_g
        |  FROM z GROUP BY source),
        |s AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(n_g) AS BIGINT) AS n,
        |    CAST(SUM(s_g) AS BIGINT) AS st,
        |    CAST(SUM(q_g) AS BIGINT) AS qt,
        |    list_reduce(
        |      list_prepend(CAST(0 AS DOUBLE),
        |        LIST((s_g * s_g) / CAST(n_g AS DOUBLE) ORDER BY source)),
        |      (a, x) -> a + x) AS sgn
        |  FROM g)
        |SELECT k, n,
        |  ROUND(sgn - CAST(st * st AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    AS ssb,
        |  ROUND(CAST(qt AS DOUBLE) - sgn, 6) AS ssw,
        |  ROUND(((sgn - CAST(st * st AS DOUBLE) / CAST(n AS DOUBLE))
        |      * CAST(n - k AS DOUBLE))
        |    / ((CAST(qt AS DOUBLE) - sgn) * CAST(k - 1 AS DOUBLE)), 6)
        |    AS f
        |FROM s""".stripMargin,

    // same margins + ordered cell fold; V normalizes the chi2
    "q289_cramers_v" ->
      """WITH d AS (SELECT source, lang FROM documents),
        |obs AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS o
        |  FROM d GROUP BY 1, 2),
        |rowm AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS nr
        |  FROM d GROUP BY 1),
        |colm AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS nc
        |  FROM d GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt,
        |    CAST(COUNT(DISTINCT source) AS BIGINT) AS r,
        |    CAST(COUNT(DISTINCT lang) AS BIGINT) AS c
        |  FROM d),
        |cells AS (
        |  SELECT obs.source, obs.lang, obs.o, nt, r, c,
        |    CAST(nr AS DOUBLE) * CAST(nc AS DOUBLE)
        |      / CAST(nt AS DOUBLE) AS e
        |  FROM obs JOIN rowm ON obs.source = rowm.source
        |  JOIN colm ON obs.lang = colm.lang CROSS JOIN tot),
        |s AS (
        |  SELECT nt, r, c, CAST(COUNT(*) AS BIGINT) AS n_cells,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      LIST((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e)
        |           / e ORDER BY source, lang)),
        |      (a, x) -> a + x) AS chi2
        |  FROM cells GROUP BY nt, r, c)
        |SELECT nt AS n, n_cells, ROUND(chi2, 6) AS chi2,
        |  ROUND(SQRT(chi2 / (CAST(nt AS DOUBLE)
        |    * CAST(LEAST(r - 1, c - 1) AS DOUBLE))), 6) AS v
        |FROM s""".stripMargin,

    // same per-group integer summary; the one fp-ordered fold runs
    // over LIST(... ORDER BY source) = Spark's array_sort order
    "q273_anova" ->
      """WITH g AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_g,
        |    CAST(SUM(n_chars) AS BIGINT) AS s_g,
        |    CAST(SUM(n_chars * n_chars) AS BIGINT) AS q_g
        |  FROM documents GROUP BY source),
        |s AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(n_g) AS BIGINT) AS n,
        |    CAST(SUM(s_g) AS BIGINT) AS st,
        |    CAST(SUM(q_g) AS BIGINT) AS qt,
        |    list_reduce(
        |      list_prepend(CAST(0 AS DOUBLE),
        |        LIST((s_g * s_g) / CAST(n_g AS DOUBLE) ORDER BY source)),
        |      (a, x) -> a + x) AS sgn
        |  FROM g)
        |SELECT k, n,
        |  ROUND(sgn - CAST(st * st AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    AS ssb,
        |  ROUND(CAST(qt AS DOUBLE) - sgn, 6) AS ssw,
        |  ROUND(((sgn - CAST(st * st AS DOUBLE) / CAST(n AS DOUBLE))
        |      * CAST(n - k AS DOUBLE))
        |    / ((CAST(qt AS DOUBLE) - sgn) * CAST(k - 1 AS DOUBLE)), 6)
        |    AS f
        |FROM s""".stripMargin,

    // same doubled-U integer identity over the bounded value frame
    "q274_mann_whitney" ->
      """WITH counts AS (
        |  SELECT source, n_chars, CAST(COUNT(*) AS BIGINT) AS a_v
        |  FROM documents GROUP BY source, n_chars),
        |totals AS (
        |  SELECT n_chars, CAST(SUM(a_v) AS BIGINT) AS t_v,
        |    COALESCE(CAST(SUM(SUM(a_v)) OVER (ORDER BY n_chars
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS cum_t_bef
        |  FROM counts GROUP BY n_chars),
        |by_src AS (
        |  SELECT c.source, c.n_chars, c.a_v, t.t_v, t.cum_t_bef,
        |    COALESCE(CAST(SUM(c.a_v) OVER (PARTITION BY c.source
        |      ORDER BY c.n_chars
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS cum_a_bef
        |  FROM counts c JOIN totals t USING (n_chars)),
        |per_src AS (
        |  SELECT source, CAST(SUM(a_v) AS BIGINT) AS n_s,
        |    CAST(SUM(a_v * (2 * (cum_t_bef - cum_a_bef)
        |      + (t_v - a_v))) AS BIGINT) AS u2
        |  FROM by_src GROUP BY source),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tot FROM documents)
        |SELECT source, n_s, u2,
        |  ROUND(CAST(u2 AS DOUBLE)
        |    / CAST(2 * n_s * (n_tot - n_s) AS DOUBLE), 6) AS auc
        |FROM per_src CROSS JOIN tot ORDER BY source""".stripMargin,

    "q253_ks_drift" ->
      """WITH docs AS (SELECT source, n_chars FROM documents),
        |b AS (SELECT MIN(n_chars) AS mn, MAX(n_chars) AS mx FROM docs),
        |binned AS (SELECT source,
        |    (n_chars - mn) * 32 // (mx - mn + 1) AS bin, COUNT(*) AS c
        |  FROM docs, b GROUP BY 1, 2),
        |spine AS (SELECT s.source, x.bin
        |  FROM (SELECT DISTINCT source FROM binned) s,
        |       (SELECT DISTINCT bin FROM binned) x),
        |grid AS (SELECT sp.source, sp.bin, COALESCE(bd.c, 0) AS c
        |  FROM spine sp LEFT JOIN binned bd
        |    ON sp.source = bd.source AND sp.bin = bd.bin),
        |cum AS (SELECT source, bin, SUM(c) OVER (PARTITION BY source
        |    ORDER BY bin) AS cum_src FROM grid),
        |gcum AS (SELECT bin, SUM(g) OVER (ORDER BY bin) AS cum_g
        |  FROM (SELECT bin, SUM(c) AS g FROM grid GROUP BY bin)),
        |tot AS (SELECT source, SUM(c) AS n_src FROM grid GROUP BY source),
        |n AS (SELECT SUM(c) AS n_all FROM grid)
        |SELECT source, CAST(n_src AS BIGINT) AS n_src,
        |  ROUND(CAST(MAX(ABS(cum_src * (n_all - n_src)
        |      - (cum_g - cum_src) * n_src)) AS DOUBLE)
        |    / CAST(n_src * (n_all - n_src) AS DOUBLE), 6) AS ks
        |FROM cum JOIN gcum USING (bin) JOIN tot USING (source), n
        |GROUP BY source, n_src, n_all ORDER BY source""".stripMargin,

    "q254_roc_auc" ->
      """WITH scored AS (SELECT
        |    LENGTH(REGEXP_REPLACE(LOWER(text), '[^aeiou]', '', 'g'))
        |      * 64 // (LENGTH(text) + 1) AS bin,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM documents),
        |bins AS (SELECT bin, SUM(pos) AS tp,
        |    COUNT(*) - SUM(pos) AS fp FROM scored GROUP BY bin),
        |roc AS (SELECT bin, tp, fp,
        |    SUM(tp) OVER (ORDER BY bin DESC) AS cum_tp,
        |    SUM(fp) OVER (ORDER BY bin DESC) AS cum_fp FROM bins),
        |t AS (SELECT SUM(tp) AS p, SUM(fp) AS n FROM bins),
        |a AS (SELECT SUM(fp * (2 * (cum_tp - tp) + tp)) AS auc2pn
        |  FROM roc)
        |SELECT bin, CAST(cum_tp AS BIGINT) AS cum_tp,
        |  CAST(cum_fp AS BIGINT) AS cum_fp,
        |  ROUND(CAST(cum_tp AS DOUBLE) / CAST(p AS DOUBLE), 6) AS tpr,
        |  ROUND(CAST(cum_fp AS DOUBLE) / CAST(n AS DOUBLE), 6) AS fpr,
        |  ROUND(CAST(auc2pn AS DOUBLE)
        |    / CAST(2 * p * n AS DOUBLE), 6) AS auc
        |FROM roc, t, a ORDER BY bin""".stripMargin,

    "q255_gini" ->
      """WITH vc AS (SELECT lang, n_chars AS v,
        |    CAST(COUNT(*) AS HUGEINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |w AS (SELECT lang, v, c,
        |    COALESCE(SUM(c) OVER (PARTITION BY lang ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cumc,
        |    COALESCE(SUM(c * v) OVER (PARTITION BY lang ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cums
        |  FROM vc)
        |SELECT lang, CAST(SUM(c) AS BIGINT) AS n_docs,
        |  ROUND(CAST(SUM(c * (v * cumc - cums)) AS DOUBLE)
        |    / CAST(SUM(c) * SUM(c * v) AS DOUBLE), 6) AS gini
        |FROM w GROUP BY lang ORDER BY lang""".stripMargin,

    "q256_trend" ->
      """WITH daily AS (SELECT o_orderdate AS d, COUNT(*) AS x
        |  FROM orders GROUP BY 1),
        |s AS (SELECT ROW_NUMBER() OVER (ORDER BY d) AS rn, x FROM daily),
        |p AS (SELECT SIGN(b.x - a.x) AS sgn,
        |    CAST(b.x - a.x AS DOUBLE) / CAST(b.rn - a.rn AS DOUBLE)
        |      AS slope
        |  FROM s a JOIN s b ON b.rn > a.rn)
        |SELECT CAST(SUM(sgn) AS BIGINT) AS s_stat,
        |  COUNT(*) AS n_pairs,
        |  ROUND(CAST(SUM(sgn) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |    AS kendall_tau,
        |  ROUND(MEDIAN(slope), 6) AS theil_sen
        |FROM p""".stripMargin,

    "q257_holt" ->
      """WITH RECURSIVE monthly AS (
        |  SELECT DATE_TRUNC('month', o_orderdate) AS m,
        |    CAST(SUM(o_totalprice) AS DOUBLE) AS x
        |  FROM orders GROUP BY 1),
        |s AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY m) AS INTEGER)
        |    AS rn, m, x FROM monthly),
        |r AS (
        |  SELECT rn, x AS l, CAST(0.0 AS DOUBLE) AS b,
        |    CAST(NULL AS DOUBLE) AS fc
        |  FROM s WHERE rn = 1
        |  UNION ALL
        |  SELECT s.rn,
        |    0.5 * s.x + 0.5 * (r.l + r.b),
        |    0.3 * ((0.5 * s.x + 0.5 * (r.l + r.b)) - r.l) + 0.7 * r.b,
        |    r.l + r.b
        |  FROM r JOIN s ON s.rn = r.rn + 1)
        |SELECT s.m, ROUND(s.x, 6) AS actual, ROUND(r.fc, 6) AS forecast,
        |  ROUND(ABS(s.x - r.fc), 6) AS abs_err
        |FROM r JOIN s ON s.rn = r.rn WHERE r.rn >= 2
        |ORDER BY s.m""".stripMargin,

    "q271_tree2" ->
      """WITH scored AS (SELECT
        |    LENGTH(REGEXP_REPLACE(LOWER(text), '[^aeiou]', '', 'g'))
        |      * 64 // (LENGTH(text) + 1) AS bin,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM documents),
        |bins AS (SELECT bin, SUM(pos) AS p, COUNT(*) - SUM(pos) AS q
        |  FROM scored GROUP BY bin),
        |rtot AS (SELECT SUM(p) AS tp, SUM(q) AS tq FROM bins),
        |rcand AS (SELECT bin AS t,
        |    CAST(COALESCE(SUM(p) OVER (ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS pl,
        |    CAST(COALESCE(SUM(q) OVER (ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS nl
        |  FROM bins),
        |rc2 AS (SELECT t, pl, nl,
        |    CAST(tp - pl AS BIGINT) AS pr, CAST(tq - nl AS BIGINT) AS nr,
        |    CAST(tp + tq AS BIGINT) AS n
        |  FROM rcand, rtot WHERE pl + nl > 0 AND tp - pl + tq - nl > 0),
        |rc3 AS (SELECT t, pl, nl, pr, nr, n, pl + nl AS cl,
        |    pr + nr AS cr,
        |    (pl*pl + nl*nl) * (pr + nr) + (pr*pr + nr*nr) * (pl + nl)
        |      AS num,
        |    (pl + nl) * (pr + nr) AS den
        |  FROM rc2),
        |rbest AS (SELECT * FROM rc3 a WHERE NOT EXISTS (
        |  SELECT 1 FROM rc3 b
        |  WHERE CAST(b.num AS HUGEINT) * a.den
        |      > CAST(a.num AS HUGEINT) * b.den
        |    OR (CAST(b.num AS HUGEINT) * a.den
        |      = CAST(a.num AS HUGEINT) * b.den AND b.t < a.t))),
        |sided AS (SELECT CASE WHEN bin < (SELECT t FROM rbest)
        |    THEN 'left' ELSE 'right' END AS side, bin, p, q FROM bins),
        |stot AS (SELECT side, SUM(p) AS tp, SUM(q) AS tq FROM sided
        |  GROUP BY side),
        |scand AS (SELECT side, bin AS t,
        |    CAST(COALESCE(SUM(p) OVER (PARTITION BY side ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS pl,
        |    CAST(COALESCE(SUM(q) OVER (PARTITION BY side ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS nl
        |  FROM sided),
        |sc2 AS (SELECT side, t, pl, nl,
        |    CAST(tp - pl AS BIGINT) AS pr, CAST(tq - nl AS BIGINT) AS nr,
        |    CAST(tp + tq AS BIGINT) AS n
        |  FROM scand JOIN stot USING (side)
        |  WHERE pl + nl > 0 AND tp - pl + tq - nl > 0),
        |sc3 AS (SELECT side, t, pl, nl, pr, nr, n, pl + nl AS cl,
        |    pr + nr AS cr,
        |    (pl*pl + nl*nl) * (pr + nr) + (pr*pr + nr*nr) * (pl + nl)
        |      AS num,
        |    (pl + nl) * (pr + nr) AS den
        |  FROM sc2),
        |sbest AS (SELECT * FROM sc3 a WHERE NOT EXISTS (
        |  SELECT 1 FROM sc3 b WHERE b.side = a.side
        |    AND (CAST(b.num AS HUGEINT) * a.den
        |        > CAST(a.num AS HUGEINT) * b.den
        |      OR (CAST(b.num AS HUGEINT) * a.den
        |        = CAST(a.num AS HUGEINT) * b.den AND b.t < a.t)))),
        |unioned AS (
        |  SELECT 'root' AS node, t AS threshold_bin, cl AS n_left,
        |    cr AS n_right,
        |    CASE WHEN pl >= nl THEN 'en' ELSE 'other' END AS left_label,
        |    CASE WHEN pr >= nr THEN 'en' ELSE 'other' END
        |      AS right_label,
        |    ROUND((CAST(n AS DOUBLE)
        |      - CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
        |      / CAST(n AS DOUBLE), 6) AS gini
        |  FROM rbest
        |  UNION ALL
        |  SELECT side, t, cl, cr,
        |    CASE WHEN pl >= nl THEN 'en' ELSE 'other' END,
        |    CASE WHEN pr >= nr THEN 'en' ELSE 'other' END,
        |    ROUND((CAST(n AS DOUBLE)
        |      - CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
        |      / CAST(n AS DOUBLE), 6)
        |  FROM sbest)
        |SELECT * FROM unioned ORDER BY node""".stripMargin,

    // double binning arithmetic mirrored exactly (FLOOR of the same
    // IEEE expression); the KS gap is integer cross-multiplication
    "q270_drift_sql" ->
      """WITH data AS (SELECT l_returnflag AS grp,
        |    l_extendedprice AS v FROM lineitem),
        |b AS (SELECT MIN(v) AS mn, MAX(v) AS mx FROM data),
        |binned AS (SELECT grp,
        |    CAST(FLOOR((v - mn) * 16 / (mx - mn + 1)) AS BIGINT)
        |      AS bin, COUNT(*) AS c
        |  FROM data, b GROUP BY 1, 2),
        |spine AS (SELECT s.grp, x.bin
        |  FROM (SELECT DISTINCT grp FROM binned) s,
        |       (SELECT DISTINCT bin FROM binned) x),
        |grid AS (SELECT sp.grp, sp.bin, COALESCE(bd.c, 0) AS c
        |  FROM spine sp LEFT JOIN binned bd
        |    ON sp.grp = bd.grp AND sp.bin = bd.bin),
        |cum AS (SELECT grp, bin, SUM(c) OVER (PARTITION BY grp
        |    ORDER BY bin) AS cum_grp FROM grid),
        |gcum AS (SELECT bin, SUM(g) OVER (ORDER BY bin) AS cum_g
        |  FROM (SELECT bin, SUM(c) AS g FROM grid GROUP BY bin)),
        |tot AS (SELECT grp, SUM(c) AS n_grp FROM grid GROUP BY grp),
        |n AS (SELECT SUM(c) AS n_all FROM grid)
        |SELECT grp, CAST(n_grp AS BIGINT) AS n_grp,
        |  ROUND(CAST(MAX(ABS(cum_grp * (n_all - n_grp)
        |      - (cum_g - cum_grp) * n_grp)) AS DOUBLE)
        |    / CAST(n_grp * (n_all - n_grp) AS DOUBLE), 6) AS ks
        |FROM cum JOIN gcum USING (bin) JOIN tot USING (grp), n
        |GROUP BY grp, n_grp, n_all ORDER BY grp""".stripMargin,

    "q269_sprt" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n,
        |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS x
        |  FROM events GROUP BY 1),
        |walk AS (SELECT d, CAST(n AS BIGINT) AS n, CAST(x AS BIGINT)
        |    AS x,
        |    SUM(CAST(x AS DOUBLE) * LN(0.07 / 0.05)
        |      + CAST(n - x AS DOUBLE) * LN(0.93 / 0.95))
        |      OVER (ORDER BY d
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS llr
        |  FROM daily),
        |fc AS (SELECT
        |    MIN(CASE WHEN llr >= LN(19.0) THEN d END) AS d_up,
        |    MIN(CASE WHEN llr <= -LN(19.0) THEN d END) AS d_dn
        |  FROM walk)
        |SELECT d, n, x, ROUND(llr, 9) AS llr,
        |  CASE WHEN d_up IS NOT NULL
        |      AND (d_dn IS NULL OR d_up <= d_dn) AND d >= d_up
        |    THEN 'accept_h1'
        |    WHEN d_dn IS NOT NULL
        |      AND (d_up IS NULL OR d_dn < d_up) AND d >= d_dn
        |    THEN 'accept_h0'
        |    ELSE 'continue' END AS decision
        |FROM walk, fc ORDER BY d""".stripMargin,

    "q268_nelson_aalen" ->
      """WITH life AS (
        |  SELECT user_id,
        |    (MAX(CAST(epoch(date_trunc('second', ts)) AS BIGINT)) -
        |     MIN(CAST(epoch(date_trunc('second', ts)) AS BIGINT)))
        |      // 86400 AS t,
        |    (SELECT MAX(CAST(epoch(date_trunc('second', ts)) AS BIGINT))
        |       FROM events) -
        |      MAX(CAST(epoch(date_trunc('second', ts)) AS BIGINT))
        |      > 3 * 86400 AS observed
        |  FROM events GROUP BY user_id),
        |byday AS (SELECT t,
        |    SUM(CASE WHEN observed THEN 1 ELSE 0 END) AS d,
        |    SUM(CASE WHEN observed THEN 0 ELSE 1 END) AS c
        |  FROM life GROUP BY t),
        |w AS (SELECT t, CAST(d AS BIGINT) AS d, CAST(c AS BIGINT) AS c,
        |    CAST(SUM(d + c) OVER (ORDER BY t
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |      AS BIGINT) AS n_at_risk
        |  FROM byday)
        |SELECT t, n_at_risk, d, c,
        |  ROUND(SUM(CAST(d AS DOUBLE) / CAST(n_at_risk AS DOUBLE))
        |    OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 9)
        |    AS cum_hazard,
        |  ROUND(SUM(CAST(d AS DOUBLE)
        |      / CAST(n_at_risk * n_at_risk AS DOUBLE))
        |    OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 9)
        |    AS hazard_var
        |FROM w ORDER BY t""".stripMargin,

    "q266_cv_centroid" ->
      """WITH e AS (SELECT vec_id, label,
        |    list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(CAST(vec_id AS VARCHAR), ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (a, c) -> (a * 31 + c) % 1000000000000000) % 5 AS fold
        |  FROM embeddings),
        |dims AS (SELECT vec_id, label, fold,
        |    unnest(generate_series(1, len(x))) AS d, unnest(x) AS v
        |  FROM e),
        |bl AS (SELECT label, d, SUM(CAST(v AS DECIMAL(38,18))) AS s,
        |    COUNT(*) AS n FROM dims GROUP BY 1, 2),
        |bf AS (SELECT fold, label, d,
        |    SUM(CAST(v AS DECIMAL(38,18))) AS sf, COUNT(*) AS nf
        |  FROM dims GROUP BY 1, 2, 3),
        |cents AS (SELECT fold, label,
        |    LIST(CAST(s - sf AS DOUBLE) / CAST(n - nf AS DOUBLE)
        |      ORDER BY d) AS centroid
        |  FROM bf JOIN bl USING (label, d)
        |  GROUP BY fold, label),
        |scored AS (SELECT e.vec_id, e.fold, e.label AS truth,
        |    c.label AS cand,
        |    list_sum(list_transform(list_zip(e.x, c.centroid),
        |      p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
        |         * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))
        |      AS d2
        |  FROM e JOIN cents c ON e.fold = c.fold),
        |pred AS (SELECT vec_id, fold, truth, cand AS pred FROM (
        |    SELECT vec_id, fold, truth, cand,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id
        |        ORDER BY d2, cand) AS rn
        |    FROM scored) WHERE rn = 1)
        |SELECT fold, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN truth = pred THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_correct,
        |  ROUND(CAST(SUM(CASE WHEN truth = pred THEN 1 ELSE 0 END)
        |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS accuracy
        |FROM pred GROUP BY fold ORDER BY fold""".stripMargin,

    "q262_seasonal" ->
      """WITH monthly AS (SELECT DATE_TRUNC('month', o_orderdate) AS m,
        |    COUNT(*) AS x FROM orders GROUP BY 1),
        |w AS (SELECT m, x,
        |    SUM(x) OVER (ORDER BY m
        |      ROWS BETWEEN 6 PRECEDING AND 5 FOLLOWING) AS s12,
        |    COUNT(*) OVER (ORDER BY m
        |      ROWS BETWEEN 6 PRECEDING AND 5 FOLLOWING) AS n12
        |  FROM monthly),
        |tr AS (SELECT m, x, s12, MONTH(m) AS moy FROM w WHERE n12 = 12),
        |seas AS (SELECT moy, SUM(12 * x - s12) AS num, COUNT(*) AS cnt
        |  FROM tr GROUP BY moy)
        |SELECT m, x,
        |  ROUND(CAST(s12 AS DOUBLE) / CAST(12 AS DOUBLE), 6) AS trend,
        |  ROUND(CAST(num AS DOUBLE) / CAST(12 * cnt AS DOUBLE), 6)
        |    AS seasonal,
        |  ROUND(x - CAST(s12 AS DOUBLE) / CAST(12 AS DOUBLE)
        |    - CAST(num AS DOUBLE) / CAST(12 * cnt AS DOUBLE), 6)
        |    AS resid
        |FROM tr JOIN seas USING (moy) ORDER BY m""".stripMargin,

    "q263_decision_stump" ->
      """WITH scored AS (SELECT
        |    LENGTH(REGEXP_REPLACE(LOWER(text), '[^aeiou]', '', 'g'))
        |      * 64 // (LENGTH(text) + 1) AS bin,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM documents),
        |bins AS (SELECT bin, SUM(pos) AS p, COUNT(*) - SUM(pos) AS q
        |  FROM scored GROUP BY bin),
        |tot AS (SELECT SUM(p) AS tp, SUM(q) AS tq FROM bins),
        |cand AS (SELECT bin AS t,
        |    CAST(COALESCE(SUM(p) OVER (ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS pl,
        |    CAST(COALESCE(SUM(q) OVER (ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS nl
        |  FROM bins),
        |c2 AS (SELECT t, pl, nl,
        |    CAST(tp - pl AS BIGINT) AS pr, CAST(tq - nl AS BIGINT) AS nr,
        |    CAST(tp + tq AS BIGINT) AS n
        |  FROM cand, tot WHERE pl + nl > 0),
        |c3 AS (SELECT t, pl, nl, pr, nr, n,
        |    pl + nl AS cl, pr + nr AS cr,
        |    (pl*pl + nl*nl) * (pr + nr) + (pr*pr + nr*nr) * (pl + nl)
        |      AS num,
        |    (pl + nl) * (pr + nr) AS den
        |  FROM c2)
        |SELECT a.t AS threshold_bin, a.cl AS n_left, a.cr AS n_right,
        |  CASE WHEN a.pl >= a.nl THEN 'en' ELSE 'other' END
        |    AS left_label,
        |  CASE WHEN a.pr >= a.nr THEN 'en' ELSE 'other' END
        |    AS right_label,
        |  ROUND((CAST(a.n AS DOUBLE)
        |    - CAST(a.num AS DOUBLE) / CAST(a.den AS DOUBLE))
        |    / CAST(a.n AS DOUBLE), 6) AS gini
        |FROM c3 a WHERE NOT EXISTS (SELECT 1 FROM c3 b
        |  WHERE CAST(b.num AS HUGEINT) * a.den
        |      > CAST(a.num AS HUGEINT) * b.den
        |    OR (CAST(b.num AS HUGEINT) * a.den
        |      = CAST(a.num AS HUGEINT) * b.den AND b.t < a.t))"""
        .stripMargin,

    // same doubled-midrank integer identity + ordered fold + the
    // identical closing H / tie-correction expression tree
    "q284_kruskal_wallis" ->
      """WITH counts AS (
        |  SELECT source, n_chars, CAST(COUNT(*) AS BIGINT) AS a_v
        |  FROM documents GROUP BY source, n_chars),
        |totals AS (
        |  SELECT n_chars, CAST(SUM(a_v) AS BIGINT) AS t_v,
        |    COALESCE(CAST(SUM(SUM(a_v)) OVER (ORDER BY n_chars
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS cum_t_bef
        |  FROM counts GROUP BY n_chars),
        |per_src AS (
        |  SELECT source, CAST(SUM(a_v) AS BIGINT) AS n_g,
        |    CAST(SUM(a_v * (2 * cum_t_bef + t_v + 1)) AS BIGINT) AS r2_g
        |  FROM counts JOIN totals USING (n_chars) GROUP BY source),
        |ties AS (
        |  SELECT CAST(SUM(t_v * t_v * t_v - t_v) AS BIGINT) AS tsum
        |  FROM totals),
        |folded AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(n_g) AS BIGINT) AS n,
        |    list_reduce(
        |      list_prepend(CAST(0 AS DOUBLE),
        |        LIST((r2_g * r2_g) / CAST(n_g AS DOUBLE)
        |          ORDER BY source)),
        |      (a, x) -> a + x) AS rr
        |  FROM per_src)
        |SELECT k, n,
        |  ROUND((3.0 * rr / CAST(n * (n + 1) AS DOUBLE)
        |    - 3.0 * CAST(n + 1 AS DOUBLE))
        |    / (1.0 - CAST(tsum AS DOUBLE)
        |      / CAST(n * n * n - n AS DOUBLE)), 6) AS h
        |FROM folded CROSS JOIN ties""".stripMargin,

    // same exact integer moment sums; the Cramer expression tree is
    // written term-for-term identically
    "q281_ar2" ->
      """WITH daily AS (
        |  SELECT o_orderdate AS d, CAST(COUNT(*) AS BIGINT) AS y
        |  FROM orders GROUP BY o_orderdate),
        |lagged AS (
        |  SELECT d, y,
        |    LAG(y, 1) OVER (ORDER BY d) AS y1,
        |    LAG(y, 2) OVER (ORDER BY d) AS y2
        |  FROM daily),
        |g AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(y1) AS BIGINT) AS s1,
        |    CAST(SUM(y2) AS BIGINT) AS s2,
        |    CAST(SUM(y1 * y1) AS BIGINT) AS s11,
        |    CAST(SUM(y1 * y2) AS BIGINT) AS s12,
        |    CAST(SUM(y2 * y2) AS BIGINT) AS s22,
        |    CAST(SUM(y * y1) AS BIGINT) AS sy1,
        |    CAST(SUM(y * y2) AS BIGINT) AS sy2,
        |    ARG_MAX(y, d) AS ylast, ARG_MAX(y1, d) AS yprev
        |  FROM lagged WHERE y2 IS NOT NULL),
        |s AS (
        |  SELECT n AS n_obs,
        |    CAST(n AS DOUBLE) AS nd,
        |    CAST(s1 AS DOUBLE) AS s1, CAST(s2 AS DOUBLE) AS s2,
        |    CAST(s11 AS DOUBLE) AS s11, CAST(s12 AS DOUBLE) AS s12,
        |    CAST(s22 AS DOUBLE) AS s22, CAST(sy AS DOUBLE) AS sy,
        |    CAST(sy1 AS DOUBLE) AS sy1, CAST(sy2 AS DOUBLE) AS sy2,
        |    CAST(ylast AS DOUBLE) AS ylast, CAST(yprev AS DOUBLE) AS yprev
        |  FROM g),
        |f AS (
        |  SELECT n_obs, ylast, yprev,
        |    (nd * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s2 * s12)
        |      + s2 * (s1 * s12 - s2 * s11)) AS det,
        |    (sy * (s11 * s22 - s12 * s12) - s1 * (sy1 * s22 - sy2 * s12)
        |      + s2 * (sy1 * s12 - sy2 * s11)) AS dc,
        |    (nd * (sy1 * s22 - sy2 * s12) - sy * (s1 * s22 - s2 * s12)
        |      + s2 * (s1 * sy2 - s2 * sy1)) AS d1,
        |    (nd * (s11 * sy2 - s12 * sy1) - s1 * (s1 * sy2 - s2 * sy1)
        |      + sy * (s1 * s12 - s2 * s11)) AS d2
        |  FROM s)
        |SELECT n_obs, ROUND(dc / det, 6) AS c,
        |  ROUND(d1 / det, 6) AS phi1, ROUND(d2 / det, 6) AS phi2,
        |  ROUND(dc / det + (d1 / det) * ylast + (d2 / det) * yprev, 6)
        |    AS forecast
        |FROM f""".stripMargin,

    // same exact-integer rolling sums on the bounded daily frame
    "q279_rolling_corr" ->
      """WITH daily AS (
        |  SELECT o_orderdate AS d, CAST(COUNT(*) AS BIGINT) AS x,
        |    CAST(FLOOR(CAST(CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5)
        |      AS BIGINT)) AS BIGINT) AS DOUBLE) / 1000) AS BIGINT) AS y
        |  FROM orders GROUP BY o_orderdate),
        |r AS (
        |  SELECT d,
        |    ROW_NUMBER() OVER (ORDER BY d) AS rn,
        |    CAST(COUNT(*) OVER w AS BIGINT) AS nw,
        |    CAST(SUM(x) OVER w AS BIGINT) AS sx,
        |    CAST(SUM(y) OVER w AS BIGINT) AS sy,
        |    CAST(SUM(x * x) OVER w AS BIGINT) AS sxx,
        |    CAST(SUM(y * y) OVER w AS BIGINT) AS syy,
        |    CAST(SUM(x * y) OVER w AS BIGINT) AS sxy
        |  FROM daily
        |  WINDOW w AS (ORDER BY d ROWS BETWEEN 29 PRECEDING
        |    AND CURRENT ROW))
        |SELECT d,
        |  ROUND(CAST(nw * sxy - sx * sy AS DOUBLE)
        |    / (SQRT(CAST(nw * sxx - sx * sx AS DOUBLE))
        |      * SQRT(CAST(nw * syy - sy * sy AS DOUBLE))), 6) AS corr30
        |FROM r WHERE rn >= 30 ORDER BY d""".stripMargin,

    // same quantized integer weights; the <=8-hop walk enumeration's
    // MIN per node equals 8 rounds of multi-source Bellman-Ford
    "q276_shortest_path" ->
      ("""WITH RECURSIVE """ + graft.queries.Pipeline.lshPairsCtes + """,
        |e0 AS (SELECT vec_a, vec_b,
        |  CAST(FLOOR((1.0 - cos) * 4.0 + 0.5) AS BIGINT) + 1 AS w
        |  FROM prs WHERE cos >= 0.1),
        |e AS (SELECT vec_a, vec_b, w FROM e0
        |  UNION ALL SELECT vec_b, vec_a, w FROM e0),
        |src AS (SELECT DISTINCT vec_a AS s FROM e WHERE vec_a % 50 = 0),
        |walk AS (
        |  SELECT s AS node, 0 AS k, CAST(0 AS BIGINT) AS d FROM src
        |  UNION
        |  SELECT e.vec_b, walk.k + 1, walk.d + e.w FROM walk JOIN e
        |    ON e.vec_a = walk.node WHERE walk.k < 8)
        |SELECT node, MIN(d) AS d FROM walk
        |GROUP BY node ORDER BY node""").stripMargin,

    "q258_bfs" ->
      ("""WITH RECURSIVE """ + graft.queries.Pipeline.lshPairsCtes + """,
        |e0 AS (SELECT vec_a, vec_b FROM prs WHERE cos >= 0.3),
        |e AS (SELECT vec_a, vec_b FROM e0
        |  UNION ALL SELECT vec_b, vec_a FROM e0),
        |src AS (SELECT MIN(vec_a) AS s FROM e),
        |walk AS (
        |  SELECT s AS node, 0 AS d FROM src
        |  UNION
        |  SELECT e.vec_b, walk.d + 1 FROM walk JOIN e
        |    ON e.vec_a = walk.node WHERE walk.d < 8)
        |SELECT node, CAST(MIN(d) AS BIGINT) AS d FROM walk
        |GROUP BY node ORDER BY node""").stripMargin,

    // identical IEEE tree: gain = (p+2)/(p+2+10) textually repeated
    "q303_kalman" ->
      """WITH RECURSIVE daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(COUNT(*) AS DOUBLE) AS x
        |  FROM orders GROUP BY 1),
        |s AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY d) AS INTEGER)
        |    AS rn, d, x FROM daily),
        |r AS (
        |  SELECT rn, x AS l, CAST(10.0 AS DOUBLE) AS p,
        |    CAST(NULL AS DOUBLE) AS pred, CAST(NULL AS DOUBLE) AS gain,
        |    CAST(NULL AS DOUBLE) AS filt
        |  FROM s WHERE rn = 1
        |  UNION ALL
        |  SELECT s.rn,
        |    r.l + ((r.p + 2.0) / (r.p + 2.0 + 10.0)) * (s.x - r.l),
        |    (1.0 - (r.p + 2.0) / (r.p + 2.0 + 10.0)) * (r.p + 2.0),
        |    r.l,
        |    (r.p + 2.0) / (r.p + 2.0 + 10.0),
        |    r.l + ((r.p + 2.0) / (r.p + 2.0 + 10.0)) * (s.x - r.l)
        |  FROM r JOIN s ON s.rn = r.rn + 1)
        |SELECT s.d, CAST(s.x AS BIGINT) AS actual,
        |  ROUND(r.pred, 6) AS pred, ROUND(r.gain, 6) AS gain,
        |  ROUND(r.filt, 6) AS filt
        |FROM r JOIN s ON s.rn = r.rn WHERE r.rn >= 2
        |ORDER BY s.d""".stripMargin,

    "q304_holt_winters" -> hwOracle("CAST(a AS BIGINT)"),

    // same integer daily counts => exact prefix sums in doubles; the
    // two-segment cost is the same textual expression on both engines,
    // so the exact-equality argmin filter selects the same row(s)
    "q308_binseg" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(COUNT(*) AS DOUBLE) AS x
        |  FROM events GROUP BY 1, 2),
        |scored AS (
        |  SELECT event_type, d, x,
        |    CAST(ROW_NUMBER() OVER w AS DOUBLE) AS k,
        |    SUM(x) OVER w AS sx,
        |    SUM(x * x) OVER w AS sxx,
        |    CAST(COUNT(*) OVER t AS DOUBLE) AS n,
        |    SUM(x) OVER t AS sxt,
        |    SUM(x * x) OVER t AS sxxt
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY d),
        |    t AS (PARTITION BY event_type)),
        |cands AS (
        |  SELECT *,
        |    (sxx - sx * sx / k)
        |      + ((sxxt - sxx)
        |          - (sxt - sx) * (sxt - sx) / (n - k)) AS cost
        |  FROM scored WHERE k >= 5 AND k <= n - 5),
        |ranked AS (
        |  SELECT *, MIN(cost) OVER (PARTITION BY event_type) AS best
        |  FROM cands)
        |SELECT event_type,
        |  CAST(MAX(n) AS BIGINT) AS n_days,
        |  CAST(MIN(k) AS BIGINT) AS split_k,
        |  min_by(d, k) AS split_d,
        |  ROUND(min_by(sx / k, k), 6) AS left_mean,
        |  ROUND(min_by((sxt - sx) / (n - k), k), 6) AS right_mean,
        |  ROUND(MAX(sxxt - sxt * sxt / n), 6) AS sse_total,
        |  ROUND(min_by(cost, k), 6) AS sse_split
        |FROM ranked WHERE cost = best
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // same minimax form, same textual interval-mean expression —
    // exact integer prefix sums, identical IEEE division, running
    // min/max over identical sets => bit-identical raw-double fits
    "q309_isotonic" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(COUNT(*) AS DOUBLE) AS x
        |  FROM events GROUP BY 1, 2),
        |idx AS (
        |  SELECT event_type, d, x,
        |    CAST(ROW_NUMBER() OVER w AS DOUBLE) AS i,
        |    SUM(x) OVER w AS sx
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY d)),
        |pairs AS (
        |  SELECT a.event_type AS et, a.i AS j, b.i AS k,
        |    (b.sx - a.sx + a.x) / (b.i - a.i + 1.0) AS m
        |  FROM idx a JOIN idx b
        |    ON a.event_type = b.event_type AND a.i <= b.i),
        |g AS (
        |  SELECT et, j, k,
        |    MIN(m) OVER (PARTITION BY et, j ORDER BY k DESC) AS gm
        |  FROM pairs),
        |fit AS (SELECT et, k, MAX(gm) AS fit FROM g GROUP BY 1, 2)
        |SELECT i.event_type, i.d, CAST(i.x AS BIGINT) AS x, f.fit
        |FROM idx i JOIN fit f ON i.event_type = f.et AND i.i = f.k
        |ORDER BY i.event_type, i.d""".stripMargin,

    // integer counts until the two classical sums; each fold runs in
    // day order on both engines, and the fp term expressions are
    // textually identical, so e1/v1/chi2 match bit-for-bit
    "q310_logrank" ->
      """WITH life AS (
        |  SELECT user_id % 2 AS g,
        |    (MAX(CAST(epoch(date_trunc('second', ts)) AS BIGINT)) -
        |     MIN(CAST(epoch(date_trunc('second', ts)) AS BIGINT)))
        |      // 86400 AS t,
        |    (SELECT MAX(CAST(epoch(date_trunc('second', ts)) AS BIGINT))
        |       FROM events) -
        |      MAX(CAST(epoch(date_trunc('second', ts)) AS BIGINT))
        |      > 86400 AS observed
        |  FROM events GROUP BY user_id),
        |by_day AS (
        |  SELECT t,
        |    SUM(CASE WHEN g = 1 AND observed THEN 1 ELSE 0 END) AS d1,
        |    SUM(CASE WHEN g = 0 AND observed THEN 1 ELSE 0 END) AS d0,
        |    SUM(CASE WHEN g = 1 AND NOT observed THEN 1 ELSE 0 END)
        |      AS c1,
        |    SUM(CASE WHEN g = 0 AND NOT observed THEN 1 ELSE 0 END)
        |      AS c0
        |  FROM life GROUP BY t),
        |risk AS (
        |  SELECT t, d1 + d0 AS d,
        |    SUM(d1 + c1) OVER (ORDER BY t
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n1,
        |    SUM(d0 + c0) OVER (ORDER BY t
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n0
        |  FROM by_day),
        |death AS (
        |  SELECT t, CAST(d AS BIGINT) AS d,
        |    CAST(n1 AS BIGINT) AS n1, CAST(n1 + n0 AS BIGINT) AS n,
        |    CAST(d1 AS BIGINT) AS d1
        |  FROM (SELECT r.*, b.d1 FROM risk r
        |        JOIN by_day b USING (t)) WHERE d > 0),
        |folds AS (
        |  SELECT
        |    CAST(MAX(n) AS BIGINT) AS n_risk_first,
        |    CAST(MAX(n1) AS BIGINT) AS n1_risk_first,
        |    CAST(SUM(d1) AS BIGINT) AS o1,
        |    CAST(SUM(d) AS BIGINT) AS events_total,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      LIST(CAST(d AS DOUBLE) * CAST(n1 AS DOUBLE)
        |        / CAST(n AS DOUBLE) ORDER BY t)),
        |      (a, x) -> a + x) AS e1,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      LIST(CASE WHEN n > 1 THEN
        |          CAST(d AS DOUBLE)
        |            * (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
        |            * (1.0 - CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
        |            * (CAST(n - d AS DOUBLE) / CAST(n - 1 AS DOUBLE))
        |        ELSE 0.0 END ORDER BY t)),
        |      (a, x) -> a + x) AS v1
        |  FROM death)
        |SELECT n_risk_first, n1_risk_first, o1, events_total, e1, v1,
        |  (CAST(o1 AS DOUBLE) - e1) * (CAST(o1 AS DOUBLE) - e1) / v1
        |    AS chi2,
        |  (CAST(o1 AS DOUBLE) - e1) * (CAST(o1 AS DOUBLE) - e1) / v1
        |    > 3.841 AS significant_05
        |FROM folds""".stripMargin,

    // same exact middle-rank selection over the same deterministic
    // (slope, i, j) order; pairwise slopes are identical IEEE ratios
    // of exact integer differences, so the medians match bit-for-bit
    "q311_theil_sen" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(COUNT(*) AS DOUBLE) AS x
        |  FROM events GROUP BY 1, 2),
        |idx AS (
        |  SELECT event_type, d, x,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY d) AS DOUBLE) AS i
        |  FROM daily),
        |slopes AS (
        |  SELECT a.event_type AS et, a.i AS ia, b.i AS ib,
        |    (b.x - a.x) / (b.i - a.i) AS s
        |  FROM idx a JOIN idx b
        |    ON a.event_type = b.event_type AND a.i < b.i),
        |ranked AS (
        |  SELECT et, s,
        |    ROW_NUMBER() OVER (PARTITION BY et ORDER BY s, ia, ib)
        |      AS rn,
        |    COUNT(*) OVER (PARTITION BY et) AS m
        |  FROM slopes),
        |med AS (
        |  SELECT et, AVG(s) AS slope, MAX(m) AS n_pairs FROM ranked
        |  WHERE rn = (m + 1) // 2 OR rn = (m + 2) // 2 GROUP BY et),
        |resid AS (
        |  SELECT i.event_type, i.i, i.x - m.slope * i.i AS r,
        |    m.slope, m.n_pairs
        |  FROM idx i JOIN med m ON i.event_type = m.et),
        |rr AS (
        |  SELECT event_type, r, slope, n_pairs,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY r, i) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM resid)
        |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_days,
        |  CAST(MAX(n_pairs) AS BIGINT) AS n_pairs,
        |  MAX(slope) AS slope, AVG(r) AS intercept
        |FROM rr WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // integer S and tie sums; the closing Var S / Z / tau-b formulas
    // are the same textual fp trees on both engines
    "q312_mann_kendall" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |idx AS (
        |  SELECT event_type, x,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d)
        |      AS i
        |  FROM daily),
        |s AS (
        |  SELECT a.event_type AS et,
        |    CAST(SUM(CAST(SIGN(b.x - a.x) AS BIGINT)) AS BIGINT)
        |      AS s,
        |    CAST(COUNT(*) AS BIGINT) AS n_pairs
        |  FROM idx a JOIN idx b
        |    ON a.event_type = b.event_type AND a.i < b.i
        |  GROUP BY 1),
        |ties AS (
        |  SELECT event_type,
        |    CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |    CAST(SUM(tv) AS BIGINT) AS n,
        |    CAST(SUM(tv * (tv - 1) * (2 * tv + 5)) AS BIGINT) AS tie3,
        |    CAST(SUM(tv * (tv - 1)) AS BIGINT) AS tie2
        |  FROM (SELECT event_type, x, CAST(COUNT(*) AS BIGINT) AS tv
        |        FROM daily GROUP BY 1, 2) GROUP BY 1),
        |j AS (
        |  SELECT t.event_type, t.n, t.n_distinct, s.s, s.n_pairs,
        |    t.tie2,
        |    CAST(t.n * (t.n - 1) * (2 * t.n + 5) - t.tie3 AS DOUBLE)
        |      / 18.0 AS var_s
        |  FROM ties t JOIN s ON t.event_type = s.et)
        |SELECT event_type, n AS n_days, n_distinct, s AS s_stat,
        |  var_s,
        |  CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) / SQRT(var_s)
        |       WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) / SQRT(var_s)
        |       ELSE 0.0 END AS z,
        |  CAST(s AS DOUBLE)
        |    / SQRT((CAST(n_pairs AS DOUBLE) - CAST(tie2 AS DOUBLE)
        |        / CAST(2 AS DOUBLE))
        |      * CAST(n_pairs AS DOUBLE)) AS tau_b
        |FROM j ORDER BY event_type""".stripMargin,

    // same exact middle-rank median, same lag-comparison run count —
    // integers until the identical closing mu/sigma/Z trees
    "q315_runs_test" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |ranked AS (
        |  SELECT event_type, d, x,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY x, d) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM daily),
        |med AS (
        |  SELECT event_type AS et, AVG(CAST(x AS DOUBLE)) AS med
        |  FROM ranked
        |  WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
        |  GROUP BY 1),
        |signed AS (
        |  SELECT d.event_type, d.d,
        |    CASE WHEN CAST(d.x AS DOUBLE) > m.med THEN 1 ELSE 0 END
        |      AS s, m.med
        |  FROM daily d JOIN med m ON d.event_type = m.et
        |  WHERE CAST(d.x AS DOUBLE) <> m.med),
        |lagged AS (
        |  SELECT event_type, med, s,
        |    LAG(s) OVER (PARTITION BY event_type ORDER BY d) AS prev
        |  FROM signed),
        |agg AS (
        |  SELECT event_type, MAX(med) AS med,
        |    CAST(SUM(s) AS BIGINT) AS n1,
        |    CAST(COUNT(*) - SUM(s) AS BIGINT) AS n2,
        |    CAST(1 + SUM(CASE WHEN prev IS NOT NULL AND s <> prev
        |      THEN 1 ELSE 0 END) AS BIGINT) AS runs
        |  FROM lagged GROUP BY 1)
        |SELECT event_type, med, n1, n2, runs,
        |  1.0 + CAST(2 * n1 * n2 AS DOUBLE)
        |    / CAST(n1 + n2 AS DOUBLE) AS mu,
        |  (CAST(runs AS DOUBLE)
        |    - (1.0 + CAST(2 * n1 * n2 AS DOUBLE)
        |        / CAST(n1 + n2 AS DOUBLE)))
        |  / SQRT(CAST(2 * n1 * n2 * (2 * n1 * n2 - n1 - n2)
        |      AS DOUBLE)
        |    / CAST((n1 + n2) * (n1 + n2) * (n1 + n2 - 1) AS DOUBLE))
        |    AS z
        |FROM agg ORDER BY event_type""".stripMargin,

    // same deterministic middle-rank selection over the same exact
    // Walsh halves — no rounding needed on either side
    "q316_hodges_lehmann" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |idx AS (
        |  SELECT event_type, x,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d)
        |      AS i
        |  FROM daily),
        |walsh AS (
        |  SELECT a.event_type AS et, a.i AS ia, b.i AS ib,
        |    CAST(a.x + b.x AS DOUBLE) / 2.0 AS wv
        |  FROM idx a JOIN idx b
        |    ON a.event_type = b.event_type AND a.i <= b.i),
        |ranked AS (
        |  SELECT et, wv,
        |    ROW_NUMBER() OVER (PARTITION BY et ORDER BY wv, ia, ib)
        |      AS rn,
        |    COUNT(*) OVER (PARTITION BY et) AS m
        |  FROM walsh),
        |hl AS (
        |  SELECT et, AVG(wv) AS hl_location,
        |    CAST(MAX(m) AS BIGINT) AS n_walsh
        |  FROM ranked
        |  WHERE rn = (m + 1) // 2 OR rn = (m + 2) // 2 GROUP BY et),
        |mn AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean
        |  FROM daily GROUP BY 1)
        |SELECT m.event_type, m.n_days, h.n_walsh, h.hl_location,
        |  m.mean
        |FROM mn m JOIN hl h ON m.event_type = h.et
        |ORDER BY m.event_type""".stripMargin,

    // same integer count frame; the three decomposition sums are the
    // same ordered folds, rates the same exact integer ratios
    "q318_calibration" ->
      """WITH li AS (
        |  SELECT DATE_TRUNC('month', l_shipdate) AS g,
        |    l_returnflag = 'R' AS y,
        |    l_orderkey % 2 = 0 AS tr
        |  FROM lineitem),
        |grp AS (
        |  SELECT g,
        |    CAST(SUM(CASE WHEN tr THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_tr,
        |    CAST(SUM(CASE WHEN tr AND y THEN 1 ELSE 0 END) AS BIGINT)
        |      AS late_tr,
        |    CAST(SUM(CASE WHEN NOT tr THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_te,
        |    CAST(SUM(CASE WHEN NOT tr AND y THEN 1 ELSE 0 END)
        |      AS BIGINT) AS late_te
        |  FROM li GROUP BY g),
        |tot AS (
        |  SELECT CAST(SUM(n_te) AS BIGINT) AS nt,
        |    CAST(SUM(late_te) AS BIGINT) AS lt
        |  FROM grp),
        |scored AS (
        |  SELECT g.*, t.nt, t.lt,
        |    CAST(late_tr AS DOUBLE) / CAST(n_tr AS DOUBLE) AS p,
        |    CAST(late_te AS DOUBLE) / CAST(n_te AS DOUBLE) AS o,
        |    CAST(lt AS DOUBLE) / CAST(nt AS DOUBLE) AS obar
        |  FROM grp g CROSS JOIN tot t),
        |folds AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
        |    CAST(MAX(nt) AS BIGINT) AS n_test,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      LIST(CAST(late_te AS DOUBLE) * (p - 1.0) * (p - 1.0)
        |        + CAST(n_te - late_te AS DOUBLE) * p * p
        |        ORDER BY g)), (a, x) -> a + x) AS bsum,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      LIST(CAST(n_te AS DOUBLE) * (p - o) * (p - o)
        |        ORDER BY g)), (a, x) -> a + x) AS relsum,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      LIST(CAST(n_te AS DOUBLE) * (o - obar) * (o - obar)
        |        ORDER BY g)), (a, x) -> a + x) AS ressum,
        |    MAX(obar) AS obar
        |  FROM scored)
        |SELECT n_groups, n_test,
        |  bsum / CAST(n_test AS DOUBLE) AS brier,
        |  relsum / CAST(n_test AS DOUBLE) AS reliability,
        |  ressum / CAST(n_test AS DOUBLE) AS resolution,
        |  obar * (1.0 - obar) AS uncertainty
        |FROM folds""".stripMargin,

    // identical IEEE tree: z' = 0.2 x + 0.8 z; the band term is the
    // same 0.64-multiplication chain (never POW); mu/sigma from the
    // same exact integer sums; the flag compares the same ROUNDED
    // emitted values
    "q320_ewma_chart" ->
      """WITH RECURSIVE daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(COUNT(*) AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |s AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY d) AS INTEGER)
        |    AS rn, d, x,
        |    ABS(x - LAG(x) OVER (ORDER BY d)) AS mr
        |  FROM daily),
        |c AS (SELECT
        |    CAST(SUM(x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mu,
        |    (CAST(SUM(mr) AS DOUBLE) / CAST(COUNT(mr) AS DOUBLE))
        |      / 1.128 AS sigma
        |  FROM s),
        |r AS (
        |  SELECT 0 AS rn, mu AS z, CAST(1.0 AS DOUBLE) AS w FROM c
        |  UNION ALL
        |  SELECT s.rn,
        |    0.2 * CAST(s.x AS DOUBLE) + 0.8 * r.z,
        |    r.w * 0.64
        |  FROM r JOIN s ON s.rn = r.rn + 1)
        |SELECT s.d, s.x,
        |  ROUND(r.z, 6) AS z,
        |  ROUND(c.mu + 3.0 * c.sigma
        |    * SQRT((CAST(0.2 AS DOUBLE) / CAST(1.8 AS DOUBLE))
        |        * (1.0 - r.w)), 6) AS ucl,
        |  ROUND(c.mu - 3.0 * c.sigma
        |    * SQRT((CAST(0.2 AS DOUBLE) / CAST(1.8 AS DOUBLE))
        |        * (1.0 - r.w)), 6) AS lcl,
        |  (ROUND(r.z, 6) > ROUND(c.mu + 3.0 * c.sigma
        |      * SQRT((CAST(0.2 AS DOUBLE) / CAST(1.8 AS DOUBLE))
        |          * (1.0 - r.w)), 6)
        |    OR ROUND(r.z, 6) < ROUND(c.mu - 3.0 * c.sigma
        |      * SQRT((CAST(0.2 AS DOUBLE) / CAST(1.8 AS DOUBLE))
        |          * (1.0 - r.w)), 6)) AS outf
        |FROM r JOIN s ON s.rn = r.rn CROSS JOIN c
        |ORDER BY s.d""".stripMargin,

    // same exact-decimal per-lag ratios as q250's oracle; the
    // cumulative r^2/(n-k) fold runs in lag order through the
    // recursive CTE — identical IEEE sequence to the Spark aggregate
    "q321_ljung_box" ->
      """WITH RECURSIVE daily AS (
        |  SELECT o_orderdate AS d, CAST(COUNT(*) AS HUGEINT) AS x
        |  FROM orders GROUP BY o_orderdate),
        |s AS (SELECT ROW_NUMBER() OVER (ORDER BY d) AS rn, x
        |  FROM daily),
        |g AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS sx,
        |    SUM(x * x) AS q FROM s),
        |l AS (SELECT lag
        |  FROM (VALUES (1), (2), (3), (4), (5)) AS t(lag)),
        |p AS (SELECT l.lag,
        |    n*n*SUM(a.x*b.x) - n*sx*(SUM(a.x) + SUM(b.x))
        |      + (n - l.lag)*sx*sx AS num,
        |    n*n*q - n*sx*sx AS den, n
        |  FROM l JOIN s a ON TRUE JOIN s b ON b.rn = a.rn + l.lag
        |  CROSS JOIN g
        |  GROUP BY l.lag, n, sx, q),
        |r AS (
        |  SELECT 0 AS lag, CAST(0.0 AS DOUBLE) AS c
        |  UNION ALL
        |  SELECT p.lag, r.c
        |      + (CAST(p.num AS DOUBLE) / CAST(p.den AS DOUBLE))
        |        * (CAST(p.num AS DOUBLE) / CAST(p.den AS DOUBLE))
        |        / CAST(p.n - p.lag AS DOUBLE)
        |  FROM r JOIN p ON p.lag = r.lag + 1)
        |SELECT p.lag,
        |  ROUND(CAST(p.num AS DOUBLE) / CAST(p.den AS DOUBLE), 6)
        |    AS acf,
        |  ROUND(CAST(p.n * (p.n + 2) AS DOUBLE) * r.c, 6) AS lb_q
        |FROM r JOIN p ON p.lag = r.lag
        |ORDER BY p.lag""".stripMargin,

    // exact integer discordant-pair counts, one double division
    "q323_mcnemar" ->
      """WITH judged AS (
        |  SELECT
        |    ((n_chars >= 600) = (lang = 'en')) AS ok_a,
        |    ((text LIKE '% the %') = (lang = 'en')) AS ok_b
        |  FROM documents),
        |agg AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN ok_a AND NOT ok_b THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b,
        |    CAST(SUM(CASE WHEN NOT ok_a AND ok_b THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c
        |  FROM judged)
        |SELECT n, b, c,
        |  ROUND(CASE WHEN b + c > 0
        |    THEN CAST((ABS(b - c) - 1) * (ABS(b - c) - 1) AS DOUBLE)
        |      / CAST(b + c AS DOUBLE)
        |    ELSE 0.0 END, 6) AS chi2
        |FROM agg""".stripMargin,

    // all-integer Q statistic, one double division
    "q326_cochran_q" ->
      """WITH rules AS (
        |  SELECT
        |    CASE WHEN n_chars > 200 THEN 1 ELSE 0 END AS r1,
        |    CASE WHEN regexp_matches(text, '[0-9]') THEN 1 ELSE 0 END
        |      AS r2,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS r3
        |  FROM documents),
        |agg AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(r1) AS BIGINT) AS g1,
        |    CAST(SUM(r2) AS BIGINT) AS g2,
        |    CAST(SUM(r3) AS BIGINT) AS g3,
        |    CAST(SUM((r1 + r2 + r3) * (r1 + r2 + r3)) AS BIGINT)
        |      AS sl2
        |  FROM rules)
        |SELECT n_docs, g1, g2, g3,
        |  ROUND(CAST(2 * (3 * (g1*g1 + g2*g2 + g3*g3)
        |      - (g1 + g2 + g3) * (g1 + g2 + g3)) AS DOUBLE)
        |    / CAST(3 * (g1 + g2 + g3) - sl2 AS DOUBLE), 6) AS q_stat
        |FROM agg""".stripMargin,

    // identical scaled-integer residuals: the (nD) denominator
    // cancels in the ratio so both sums stay exact HUGEINTs
    "q322_durbin_watson" ->
      """WITH monthly AS (
        |  SELECT date_trunc('month', o_orderdate) AS m,
        |    CAST(COUNT(*) AS HUGEINT) AS x
        |  FROM orders GROUP BY 1),
        |s AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY m) AS HUGEINT)
        |    AS tt, x FROM monthly),
        |g AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(tt) AS st,
        |    SUM(x) AS sx, SUM(tt*tt) AS stt, SUM(tt*x) AS stx
        |  FROM s),
        |r AS (SELECT tt,
        |    n*(n*stt - st*st)*x - (n*stt - st*st)*sx
        |      + (n*stx - st*sx)*st - n*(n*stx - st*sx)*tt AS r,
        |    n*stx - st*sx AS nb, n*stt - st*st AS d
        |  FROM s CROSS JOIN g),
        |l AS (SELECT r, LAG(r) OVER (ORDER BY tt) AS pr, nb, d
        |  FROM r)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_months,
        |  ROUND(CAST(SUM(CASE WHEN pr IS NOT NULL
        |      THEN (r - pr) * (r - pr) END) AS DOUBLE)
        |    / CAST(SUM(r * r) AS DOUBLE), 6) AS dw,
        |  ROUND(CAST(MAX(nb) AS DOUBLE) / CAST(MAX(d) AS DOUBLE), 6)
        |    AS slope
        |FROM l""".stripMargin,

    // same exact x1e6 integer sums; Y_adj is the identical
    // correctly-rounded double expression tree
    "q381_james_stein" ->
      """WITH per AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(n_chars AS DECIMAL(38,0))) AS s,
        |    SUM(CAST(n_chars * n_chars AS DECIMAL(38,0))) AS q
        |  FROM documents GROUP BY source),
        |base AS (
        |  SELECT source, n,
        |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS m,
        |    (CAST(q AS DOUBLE) -
        |      CAST(s AS DOUBLE) * CAST(s AS DOUBLE) /
        |        CAST(n AS DOUBLE)) /
        |      CAST(n - 1 AS DOUBLE) / CAST(n AS DOUBLE) AS vm
        |  FROM per),
        |mom AS (SELECT CAST(COUNT(*) AS BIGINT) AS g,
        |    list_reduce(list(m ORDER BY source), (a, e) -> a + e)
        |      / CAST(COUNT(*) AS DOUBLE) AS mbar,
        |    list_reduce(list(vm ORDER BY source), (a, e) -> a + e)
        |      / CAST(COUNT(*) AS DOUBLE) AS vbar
        |  FROM base),
        |ssq AS (SELECT MAX(g) AS g2, MAX(mbar) AS mbar2,
        |    GREATEST(0.0, 1.0 -
        |      CAST(MAX(g) - 3 AS DOUBLE) * MAX(vbar) /
        |      list_reduce(list((m - mbar) * (m - mbar)
        |        ORDER BY source), (a, e) -> a + e)) AS b
        |  FROM base CROSS JOIN mom)
        |SELECT source, n, ROUND(m, 6) AS m_raw,
        |  ROUND(mbar2 + b * (m - mbar2), 6) AS m_shrunk,
        |  ROUND(b, 6) AS shrink_b
        |FROM base CROSS JOIN ssq ORDER BY source""".stripMargin,

    "q380_jackknife" ->
      """WITH per AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS c,
        |    SUM(CAST(n_chars AS DECIMAL(38,6))) AS s
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS ct, SUM(s) AS st,
        |  CAST(COUNT(*) AS BIGINT) AS g FROM per),
        |loo AS (
        |  SELECT source, c, g,
        |    CAST(st AS DOUBLE) / CAST(ct AS DOUBLE) AS r_full,
        |    CAST(st - s AS DOUBLE) / CAST(ct - c AS DOUBLE) AS r_loo
        |  FROM per CROSS JOIN tot),
        |rbar AS (SELECT MAX(g) AS g,
        |    list_reduce(list(r_loo ORDER BY source), (a, e) -> a + e)
        |      / CAST(MAX(g) AS DOUBLE) AS rbar FROM loo),
        |varjk AS (SELECT SQRT(
        |    list_reduce(list((r_loo - rbar) * (r_loo - rbar)
        |        ORDER BY source), (a, e) -> a + e)
        |    * CAST(MAX(loo.g) - 1 AS DOUBLE)
        |    / CAST(MAX(loo.g) AS DOUBLE)) AS jk_se
        |  FROM loo CROSS JOIN rbar)
        |SELECT source, c AS n_docs,
        |  ROUND(r_loo, 6) AS r_loo,
        |  ROUND(r_full, 6) AS r_full,
        |  ROUND(jk_se, 6) AS jk_se
        |FROM loo CROSS JOIN varjk ORDER BY source""".stripMargin,

    "q378_mde" ->
      """WITH s AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN n_chars > 200 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS k
        |  FROM documents GROUP BY source)
        |SELECT source, n, k,
        |  ROUND(CAST(k AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p,
        |  ROUND((1.959964 + 0.841621) *
        |    SQRT(2.0 * (CAST(k AS DOUBLE) / CAST(n AS DOUBLE)) *
        |      (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE)) /
        |      (CAST(n AS DOUBLE) / 2.0)), 6) AS mde
        |FROM s ORDER BY source""".stripMargin,

    "q379_wilson_ci" ->
      """WITH s AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS k
        |  FROM documents GROUP BY source),
        |b AS (SELECT source, n, k, CAST(n AS DOUBLE) AS nn,
        |    CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p
        |  FROM s)
        |SELECT source, n, k, ROUND(p, 6) AS p_en,
        |  ROUND((p + 1.959964 * 1.959964 / (2.0 * nn) -
        |    1.959964 * SQRT(p * (1.0 - p) / nn +
        |      1.959964 * 1.959964 / (4.0 * nn * nn))) /
        |    (1.0 + 1.959964 * 1.959964 / nn), 6) AS ci_lo,
        |  ROUND((p + 1.959964 * 1.959964 / (2.0 * nn) +
        |    1.959964 * SQRT(p * (1.0 - p) / nn +
        |      1.959964 * 1.959964 / (4.0 * nn * nn))) /
        |    (1.0 + 1.959964 * 1.959964 / nn), 6) AS ci_hi
        |FROM b ORDER BY source""".stripMargin,

    "q376_strat_ate" ->
      """WITH cells AS (
        |  SELECT event_type, (user_id % 2 = 1) AS treated,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(value AS DECIMAL(38,6))) AS s
        |  FROM events GROUP BY 1, 2),
        |strata AS (
        |  SELECT event_type,
        |    CAST(SUM(n) AS BIGINT) AS n_s,
        |    MAX(CASE WHEN treated THEN n END) AS n_t,
        |    MAX(CASE WHEN NOT treated THEN n END) AS n_c,
        |    CAST(MAX(CASE WHEN treated THEN s END) AS DOUBLE) /
        |      CAST(MAX(CASE WHEN treated THEN n END) AS DOUBLE)
        |      AS m_t,
        |    CAST(MAX(CASE WHEN NOT treated THEN s END) AS DOUBLE) /
        |      CAST(MAX(CASE WHEN NOT treated THEN n END) AS DOUBLE)
        |      AS m_c
        |  FROM cells GROUP BY event_type),
        |tot AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n_total
        |  FROM strata),
        |terms AS (
        |  SELECT event_type, n_s, n_t, n_c,
        |    ROUND(m_t, 6) AS m_t6, ROUND(m_c, 6) AS m_c6,
        |    ROUND(m_t - m_c, 6) AS diff,
        |    (CAST(n_s AS DOUBLE) / CAST(n_total AS DOUBLE))
        |      * (m_t - m_c) AS w
        |  FROM strata CROSS JOIN tot),
        |ate AS (SELECT ROUND(list_reduce(list(w ORDER BY event_type),
        |    (a, e) -> a + e), 6) AS strat_ate FROM terms)
        |SELECT event_type, n_s, n_t, n_c, m_t6 AS m_t, m_c6 AS m_c,
        |  diff, strat_ate
        |FROM terms CROSS JOIN ate ORDER BY event_type""".stripMargin,

    "q373_did" ->
      """WITH cells AS (
        |  SELECT (user_id % 2 = 1) AS treated,
        |    (EXTRACT(day FROM ts) > 15) AS post,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) /
        |      CAST(COUNT(*) AS DOUBLE) AS m
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT
        |    MAX(CASE WHEN NOT treated AND NOT post THEN n END)
        |      AS n_pre_c,
        |    MAX(CASE WHEN treated AND NOT post THEN n END) AS n_pre_t,
        |    MAX(CASE WHEN NOT treated AND post THEN n END)
        |      AS n_post_c,
        |    MAX(CASE WHEN treated AND post THEN n END) AS n_post_t,
        |    MAX(CASE WHEN NOT treated AND NOT post THEN m END)
        |      AS m_pre_c,
        |    MAX(CASE WHEN treated AND NOT post THEN m END) AS m_pre_t,
        |    MAX(CASE WHEN NOT treated AND post THEN m END)
        |      AS m_post_c,
        |    MAX(CASE WHEN treated AND post THEN m END) AS m_post_t
        |  FROM cells)
        |SELECT n_pre_c, n_pre_t, n_post_c, n_post_t,
        |  ROUND(m_pre_c, 6) AS m_pre_c, ROUND(m_pre_t, 6) AS m_pre_t,
        |  ROUND(m_post_c, 6) AS m_post_c,
        |  ROUND(m_post_t, 6) AS m_post_t,
        |  ROUND((m_post_t - m_pre_t) - (m_post_c - m_pre_c), 6) AS did
        |FROM w""".stripMargin,

    "q325_cuped" ->
      """WITH ev AS (
        |  SELECT user_id,
        |    ts < TIMESTAMP '2024-01-16' AS pre,
        |    CAST(CAST(value AS DECIMAL(38,6)) * 1000000
        |      AS HUGEINT) AS v6
        |  FROM events),
        |per AS (
        |  SELECT user_id,
        |    COALESCE(SUM(CASE WHEN pre THEN v6 END),
        |      CAST(0 AS HUGEINT)) AS x,
        |    COALESCE(SUM(CASE WHEN NOT pre THEN v6 END),
        |      CAST(0 AS HUGEINT)) AS y
        |  FROM ev GROUP BY user_id),
        |g AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS sx,
        |    SUM(y) AS sy, SUM(x*x) AS sxx, SUM(x*y) AS sxy
        |  FROM per)
        |SELECT user_id,
        |  ROUND(CAST(x AS DOUBLE) / 1000000.0, 6) AS x_pre,
        |  ROUND(CAST(y AS DOUBLE) / 1000000.0, 6) AS y_post,
        |  ROUND(CAST(n*sxy - sx*sy AS DOUBLE)
        |    / CAST(n*sxx - sx*sx AS DOUBLE), 6) AS theta,
        |  ROUND((CAST(y AS DOUBLE)
        |    - (CAST(n*sxy - sx*sy AS DOUBLE)
        |       / CAST(n*sxx - sx*sx AS DOUBLE))
        |      * (CAST(x AS DOUBLE)
        |         - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
        |    / 1000000.0, 6) AS y_adj
        |FROM per CROSS JOIN g ORDER BY user_id""".stripMargin,

    // exact T7/SD_p integers; the 7-value centering mean folds in
    // phase order through the recursive CTE; identical per-row trees
    "q327_seasonal_decomp" ->
      """WITH RECURSIVE daily AS (
        |  SELECT o_orderdate AS d, CAST(COUNT(*) AS HUGEINT) AS x
        |  FROM orders GROUP BY o_orderdate),
        |win AS (
        |  SELECT d, x,
        |    ROW_NUMBER() OVER (ORDER BY d) AS rn,
        |    SUM(x) OVER (ORDER BY d
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS t7,
        |    COUNT(*) OVER (ORDER BY d
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS k7
        |  FROM daily),
        |s AS (
        |  SELECT d, x, rn % 7 AS p, t7, 7 * x - t7 AS d7
        |  FROM win WHERE k7 = 7),
        |phase AS (
        |  SELECT p, SUM(d7) AS sd, CAST(COUNT(*) AS HUGEINT) AS c
        |  FROM s GROUP BY p),
        |ph AS (
        |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY p) AS INTEGER)
        |    AS prn, p, sd, c FROM phase),
        |f AS (
        |  SELECT 0 AS prn, CAST(0.0 AS DOUBLE) AS acc
        |  UNION ALL
        |  SELECT ph.prn, f.acc
        |      + CAST(ph.sd AS DOUBLE) / CAST(7 * ph.c AS DOUBLE)
        |  FROM f JOIN ph ON ph.prn = f.prn + 1),
        |m AS (SELECT acc / 7.0 AS m FROM f
        |  WHERE prn = (SELECT MAX(prn) FROM f))
        |SELECT s.d, CAST(s.x AS BIGINT) AS x,
        |  ROUND(CAST(s.t7 AS DOUBLE) / 7.0, 6) AS trend,
        |  ROUND(CAST(phase.sd AS DOUBLE)
        |    / CAST(7 * phase.c AS DOUBLE) - m.m, 6) AS seasonal,
        |  ROUND(CAST(s.x AS DOUBLE) - CAST(s.t7 AS DOUBLE) / 7.0
        |    - (CAST(phase.sd AS DOUBLE)
        |      / CAST(7 * phase.c AS DOUBLE) - m.m), 6) AS remainder
        |FROM s JOIN phase ON phase.p = s.p CROSS JOIN m
        |ORDER BY s.d""".stripMargin,

    // q161's exact quantization grid; integer partial sums per
    // (label, dim); 1/n factors cancel in the cosine, the shift
    // numerator clears denominators
    "q328_embed_drift" ->
      """WITH dims AS (
        |  SELECT label,
        |    unnest(generate_series(1, len(embedding))) AS i,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |stats AS (
        |  SELECT i, MIN(x) AS lo, MAX(x) AS hi FROM dims GROUP BY i),
        |codes AS (
        |  SELECT label, i,
        |    CAST(CASE WHEN hi = lo THEN 0
        |      ELSE LEAST(FLOOR((x - lo) / (hi - lo) * 255 + 0.5), 255)
        |    END AS HUGEINT) AS q
        |  FROM dims JOIN stats USING (i)),
        |pld AS (
        |  SELECT label, i, SUM(q) AS sl,
        |    CAST(COUNT(*) AS HUGEINT) AS nl
        |  FROM codes GROUP BY label, i),
        |gd AS (
        |  SELECT i, SUM(sl) AS sg, SUM(nl) AS ng FROM pld GROUP BY i)
        |SELECT label, CAST(MAX(nl) AS BIGINT) AS n_label,
        |  ROUND(CAST(SUM(sl * sg) AS DOUBLE)
        |    / (SQRT(CAST(SUM(sl * sl) AS DOUBLE))
        |      * SQRT(CAST(SUM(sg * sg) AS DOUBLE))), 6) AS cos_global,
        |  ROUND(SQRT(CAST(SUM((ng * sl - nl * sg) * (ng * sl - nl * sg))
        |      AS DOUBLE))
        |    / CAST(MAX(nl * ng) AS DOUBLE), 6) AS l2_shift
        |FROM pld JOIN gd USING (i)
        |GROUP BY label ORDER BY label""".stripMargin,

    // all-integer numerator/denominator, one division + sqrt
    "q329_grubbs" ->
      """WITH d AS (
        |  SELECT source, CAST(n_chars AS HUGEINT) AS x
        |  FROM documents),
        |g AS (
        |  SELECT source, CAST(COUNT(*) AS HUGEINT) AS n,
        |    SUM(x) AS sx, SUM(x * x) AS sxx
        |  FROM d GROUP BY source),
        |dev AS (
        |  SELECT d.source, g.n, g.sx, g.sxx,
        |    (g.n * d.x - g.sx) * (g.n * d.x - g.sx) AS dev2
        |  FROM d JOIN g ON g.source = d.source)
        |SELECT source, CAST(MAX(n) AS BIGINT) AS n_docs,
        |  ROUND(SQRT(CAST(MAX(dev2) * (MAX(n) - 1) AS DOUBLE)
        |    / CAST(MAX(n) * (MAX(n) * MAX(sxx) - MAX(sx) * MAX(sx))
        |        AS DOUBLE)), 6) AS g
        |FROM dev GROUP BY source ORDER BY source""".stripMargin,

    // exact scaled residuals as in q322; the quantile pick is an
    // integer order statistic; lo/hi divide exact integers by (nD)
    "q330_conformal" ->
      """WITH monthly AS (
        |  SELECT date_trunc('month', o_orderdate) AS m,
        |    CAST(COUNT(*) AS HUGEINT) AS x
        |  FROM orders GROUP BY 1),
        |s AS (SELECT m, ROW_NUMBER() OVER (ORDER BY m) AS rn,
        |    CAST(ROW_NUMBER() OVER (ORDER BY m) AS HUGEINT) AS tt, x
        |  FROM monthly),
        |tot AS (SELECT COUNT(*) AS ntot FROM s),
        |sh AS (SELECT s.*, CAST(FLOOR(ntot / 2.0) AS INTEGER) AS h
        |  FROM s CROSS JOIN tot),
        |train AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
        |    SUM(tt) AS st, SUM(x) AS sx, SUM(tt*tt) AS stt,
        |    SUM(tt*x) AS stx
        |  FROM sh WHERE rn <= h),
        |tr AS (SELECT n, sx, st, n*stx - st*sx AS nb,
        |    n*stt - st*st AS d FROM train),
        |calib AS (SELECT m, x, tt, n*d AS nd,
        |    d*sx - nb*st + n*nb*tt AS f,
        |    n*d*x - (d*sx - nb*st + n*nb*tt) AS r
        |  FROM sh CROSS JOIN tr WHERE rn > h),
        |ranked AS (SELECT *, ABS(r) AS absr,
        |    ROW_NUMBER() OVER (ORDER BY ABS(r), tt) AS rk,
        |    COUNT(*) OVER () AS mcal
        |  FROM calib),
        |q AS (SELECT absr AS qr FROM ranked
        |  WHERE rk = CAST(FLOOR((9 * (mcal + 1) + 9) / 10.0)
        |    AS INTEGER))
        |SELECT m, CAST(x AS BIGINT) AS x,
        |  ROUND(CAST(f AS DOUBLE) / CAST(nd AS DOUBLE), 6) AS yhat,
        |  ROUND(CAST(f - qr AS DOUBLE) / CAST(nd AS DOUBLE), 6)
        |    AS lo,
        |  ROUND(CAST(f + qr AS DOUBLE) / CAST(nd AS DOUBLE), 6)
        |    AS hi,
        |  absr <= qr AS covered
        |FROM ranked CROSS JOIN q ORDER BY m""".stripMargin,

    // all-integer concordance counts over the bounded monthly frame
    "q331_kendall_tau" ->
      """WITH monthly AS (
        |  SELECT date_trunc('month', o_orderdate) AS m,
        |    CAST(COUNT(*) AS BIGINT) AS x,
        |    CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |s AS (SELECT ROW_NUMBER() OVER (ORDER BY m) AS rn, x, y
        |  FROM monthly),
        |p AS (SELECT CAST(COUNT(*) AS BIGINT) AS n0,
        |    CAST(SUM(CASE WHEN (a.x < b.x AND a.y < b.y)
        |      OR (a.x > b.x AND a.y > b.y) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c,
        |    CAST(SUM(CASE WHEN (a.x < b.x AND a.y > b.y)
        |      OR (a.x > b.x AND a.y < b.y) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d,
        |    CAST(SUM(CASE WHEN a.x = b.x THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN a.y = b.y THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n2
        |  FROM s a JOIN s b ON a.rn < b.rn)
        |SELECT n0, c, d,
        |  ROUND(CAST(c - d AS DOUBLE)
        |    / SQRT(CAST((n0 - n1) * (n0 - n2) AS DOUBLE)), 6)
        |    AS tau_b
        |FROM p""".stripMargin,

    // all-integer chance-corrected agreement, one double division
    "q334_cohen_kappa" ->
      """WITH j AS (
        |  SELECT (n_chars >= 600) AS a,
        |    (text LIKE '% the %') AS b
        |  FROM documents),
        |g AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT)
        |      AS agree,
        |    CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS ap,
        |    CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS bp
        |  FROM j)
        |SELECT n, agree,
        |  ROUND(CAST(n * agree
        |      - (ap * bp + (n - ap) * (n - bp)) AS DOUBLE)
        |    / CAST(n * n
        |      - (ap * bp + (n - ap) * (n - bp)) AS DOUBLE), 6)
        |    AS kappa
        |FROM g""".stripMargin,

    // exact-order-statistic grand median; integer cells; the
    // cleared-denominator contributions fold in source order
    "q335_mood_median" ->
      """WITH d AS (SELECT source, n_chars AS x FROM documents),
        |hist AS (SELECT x, COUNT(*) AS c FROM d GROUP BY x),
        |tot AS (SELECT COUNT(*) AS n FROM d),
        |med AS (
        |  SELECT MIN(x) AS med FROM (
        |    SELECT x, SUM(c) OVER (ORDER BY x) AS cum FROM hist)
        |  CROSS JOIN tot WHERE cum * 2 >= n),
        |cells AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS rt,
        |    CAST(SUM(CASE WHEN x > med THEN 1 ELSE 0 END) AS BIGINT)
        |      AS above
        |  FROM d CROSS JOIN med GROUP BY source),
        |g AS (SELECT SUM(above) AS ca, SUM(rt - above) AS cb,
        |    SUM(rt) AS n FROM cells),
        |pc AS (
        |  SELECT source, rt, above,
        |    CAST((above * n - rt * ca) * (above * n - rt * ca)
        |        AS DOUBLE) / CAST(n * rt * ca AS DOUBLE)
        |    + CAST(((rt - above) * n - rt * cb)
        |        * ((rt - above) * n - rt * cb) AS DOUBLE)
        |      / CAST(n * rt * cb AS DOUBLE) AS contrib
        |  FROM cells CROSS JOIN g),
        |chi AS (
        |  SELECT list_reduce(
        |    list_prepend(CAST(0.0 AS DOUBLE),
        |      LIST(contrib ORDER BY source)),
        |    (a, e) -> a + e) AS chi2
        |  FROM pc)
        |SELECT source, rt, above, ROUND(contrib, 6) AS contrib,
        |  ROUND(chi2, 6) AS chi2
        |FROM pc CROSS JOIN chi ORDER BY source""".stripMargin,

    // exact pooled-variance terms, identical double trees
    "q336_effect_size" ->
      """WITH d AS (
        |  SELECT source, CAST(n_chars AS HUGEINT) AS x
        |  FROM documents),
        |m AS (
        |  SELECT source, CAST(COUNT(*) AS HUGEINT) AS n,
        |    SUM(x) AS sx, SUM(x * x) AS q
        |  FROM d GROUP BY source)
        |SELECT a.source AS src_a, b.source AS src_b,
        |  ROUND(
        |    (CAST(a.sx AS DOUBLE) / CAST(a.n AS DOUBLE)
        |      - CAST(b.sx AS DOUBLE) / CAST(b.n AS DOUBLE))
        |    / SQRT((CAST(a.n * a.q - a.sx * a.sx AS DOUBLE)
        |          / CAST(a.n AS DOUBLE)
        |        + CAST(b.n * b.q - b.sx * b.sx AS DOUBLE)
        |          / CAST(b.n AS DOUBLE))
        |      / CAST(a.n + b.n - 2 AS DOUBLE)), 6) AS cohen_d,
        |  ROUND(
        |    ((CAST(a.sx AS DOUBLE) / CAST(a.n AS DOUBLE)
        |      - CAST(b.sx AS DOUBLE) / CAST(b.n AS DOUBLE))
        |    / SQRT((CAST(a.n * a.q - a.sx * a.sx AS DOUBLE)
        |          / CAST(a.n AS DOUBLE)
        |        + CAST(b.n * b.q - b.sx * b.sx AS DOUBLE)
        |          / CAST(b.n AS DOUBLE))
        |      / CAST(a.n + b.n - 2 AS DOUBLE)))
        |    * (1.0 - 3.0 / CAST(4 * (a.n + b.n) - 9 AS DOUBLE)), 6)
        |    AS hedges_g
        |FROM m a JOIN m b ON a.source < b.source
        |ORDER BY src_a, src_b""".stripMargin,

    // same exact product-moment ratios; the partialling formula is
    // the identical double tree
    "q337_partial_corr" ->
      """WITH monthly AS (
        |  SELECT date_trunc('month', o_orderdate) AS m,
        |    CAST(COUNT(*) AS HUGEINT) AS x,
        |    CAST(COUNT(DISTINCT o_custkey) AS HUGEINT) AS y
        |  FROM orders GROUP BY 1),
        |s AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY m) AS HUGEINT)
        |    AS z, x, y FROM monthly),
        |g AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
        |    SUM(x) AS sx, SUM(y) AS sy, SUM(z) AS sz,
        |    SUM(x*x) AS qx, SUM(y*y) AS qy, SUM(z*z) AS qz,
        |    SUM(x*y) AS sxy, SUM(x*z) AS sxz, SUM(y*z) AS syz
        |  FROM s),
        |r AS (SELECT CAST(n AS BIGINT) AS n_months,
        |    CAST(n*sxy - sx*sy AS DOUBLE)
        |      / SQRT(CAST((n*qx - sx*sx) * (n*qy - sy*sy) AS DOUBLE))
        |      AS rxy,
        |    CAST(n*sxz - sx*sz AS DOUBLE)
        |      / SQRT(CAST((n*qx - sx*sx) * (n*qz - sz*sz) AS DOUBLE))
        |      AS rxz,
        |    CAST(n*syz - sy*sz AS DOUBLE)
        |      / SQRT(CAST((n*qy - sy*sy) * (n*qz - sz*sz) AS DOUBLE))
        |      AS ryz
        |  FROM g)
        |SELECT n_months, ROUND(rxy, 6) AS r_xy, ROUND(rxz, 6) AS r_xz,
        |  ROUND(ryz, 6) AS r_yz,
        |  ROUND((rxy - rxz * ryz)
        |    / SQRT((1.0 - rxz * rxz) * (1.0 - ryz * ryz)), 6)
        |    AS r_partial
        |FROM r""".stripMargin,

    // all-integer turning-point count; fixed E/Var/z double tree
    "q341_turning_points" ->
      """WITH daily AS (
        |  SELECT o_orderdate AS d, CAST(COUNT(*) AS BIGINT) AS x
        |  FROM orders GROUP BY o_orderdate),
        |w AS (SELECT x, LAG(x) OVER (ORDER BY d) AS p,
        |    LEAD(x) OVER (ORDER BY d) AS f
        |  FROM daily),
        |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN p IS NOT NULL AND f IS NOT NULL
        |      AND ((x > p AND x > f) OR (x < p AND x < f))
        |      THEN 1 ELSE 0 END) AS BIGINT) AS tp
        |  FROM w)
        |SELECT n, tp,
        |  ROUND((CAST(tp AS DOUBLE)
        |    - CAST(2 * (n - 2) AS DOUBLE) / 3.0)
        |    / SQRT(CAST(16 * n - 29 AS DOUBLE) / 90.0), 6) AS z
        |FROM g""".stripMargin,

    // exact midranks off the distinct-|d| histogram; .5-exact dyadic
    // rank sums; tie-corrected z as the identical double tree
    "q342_signed_rank" ->
      """WITH monthly AS (
        |  SELECT date_trunc('month', o_orderdate) AS m,
        |    CAST(COUNT(*) AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |s AS (SELECT ROW_NUMBER() OVER (ORDER BY m) AS rn, x
        |  FROM monthly),
        |tot AS (SELECT COUNT(*) AS nt FROM s),
        |paired AS (
        |  SELECT b.x - a.x AS dd
        |  FROM s a CROSS JOIN tot
        |  JOIN s b ON b.rn = a.rn + CAST(FLOOR(nt / 2.0) AS INTEGER)
        |  WHERE a.rn <= CAST(FLOOR(nt / 2.0) AS INTEGER)),
        |nz AS (SELECT ABS(dd) AS ad,
        |    CAST(CASE WHEN dd > 0 THEN 1 ELSE 0 END AS BIGINT) AS pos
        |  FROM paired WHERE dd <> 0),
        |hist AS (SELECT ad, CAST(COUNT(*) AS BIGINT) AS c,
        |    SUM(pos) AS cp
        |  FROM nz GROUP BY ad),
        |ranked AS (SELECT ad, c, cp,
        |    CAST(SUM(c) OVER (ORDER BY ad) - c AS DOUBLE)
        |      + CAST(c + 1 AS DOUBLE) / 2.0 AS midrank
        |  FROM hist),
        |g AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
        |    SUM(CAST(cp AS DOUBLE) * midrank) AS wplus,
        |    CAST(SUM(c * c * c - c) AS BIGINT) AS tiecorr
        |  FROM ranked)
        |SELECT n AS n_pairs, ROUND(wplus, 6) AS w_plus,
        |  ROUND((wplus - CAST(n * (n + 1) AS DOUBLE) / 4.0)
        |    / SQRT(CAST(n * (n + 1) * (2 * n + 1) AS DOUBLE) / 24.0
        |      - CAST(tiecorr AS DOUBLE) / 48.0), 6) AS z
        |FROM g""".stripMargin,

    // exact integer |difference| sums; MASE is one ratio
    "q343_mase" ->
      """WITH daily AS (
        |  SELECT o_orderdate AS d, CAST(COUNT(*) AS BIGINT) AS x
        |  FROM orders GROUP BY o_orderdate),
        |w AS (SELECT x, LAG(x, 1) OVER (ORDER BY d) AS p1,
        |    LAG(x, 7) OVER (ORDER BY d) AS p7
        |  FROM daily),
        |g AS (SELECT
        |    SUM(CASE WHEN p1 IS NOT NULL THEN ABS(x - p1) END)
        |      AS sae1,
        |    CAST(SUM(CASE WHEN p1 IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n1,
        |    SUM(CASE WHEN p7 IS NOT NULL THEN ABS(x - p7) END)
        |      AS sae7,
        |    CAST(SUM(CASE WHEN p7 IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n7
        |  FROM w)
        |SELECT n1, n7,
        |  ROUND(CAST(sae1 AS DOUBLE) / CAST(n1 AS DOUBLE), 6)
        |    AS mae_naive1,
        |  ROUND(CAST(sae7 AS DOUBLE) / CAST(n7 AS DOUBLE), 6)
        |    AS mae_snaive7,
        |  ROUND((CAST(sae7 AS DOUBLE) / CAST(n7 AS DOUBLE))
        |    / (CAST(sae1 AS DOUBLE) / CAST(n1 AS DOUBLE)), 6)
        |    AS mase
        |FROM g""".stripMargin,

    // NTILE semantics match the distributed exact ntile; all counts
    // integer, single divisions
    "q344_gain_deciles" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars,
        |    CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT)
        |      AS pos
        |  FROM documents),
        |t AS (SELECT pos,
        |    NTILE(10) OVER (ORDER BY n_chars, doc_id) AS b
        |  FROM d),
        |per AS (SELECT 11 - b AS decile,
        |    CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(pos) AS BIGINT) AS n_pos
        |  FROM t GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS nt,
        |    CAST(SUM(n_pos) AS BIGINT) AS pt FROM per),
        |c AS (SELECT per.*,
        |    CAST(SUM(n_pos) OVER (ORDER BY decile) AS BIGINT)
        |      AS cum_pos
        |  FROM per)
        |SELECT decile, n_docs, n_pos,
        |  ROUND(CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
        |    AS pos_rate,
        |  ROUND(CAST(cum_pos AS DOUBLE) / CAST(pt AS DOUBLE), 6)
        |    AS gain,
        |  ROUND((CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE))
        |    / (CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE)), 6) AS lift
        |FROM c CROSS JOIN tot ORDER BY decile""".stripMargin,

    // same cleared-denominator statistic per round; argmax removal
    // tie-broken identically (max r2, then max month index)
    "q345_esd" ->
      """WITH monthly AS (
        |  SELECT date_trunc('month', o_orderdate) AS m,
        |    CAST(COUNT(*) AS HUGEINT) AS x
        |  FROM orders GROUP BY 1),
        |s0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY m) AS HUGEINT)
        |    AS rn, x FROM monthly),
        |g1 AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS sx,
        |    SUM(x*x) AS q FROM s0),
        |d1 AS (SELECT rn, x, (n*x - sx)*(n*x - sx) AS r2, n, sx, q
        |  FROM s0 CROSS JOIN g1),
        |sel1 AS (SELECT r2 AS mr2, rn AS sel_rn FROM d1
        |  ORDER BY r2 DESC, rn DESC LIMIT 1),
        |o1 AS (SELECT 1 AS round, CAST(d1.rn AS INT) AS removed_rn,
        |    ROUND(SQRT(CAST(mr2 * (n - 1) AS DOUBLE)
        |      / CAST(n * (n * q - sx * sx) AS DOUBLE)), 6) AS g_stat
        |  FROM d1 CROSS JOIN sel1 WHERE d1.rn = sel_rn),
        |s1 AS (SELECT rn, x FROM d1 CROSS JOIN sel1
        |  WHERE d1.rn <> sel_rn),
        |g2 AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS sx,
        |    SUM(x*x) AS q FROM s1),
        |d2 AS (SELECT rn, x, (n*x - sx)*(n*x - sx) AS r2, n, sx, q
        |  FROM s1 CROSS JOIN g2),
        |sel2 AS (SELECT r2 AS mr2, rn AS sel_rn FROM d2
        |  ORDER BY r2 DESC, rn DESC LIMIT 1),
        |o2 AS (SELECT 2 AS round, CAST(d2.rn AS INT) AS removed_rn,
        |    ROUND(SQRT(CAST(mr2 * (n - 1) AS DOUBLE)
        |      / CAST(n * (n * q - sx * sx) AS DOUBLE)), 6) AS g_stat
        |  FROM d2 CROSS JOIN sel2 WHERE d2.rn = sel_rn)
        |SELECT * FROM o1 UNION ALL SELECT * FROM o2
        |ORDER BY round""".stripMargin,

    // q327's exact decomposition skeleton; the six variance sums
    // accumulate in date order through the recursive CTE
    "q346_seasonal_strength" ->
      """WITH RECURSIVE daily AS (
        |  SELECT o_orderdate AS d, CAST(COUNT(*) AS HUGEINT) AS x
        |  FROM orders GROUP BY o_orderdate),
        |win AS (
        |  SELECT d, x,
        |    ROW_NUMBER() OVER (ORDER BY d) AS rn,
        |    SUM(x) OVER (ORDER BY d
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS t7,
        |    COUNT(*) OVER (ORDER BY d
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS k7
        |  FROM daily),
        |s AS (
        |  SELECT d, x, rn % 7 AS p, t7
        |  FROM win WHERE k7 = 7),
        |phase AS (
        |  SELECT p, SUM(7 * x - t7) AS sd,
        |    CAST(COUNT(*) AS HUGEINT) AS c
        |  FROM s GROUP BY p),
        |ph AS (
        |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY p) AS INTEGER)
        |    AS prn, p, sd, c FROM phase),
        |f AS (
        |  SELECT 0 AS prn, CAST(0.0 AS DOUBLE) AS acc
        |  UNION ALL
        |  SELECT ph.prn, f.acc
        |      + CAST(ph.sd AS DOUBLE) / CAST(7 * ph.c AS DOUBLE)
        |  FROM f JOIN ph ON ph.prn = f.prn + 1),
        |m AS (SELECT acc / 7.0 AS m FROM f
        |  WHERE prn = (SELECT MAX(prn) FROM f)),
        |rows0 AS (
        |  SELECT s.d,
        |    CAST(s.x AS DOUBLE) - CAST(s.t7 AS DOUBLE) / 7.0
        |      - (CAST(phase.sd AS DOUBLE)
        |        / CAST(7 * phase.c AS DOUBLE) - m.m) AS r,
        |    CAST(s.x AS DOUBLE) - CAST(s.t7 AS DOUBLE) / 7.0 AS sr,
        |    CAST(s.x AS DOUBLE)
        |      - (CAST(phase.sd AS DOUBLE)
        |        / CAST(7 * phase.c AS DOUBLE) - m.m) AS tr
        |  FROM s JOIN phase ON phase.p = s.p CROSS JOIN m),
        |idx AS MATERIALIZED (SELECT CAST(ROW_NUMBER() OVER (ORDER BY d)
        |    AS INTEGER) AS i, r, sr, tr FROM rows0),
        |acc AS (
        |  SELECT 0 AS i, CAST(0 AS BIGINT) AS n,
        |    CAST(0.0 AS DOUBLE) AS asr, CAST(0.0 AS DOUBLE) AS aqr,
        |    CAST(0.0 AS DOUBLE) AS ass, CAST(0.0 AS DOUBLE) AS aqs,
        |    CAST(0.0 AS DOUBLE) AS ast, CAST(0.0 AS DOUBLE) AS aqt
        |  UNION ALL
        |  SELECT idx.i, acc.n + 1,
        |    acc.asr + idx.r, acc.aqr + idx.r * idx.r,
        |    acc.ass + idx.sr, acc.aqs + idx.sr * idx.sr,
        |    acc.ast + idx.tr, acc.aqt + idx.tr * idx.tr
        |  FROM acc JOIN idx ON idx.i = acc.i + 1),
        |fin AS (SELECT * FROM acc
        |  WHERE i = (SELECT MAX(i) FROM acc))
        |SELECT n AS n_days,
        |  ROUND(GREATEST(0.0, 1.0
        |    - (aqr - asr * asr / CAST(n AS DOUBLE))
        |      / (aqs - ass * ass / CAST(n AS DOUBLE))), 6)
        |    AS f_seasonal,
        |  ROUND(GREATEST(0.0, 1.0
        |    - (aqr - asr * asr / CAST(n AS DOUBLE))
        |      / (aqt - ast * ast / CAST(n AS DOUBLE))), 6)
        |    AS f_trend
        |FROM fin""".stripMargin,

    // identical prefix-sum cross terms, all integer
    "q347_energy_distance" ->
      """WITH d AS (
        |  SELECT CAST(n_chars AS HUGEINT) AS v,
        |    CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END
        |      AS HUGEINT) AS ea
        |  FROM documents),
        |hist AS (SELECT v, SUM(ea) AS a, SUM(1 - ea) AS b
        |  FROM d GROUP BY v),
        |pre AS (SELECT v, a, b,
        |    SUM(a) OVER (ORDER BY v) AS ca,
        |    SUM(b) OVER (ORDER BY v) AS cb,
        |    SUM(a * v) OVER (ORDER BY v) AS sa,
        |    SUM(b * v) OVER (ORDER BY v) AS sb
        |  FROM hist),
        |tot AS (SELECT SUM(a) AS ta, SUM(b) AS tb,
        |    SUM(a * v) AS tsa, SUM(b * v) AS tsb FROM hist),
        |g AS (SELECT
        |    SUM(a * (v * (2 * cb - tb) - 2 * sb + tsb)) AS gxy,
        |    SUM(a * (v * (2 * ca - ta) - 2 * sa + tsa)) AS gxx,
        |    SUM(b * (v * (2 * cb - tb) - 2 * sb + tsb)) AS gyy,
        |    MAX(ta) AS ta, MAX(tb) AS tb
        |  FROM pre CROSS JOIN tot)
        |SELECT CAST(ta AS BIGINT) AS n_even,
        |  CAST(tb AS BIGINT) AS n_odd,
        |  ROUND(CAST(gxy AS DOUBLE) / CAST(ta * tb AS DOUBLE), 6)
        |    AS mean_cross_dist,
        |  ROUND(2.0 * (CAST(gxy AS DOUBLE) / CAST(ta * tb AS DOUBLE))
        |    - CAST(gxx AS DOUBLE) / CAST(ta * ta AS DOUBLE)
        |    - CAST(gyy AS DOUBLE) / CAST(tb * tb AS DOUBLE), 6)
        |    AS energy_dist
        |FROM g""".stripMargin,

    // same dyadic pair cascade; exact halves at every level
    "q348_haar_wavelet" ->
      """WITH daily AS (
        |  SELECT o_orderdate AS d, CAST(COUNT(*) AS BIGINT) AS xr
        |  FROM orders GROUP BY o_orderdate),
        |s0 AS (SELECT rn, x FROM (
        |    SELECT ROW_NUMBER() OVER (ORDER BY d) AS rn,
        |      CAST(xr AS DOUBLE) AS x
        |    FROM daily) WHERE rn <= 1024),
        |t1 AS (SELECT CAST(FLOOR((rn + 1) / 2.0) AS INTEGER) AS g,
        |    rn % 2 AS par, x FROM s0),
        |p1 AS (SELECT g,
        |    (MAX(CASE WHEN par = 1 THEN x END)
        |      + MAX(CASE WHEN par = 0 THEN x END)) / 2.0 AS a,
        |    (MAX(CASE WHEN par = 1 THEN x END)
        |      - MAX(CASE WHEN par = 0 THEN x END)) / 2.0 AS dd
        |  FROM t1 GROUP BY g),
        |t2 AS (SELECT CAST(FLOOR((g + 1) / 2.0) AS INTEGER) AS g2,
        |    g % 2 AS par, a AS x FROM p1),
        |p2 AS (SELECT g2 AS g,
        |    (MAX(CASE WHEN par = 1 THEN x END)
        |      + MAX(CASE WHEN par = 0 THEN x END)) / 2.0 AS a,
        |    (MAX(CASE WHEN par = 1 THEN x END)
        |      - MAX(CASE WHEN par = 0 THEN x END)) / 2.0 AS dd
        |  FROM t2 GROUP BY g2),
        |t3 AS (SELECT CAST(FLOOR((g + 1) / 2.0) AS INTEGER) AS g3,
        |    g % 2 AS par, a AS x FROM p2),
        |p3 AS (SELECT g3 AS g,
        |    (MAX(CASE WHEN par = 1 THEN x END)
        |      + MAX(CASE WHEN par = 0 THEN x END)) / 2.0 AS a,
        |    (MAX(CASE WHEN par = 1 THEN x END)
        |      - MAX(CASE WHEN par = 0 THEN x END)) / 2.0 AS dd
        |  FROM t3 GROUP BY g3)
        |SELECT 1 AS level, CAST(COUNT(*) AS BIGINT) AS n_coef,
        |  ROUND(SUM(dd * dd), 6) AS detail_energy,
        |  ROUND(MAX(ABS(dd)), 6) AS max_abs_detail FROM p1
        |UNION ALL
        |SELECT 2, CAST(COUNT(*) AS BIGINT), ROUND(SUM(dd * dd), 6),
        |  ROUND(MAX(ABS(dd)), 6) FROM p2
        |UNION ALL
        |SELECT 3, CAST(COUNT(*) AS BIGINT), ROUND(SUM(dd * dd), 6),
        |  ROUND(MAX(ABS(dd)), 6) FROM p3
        |ORDER BY level""".stripMargin,

    // identical cleared-denominator integer sum, one division
    "q351_cvm" ->
      """WITH d AS (
        |  SELECT n_chars AS v,
        |    CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END
        |      AS HUGEINT) AS ea
        |  FROM documents),
        |hist AS (SELECT v, SUM(ea) AS a, SUM(1 - ea) AS b
        |  FROM d GROUP BY v),
        |pre AS (SELECT v, a, b,
        |    SUM(a) OVER (ORDER BY v) AS ca,
        |    SUM(b) OVER (ORDER BY v) AS cb
        |  FROM hist),
        |tot AS (SELECT SUM(a) AS n, SUM(b) AS m FROM hist),
        |g AS (SELECT
        |    SUM((a + b) * (m * ca - n * cb) * (m * ca - n * cb))
        |      AS s,
        |    MAX(n) AS n, MAX(m) AS m
        |  FROM pre CROSS JOIN tot)
        |SELECT CAST(n AS BIGINT) AS n_even,
        |  CAST(m AS BIGINT) AS n_odd,
        |  ROUND(CAST(s AS DOUBLE)
        |    / CAST(n * m * (n + m) * (n + m) AS DOUBLE), 6) AS cvm_t
        |FROM g""".stripMargin,

    // same exact block-max moments; identical fixed tree with the
    // same pi / Euler-Mascheroni literals
    "q352_gumbel_fit" ->
      """WITH daily AS (
        |  SELECT o_orderdate AS d, CAST(COUNT(*) AS HUGEINT) AS x
        |  FROM orders GROUP BY o_orderdate),
        |blocks AS (
        |  SELECT date_trunc('month', d) AS m, MAX(x) AS bm
        |  FROM daily GROUP BY 1),
        |g AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(bm) AS sx,
        |    SUM(bm * bm) AS q FROM blocks),
        |fit AS (SELECT n,
        |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        |    SQRT(CAST(n * q - sx * sx AS DOUBLE)
        |        / CAST(n * (n - 1) AS DOUBLE))
        |      * SQRT(6.0) / PI() AS beta
        |  FROM g)
        |SELECT CAST(n AS BIGINT) AS n_blocks,
        |  ROUND(mean, 6) AS block_max_mean,
        |  ROUND(mean - 0.5772156649015329 * beta, 6) AS gumbel_mu,
        |  ROUND(beta, 6) AS gumbel_beta,
        |  ROUND((mean - 0.5772156649015329 * beta)
        |    - beta * LN(-1.0 * LN(1.0 - 1.0 / 12.0)), 6)
        |    AS return_level_12mo
        |FROM fit""".stripMargin,

    // exact integer loss differentials; identical DM double tree
    "q353_diebold_mariano" ->
      """WITH daily AS (
        |  SELECT o_orderdate AS d, CAST(COUNT(*) AS BIGINT) AS x
        |  FROM orders GROUP BY o_orderdate),
        |w AS (SELECT x, LAG(x, 1) OVER (ORDER BY d) AS p1,
        |    LAG(x, 7) OVER (ORDER BY d) AS p7
        |  FROM daily),
        |dd AS (SELECT CAST(ABS(x - p1) - ABS(x - p7) AS HUGEINT)
        |    AS dd
        |  FROM w WHERE p1 IS NOT NULL AND p7 IS NOT NULL),
        |g AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(dd) AS sd,
        |    SUM(dd * dd) AS qd FROM dd)
        |SELECT CAST(n AS BIGINT) AS n_days,
        |  ROUND(CAST(sd AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    AS mean_loss_diff,
        |  ROUND((CAST(sd AS DOUBLE) / CAST(n AS DOUBLE))
        |    / SQRT((CAST(n * qd - sd * sd AS DOUBLE)
        |        / CAST(n * (n - 1) AS DOUBLE))
        |      / CAST(n AS DOUBLE)), 6) AS dm_stat
        |FROM g""".stripMargin,

    // exact integer microsecond gaps; identical CV/B trees
    "q354_burstiness" ->
      """WITH gaps AS (
        |  SELECT event_type,
        |    CAST(epoch_us(ts) - epoch_us(LAG(ts) OVER (
        |      PARTITION BY event_type ORDER BY ts, event_id))
        |      AS HUGEINT) AS g
        |  FROM events
        |  QUALIFY LAG(ts) OVER (PARTITION BY event_type
        |    ORDER BY ts, event_id) IS NOT NULL),
        |m AS (SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
        |    SUM(g) AS s, SUM(g * g) AS q
        |  FROM gaps GROUP BY event_type)
        |SELECT event_type, CAST(n AS BIGINT) AS n_gaps,
        |  ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0, 6)
        |    AS mean_gap_s,
        |  ROUND(SQRT(CAST(n * q - s * s AS DOUBLE)
        |      / CAST(n * (n - 1) AS DOUBLE))
        |    / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS cv,
        |  ROUND((SQRT(CAST(n * q - s * s AS DOUBLE)
        |      / CAST(n * (n - 1) AS DOUBLE))
        |    / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) - 1.0)
        |    / (SQRT(CAST(n * q - s * s AS DOUBLE)
        |      / CAST(n * (n - 1) AS DOUBLE))
        |    / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) + 1.0), 6)
        |    AS burstiness
        |FROM m ORDER BY event_type""".stripMargin
  )

  // Holt-Winters oracle: the same textual subexpressions as the Spark
  // fold (seasonal read = CASE over the 7 slots, new level repeated
  // verbatim in the trend and seasonal updates), assembled with the
  // same slot generator so the two engines cannot drift.
  private[queries] def hwOracle(actualSel: String): String = {
    val sidx = "CASE (s.rn - 1) % 7 WHEN 0 THEN r.s0" +
      " WHEN 1 THEN r.s1 WHEN 2 THEN r.s2 WHEN 3 THEN r.s3" +
      " WHEN 4 THEN r.s4 WHEN 5 THEN r.s5 ELSE r.s6 END"
    val lnew = s"0.3 * (s.x - ($sidx)) + 0.7 * (r.l + r.b)"
    def slot(i: Int): String =
      s"CASE WHEN (s.rn - 1) % 7 = $i THEN " +
        s"0.2 * (s.x - ($lnew)) + 0.8 * r.s$i ELSE r.s$i END"
    def initSlot(i: Int): String =
      s"(SELECT x FROM s WHERE rn = ${i + 1}) - i.l AS s$i"
    s"""WITH RECURSIVE daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS d,
       |    CAST(COUNT(*) AS DOUBLE) AS x
       |  FROM orders GROUP BY 1),
       |s AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY d) AS INTEGER)
       |    AS rn, d, x FROM daily),
       |init AS (SELECT SUM(x) / 7.0 AS l FROM s WHERE rn <= 7),
       |r AS (
       |  SELECT 7 AS rn, i.l AS l, CAST(0.0 AS DOUBLE) AS b,
       |    ${(0 until 7).map(initSlot).mkString(",\n    ")},
       |    CAST(NULL AS DOUBLE) AS fc, CAST(NULL AS DOUBLE) AS a,
       |    CAST(NULL AS DATE) AS d
       |  FROM init i
       |  UNION ALL
       |  SELECT s.rn,
       |    $lnew,
       |    0.1 * (($lnew) - r.l) + 0.9 * r.b,
       |    ${(0 until 7).map(slot).mkString(",\n    ")},
       |    r.l + r.b + ($sidx),
       |    s.x, s.d
       |  FROM r JOIN s ON s.rn = r.rn + 1)
       |SELECT d, $actualSel AS actual,
       |  ROUND(fc, 6) AS forecast, ROUND(ABS(a - fc), 6) AS abs_err
       |FROM r WHERE rn >= 8 ORDER BY d""".stripMargin
  }
}
