package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Corpus-quality / curation operators an LLM training-data pipeline
  * runs ahead of training (C4/Gopher/RefinedWeb-style rules): PII
  * redaction, sub-document dedup, deterministic splits and sampling,
  * repetition metrics, and domain-mixture accounting.
  *
  * Scale shape shared by all of them: per-row work stays inside
  * whole-stage codegen (regex/array ops over the projected token
  * array), aggregations are hash aggregates on compact keys (hashes,
  * source names), and NOTHING depends on a global sort or a
  * driver-side loop. Determinism comes from the portable
  * graft_fingerprint polynomial hash, replicated bit-for-bit by the
  * DuckDB oracles — the property that makes train/val/test membership
  * reproducible across engines and runs (the non-negotiable for
  * dataset lineage).
  */
object Quality {

  private val EmailPat = "[a-z0-9.]+@[a-z0-9.]+\\.[a-z]+"
  private val PhonePat = "\\d{3}-\\d{4}"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // PII detection + redaction. The synthetic corpus carries no PII,
    // so the query synthesizes contact strings from the customer
    // table, then runs the actual operator: count matches, replace
    // with typed placeholders. At 100 TB this is one codegen'd
    // projection pass — no shuffle at all before the presentation
    // sort.
    "q186_pii_redact" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      t.customer
        .select(col("c_custkey"),
          concat(lit("reach "), col("c_name"), lit(" at user"),
            col("c_custkey"), lit("@example.com or 555-"),
            lpad(pmod(col("c_custkey"), lit(10000)).cast("string"),
              4, "0")).as("raw"))
        .select(
          col("c_custkey"),
          regexp_count(col("raw"), lit(EmailPat)).as("n_emails"),
          regexp_count(col("raw"), lit(PhonePat)).as("n_phones"),
          regexp_replace(
            regexp_replace(col("raw"), EmailPat, "[EMAIL]"),
            PhonePat, "[PHONE]").as("redacted"))
        .orderBy(col("c_custkey"))
    },

    // Sub-document (paragraph-level) dedup: split each doc into
    // fixed 4-token blocks (the corpus has no natural paragraph
    // breaks; real pipelines split on '\n\n'), hash each block, and
    // surface blocks shared across the corpus — the C4-style "dedup
    // below document granularity" pass. Shuffle key = block hash
    // (uniform), state per key = a counter.
    "q187_paragraph_dedup" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val toks = split(col("text"), " ")
      t.documents
        .select(col("doc_id"), toks.as("toks"))
        .select(col("doc_id"), explode(transform(
          sequence(lit(0),
            ceil(size(col("toks")) / lit(4.0)).cast("int") - 1),
          b => array_join(slice(col("toks"), b * 4 + 1, lit(4)), " ")))
          .as("para"))
        .groupBy(md5(col("para")).as("para_md5"))
        .agg(count(lit(1)).as("n_occ"),
          countDistinct(col("doc_id")).as("n_docs"))
        .where(col("n_occ") >= 2)
        .orderBy(col("n_occ").desc, col("para_md5"))
        .limit(100)
    },

    // Sliding-window substring dedup (Lee et al. 2022, "Deduplicating
    // Training Data Makes Language Models Better" — duplicated spans
    // WITHIN and ACROSS documents, not just whole-doc/paragraph
    // dups). Every 12-token window gets a portable rolling hash (fold
    // of per-token fingerprints): the window stream is a per-row
    // array projection (shuffle-free fan-out, like q121 chunking),
    // duplicated hashes surface in ONE hash aggregate, and a hash
    // join back marks each doc's duplicated-window fraction — the
    // dedup-policy signal (drop/trim docs with high copied-span
    // share). At 100 TB: token-level work never shuffles (windows
    // hash per-row); the shuffles carry (hash) and (doc_id) scalars.
    "q232_window_dedup" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val wins = t.documents
        .select(col("doc_id"),
          expr("transform(filter(split(lower(text), '[^a-z0-9]+'), " +
            "t -> length(t) > 0), t -> graft_fingerprint(t))").as("tf"))
        // native one-pass window fold (value-identical to the
        // composed transform/aggregate form and the oracle; short
        // docs yield an empty array — no descending-sequence hazard)
        .select(col("doc_id"),
          explode(expr("graft_window_hashes(tf, 12)")).as("h"))
      val dupCounts = wins.groupBy(col("h"))
        .agg(count(lit(1)).as("occ"))
        .where(col("occ") > 1)
      wins
        .join(dupCounts, Seq("h"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_windows"),
          count(col("occ")).as("n_dup_windows"))
        .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
          round(col("n_dup_windows").cast("double") /
            col("n_windows").cast("double"), 6).as("dup_frac"))
        .orderBy(col("doc_id"))
    },

    // Deterministic train/val/test split (80/10/10) by portable hash
    // of the doc id: membership is a pure function of the row — same
    // split on any engine, any run, any cluster size. The split
    // column never shuffles the corpus; only the per-(source, split)
    // counters do.
    // Poisson-bootstrap confidence interval for the per-source mean
    // doc length — the resampling-uncertainty machinery that works at
    // 100 TB: classic bootstrap needs B full resamples; the Poisson
    // approximation (each row enters replica b with weight ~
    // Poisson(1)) needs ONE pass with a 32-way fan-out, weights drawn
    // deterministically by inverting the Poisson CDF on a portable
    // per-(row, replica) hash — no rand(), reproducible, identical in
    // the oracle. Per-replica means are integer-sum ratios on the
    // bounded (source x 32) frame; the CI band is the [2nd, 31st] of
    // the 32 sorted replica means (ties broken by replica id so the
    // sort is total).
    "q294_bootstrap_ci" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val cdf = Seq(0.36787944117144233, 0.7357588823428847,
        0.9196986029286058, 0.9810118431238462, 0.9963401531726563,
        0.9994058151824183, 0.9999167588507119)
      val reps = t.documents
        .select(col("doc_id"), col("source"), col("n_chars"),
          explode(array((0 until 32).map(lit(_)): _*)).as("b"))
        .withColumn("u", (pmod(expr(
            "graft_fingerprint(CAST(doc_id AS STRING) || ':' || " +
              "CAST(b AS STRING))"),
            lit(1000000L)).cast("double") + lit(0.5)) / lit(1000000.0))
        .withColumn("w", cdf.zipWithIndex.foldRight(lit(7L): org.apache.spark.sql.Column) {
          case ((thr, k), acc) => when(col("u") < thr, k.toLong).otherwise(acc)
        })
      val means = reps.groupBy(col("source"), col("b"))
        .agg(sum(col("w")).as("sw"),
          sum(col("w") * col("n_chars")).as("swx"))
        .where(col("sw") > 0)
        .select(col("source"), col("b"),
          (col("swx").cast("double") / col("sw").cast("double"))
            .as("m"))
      val ci = means.groupBy(col("source"))
        .agg(expr("array_sort(collect_list(struct(m, b)))").as("ms"))
        .select(col("source"),
          round(expr("element_at(ms, 2).m"), 6).as("ci_lo"),
          round(expr("element_at(ms, 31).m"), 6).as("ci_hi"))
      t.documents.groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sx"))
        .select(col("source"), col("n"),
          round(col("sx").cast("double") / col("n").cast("double"), 6)
            .as("mean"))
        .join(ci, Seq("source"))
        .orderBy(col("source"))
    },

    "q188_hash_split" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      t.documents
        .withColumn("bucket",
          pmod(expr("graft_fingerprint(CAST(doc_id AS STRING))"),
            lit(100L)))
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val")
            .otherwise("test"))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).as("chars"))
        .orderBy(col("source"), col("split"))
    },

    // Deterministic stratified sampling: keep ~20% of each language
    // stratum by hash threshold (NOT rand() — reproducible and
    // engine-portable). Reports per-stratum sampled size and the §5
    // exact-decimal mean length.
    "q189_stratified_sample" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      t.documents
        .where(pmod(expr("graft_fingerprint(CAST(doc_id AS STRING))"),
          lit(5L)) === 0)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"),
          (sum(col("n_chars").cast("decimal(38,6)")).cast("double") /
            count(lit(1)).cast("double")).as("mean_chars"))
        .orderBy(col("lang"))
    },

    // Exactly-k-per-group deterministic sample: the "k examples per
    // domain" curation op (few-shot pools, eval panels, per-source
    // spot checks). Selection order is the portable fingerprint —
    // reproducible across engines and runs — and the per-group winner
    // set rides the bounded graft_topk_by aggregate: k rows of state
    // per group, map-side combined, never a per-group sort/window
    // over the corpus.
    "q203_group_sample" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      t.documents
        .select(col("source"), col("doc_id"),
          expr("graft_fingerprint(CAST(doc_id AS STRING))").as("fp"))
        .groupBy(col("source"))
        .agg(expr("graft_topk_by(-fp, doc_id, doc_id, 5)").as("top"))
        .select(col("source"), explode(col("top.tie")).as("doc_id"))
        .orderBy(col("source"), col("doc_id"))
    },

    // Gopher-style repetition metrics: duplicate-token fraction and
    // most-frequent-bigram share per doc, with the quality flags a
    // filter pass would apply. Fractions are raw IEEE doubles of
    // integer counts — bit-identical across engines — so the flag
    // comparisons agree exactly.
    "q190_repetition_metrics" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val docs = t.documents
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
      val base = docs.select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tok"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"))
      val bg = docs
        .select(col("doc_id"), explode(transform(
          sequence(lit(1), size(col("toks")) - 1),
          i => concat_ws(" ", element_at(col("toks"), i),
            element_at(col("toks"), i + 1)))).as("bg"))
        .groupBy(col("doc_id"), col("bg"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(max(col("c")).as("top_bg"), sum(col("c")).as("n_bg"))
      base.join(bg, Seq("doc_id"))
        .select(col("doc_id"), col("n_tok"),
          round(lit(1.0) - col("n_distinct").cast("double") /
            col("n_tok").cast("double"), 6).as("dup_tok_frac"),
          round(col("top_bg").cast("double") /
            col("n_bg").cast("double"), 6).as("top_bigram_frac"),
          ((lit(1.0) - col("n_distinct").cast("double") /
            col("n_tok").cast("double")) > 0.7 ||
            (col("top_bg").cast("double") /
              col("n_bg").cast("double")) > 0.2).as("flagged"))
        .orderBy(col("doc_id"))
    },

    // Corpus datasheet: the standard "data card" summary a dataset
    // release ships — doc/token counts and length stats at the
    // grand-total, per-language, and per-source grains, computed in
    // ONE scan via GROUPING SETS (a single Expand + hash aggregate;
    // three separate GROUP BYs would re-read the corpus three times).
    "q198_corpus_datasheet" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      t.documents
        .select(col("lang"), col("source"), col("n_chars"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .groupingSets(Seq(Seq(), Seq(col("lang")), Seq(col("source"))),
          col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("tokens"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          (sum(col("n_chars").cast("decimal(38,6)")).cast("double") /
            count(lit(1)).cast("double")).as("mean_chars"))
        .select(
          coalesce(col("lang"), lit("<all>")).as("lang"),
          coalesce(col("source"), lit("<all>")).as("source"),
          col("n_docs"), col("tokens"), col("min_chars"),
          col("max_chars"), round(col("mean_chars"), 6).as("mean_chars"))
        .orderBy(col("lang"), col("source"))
    },

    // Single-pass column profiler (the data-exploration DESCRIBE the
    // reference's TYPEINFER sits next to): null counts, exact distinct
    // cardinalities, and numeric min/max for EVERY column of a table
    // in one scan — the multi-distinct plans as one Expand, never one
    // scan per column; the wide 1-row aggregate unstacks to a
    // column-per-row report.
    "q213_profile" -> { (spark, dir) =>
      graft.operators.ProfileOps.profile(Tables(spark, dir).customer)
    },

    // Functional-dependency discovery (TANE-style violation counting,
    // Huhtala et al. 1999) over a denormalized orders x customer
    // view — the profiling read that finds which columns determine
    // which: key-like FDs hold exactly (o_orderkey -> o_custkey;
    // c_custkey -> c_nationkey survives the join), attribute pairs
    // fail with their violating-group/row counts and the min-repair
    // confidence. One hash aggregate per candidate, group algebra on
    // the distinct-pair frame, bounded union report.
    "q377_fd_discovery" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val wide = t.orders.join(t.customer,
        col("o_custkey") === col("c_custkey"))
      graft.operators.ProfileOps.fdViolations(wide, Seq(
        "o_orderkey" -> "o_custkey",
        "o_custkey" -> "c_nationkey",
        "o_orderpriority" -> "o_orderstatus",
        "c_nationkey" -> "c_mktsegment"))
    },

    // Data-quality expectation suite (the dbt-test / Great-
    // Expectations shape as an engine operator): every rule evaluates
    // as a conditional aggregate in ONE scan of the table — a 100-TB
    // suite costs one pass, never a scan per rule. NULL rule results
    // count as violations. Fronted by GRAFT CHECK <t> RULE '<expr>'...
    "q230_quality_rules" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      graft.operators.ProfileOps.checkRules(t.lineitem, Seq(
        "qty_in_range" ->
          (col("l_quantity") >= 1 && col("l_quantity") <= 50),
        "price_positive" -> (col("l_extendedprice") > 0),
        "discount_low" -> (col("l_discount") <= 0.08),
        "flag_known" -> col("l_returnflag").isin("A", "N", "R"),
        "ship_not_null" -> col("l_shipdate").isNotNull))
        .orderBy(col("rule"))
    },

    // Domain-mixture accounting: per-source token totals, corpus
    // share, and the resampling weight to reach a uniform target mix
    // (weight = target_share / actual_share) — the bookkeeping a
    // mixture-tuning run consumes. Totals are one hash aggregate;
    // the 1-row corpus total broadcasts back.
    "q191_domain_mix" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val per = t.documents
        .select(col("source"), size(split(col("text"), " "))
          .cast("long").as("n_tok"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("toks"))
      val tot = per.agg(sum(col("toks")).as("all_toks"),
        count(lit(1)).as("n_sources"))
      per.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("toks"),
          round(col("toks").cast("double") /
            col("all_toks").cast("double"), 6).as("share"),
          round((lit(1.0) / col("n_sources").cast("double")) /
            (col("toks").cast("double") /
              col("all_toks").cast("double")), 6).as("uniform_weight"))
        .orderBy(col("source"))
    },

    // BPE tokenizer training + application (Sennrich et al. 2016).
    // Training runs on the distinct-word frequency table (ONE corpus
    // pass; round cost independent of corpus volume — see BpeOps);
    // the learned 12-merge vocabulary then tokenizes every doc as a
    // per-row fold against the broadcast merge list. Learned subword
    // counts have no SQL twin, so the driver check is the verdict
    // pattern: exact word/char counts hash-checked, plus the
    // all-true compression bound words <= subwords <= chars (BpeSpec
    // proves the merges themselves against an independent local BPE).
    "q235_bpe_tokenize" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val merges = graft.operators.BpeOps.train(
        graft.operators.BpeOps.wordCounts(t.documents, "text"), 12)
      graft.operators.BpeOps.applyBpe(t.documents, "text", merges)
        .select(col("doc_id"), col("n_words"), col("n_chars"),
          (col("n_words") <= col("n_subwords") &&
            col("n_subwords") <= col("n_chars")).as("subwords_bounded"))
        .orderBy(col("doc_id"))
    },

    // Temperature-based mixture reweighting (the multilingual
    // alpha-sampling of mT5/XLM-R: sampling share q_l ∝ p_l^alpha
    // with alpha = 0.5 flattens the language distribution so
    // low-resource languages are upsampled). alpha = 0.5 ==> sqrt,
    // which is IEEE-correctly-rounded on every engine (a general
    // pow() is not), and the q_l normalizer sums ROUNDED decimals so
    // the float result is aggregation-order independent. Two hash
    // aggregates + two 1-row broadcasts; nothing scales with corpus
    // volume but the first count.
    "q233_temperature_mix" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val counts = t.documents.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"))
      val tot = counts.agg(sum(col("n_docs")).as("n_total"))
      val scored = counts.crossJoin(broadcast(tot))
        .withColumn("share",
          col("n_docs").cast("double") / col("n_total").cast("double"))
        .withColumn("w_raw",
          round(sqrt(col("share")), 6).cast("decimal(38,6)"))
      val denom = scored.agg(sum(col("w_raw")).as("w_sum"))
      val wd = col("w_raw").cast("double") / col("w_sum").cast("double")
      scored.crossJoin(broadcast(denom))
        .select(col("lang"), col("n_docs"),
          round(col("share"), 6).as("share"),
          round(wd, 6).as("weight"),
          round(wd / col("share"), 6).as("boost"))
        .orderBy(col("lang"))
    },

    // FineWeb/RefinedWeb-style filter CASCADE with funnel accounting:
    // five sequential gates (length, mean word length, stopword
    // ratio, distinct-token ratio, exact dedup keep-first) where a
    // doc reaches stage k only having passed 1..k-1; the report is
    // one row per stage — docs in, docs surviving, tokens dropped —
    // the dataset-shrinkage datasheet every curation run publishes.
    // Scale shape: all per-doc flags are ONE codegen projection over
    // a single tokenize; the only shuffle is the md5-keyed dedup
    // window; the funnel itself is a 1-row aggregate STACKed to 5
    // presentation rows. All measures are integer counts/sums — the
    // hash match is exact.
    "q248_filter_funnel" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val arr = split(col("text"), " ")
      val flags = t.documents
        .select(col("doc_id"), col("text"),
          size(arr).cast("long").as("ntok"),
          length(col("text")).cast("long").as("nchr"),
          size(expr("filter(split(text, ' '), x -> x = 'the' OR x = 'a')"))
            .cast("long").as("nstop"),
          size(array_distinct(arr)).cast("long").as("ndist"))
        .withColumn("p1", col("ntok").between(20, 400))
        .withColumn("p2",
          ((col("nchr") - col("ntok") + 1).cast("double")
            / col("ntok").cast("double")).between(2.5, 8.0))
        .withColumn("p3",
          col("nstop").cast("double") / col("ntok").cast("double")
            >= 0.02)
        .withColumn("p4",
          col("ndist").cast("double") / col("ntok").cast("double")
            >= 0.4)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(col("text")))
      val staged = flags
        .withColumn("keeper",
          min(when(col("p1") && col("p2") && col("p3") && col("p4"),
            col("doc_id"))).over(w))
        .withColumn("p5", col("doc_id") === col("keeper"))
      def drop0(c: org.apache.spark.sql.Column) = coalesce(c, lit(0L))
      val a = staged.agg(
        count(lit(1)).as("in1"),
        drop0(sum(when(col("p1"), 1L))).as("o1"),
        drop0(sum(when(col("p1") && col("p2"), 1L))).as("o2"),
        drop0(sum(when(col("p1") && col("p2") && col("p3"), 1L)))
          .as("o3"),
        drop0(sum(when(col("p1") && col("p2") && col("p3") && col("p4"),
          1L))).as("o4"),
        drop0(sum(when(col("p1") && col("p2") && col("p3") && col("p4")
          && col("p5"), 1L))).as("o5"),
        drop0(sum(when(!col("p1"), col("ntok")))).as("t1"),
        drop0(sum(when(col("p1") && !col("p2"), col("ntok")))).as("t2"),
        drop0(sum(when(col("p1") && col("p2") && !col("p3"),
          col("ntok")))).as("t3"),
        drop0(sum(when(col("p1") && col("p2") && col("p3") && !col("p4"),
          col("ntok")))).as("t4"),
        drop0(sum(when(col("p1") && col("p2") && col("p3") && col("p4")
          && !col("p5"), col("ntok")))).as("t5"))
      a.selectExpr(
        """stack(5,
          |  1, 'length',          in1, o1, t1,
          |  2, 'mean_word_len',   o1,  o2, t2,
          |  3, 'stopword_ratio',  o2,  o3, t3,
          |  4, 'distinct_ratio',  o3,  o4, t4,
          |  5, 'exact_dedup',     o4,  o5, t5)
          |AS (stage_id, stage, docs_in, docs_out, tokens_dropped)"""
          .stripMargin)
        .orderBy(col("stage_id"))
    }
  )

  def oracle: Map[String, String] = Map(
    // same five sequential gates; SUMs cast to BIGINT (HUGEINT would
    // come back float64 from the driver's .df())
    "q248_filter_funnel" ->
      """WITH base AS (SELECT doc_id, text,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
        |    CAST(LENGTH(text) AS BIGINT) AS nchr,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> x = 'the' OR x = 'a')) AS BIGINT) AS nstop,
        |    CAST(len(list_distinct(string_split(text, ' ')))
        |      AS BIGINT) AS ndist
        |  FROM documents),
        |f AS (SELECT doc_id, text, ntok,
        |    (ntok BETWEEN 20 AND 400) AS p1,
        |    (CAST(nchr - ntok + 1 AS DOUBLE) / CAST(ntok AS DOUBLE)
        |      BETWEEN 2.5 AND 8.0) AS p2,
        |    (CAST(nstop AS DOUBLE) / CAST(ntok AS DOUBLE) >= 0.02)
        |      AS p3,
        |    (CAST(ndist AS DOUBLE) / CAST(ntok AS DOUBLE) >= 0.4)
        |      AS p4
        |  FROM base),
        |k AS (SELECT *,
        |    doc_id = MIN(CASE WHEN p1 AND p2 AND p3 AND p4
        |      THEN doc_id END) OVER (PARTITION BY md5(text)) AS p5
        |  FROM f),
        |a AS (SELECT COUNT(*) AS in1,
        |    CAST(COALESCE(SUM(CASE WHEN p1 THEN 1 END), 0) AS BIGINT)
        |      AS o1,
        |    CAST(COALESCE(SUM(CASE WHEN p1 AND p2 THEN 1 END), 0)
        |      AS BIGINT) AS o2,
        |    CAST(COALESCE(SUM(CASE WHEN p1 AND p2 AND p3 THEN 1 END),
        |      0) AS BIGINT) AS o3,
        |    CAST(COALESCE(SUM(CASE WHEN p1 AND p2 AND p3 AND p4
        |      THEN 1 END), 0) AS BIGINT) AS o4,
        |    CAST(COALESCE(SUM(CASE WHEN p1 AND p2 AND p3 AND p4
        |      AND COALESCE(p5, FALSE) THEN 1 END), 0) AS BIGINT) AS o5,
        |    CAST(COALESCE(SUM(CASE WHEN NOT p1 THEN ntok END), 0)
        |      AS BIGINT) AS t1,
        |    CAST(COALESCE(SUM(CASE WHEN p1 AND NOT p2 THEN ntok END),
        |      0) AS BIGINT) AS t2,
        |    CAST(COALESCE(SUM(CASE WHEN p1 AND p2 AND NOT p3
        |      THEN ntok END), 0) AS BIGINT) AS t3,
        |    CAST(COALESCE(SUM(CASE WHEN p1 AND p2 AND p3 AND NOT p4
        |      THEN ntok END), 0) AS BIGINT) AS t4,
        |    CAST(COALESCE(SUM(CASE WHEN p1 AND p2 AND p3 AND p4
        |      AND NOT COALESCE(p5, FALSE) THEN ntok END), 0)
        |      AS BIGINT) AS t5
        |  FROM k)
        |SELECT 1 AS stage_id, 'length' AS stage, in1 AS docs_in,
        |  o1 AS docs_out, t1 AS tokens_dropped FROM a
        |UNION ALL SELECT 2, 'mean_word_len', o1, o2, t2 FROM a
        |UNION ALL SELECT 3, 'stopword_ratio', o2, o3, t3 FROM a
        |UNION ALL SELECT 4, 'distinct_ratio', o3, o4, t4 FROM a
        |UNION ALL SELECT 5, 'exact_dedup', o4, o5, t5 FROM a
        |ORDER BY stage_id""".stripMargin,

    "q230_quality_rules" ->
      """WITH agg AS (SELECT COUNT(*) AS n,
        |  SUM(CASE WHEN COALESCE(l_quantity >= 1 AND l_quantity <= 50,
        |    FALSE) THEN 0 ELSE 1 END) AS v_qty,
        |  SUM(CASE WHEN COALESCE(l_extendedprice > 0, FALSE)
        |    THEN 0 ELSE 1 END) AS v_price,
        |  SUM(CASE WHEN COALESCE(l_discount <= 0.08, FALSE)
        |    THEN 0 ELSE 1 END) AS v_disc,
        |  SUM(CASE WHEN COALESCE(l_returnflag IN ('A','N','R'), FALSE)
        |    THEN 0 ELSE 1 END) AS v_flag,
        |  SUM(CASE WHEN l_shipdate IS NOT NULL THEN 0 ELSE 1 END)
        |    AS v_ship
        |  FROM lineitem)
        |SELECT r.rule, a.n AS n_rows,
        |  CAST(CASE r.rule
        |    WHEN 'qty_in_range' THEN a.v_qty
        |    WHEN 'price_positive' THEN a.v_price
        |    WHEN 'discount_low' THEN a.v_disc
        |    WHEN 'flag_known' THEN a.v_flag
        |    ELSE a.v_ship END AS BIGINT) AS n_violations,
        |  ROUND(CAST(CASE r.rule
        |    WHEN 'qty_in_range' THEN a.v_qty
        |    WHEN 'price_positive' THEN a.v_price
        |    WHEN 'discount_low' THEN a.v_disc
        |    WHEN 'flag_known' THEN a.v_flag
        |    ELSE a.v_ship END AS DOUBLE) / CAST(a.n AS DOUBLE), 6)
        |    AS violation_rate,
        |  CASE r.rule
        |    WHEN 'qty_in_range' THEN a.v_qty
        |    WHEN 'price_positive' THEN a.v_price
        |    WHEN 'discount_low' THEN a.v_disc
        |    WHEN 'flag_known' THEN a.v_flag
        |    ELSE a.v_ship END = 0 AS passed
        |FROM agg a CROSS JOIN (VALUES ('qty_in_range'),
        |  ('price_positive'), ('discount_low'), ('flag_known'),
        |  ('ship_not_null')) AS r(rule)
        |ORDER BY r.rule""".stripMargin,
    "q186_pii_redact" ->
      """WITH raw AS (SELECT c_custkey,
        |    'reach ' || c_name || ' at user' || c_custkey ||
        |    '@example.com or 555-' ||
        |    lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') AS raw
        |  FROM customer)
        |SELECT c_custkey,
        |  CAST(len(regexp_extract_all(raw,
        |    '[a-z0-9.]+@[a-z0-9.]+\.[a-z]+')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(raw, '\d{3}-\d{4}')) AS INT)
        |    AS n_phones,
        |  regexp_replace(regexp_replace(raw,
        |    '[a-z0-9.]+@[a-z0-9.]+\.[a-z]+', '[EMAIL]', 'g'),
        |    '\d{3}-\d{4}', '[PHONE]', 'g') AS redacted
        |FROM raw ORDER BY c_custkey""".stripMargin,

    "q235_bpe_tokenize" ->
      """WITH tk AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(LOWER(text),
        |      '[^a-z0-9]+'), x -> LENGTH(x) > 0) AS tk
        |  FROM documents)
        |SELECT doc_id, CAST(len(tk) AS INT) AS n_words,
        |  CAST(COALESCE(list_sum(list_transform(tk,
        |    t -> LENGTH(t))), 0) AS INT) AS n_chars,
        |  TRUE AS subwords_bounded
        |FROM tk ORDER BY doc_id""".stripMargin,

    "q233_temperature_mix" ->
      """WITH c AS (SELECT lang, COUNT(*) AS n_docs
        |  FROM documents GROUP BY lang),
        |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM c),
        |s AS (SELECT lang, n_docs,
        |    CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE) AS share,
        |    CAST(ROUND(sqrt(CAST(n_docs AS DOUBLE) /
        |      CAST(n_total AS DOUBLE)), 6) AS DECIMAL(38,6)) AS w_raw
        |  FROM c CROSS JOIN t),
        |d AS (SELECT SUM(w_raw) AS w_sum FROM s)
        |SELECT lang, n_docs, ROUND(share, 6) AS share,
        |  ROUND(CAST(w_raw AS DOUBLE) / CAST(w_sum AS DOUBLE), 6)
        |    AS weight,
        |  ROUND((CAST(w_raw AS DOUBLE) / CAST(w_sum AS DOUBLE)) /
        |    share, 6) AS boost
        |FROM s CROSS JOIN d ORDER BY lang""".stripMargin,

    // same token fingerprint fold as q225's oracle; window hash =
    // fold of the 12 per-token fingerprints; range(1, n-10) is empty
    // for docs under 12 tokens (they emit no windows on either side)
    "q232_window_dedup" ->
      """WITH tf AS (SELECT doc_id,
        |    list_transform(
        |      list_filter(regexp_split_to_array(LOWER(text),
        |        '[^a-z0-9]+'), x -> LENGTH(x) > 0),
        |      t -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(string_split(SUBSTRING(t, 1, 256), ''),
        |          c -> CAST(ascii(c) AS BIGINT))),
        |        (h, c) -> (h * 31 + c) % 1000000000000000)) AS tf
        |  FROM documents),
        |wins AS (SELECT doc_id, unnest(
        |    list_transform(range(1, GREATEST(len(tf) - 10, 1)), i ->
        |      list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        tf[i : i + 11]),
        |        (h, f) -> (h * 31 + f) % 1000000000000000))) AS h
        |  FROM tf),
        |dup AS (SELECT h FROM wins GROUP BY h HAVING COUNT(*) > 1)
        |SELECT w.doc_id, COUNT(*) AS n_windows,
        |  COUNT(d.h) AS n_dup_windows,
        |  ROUND(CAST(COUNT(d.h) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE),
        |    6) AS dup_frac
        |FROM wins w LEFT JOIN dup d USING (h)
        |GROUP BY w.doc_id ORDER BY w.doc_id""".stripMargin,

    "q187_paragraph_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents),
        |b AS (SELECT doc_id,
        |    unnest(range(0, CAST(ceil(len(toks) / 4.0) AS INT))) AS bi,
        |    toks
        |  FROM t),
        |p AS (SELECT doc_id,
        |    array_to_string(toks[bi*4+1 : bi*4+4], ' ') AS para
        |  FROM b)
        |SELECT md5(para) AS para_md5, COUNT(*) AS n_occ,
        |  COUNT(DISTINCT doc_id) AS n_docs
        |FROM p GROUP BY 1 HAVING COUNT(*) >= 2
        |ORDER BY n_occ DESC, para_md5 LIMIT 100""".stripMargin,

    // same portable hash -> uniform -> inverse Poisson CDF weights;
    // the CI band sorts (mean, replica) pairs exactly like array_sort
    "q294_bootstrap_ci" ->
      """WITH reps AS (
        |  SELECT d.source, d.n_chars, b.b,
        |    (CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(
        |        CAST(d.doc_id AS VARCHAR) || ':' ||
        |          CAST(b.b AS VARCHAR), ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (a, c) -> (a * 31 + c) % 1000000000000000) % 1000000
        |      AS DOUBLE) + 0.5) / 1000000.0 AS u
        |  FROM documents d,
        |    (SELECT unnest(range(0, 32)) AS b) b),
        |w AS (SELECT source, n_chars, b,
        |    CASE WHEN u < 0.36787944117144233 THEN 0
        |      WHEN u < 0.7357588823428847 THEN 1
        |      WHEN u < 0.9196986029286058 THEN 2
        |      WHEN u < 0.9810118431238462 THEN 3
        |      WHEN u < 0.9963401531726563 THEN 4
        |      WHEN u < 0.9994058151824183 THEN 5
        |      WHEN u < 0.9999167588507119 THEN 6
        |      ELSE 7 END AS w
        |  FROM reps),
        |means AS (
        |  SELECT source, b,
        |    CAST(CAST(SUM(w * n_chars) AS BIGINT) AS DOUBLE)
        |      / CAST(CAST(SUM(w) AS BIGINT) AS DOUBLE) AS m
        |  FROM w GROUP BY source, b
        |  HAVING SUM(w) > 0),
        |ci AS (
        |  SELECT source, LIST(m ORDER BY m, b) AS ms
        |  FROM means GROUP BY source),
        |base AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
        |    ROUND(CAST(CAST(SUM(n_chars) AS BIGINT) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE), 6) AS mean
        |  FROM documents GROUP BY source)
        |SELECT base.source, base.n, base.mean,
        |  ROUND(ms[2], 6) AS ci_lo, ROUND(ms[31], 6) AS ci_hi
        |FROM base JOIN ci ON base.source = ci.source
        |ORDER BY base.source""".stripMargin,

    "q188_hash_split" ->
      """WITH h AS (SELECT source, n_chars,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(CAST(doc_id AS VARCHAR), ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (a, c) -> (a * 31 + c) % 1000000000000000) % 100
        |      AS bucket
        |  FROM documents),
        |s AS (SELECT source, n_chars,
        |    CASE WHEN bucket < 80 THEN 'train'
        |      WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
        |  FROM h)
        |SELECT source, split, COUNT(*) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM s GROUP BY source, split
        |ORDER BY source, split""".stripMargin,

    "q189_stratified_sample" ->
      """WITH h AS (SELECT lang, n_chars,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(CAST(doc_id AS VARCHAR), ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (a, c) -> (a * 31 + c) % 1000000000000000) % 5 AS b
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n_sampled,
        |  CAST(SUM(CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS mean_chars
        |FROM h WHERE b = 0 GROUP BY lang ORDER BY lang""".stripMargin,

    "q203_group_sample" ->
      """WITH h AS (SELECT source, doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(CAST(doc_id AS VARCHAR), ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (a, c) -> (a * 31 + c) % 1000000000000000) AS fp
        |  FROM documents),
        |r AS (SELECT source, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY fp, doc_id) AS rk
        |  FROM h)
        |SELECT source, doc_id FROM r WHERE rk <= 5
        |ORDER BY source, doc_id""".stripMargin,

    "q190_repetition_metrics" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents),
        |base AS (SELECT doc_id, len(toks) AS n_tok,
        |    len(list_distinct(toks)) AS n_distinct FROM t),
        |bg AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(toks)),
        |      i -> toks[i] || ' ' || toks[i+1])) AS bg
        |  FROM t),
        |bc AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY 1, 2),
        |bm AS (SELECT doc_id, MAX(c) AS top_bg, SUM(c) AS n_bg
        |  FROM bc GROUP BY doc_id)
        |SELECT base.doc_id, CAST(n_tok AS BIGINT) AS n_tok,
        |  ROUND(1.0 - CAST(n_distinct AS DOUBLE)
        |    / CAST(n_tok AS DOUBLE), 6) AS dup_tok_frac,
        |  ROUND(CAST(top_bg AS DOUBLE) / CAST(n_bg AS DOUBLE), 6)
        |    AS top_bigram_frac,
        |  ((1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_tok AS DOUBLE))
        |      > 0.7
        |    OR (CAST(top_bg AS DOUBLE) / CAST(n_bg AS DOUBLE)) > 0.2)
        |    AS flagged
        |FROM base JOIN bm ON base.doc_id = bm.doc_id
        |ORDER BY base.doc_id""".stripMargin,

    "q198_corpus_datasheet" ->
      """SELECT COALESCE(lang, '<all>') AS lang,
        |  COALESCE(source, '<all>') AS source,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens,
        |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
        |  ROUND(CAST(SUM(CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS mean_chars
        |FROM documents
        |GROUP BY GROUPING SETS ((), (lang), (source))
        |ORDER BY lang, source""".stripMargin,

    "q377_fd_discovery" ->
      """WITH wide AS (
        |  SELECT * FROM orders JOIN customer
        |  ON o_custkey = c_custkey),
        |fd AS (
        |  SELECT 'o_orderkey' AS lhs, 'o_custkey' AS rhs,
        |    CAST(o_orderkey AS VARCHAR) AS l,
        |    CAST(o_custkey AS VARCHAR) AS r
        |  FROM wide
        |  UNION ALL
        |  SELECT 'o_custkey', 'c_nationkey',
        |    CAST(o_custkey AS VARCHAR),
        |    CAST(c_nationkey AS VARCHAR) FROM wide
        |  UNION ALL
        |  SELECT 'o_orderpriority', 'o_orderstatus',
        |    o_orderpriority, o_orderstatus FROM wide
        |  UNION ALL
        |  SELECT 'c_nationkey', 'c_mktsegment',
        |    CAST(c_nationkey AS VARCHAR), c_mktsegment FROM wide),
        |pairs AS (
        |  SELECT lhs, rhs, l, r, COUNT(*) AS n
        |  FROM fd GROUP BY lhs, rhs, l, r),
        |groups AS (
        |  SELECT lhs, rhs, l, COUNT(*) AS n_rhs,
        |    SUM(n) AS n_rows, MAX(n) AS n_majority
        |  FROM pairs GROUP BY lhs, rhs, l)
        |SELECT lhs, rhs,
        |  CAST(COUNT(*) AS BIGINT) AS n_groups,
        |  CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_violating_groups,
        |  CAST(SUM(n_rows - n_majority) AS BIGINT)
        |    AS n_violating_rows,
        |  SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) = 0 AS holds,
        |  ROUND(1.0 - CAST(SUM(n_rows - n_majority) AS DOUBLE) /
        |    CAST(SUM(n_rows) AS DOUBLE), 6) AS confidence
        |FROM groups GROUP BY lhs, rhs ORDER BY lhs, rhs""".stripMargin,

    "q213_profile" ->
      """WITH a AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nn1,
        |    COUNT(DISTINCT c_custkey) AS nd1,
        |    CAST(MIN(c_custkey) AS DOUBLE) AS mn1,
        |    CAST(MAX(c_custkey) AS DOUBLE) AS mx1,
        |    CAST(SUM(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nn2,
        |    COUNT(DISTINCT c_name) AS nd2,
        |    CAST(SUM(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nn3,
        |    COUNT(DISTINCT c_nationkey) AS nd3,
        |    CAST(MIN(c_nationkey) AS DOUBLE) AS mn3,
        |    CAST(MAX(c_nationkey) AS DOUBLE) AS mx3,
        |    CAST(SUM(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nn4,
        |    COUNT(DISTINCT c_acctbal) AS nd4,
        |    CAST(MIN(c_acctbal) AS DOUBLE) AS mn4,
        |    CAST(MAX(c_acctbal) AS DOUBLE) AS mx4,
        |    CAST(SUM(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nn5,
        |    COUNT(DISTINCT c_mktsegment) AS nd5
        |  FROM customer)
        |SELECT 'c_custkey' AS col_name, nn1 AS n_nulls, nd1 AS n_distinct,
        |  mn1 AS min_num, mx1 AS max_num FROM a
        |UNION ALL SELECT 'c_name', nn2, nd2, NULL, NULL FROM a
        |UNION ALL SELECT 'c_nationkey', nn3, nd3, mn3, mx3 FROM a
        |UNION ALL SELECT 'c_acctbal', nn4, nd4, mn4, mx4 FROM a
        |UNION ALL SELECT 'c_mktsegment', nn5, nd5, NULL, NULL FROM a
        |ORDER BY col_name""".stripMargin,

    "q191_domain_mix" ->
      """WITH per AS (SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS toks
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(SUM(toks) AS BIGINT) AS all_toks,
        |    COUNT(*) AS n_sources FROM per)
        |SELECT source, n_docs, toks,
        |  ROUND(CAST(toks AS DOUBLE) / CAST(all_toks AS DOUBLE), 6)
        |    AS share,
        |  ROUND((1.0 / CAST(n_sources AS DOUBLE))
        |    / (CAST(toks AS DOUBLE) / CAST(all_toks AS DOUBLE)), 6)
        |    AS uniform_weight
        |FROM per CROSS JOIN tot ORDER BY source""".stripMargin
  )
}
