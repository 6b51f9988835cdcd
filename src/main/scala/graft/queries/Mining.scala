package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.DedupOps

/** Pattern-mining, record-linkage, and inference operators: market-
  * basket association rules, blocked edit-distance fuzzy matching,
  * SCD type-2 history reconstruction, triangle counting / clustering
  * coefficients over the near-dup graph, and two-proportion z-tests.
  *
  * Scale shape shared by all of them: candidate generation is always
  * blocked/bounded before any pairwise work (baskets are bounded per
  * order, fuzzy candidates come from selective segment keys, the
  * near-dup edge list is LSH-bucket-capped upstream), aggregations are
  * hash aggregates on compact keys, and pairwise statistics join
  * against broadcast-size per-group summary tables.
  */
object Mining {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Length-2 sequential pattern support (PrefixSpan's first level)
    // over per-user event streams: a user supports A->B when some
    // A-event precedes some B-event in event time — which reduces to
    // first_ts(A) < last_ts(B) over the per-(user, type) summary, so
    // the fact collapses in ONE aggregate to a frame of at most
    // |users| x |event types| rows carrying two timestamps each. The
    // per-user pair join then fans out at most |types|^2 = 25 rows
    // per user — bounded, never the per-event quadratic a naive
    // subsequence join would be. A->A support = users with two
    // A-events at distinct timestamps (same-ts duplicates don't
    // count; ordering between equal timestamps is not observable).
    "q291_seq_patterns" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      graft.operators.SeqPatternOps.seqPatterns(
        t.events, "user_id", "ts", "event_type")
    },

    // Phonetic-blocked record linkage: corrupted part names (one char
    // deleted at a key-dependent position) are linked back to the
    // clean catalog by SOUNDEX blocking + Jaro-Winkler scoring. The
    // phonetic code is graft's own deterministic soundex chain
    // (upper/strip -> H/W-silent -> consonant digits -> adjacent
    // dedup -> vowel-separator removal -> pad to 4), built from the
    // SAME upper/translate/regexp primitives in both engines, so the
    // block keys agree bit-for-bit; the score is the native codegen'd
    // graft_jaro_winkler expression, arithmetic-order-pinned to
    // DuckDB's jaro_winkler_similarity (verified bit-identical over
    // 17k random pairs), so raw doubles hash-match with no tolerance.
    // Scale shape: linkage runs at DICTIONARY scale — both sides are
    // distinct-name frames (bounded by vocabulary, not corpus), the
    // clean roster broadcasts, and per-block candidate sets are
    // bounded by the phonetic-code fan-out, never all-pairs.
    "q272_phonetic_link" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val dirty = t.part
        .select(col("p_name"),
          pmod(col("p_partkey"), length(col("p_name"))).as("pos"))
        .distinct()
        .select(concat(expr("substr(p_name, 1, pos)"),
          expr("substr(p_name, pos + 2)")).as("dname"))
      graft.operators.LinkOps.phoneticLink(
        dirty, "dname", t.part, "p_name", 0.85)
    },

    // Market-basket association rules (support / confidence / lift)
    // over orders-as-baskets of part brands. Pair generation is the
    // CAPPED a < b projection of each basket's sorted item array
    // (BasketOps — bounded per-task fan-out even on adversarial
    // basket sizes); the per-brand count table (25 rows) and the
    // 1-row basket total broadcast into the scoring join. At 100 TB
    // the only big shuffle is the (orderkey, brand) distinct —
    // exactly one pass over the fact.
    "q205_basket_lift" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      // One shuffle builds the baskets (sorted distinct brand sets per
      // order); totals, per-brand counts, AND all a<b co-occurrence
      // pairs then derive from zero-shuffle array projections — the
      // self-join-on-orderkey formulation would shuffle the fact a
      // second time for the same pairs.
      val baskets = t.lineitem.select(col("l_orderkey").as("ok"),
          col("l_partkey"))
        .join(t.part.select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("ok"))
        .agg(sort_array(collect_set(col("p_brand"))).as("brands"))
      // scoped cache: read 3 ways — total, brand counts, pair stream
      graft.operators.CacheScope.scoped(baskets)
      val tot = baskets.agg(count(lit(1)).as("n"))
      val bc = baskets.select(explode(col("brands")).as("brand"))
        .groupBy(col("brand")).agg(count(lit(1)).as("cnt"))
      // pair fan-out is CAPPED per basket (BasketOps: first 256 sorted
      // items + dropped-count accounting) so one adversarially huge
      // basket can never blow up a single task; inactive on TPC-H
      val co = graft.operators.BasketOps.pairs(baskets, "brands")
        .groupBy(col("a").as("brand_a"), col("b").as("brand_b"))
        .agg(count(lit(1)).as("n_co"))
      co
        .join(broadcast(bc.select(col("brand").as("brand_a"),
          col("cnt").as("cnt_a"))), Seq("brand_a"))
        .join(broadcast(bc.select(col("brand").as("brand_b"),
          col("cnt").as("cnt_b"))), Seq("brand_b"))
        .crossJoin(broadcast(tot))
        .select(col("brand_a"), col("brand_b"), col("n_co"),
          round(col("n_co").cast("double") / col("n"), 6).as("support"),
          round(col("n_co").cast("double") / col("cnt_a"), 6)
            .as("confidence"),
          round(col("n_co").cast("double") * col("n") /
            (col("cnt_a") * col("cnt_b")), 6).as("lift"))
        .orderBy(col("lift").desc, col("brand_a"), col("brand_b"))
        .limit(20)
    },

    // Blocked edit-distance record linkage (PassJoin-flavored, Li et
    // al. ICDE'11 pigeonhole segmenting — public algorithm): a dirty
    // roster (one deterministic char substitution per name) is matched
    // back to the clean part catalog under levenshtein <= 1. A
    // substitution preserves length, so any match must agree EXACTLY
    // with the clean name on the first or the second half — candidates
    // are two selective equi-joins on (length, segment), never an
    // all-pairs scan; levenshtein runs only on candidates.
    "q206_fuzzy_link" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      // the roster key is name + id (the synthetic p_name has only
      // ~100 distinct values — a real entity roster is distinct, and
      // the distinct suffix is what keeps the pigeonhole blocks small)
      val named = t.part.select(col("p_partkey"),
        concat(col("p_name"), lit("-"),
          col("p_partkey").cast("string")).as("ename"))
      // PARITY pigeonhole: the len equi-join pins equal lengths, and
      // edit distance <= 1 at equal length is a single substitution —
      // at one position, whose parity leaves the OTHER parity's char
      // subsequence untouched. Blocking on (len, parity, chars-at-
      // that-parity) is therefore complete for dist <= 1, and unlike
      // contiguous halves (whose first half is the heavily repeated
      // p_name prefix — ~200-row blocks, quadratic candidates) each
      // parity interleaves the near-distinct "-partkey" digits into
      // its key, so blocks stay O(1) and the join is near-distinct.
      val clean = named
        .select(col("p_partkey").as("clean_id"), col("ename").as("cname"))
        .withColumn("len", length(col("cname")))
        .withColumn("cseg1", expr("regexp_replace(cname, '(.).?', '$1')"))
        .withColumn("cseg2", expr("regexp_replace(cname, '.(.)?', '$1')"))
      val dirty = named
        .select(col("p_partkey").as("dirty_id"), col("ename").as("p_name"))
        .withColumn("len", length(col("p_name")))
        .withColumn("pos", pmod(col("dirty_id"), col("len")))
        .withColumn("dname", expr(
          "concat(substr(p_name, 1, pos), 'q', substr(p_name, pos + 2))"))
        .withColumn("dseg1", expr("regexp_replace(dname, '(.).?', '$1')"))
        .withColumn("dseg2", expr("regexp_replace(dname, '.(.)?', '$1')"))
        .select(col("dirty_id"), col("dname"), col("len"),
          col("dseg1"), col("dseg2"))
      // ONE exploded-segment equi-join covers both parities (parity
      // number rides in the key) instead of two separate join stages
      // unioned after the fact; the distance is computed before dedup
      // so the distinct shuffles 3 narrow ints, never the name
      // strings. Result set identical: union-distinct of odd/even
      // parity matches filtered to dist <= 1.
      val cseg = clean.select(col("clean_id"), col("cname"), col("len"),
        explode(array(
          struct(lit(1).as("sn"), col("cseg1").as("seg")),
          struct(lit(2).as("sn"), col("cseg2").as("seg")))).as("e"))
        .select(col("clean_id"), col("cname"), col("len"),
          col("e.sn").as("sn"), col("e.seg").as("seg"))
      val dseg = dirty.select(col("dirty_id"), col("dname"), col("len"),
        explode(array(
          struct(lit(1).as("sn"), col("dseg1").as("seg")),
          struct(lit(2).as("sn"), col("dseg2").as("seg")))).as("e"))
        .select(col("dirty_id"), col("dname"), col("len"),
          col("e.sn").as("sn"), col("e.seg").as("seg"))
      // the short synthetic names repeat heavily, so the full match
      // list is quadratic in the duplicate groups — link-quality
      // summary per dirty record instead (match count, best distance,
      // did the true source survive)
      dseg.join(cseg, Seq("len", "sn", "seg"))
        .select(col("dirty_id"), col("clean_id"),
          levenshtein(col("dname"), col("cname")).as("dist"))
        .where(col("dist") <= 1)
        .distinct()
        .groupBy(col("dirty_id"))
        .agg(count(lit(1)).as("n_matches"), min(col("dist")).as("min_dist"),
          max(when(col("clean_id") === col("dirty_id"), true)
            .otherwise(false)).as("self_found"))
        .orderBy(col("dirty_id"))
    },

    // SCD type-2 history reconstruction: each event is a new version
    // of its user's record — versions, validity intervals
    // [valid_from, valid_to), and the current flag come from one
    // per-key window pass (state per key = one row), the standard
    // change-log -> dimension-history derivation.
    "q207_scd2_history" -> { (spark, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables(spark, dir).events
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        .withColumn("version", row_number().over(w))
        .withColumn("valid_from", unix_timestamp(col("ts")))
        .withColumn("valid_to", unix_timestamp(lead(col("ts"), 1).over(w)))
        .withColumn("is_current", col("valid_to").isNull)
        .select(col("user_id"), col("version"), col("event_id"),
          col("valid_from"), col("valid_to"), col("is_current"))
        .orderBy(col("user_id"), col("version"))
    },

    // Triangle count + local clustering coefficient over the
    // LSH-blocked embedding near-dup graph (node-iterator algorithm:
    // two hash joins keyed on vertices over the u < v edge list —
    // the standard distributed formulation; the edge list is already
    // bucket-capped upstream so the joins stay bounded).
    "q208_triangles" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val e = graft.operators.CacheScope.scoped(
        DedupOps.materializedCosinePairs(spark, dir, 4, 0.3)
          .select(col("vec_a").as("u"), col("vec_b").as("v")))
      val tri = e.as("e1")
        .join(e.as("e2"), col("e1.v") === col("e2.u"))
        .join(e.as("e3"),
          col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"))
        .select(col("e1.u").as("a"), col("e1.v").as("b"),
          col("e2.v").as("c"))
      val tn = tri.select(col("a").as("node"))
        .unionAll(tri.select(col("b").as("node")))
        .unionAll(tri.select(col("c").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
      val deg = e.select(col("u").as("node"))
        .unionAll(e.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      deg.join(tn, Seq("node"), "left")
        .select(col("node"), col("deg"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"),
          round(lit(2.0) * coalesce(col("n_tri"), lit(0L)) /
            (col("deg") * (col("deg") - 1)), 6).as("lcc"))
        .where(col("deg") >= 2)
        .orderBy(col("node"))
    },

    // First-order Markov transition matrix over per-user event
    // sequences: P(next event type | current event type). One per-key
    // window pass pairs each event with its successor, then a hash
    // aggregate on the 5x5 transition key — the behavioral-model
    // baseline (and the generator for synthetic session data).
    "q210_markov_transitions" -> { (spark, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val tr = Tables(spark, dir).events
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .where(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"),
          col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      val tot = tr.groupBy(col("from_type"))
        .agg(sum(col("n")).as("row_total"))
      tr.join(broadcast(tot), Seq("from_type"))
        .select(col("from_type"), col("to_type"), col("n"),
          round(col("n").cast("double") / col("row_total"), 6).as("p"))
        .orderBy(col("from_type"), col("to_type"))
    },

    // Kaplan-Meier survival curve over user lifetimes (right-censored:
    // users still active near the corpus end are censored, not dead).
    // The fact collapses to one row per user, then to one row per
    // lifetime-day — the cumulative windows run over the bounded
    // day domain (<= observation span), never over the fact.
    "q211_kaplan_meier" -> { (spark, dir) =>
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
        .withColumn("lnterm", when(col("n_at_risk") > col("d"),
          log(lit(1.0) - col("d").cast("double") / col("n_at_risk")))
          .otherwise(lit(0.0)))
        .withColumn("dead",
          max((col("d") === col("n_at_risk")).cast("int")).over(wPrefix))
        .withColumn("survival", when(col("dead") === 1, lit(0.0))
          .otherwise(round(exp(sum(col("lnterm")).over(wPrefix)), 9)))
        .select(col("t"), col("n_at_risk"), col("d"), col("c"),
          col("survival"))
        .orderBy(col("t"))
    },

    // Exponential time-decay marketing attribution: every view/click
    // in the 7 days before a purchase earns credit exp(-age/1d),
    // normalized per purchase. The touch-to-purchase pairing runs
    // through the keyed band-join SWEEP exec (one exchange per side,
    // only open intervals buffered) — never a per-user cross join;
    // credit sums follow the exact-decimal discipline so engines
    // agree bit-for-bit.
    "q212_decay_attribution" -> { (spark, dir) =>
      val ev = Tables(spark, dir).events
      val touches = ev
        .where(col("event_type").isin("view", "click"))
        .select(col("user_id"),
          unix_timestamp(col("ts")).cast("double").as("t_s"),
          col("event_type").as("touch_type"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"),
          (unix_timestamp(col("ts")).cast("double") - 604800.0).as("lo"),
          unix_timestamp(col("ts")).cast("double").as("hi"))
      val paired = graft.operators.ExtendedOps.bandJoin(
        touches, purchases, Seq("user_id"), "t_s", "lo", "hi")
        .withColumn("w", round(exp(-(col("hi") - col("t_s")) / 86400.0), 12))
      val perPurchase = paired
        .groupBy(col("p_id"))
        .agg(sum(col("w").cast("decimal(38,18)")).cast("double").as("tw"))
      paired.join(perPurchase, Seq("p_id"))
        .withColumn("share", round(col("w") / col("tw"), 12))
        .groupBy(col("touch_type"))
        .agg(count(lit(1)).as("n_touches"),
          round(sum(col("share").cast("decimal(38,18)")).cast("double"), 6)
            .as("credit"))
        .orderBy(col("touch_type"))
    },

    // Two-proportion z-test between every source pair (the A/B-test
    // sibling of q172's Welch t-test on means): per-source "long doc"
    // conversion rates, pooled-variance z statistic. The per-source
    // summary is 20 rows — the pair cross is broadcast-trivial; the
    // corpus is scanned exactly once.
    "q209_ab_ztest" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val s = t.documents.groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("n_chars") > 200, 1L).otherwise(0L)).as("k"))
      val a = s.select(col("source").as("source_a"), col("n").as("n1"),
        col("k").as("k1"))
      val b = s.select(col("source").as("source_b"), col("n").as("n2"),
        col("k").as("k2"))
      a.join(b, col("source_a") < col("source_b"))
        .withColumn("p1", col("k1").cast("double") / col("n1"))
        .withColumn("p2", col("k2").cast("double") / col("n2"))
        .withColumn("pp",
          (col("k1") + col("k2")).cast("double") / (col("n1") + col("n2")))
        .where(col("pp") * (lit(1.0) - col("pp")) > 0)
        .withColumn("z", (col("p1") - col("p2")) /
          sqrt(col("pp") * (lit(1.0) - col("pp")) *
            (lit(1.0) / col("n1") + lit(1.0) / col("n2"))))
        .select(col("source_a"), col("source_b"),
          round(col("p1"), 6).as("p1"), round(col("p2"), 6).as("p2"),
          round(col("z"), 6).as("z"),
          (abs(col("z")) > 1.96).as("significant"))
        .orderBy(col("source_a"), col("source_b"))
    },

    // Join-key skew diagnosis (the planning read that decides between
    // a plain shuffle join, AQE skew splitting, and the q113 salted
    // join): per-key frequency profile collapsed to one summary row —
    // key count, min/max/mean occupancy, and the skew factor
    // (max/mean). Two hash aggregates, nothing key-ordered.
    "q217_skew_diagnosis" -> { (spark, dir) =>
      graft.operators.ProfileOps.keySkew(
        Tables(spark, dir).lineitem, "l_suppkey")
    },

    // Item-item collaborative filtering over order baskets: cosine
    // co-occurrence similarity sim(i,j) = co(i,j)/sqrt(n_i * n_j),
    // top-3 recommendations per item through the bounded graft_topk_by
    // aggregate (k rows of state per item, map-side combined — never a
    // per-item ranking window). Pair generation is basket-bounded
    // (<= 7 lines per order), and the pair stream is scanned exactly
    // ONCE: per-item counts broadcast in (the item dimension is tiny
    // next to the pair fact), the symmetric direction comes from an
    // explode of both (i→j, j→i) structs per pair — a zero-shuffle
    // projection — instead of a unionAll that would recompute the
    // whole basket self-join a second time.
    "q218_item_cf" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      // Same basket-collect shape as q205: ONE shuffle on the order
      // key builds sorted item sets, then per-item counts and all a<b
      // pair candidates are zero-shuffle array projections.
      val baskets = t.lineitem
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("item"))
        .groupBy(col("ok"))
        .agg(sort_array(collect_set(col("item"))).as("items"))
      // scoped cache: per-item counts + pair stream both read this
      graft.operators.CacheScope.scoped(baskets)
      // ni itself is read twice (the ia and ib broadcast sides) —
      // scope it too, or the explode + double aggregate runs per side
      val ni = graft.operators.CacheScope.scoped(
        baskets.select(explode(col("items")).as("item"))
          .groupBy(col("item")).agg(count(lit(1)).as("n")))
      // capped pair fan-out (BasketOps, same bound as q205)
      val co = graft.operators.BasketOps.pairs(baskets, "items")
        .groupBy(col("a").as("ia"), col("b").as("ib"))
        .agg(count(lit(1)).as("co"))
      co
        .join(broadcast(ni.select(col("item").as("ia"), col("n").as("na"))),
          Seq("ia"))
        .join(broadcast(ni.select(col("item").as("ib"), col("n").as("nb"))),
          Seq("ib"))
        .withColumn("sim", col("co").cast("double") /
          sqrt((col("na") * col("nb")).cast("double")))
        .select(explode(array(
          struct(col("ia").as("item"), col("ib").as("rec"), col("sim")),
          struct(col("ib").as("item"), col("ia").as("rec"), col("sim"))))
          .as("e"))
        .select(col("e.item").as("item"), col("e.rec").as("rec"),
          col("e.sim").as("sim"))
        .groupBy(col("item"))
        .agg(expr("graft_topk_by(sim, rec, rec, 3)").as("top"))
        .select(col("item"), posexplode(col("top")))
        .select(col("item"), (col("pos") + 1).cast("int").as("rk"),
          col("col.tie").as("rec"), round(col("col.score"), 6).as("sim"))
        .orderBy(col("item"), col("rk"))
    },

    // RECOMMENDER EVALUATION: leave-one-out backtest of the item-CF
    // recommender (the offline metric run before any model ships) —
    // hold out one item per basket (deterministic: the max key),
    // train co-occurrence on the REDUCED baskets, recommend top-3
    // per basket, and report hit-rate@1/2/3 + MRR@3. Exactness
    // discipline: scores are INTEGER co-occurrence sums (no float
    // accumulation order anywhere), ranks break ties by item key,
    // and MRR is the integer identity (6·h1 + 3·h2 + 2·h3)/(6n) with
    // ONE final double division. Scale shape: pair fan-out is the
    // capped basket projection (BasketOps), per-item neighbor lists
    // are capped at 10 via the bounded graft_topk_by funnel, and
    // per-basket candidate ranking is another bounded funnel — no
    // partition-less window, nothing quadratic in the catalog.
    "q371_rec_eval" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      // scoped: the distinct basket frame is read by the holdout
      // derivation AND the train split
      val ob = graft.operators.CacheScope.scoped(t.lineitem
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("item"))
        .distinct())
      val held = ob.groupBy(col("ok"))
        .agg(max(col("item")).as("held"), count(lit(1)).as("sz"))
        .where(col("sz") >= 2)
        .select(col("ok"), col("held"))
      val train = ob.join(held, Seq("ok"), "left")
        .where(col("held").isNull || col("item") =!= col("held"))
        .select(col("ok"), col("item"))
      graft.operators.CacheScope.scoped(train)
      val baskets = train.groupBy(col("ok"))
        .agg(sort_array(collect_set(col("item"))).as("items"))
      val co = graft.operators.BasketOps.pairs(baskets, "items")
        .groupBy(col("a").as("ia"), col("b").as("ib"))
        .agg(count(lit(1)).as("co"))
      val top10 = co
        .select(explode(array(
          struct(col("ia").as("item"), col("ib").as("rec"), col("co")),
          struct(col("ib").as("item"), col("ia").as("rec"), col("co"))))
          .as("e"))
        .select(col("e.item").as("item"), col("e.rec").as("rec"),
          col("e.co").as("co"))
        .groupBy(col("item"))
        .agg(expr("graft_topk_by(CAST(co AS DOUBLE), rec, co, 10)")
          .as("top"))
        .select(col("item"), explode(col("top")).as("r"))
        .select(col("item"), col("r.tie").as("rec"),
          col("r.payload").as("co"))
      val cand = train.join(top10, Seq("item"))
        .groupBy(col("ok"), col("rec"))
        .agg(sum(col("co")).as("s"))
        .join(train.select(col("ok"), col("item").as("rec")),
          Seq("ok", "rec"), "left_anti")
      val top3 = cand.groupBy(col("ok"))
        .agg(expr("graft_topk_by(CAST(s AS DOUBLE), rec, s, 3)")
          .as("top"))
        .select(col("ok"), posexplode(col("top")))
        .select(col("ok"), (col("pos") + 1).as("rk"),
          col("col.tie").as("rec"))
      val hr = held.join(top3, Seq("ok"), "left")
        .groupBy(col("ok"), col("held"))
        .agg(min(when(col("rec") === col("held"), col("rk"))).as("hr"))
      val agg = hr.agg(
        count(lit(1)).as("n_eval"),
        count(when(col("hr") === 1, 1)).as("h1"),
        count(when(col("hr") === 2, 1)).as("h2"),
        count(when(col("hr") === 3, 1)).as("h3"))
      agg.select(explode(expr("array(1, 2, 3)")).as("k"),
          col("n_eval"), col("h1"), col("h2"), col("h3"))
        .select(col("k").cast("int").as("k"), col("n_eval"),
          when(col("k") === 1, col("h1"))
            .when(col("k") === 2, col("h1") + col("h2"))
            .otherwise(col("h1") + col("h2") + col("h3"))
            .as("hits_at_k"),
          round((lit(6) * col("h1") + lit(3) * col("h2") +
            lit(2) * col("h3")).cast("double") /
            (lit(6) * col("n_eval")).cast("double"), 6).as("mrr3"))
        .withColumn("hit_rate",
          round(col("hits_at_k").cast("double") /
            col("n_eval").cast("double"), 6))
        .select(col("k"), col("n_eval"), col("hits_at_k"),
          col("hit_rate"), col("mrr3"))
        .orderBy(col("k"))
    },

    // Autocorrelation function of the daily order-count series at
    // lags 1..3 — the seasonality probe run before any forecast.
    // Exactness discipline: with integer daily counts x_t, total S,
    // Σx² = Q and per-lag integer sums P_k = Σ x_t·x_{t+k},
    // A_k = Σ_{t≤n-k} x_t, B_k = Σ_{t>k} x_t, the mean-centered ACF
    //   r_k = Σ(x_t-μ)(x_{t+k}-μ) / Σ(x_t-μ)²
    // multiplies out to (n²·P_k − n·S·(A_k+B_k) + (n−k)·S²) /
    // (n²·Q − n·S²) — ALL integer arithmetic (DECIMAL(38,0) sums, no
    // float accumulation order anywhere) with ONE final double
    // division. Scale shape: the daily series is calendar-bounded —
    // whatever the fact volume, the aggregate is ≤ #days rows — so
    // the rank window and self-join run on a tiny frame; the only
    // fact-scale work is the first hash aggregate.
    // Partial autocorrelation (lags 1-3) of the daily order-count
    // series — the AR-order diagnostic read next to q250's ACF /
    // q281's AR(2) fit: PACF(k) via the Durbin-Levinson recursion is
    // a closed form of the ACF values, so the fact-scale work is
    // exactly q250's (one aggregate to the calendar-bounded spine,
    // bounded lag join, DECIMAL-exact sums), and the recursion runs
    // on a 1-row frame with the identical IEEE expression tree in
    // both engines.
    "q301_pacf" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val dec = "decimal(38,0)"
      val daily = t.orders
        .groupBy(col("o_orderdate").as("d"))
        .agg(count(lit(1)).as("x"))
      val s = daily
        .withColumn("rn", row_number().over(Window.orderBy(col("d"))))
        .select(col("rn"), col("x").cast(dec).as("x"))
      val glob = s.agg(count(lit(1)).cast(dec).as("n"),
        sum(col("x")).as("sx"), sum(col("x") * col("x")).as("q"))
      val lagged = s
        .select(col("rn"), col("x"),
          explode(array(lit(1), lit(2), lit(3))).as("lag"))
        .withColumn("tgt", col("rn") + col("lag"))
        .join(s.select(col("rn").as("tgt"), col("x").as("y")), "tgt")
      val acf = lagged.groupBy(col("lag"))
        .agg(sum(col("x") * col("y")).as("p"),
          sum(col("x")).as("a"), sum(col("y")).as("b"))
        .crossJoin(broadcast(glob))
        .select(col("lag"),
          ((col("n") * col("n") * col("p")
              - col("n") * col("sx") * (col("a") + col("b"))
              + (col("n") - col("lag")) * col("sx") * col("sx"))
              .cast("double")
            / (col("n") * col("n") * col("q")
              - col("n") * col("sx") * col("sx")).cast("double"))
            .as("r"))
      acf.agg(
          max(when(col("lag") === 1, col("r"))).as("r1"),
          max(when(col("lag") === 2, col("r"))).as("r2"),
          max(when(col("lag") === 3, col("r"))).as("r3"))
        .withColumn("phi22", (col("r2") - col("r1") * col("r1"))
          / (lit(1.0) - col("r1") * col("r1")))
        .withColumn("phi21", col("r1") - col("phi22") * col("r1"))
        .withColumn("phi33",
          (col("r3") - col("phi21") * col("r2")
            - col("phi22") * col("r1"))
          / (lit(1.0) - col("phi21") * col("r1")
            - col("phi22") * col("r2")))
        .select(round(col("r1"), 6).as("acf1"),
          round(col("r2"), 6).as("acf2"),
          round(col("r3"), 6).as("acf3"),
          round(col("r1"), 6).as("pacf1"),
          round(col("phi22"), 6).as("pacf2"),
          round(col("phi33"), 6).as("pacf3"))
    },

    // Frequent 3-itemsets — the FP-growth level above q205's pairs,
    // through the same capped-basket discipline (cap 32 here: triple
    // fan-out is CUBIC, so the cap bounds the worst task to ~5k
    // triples; TPC-H baskets are <= 7 items, so gate results are
    // exactly the uncapped ones). Triple generation is a zero-shuffle
    // array projection over the sorted per-order item sets; top-20 by
    // (count desc, items) is fully tie-broken so both engines select
    // the identical rows.
    "q300_basket_triples" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val baskets = t.lineitem.groupBy(col("l_orderkey"))
        .agg(array_sort(collect_set(col("l_partkey"))).as("items"))
      val trip = graft.operators.BasketOps
        .withCappedItems(baskets, "items", cap = 32)
        .select(explode(
          graft.operators.BasketOps.tripleColumn("capped")).as("t"))
        .select(col("t.a").as("a"), col("t.b").as("b"),
          col("t.c").as("c"))
      val tot = baskets.agg(count(lit(1)).as("n_orders"))
      trip.groupBy(col("a"), col("b"), col("c"))
        .agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(tot))
        .select(col("a"), col("b"), col("c"), col("n"),
          round(col("n").cast("double") /
            col("n_orders").cast("double"), 6).as("support"))
        .orderBy(col("n").desc, col("a"), col("b"), col("c"))
        .limit(20)
    },

    // Cross-correlation function between two daily series (all
    // orders vs urgent/high-priority orders) at lags -3..+3 — the
    // lead/lag-structure diagnostic (does one feed anticipate the
    // other?) that complements q250's autocorrelation. Same scale
    // shape: the fact collapses to the calendar-bounded daily frame
    // in ONE aggregate; lag alignment is a bounded self-join on the
    // row-numbered spine; every sum is DECIMAL-exact (counts only, no
    // fp series), the multiplied-through Pearson identity
    // [n^2*Sp - n*Sx*Syp - n*Sy*Sxp + np*Sx*Sy] /
    // (n * sqrt((n*Qx - Sx^2)(n*Qy - Sy^2))) divides once at the end.
    "q293_ccf" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val dec = "decimal(38,0)"
      val daily = t.orders
        .groupBy(col("o_orderdate").as("d"))
        .agg(count(lit(1)).as("x"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
            1L).otherwise(0L)).as("y"))
      val s = daily
        .withColumn("rn", row_number().over(Window.orderBy(col("d"))))
        .select(col("rn"), col("x").cast(dec).as("x"),
          col("y").cast(dec).as("y"))
      val glob = s.agg(count(lit(1)).cast(dec).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("qx"),
        sum(col("y") * col("y")).as("qy"))
      val lagged = s
        .select(col("rn"), col("x"),
          explode(array((-3 to 3).map(lit(_)): _*)).as("lag"))
        .withColumn("tgt", col("rn") + col("lag"))
        .join(s.select(col("rn").as("tgt"), col("y")), "tgt")
      lagged.groupBy(col("lag"))
        .agg(sum(col("x") * col("y")).as("p"),
          sum(col("x")).as("sxp"), sum(col("y")).as("syp"),
          count(lit(1)).cast(dec).as("np"))
        .crossJoin(broadcast(glob))
        .select(col("lag"), col("np").cast("bigint").as("n_pairs"),
          round((col("n") * col("n") * col("p")
              - col("n") * col("sx") * col("syp")
              - col("n") * col("sy") * col("sxp")
              + col("np") * col("sx") * col("sy")).cast("double")
            / (col("n").cast("double") *
               sqrt((col("n") * col("qx") - col("sx") * col("sx"))
                 .cast("double") *
               (col("n") * col("qy") - col("sy") * col("sy"))
                 .cast("double"))), 6)
            .as("ccf"))
        .orderBy(col("lag"))
    },

    // Newey-West HAC standard error of the daily-series mean (Newey
    // & West 1987, Bartlett kernel, L=7 — the SE that stays honest
    // when the series is autocorrelated; the naive se understates by
    // the inflation factor reported alongside). Exactness: the
    // autocovariance numerators are q250's INTEGER identity
    // n^2 P_k - n S (A_k + B_k) + (n-k) S^2 (DECIMAL(38,0) sums, no
    // float accumulation), gamma_k = NUM_k / n^3 one division each,
    // and the Bartlett weights 1 - k/8 are exact binary fractions —
    // the whole estimate is one fixed expression tree. Scale shape:
    // one fact aggregate to the calendar-bounded daily spine; the
    // 7-lag fan-out and pivot run on that bounded frame.
    "q382_newey_west" -> { (spark, dir) =>
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
          explode(array((1 to 7).map(lit): _*)).as("lag"))
        .withColumn("tgt", col("rn") + col("lag"))
        .join(s.select(col("rn").as("tgt"), col("x").as("y")), "tgt")
      val nums = lagged.groupBy(col("lag"))
        .agg(sum(col("x") * col("y")).as("p"),
          sum(col("x")).as("a"), sum(col("y")).as("b"))
        .crossJoin(broadcast(glob))
        .select(col("lag"),
          (col("n") * col("n") * col("p")
            - col("n") * col("sx") * (col("a") + col("b"))
            + (col("n") - col("lag")) * col("sx") * col("sx"))
            .as("num"))
      val piv = nums.agg(
        max(when(col("lag") === 1, col("num"))).as("m1"),
        (2 to 7).map(k =>
          max(when(col("lag") === k, col("num"))).as(s"m$k")): _*)
      val withG = piv.crossJoin(broadcast(glob))
      val n3 = (col("n") * col("n") * col("n")).cast("double")
      val nd = col("n").cast("double")
      val g0 = (col("n") * col("n") * col("q") -
        col("n") * col("sx") * col("sx")).cast("double") / n3
      def gk(k: Int) = col(s"m$k").cast("double") / n3
      val hacVar = (g0 + lit(2.0) * (lit(0.875) * gk(1) +
        lit(0.75) * gk(2) + lit(0.625) * gk(3) + lit(0.5) * gk(4) +
        lit(0.375) * gk(5) + lit(0.25) * gk(6) +
        lit(0.125) * gk(7))) / nd
      withG.select(
        col("n").cast("long").as("n_days"),
        round(g0, 6).as("gamma0"),
        round(sqrt(hacVar), 6).as("hac_se"),
        round(sqrt(g0 / nd), 6).as("naive_se"),
        round(sqrt(hacVar) / sqrt(g0 / nd), 6).as("inflation"))
    },

    "q250_acf" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val daily = t.orders
        .groupBy(col("o_orderdate").as("d"))
        .agg(count(lit(1)).as("x"))
      val s = daily
        .withColumn("rn", row_number().over(
          Window.orderBy(col("d"))))
        .select(col("rn"), col("x").cast("decimal(38,0)").as("x"))
      val glob = s.agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("x")).as("s"), sum(col("x") * col("x")).as("q"))
      val lagged = s
        .select(col("rn"), col("x"),
          explode(array(lit(1), lit(2), lit(3))).as("lag"))
        .withColumn("tgt", col("rn") + col("lag"))
        .join(s.select(col("rn").as("tgt"), col("x").as("y")), "tgt")
      lagged.groupBy(col("lag"))
        .agg(sum(col("x") * col("y")).as("p"),
          sum(col("x")).as("a"), sum(col("y")).as("b"),
          count(lit(1)).as("n_pairs"))
        .crossJoin(broadcast(glob))
        .select(col("lag"), col("n_pairs"),
          round((col("n") * col("n") * col("p")
              - col("n") * col("s") * (col("a") + col("b"))
              + (col("n") - col("lag")) * col("s") * col("s"))
              .cast("double")
            / (col("n") * col("n") * col("q")
              - col("n") * col("s") * col("s")).cast("double"), 6)
            .as("acf"))
        .orderBy(col("lag"))
    }
  )

  /** The soundex chain in DuckDB flavor (RE2 needs the 'g' flag; no
    * backreferences, so adjacent-dedup is the per-digit replace chain
    * in both engines) — must mirror LinkOps.phoneticSql exactly. */
  private[queries] def soundexDuck(c: String): String = {
    val dedup = (0 to 6).foldLeft(
      s"translate(translate(upper(regexp_replace($c, '[^A-Za-z]', " +
        "'', 'g')), 'HW', ''), " +
        "'ABCDEFGIJKLMNOPQRSTUVXYZ', '012301202245501262301022')") {
      (acc, d) => s"regexp_replace($acc, '$d$d+', '$d', 'g')" }
    s"substr(upper(regexp_replace($c, '[^A-Za-z]', '', 'g')), 1, 1) || " +
      s"substr(replace(substr($dedup, 2), '0', '') || '000', 1, 3)"
  }

  /** The LinkOps.phoneticLink tail (block join + JW score + ranked
    * best match) as DuckDB CTEs over `clean(cname)`/`dirty(dname)`
    * frames — the complete statement tail, shared by every GRAFT LINK
    * oracle. */
  private[queries] def linkTailDuck(minJw: String): String =
    s"""cb AS (
       |  SELECT cname, ${soundexDuck("cname")} AS blk FROM clean),
       |db AS (
       |  SELECT dname, ${soundexDuck("dname")} AS blk FROM dirty),
       |scored AS (
       |  SELECT dname, cname,
       |    jaro_winkler_similarity(dname, cname) AS jw
       |  FROM db JOIN cb USING (blk)
       |  WHERE jaro_winkler_similarity(dname, cname) >= $minJw),
       |ranked AS (
       |  SELECT dname, cname, jw,
       |    COUNT(*) OVER (PARTITION BY dname) AS n_cand,
       |    ROW_NUMBER() OVER (PARTITION BY dname
       |      ORDER BY jw DESC, cname DESC) AS rn
       |  FROM scored)
       |SELECT dname, cname AS best_match, ROUND(jw, 6) AS jw, n_cand
       |FROM ranked WHERE rn = 1 ORDER BY dname""".stripMargin

  def oracle: Map[String, String] = Map(
    // same (user, type) first/last summary + bounded pair join
    "q291_seq_patterns" ->
      """WITH per AS (
        |  SELECT user_id, event_type, MIN(ts) AS f, MAX(ts) AS l
        |  FROM events GROUP BY 1, 2),
        |sup AS (
        |  SELECT a.event_type AS ante, b.event_type AS cons,
        |    CAST(COUNT(*) AS BIGINT) AS support_users
        |  FROM per a JOIN per b
        |    ON a.user_id = b.user_id AND a.f < b.l
        |  GROUP BY 1, 2),
        |tot AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT)
        |  AS n_users FROM events)
        |SELECT ante, cons, support_users,
        |  ROUND(CAST(support_users AS DOUBLE)
        |    / CAST(n_users AS DOUBLE), 6) AS support
        |FROM sup CROSS JOIN tot ORDER BY ante, cons""".stripMargin,

    // same soundex chain; the score is DuckDB's NATIVE
    // jaro_winkler_similarity — an independent implementation the
    // codegen'd expression must match bit-for-bit
    "q272_phonetic_link" ->
      ("""WITH clean AS (
        |  SELECT DISTINCT p_name AS cname FROM part),
        |dirty0 AS (
        |  SELECT DISTINCT p_name,
        |    p_partkey % length(p_name) AS pos FROM part),
        |dirty AS (
        |  SELECT DISTINCT substr(p_name, 1, CAST(pos AS INT)) ||
        |    substr(p_name, CAST(pos AS INT) + 2) AS dname FROM dirty0),
        |""".stripMargin + linkTailDuck("0.85")),

    // same integer expansion; HUGEINT keeps every term exact
    // q250's exact-integer ACF + the Durbin-Levinson closed forms on
    // the 1-row frame, identical expression tree
    "q301_pacf" ->
      """WITH daily AS (
        |  SELECT o_orderdate AS d, CAST(COUNT(*) AS HUGEINT) AS x
        |  FROM orders GROUP BY o_orderdate),
        |s AS (SELECT ROW_NUMBER() OVER (ORDER BY d) AS rn, x
        |  FROM daily),
        |g AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS sx,
        |    SUM(x * x) AS q FROM s),
        |l AS (SELECT lag FROM (VALUES (1), (2), (3)) AS t(lag)),
        |pairs AS (
        |  SELECT l.lag, a.x, b.x AS y
        |  FROM s a JOIN l ON true
        |  JOIN s b ON b.rn = a.rn + l.lag),
        |agg AS (
        |  SELECT lag, SUM(x * y) AS p, SUM(x) AS a, SUM(y) AS b
        |  FROM pairs GROUP BY lag),
        |acf AS (
        |  SELECT lag,
        |    CAST(n * n * p - n * sx * (a + b) + (n - lag) * sx * sx
        |      AS DOUBLE)
        |    / CAST(n * n * q - n * sx * sx AS DOUBLE) AS r
        |  FROM agg CROSS JOIN g),
        |one AS (SELECT
        |    MAX(CASE WHEN lag = 1 THEN r END) AS r1,
        |    MAX(CASE WHEN lag = 2 THEN r END) AS r2,
        |    MAX(CASE WHEN lag = 3 THEN r END) AS r3
        |  FROM acf),
        |ph AS (SELECT r1, r2, r3,
        |    (r2 - r1 * r1) / (1.0 - r1 * r1) AS phi22 FROM one),
        |ph2 AS (SELECT *, r1 - phi22 * r1 AS phi21 FROM ph),
        |ph3 AS (SELECT *,
        |    (r3 - phi21 * r2 - phi22 * r1)
        |    / (1.0 - phi21 * r1 - phi22 * r2) AS phi33 FROM ph2)
        |SELECT ROUND(r1, 6) AS acf1, ROUND(r2, 6) AS acf2,
        |  ROUND(r3, 6) AS acf3, ROUND(r1, 6) AS pacf1,
        |  ROUND(phi22, 6) AS pacf2, ROUND(phi33, 6) AS pacf3
        |FROM ph3""".stripMargin,

    // triples via the ordered 3-way self-join over the same sorted
    // capped item sets (value order == position order)
    "q300_basket_triples" ->
      """WITH b AS (
        |  SELECT l_orderkey,
        |    list_slice(list_sort(list(DISTINCT l_partkey)), 1, 32)
        |      AS items
        |  FROM lineitem GROUP BY l_orderkey),
        |u AS (SELECT l_orderkey, unnest(items) AS item FROM b),
        |trip AS (
        |  SELECT x.item AS a, y.item AS b, z.item AS c
        |  FROM u x
        |  JOIN u y ON x.l_orderkey = y.l_orderkey AND x.item < y.item
        |  JOIN u z ON y.l_orderkey = z.l_orderkey AND y.item < z.item),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_orders FROM b)
        |SELECT a, b, c, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(CAST(COUNT(*) AS DOUBLE)
        |    / CAST(MAX(n_orders) AS DOUBLE), 6) AS support
        |FROM trip CROSS JOIN tot
        |GROUP BY a, b, c
        |ORDER BY n DESC, a, b, c LIMIT 20""".stripMargin,

    // same spine + multiplied-through Pearson identity in HUGEINT
    "q293_ccf" ->
      """WITH daily AS (
        |  SELECT o_orderdate AS d, CAST(COUNT(*) AS HUGEINT) AS x,
        |    CAST(SUM(CASE WHEN o_orderpriority IN
        |      ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS HUGEINT)
        |      AS y
        |  FROM orders GROUP BY o_orderdate),
        |s AS (SELECT ROW_NUMBER() OVER (ORDER BY d) AS rn, x, y
        |  FROM daily),
        |g AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS sx,
        |    SUM(y) AS sy, SUM(x * x) AS qx, SUM(y * y) AS qy FROM s),
        |l AS (SELECT lag FROM (VALUES (-3), (-2), (-1), (0), (1),
        |  (2), (3)) AS t(lag)),
        |pairs AS (
        |  SELECT l.lag, a.x, b.y
        |  FROM s a JOIN l ON true
        |  JOIN s b ON b.rn = a.rn + l.lag),
        |agg AS (
        |  SELECT lag, SUM(x * y) AS p, SUM(x) AS sxp, SUM(y) AS syp,
        |    CAST(COUNT(*) AS HUGEINT) AS np
        |  FROM pairs GROUP BY lag)
        |SELECT lag, CAST(np AS BIGINT) AS n_pairs,
        |  ROUND(CAST(n * n * p - n * sx * syp - n * sy * sxp
        |      + np * sx * sy AS DOUBLE)
        |    / (CAST(n AS DOUBLE)
        |       * SQRT(CAST(n * qx - sx * sx AS DOUBLE)
        |            * CAST(n * qy - sy * sy AS DOUBLE))), 6) AS ccf
        |FROM agg CROSS JOIN g ORDER BY lag""".stripMargin,

    "q382_newey_west" ->
      """WITH daily AS (
        |  SELECT o_orderdate AS d, CAST(COUNT(*) AS HUGEINT) AS x
        |  FROM orders GROUP BY o_orderdate),
        |s AS (SELECT ROW_NUMBER() OVER (ORDER BY d) AS rn, x
        |  FROM daily),
        |g AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS sx,
        |    SUM(x * x) AS q FROM s),
        |l AS (SELECT lag FROM (VALUES (1), (2), (3), (4), (5), (6),
        |  (7)) AS t(lag)),
        |p AS (SELECT l.lag, SUM(a.x * b.x) AS p, SUM(a.x) AS a,
        |    SUM(b.x) AS b
        |  FROM l JOIN s a ON TRUE JOIN s b ON b.rn = a.rn + l.lag
        |  GROUP BY l.lag),
        |nums AS (SELECT lag,
        |    n*n*p - n*sx*(a + b) + (n - lag)*sx*sx AS num
        |  FROM p, g),
        |piv AS (SELECT
        |    MAX(CASE WHEN lag = 1 THEN num END) AS m1,
        |    MAX(CASE WHEN lag = 2 THEN num END) AS m2,
        |    MAX(CASE WHEN lag = 3 THEN num END) AS m3,
        |    MAX(CASE WHEN lag = 4 THEN num END) AS m4,
        |    MAX(CASE WHEN lag = 5 THEN num END) AS m5,
        |    MAX(CASE WHEN lag = 6 THEN num END) AS m6,
        |    MAX(CASE WHEN lag = 7 THEN num END) AS m7
        |  FROM nums),
        |f AS (SELECT CAST(n AS BIGINT) AS n_days,
        |    CAST(n AS DOUBLE) AS nd,
        |    CAST(n*n*q - n*sx*sx AS DOUBLE) / CAST(n*n*n AS DOUBLE)
        |      AS g0,
        |    CAST(m1 AS DOUBLE) / CAST(n*n*n AS DOUBLE) AS g1,
        |    CAST(m2 AS DOUBLE) / CAST(n*n*n AS DOUBLE) AS g2,
        |    CAST(m3 AS DOUBLE) / CAST(n*n*n AS DOUBLE) AS g3,
        |    CAST(m4 AS DOUBLE) / CAST(n*n*n AS DOUBLE) AS g4,
        |    CAST(m5 AS DOUBLE) / CAST(n*n*n AS DOUBLE) AS g5,
        |    CAST(m6 AS DOUBLE) / CAST(n*n*n AS DOUBLE) AS g6,
        |    CAST(m7 AS DOUBLE) / CAST(n*n*n AS DOUBLE) AS g7
        |  FROM piv, g)
        |SELECT n_days, ROUND(g0, 6) AS gamma0,
        |  ROUND(SQRT((g0 + 2.0*(0.875*g1 + 0.75*g2 + 0.625*g3 +
        |    0.5*g4 + 0.375*g5 + 0.25*g6 + 0.125*g7)) / nd), 6)
        |    AS hac_se,
        |  ROUND(SQRT(g0 / nd), 6) AS naive_se,
        |  ROUND(SQRT((g0 + 2.0*(0.875*g1 + 0.75*g2 + 0.625*g3 +
        |    0.5*g4 + 0.375*g5 + 0.25*g6 + 0.125*g7)) / nd) /
        |    SQRT(g0 / nd), 6) AS inflation
        |FROM f""".stripMargin,

    "q250_acf" ->
      """WITH daily AS (
        |  SELECT o_orderdate AS d, CAST(COUNT(*) AS HUGEINT) AS x
        |  FROM orders GROUP BY o_orderdate),
        |s AS (SELECT ROW_NUMBER() OVER (ORDER BY d) AS rn, x FROM daily),
        |g AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS sx,
        |    SUM(x * x) AS q FROM s),
        |l AS (SELECT lag FROM (VALUES (1), (2), (3)) AS t(lag)),
        |p AS (SELECT l.lag, SUM(a.x * b.x) AS p, SUM(a.x) AS a,
        |    SUM(b.x) AS b, COUNT(*) AS n_pairs
        |  FROM l JOIN s a ON TRUE JOIN s b ON b.rn = a.rn + l.lag
        |  GROUP BY l.lag)
        |SELECT lag, n_pairs,
        |  ROUND(CAST(n*n*p - n*sx*(a + b) + (n - lag)*sx*sx AS DOUBLE)
        |    / CAST(n*n*q - n*sx*sx AS DOUBLE), 6) AS acf
        |FROM p, g ORDER BY lag""".stripMargin,

    "q205_basket_lift" ->
      """WITH ob AS (SELECT DISTINCT l_orderkey AS ok, p_brand AS brand
        |    FROM lineitem JOIN part ON l_partkey = p_partkey),
        |tot AS (SELECT COUNT(DISTINCT ok) AS n FROM ob),
        |bc AS (SELECT brand, COUNT(*) AS cnt FROM ob GROUP BY brand),
        |co AS (SELECT a.brand AS brand_a, b.brand AS brand_b,
        |    COUNT(*) AS n_co
        |  FROM ob a JOIN ob b ON a.ok = b.ok AND a.brand < b.brand
        |  GROUP BY 1, 2)
        |SELECT brand_a, brand_b, n_co,
        |  ROUND(CAST(n_co AS DOUBLE) / n, 6) AS support,
        |  ROUND(CAST(n_co AS DOUBLE) / ca.cnt, 6) AS confidence,
        |  ROUND(CAST(n_co AS DOUBLE) * n / (ca.cnt * cb.cnt), 6) AS lift
        |FROM co
        |JOIN bc ca ON co.brand_a = ca.brand
        |JOIN bc cb ON co.brand_b = cb.brand
        |CROSS JOIN tot
        |ORDER BY lift DESC, brand_a, brand_b LIMIT 20""".stripMargin,

    "q206_fuzzy_link" ->
      """WITH named AS (SELECT p_partkey,
        |    p_name || '-' || CAST(p_partkey AS VARCHAR) AS ename
        |  FROM part),
        |clean AS (SELECT p_partkey AS clean_id, ename AS cname,
        |    LENGTH(ename) AS len, LENGTH(ename) // 2 AS h
        |  FROM named),
        |c AS (SELECT clean_id, cname, len,
        |    SUBSTR(cname, 1, h) AS cseg1, SUBSTR(cname, h + 1) AS cseg2
        |  FROM clean),
        |d0 AS (SELECT p_partkey AS dirty_id,
        |    LENGTH(ename) AS len, LENGTH(ename) // 2 AS h,
        |    p_partkey % LENGTH(ename) AS pos, ename AS p_name
        |  FROM named),
        |d1 AS (SELECT dirty_id, len, h,
        |    SUBSTR(p_name, 1, CAST(pos AS INT)) || 'q' ||
        |      SUBSTR(p_name, CAST(pos AS INT) + 2) AS dname
        |  FROM d0),
        |d AS (SELECT dirty_id, dname, len,
        |    SUBSTR(dname, 1, h) AS dseg1, SUBSTR(dname, h + 1) AS dseg2
        |  FROM d1),
        |cand AS (
        |  SELECT d.dirty_id, c.clean_id, d.dname, c.cname
        |  FROM d JOIN c ON d.len = c.len AND d.dseg1 = c.cseg1
        |  UNION
        |  SELECT d.dirty_id, c.clean_id, d.dname, c.cname
        |  FROM d JOIN c ON d.len = c.len AND d.dseg2 = c.cseg2)
        |SELECT dirty_id, COUNT(*) AS n_matches,
        |  MIN(LEVENSHTEIN(dname, cname)) AS min_dist,
        |  MAX(clean_id = dirty_id) AS self_found
        |FROM cand WHERE LEVENSHTEIN(dname, cname) <= 1
        |GROUP BY dirty_id
        |ORDER BY dirty_id""".stripMargin,

    "q207_scd2_history" ->
      """SELECT user_id, ROW_NUMBER() OVER w AS version, event_id,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS valid_from,
        |  CAST(epoch(date_trunc('second', LEAD(ts, 1) OVER w)) AS BIGINT)
        |    AS valid_to,
        |  LEAD(ts, 1) OVER w IS NULL AS is_current
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, version""".stripMargin,

    // reuses the shared LSH pair CTEs (bit-identical cosines and
    // blocks as q52/q99), then counts triangles with the same
    // node-iterator 3-way join
    "q208_triangles" ->
      s"""WITH ${graft.queries.Pipeline.lshPairsCtes},
        |p AS (SELECT vec_a AS u, vec_b AS v FROM prs WHERE cos >= 0.3),
        |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM p e1
        |  JOIN p e2 ON e1.v = e2.u
        |  JOIN p e3 ON e3.u = e1.u AND e3.v = e2.v),
        |tn AS (SELECT node, COUNT(*) AS n_tri FROM (
        |    SELECT a AS node FROM tri
        |    UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri) GROUP BY node),
        |deg AS (SELECT node, COUNT(*) AS deg FROM (
        |    SELECT u AS node FROM p
        |    UNION ALL SELECT v FROM p) GROUP BY node)
        |SELECT d.node, d.deg, COALESCE(tn.n_tri, 0) AS n_tri,
        |  ROUND(2.0 * COALESCE(tn.n_tri, 0) / (d.deg * (d.deg - 1)), 6)
        |    AS lcc
        |FROM deg d LEFT JOIN tn ON d.node = tn.node
        |WHERE d.deg >= 2 ORDER BY d.node""".stripMargin,

    "q217_skew_diagnosis" ->
      """WITH c AS (SELECT l_suppkey, COUNT(*) AS cnt
        |  FROM lineitem GROUP BY l_suppkey)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
        |  CAST(MIN(cnt) AS BIGINT) AS min_cnt,
        |  CAST(MAX(cnt) AS BIGINT) AS max_cnt,
        |  ROUND(CAST(SUM(CAST(cnt AS DECIMAL(38,6))) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS mean_cnt,
        |  ROUND(CAST(MAX(cnt) AS DOUBLE) /
        |    (CAST(SUM(CAST(cnt AS DECIMAL(38,6))) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE)), 6) AS skew_factor
        |FROM c""".stripMargin,

    "q218_item_cf" ->
      """WITH ob AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS item
        |  FROM lineitem),
        |ni AS (SELECT item, COUNT(*) AS n FROM ob GROUP BY item),
        |co AS (SELECT a.item AS ia, b.item AS ib, COUNT(*) AS co
        |  FROM ob a JOIN ob b ON a.ok = b.ok AND a.item < b.item
        |  GROUP BY 1, 2),
        |sym AS (SELECT ia, ib, co FROM co
        |  UNION ALL SELECT ib, ia, co FROM co),
        |scored AS (SELECT sym.ia AS item, sym.ib AS rec,
        |    CAST(sym.co AS DOUBLE) /
        |      SQRT(CAST(na.n * nb.n AS DOUBLE)) AS sim
        |  FROM sym
        |  JOIN ni na ON sym.ia = na.item
        |  JOIN ni nb ON sym.ib = nb.item),
        |rk AS (SELECT item, rec, sim, ROW_NUMBER() OVER
        |    (PARTITION BY item ORDER BY sim DESC, rec ASC) AS rk
        |  FROM scored)
        |SELECT item, CAST(rk AS INT) AS rk, rec, ROUND(sim, 6) AS sim
        |FROM rk WHERE rk <= 3 ORDER BY item, rk""".stripMargin,

    "q371_rec_eval" ->
      """WITH ob AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS item
        |  FROM lineitem),
        |held AS (
        |  SELECT ok, MAX(item) AS held FROM ob
        |  GROUP BY ok HAVING COUNT(*) >= 2),
        |train AS (
        |  SELECT ob.ok, ob.item FROM ob
        |  LEFT JOIN held ON ob.ok = held.ok
        |  WHERE held.held IS NULL OR ob.item <> held.held),
        |co AS (
        |  SELECT a.item AS ia, b.item AS ib, COUNT(*) AS co
        |  FROM train a JOIN train b ON a.ok = b.ok AND a.item < b.item
        |  GROUP BY 1, 2),
        |sym AS (SELECT ia AS item, ib AS rec, co FROM co
        |  UNION ALL SELECT ib, ia, co FROM co),
        |top10 AS (
        |  SELECT item, rec, co FROM (
        |    SELECT item, rec, co, ROW_NUMBER() OVER (PARTITION BY item
        |      ORDER BY co DESC, rec ASC) AS rn FROM sym) s
        |  WHERE rn <= 10),
        |cand AS (
        |  SELECT tr.ok, t.rec, SUM(t.co) AS s
        |  FROM train tr JOIN top10 t ON tr.item = t.item
        |  GROUP BY 1, 2),
        |cand2 AS (
        |  SELECT c.ok, c.rec, c.s FROM cand c
        |  LEFT JOIN train tr ON c.ok = tr.ok AND c.rec = tr.item
        |  WHERE tr.item IS NULL),
        |top3 AS (
        |  SELECT ok, rec, rk FROM (
        |    SELECT ok, rec, ROW_NUMBER() OVER (PARTITION BY ok
        |      ORDER BY s DESC, rec ASC) AS rk FROM cand2) s
        |  WHERE rk <= 3),
        |hr AS (
        |  SELECT h.ok,
        |    MIN(CASE WHEN t.rec = h.held THEN t.rk END) AS hr
        |  FROM held h LEFT JOIN top3 t ON h.ok = t.ok
        |  GROUP BY h.ok),
        |agg AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_eval,
        |    CAST(COUNT(CASE WHEN hr = 1 THEN 1 END) AS BIGINT) AS h1,
        |    CAST(COUNT(CASE WHEN hr = 2 THEN 1 END) AS BIGINT) AS h2,
        |    CAST(COUNT(CASE WHEN hr = 3 THEN 1 END) AS BIGINT) AS h3
        |  FROM hr)
        |SELECT CAST(k.k AS INTEGER) AS k, n_eval,
        |  CAST(CASE WHEN k.k = 1 THEN h1
        |    WHEN k.k = 2 THEN h1 + h2
        |    ELSE h1 + h2 + h3 END AS BIGINT) AS hits_at_k,
        |  ROUND(CAST(CASE WHEN k.k = 1 THEN h1
        |      WHEN k.k = 2 THEN h1 + h2
        |      ELSE h1 + h2 + h3 END AS DOUBLE) /
        |    CAST(n_eval AS DOUBLE), 6) AS hit_rate,
        |  ROUND(CAST(6 * h1 + 3 * h2 + 2 * h3 AS DOUBLE) /
        |    CAST(6 * n_eval AS DOUBLE), 6) AS mrr3
        |FROM agg CROSS JOIN (VALUES (1), (2), (3)) AS k(k)
        |ORDER BY k""".stripMargin,

    "q210_markov_transitions" ->
      """WITH tr AS (
        |  SELECT event_type AS from_type,
        |    LEAD(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |cnt AS (SELECT from_type, to_type, COUNT(*) AS n FROM tr
        |  WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
        |tot AS (SELECT from_type, SUM(n) AS row_total FROM cnt
        |  GROUP BY from_type)
        |SELECT cnt.from_type, to_type, n,
        |  ROUND(CAST(n AS DOUBLE) / row_total, 6) AS p
        |FROM cnt JOIN tot ON cnt.from_type = tot.from_type
        |ORDER BY cnt.from_type, to_type""".stripMargin,

    "q211_kaplan_meier" ->
      """WITH life AS (
        |  SELECT user_id,
        |    (MAX(CAST(epoch(date_trunc('second', ts)) AS BIGINT)) -
        |     MIN(CAST(epoch(date_trunc('second', ts)) AS BIGINT))) // 86400
        |      AS t,
        |    (SELECT MAX(CAST(epoch(date_trunc('second', ts)) AS BIGINT))
        |       FROM events) -
        |      MAX(CAST(epoch(date_trunc('second', ts)) AS BIGINT))
        |      > 3 * 86400 AS observed
        |  FROM events GROUP BY user_id),
        |byday AS (
        |  SELECT t,
        |    CAST(SUM(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d,
        |    CAST(SUM(CASE WHEN observed THEN 0 ELSE 1 END) AS BIGINT)
        |      AS c
        |  FROM life GROUP BY t),
        |km AS (
        |  SELECT t, d, c,
        |    CAST(SUM(d + c) OVER (ORDER BY t
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |      AS BIGINT) AS n_at_risk
        |  FROM byday),
        |km2 AS (
        |  SELECT t, n_at_risk, d, c,
        |    CASE WHEN n_at_risk > d
        |      THEN LN(1.0 - CAST(d AS DOUBLE) / n_at_risk) ELSE 0.0 END
        |      AS lnterm,
        |    MAX(CASE WHEN d = n_at_risk THEN 1 ELSE 0 END) OVER
        |      (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND
        |        CURRENT ROW) AS dead
        |  FROM km)
        |SELECT t, n_at_risk, d, c,
        |  CASE WHEN dead = 1 THEN 0.0
        |    ELSE ROUND(EXP(SUM(lnterm) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 9) END
        |    AS survival
        |FROM km2 ORDER BY t""".stripMargin,

    "q212_decay_attribution" ->
      """WITH tch AS (
        |  SELECT user_id,
        |    CAST(CAST(epoch(date_trunc('second', ts)) AS BIGINT)
        |      AS DOUBLE) AS t_s,
        |    event_type AS touch_type
        |  FROM events WHERE event_type IN ('view', 'click')),
        |pur AS (
        |  SELECT user_id, event_id AS p_id,
        |    CAST(CAST(epoch(date_trunc('second', ts)) AS BIGINT)
        |      AS DOUBLE) - 604800.0 AS lo,
        |    CAST(CAST(epoch(date_trunc('second', ts)) AS BIGINT)
        |      AS DOUBLE) AS hi
        |  FROM events WHERE event_type = 'purchase'),
        |paired AS (
        |  SELECT p.p_id, t.touch_type,
        |    ROUND(EXP(-(p.hi - t.t_s) / 86400.0), 12) AS w
        |  FROM tch t JOIN pur p ON t.user_id = p.user_id
        |    AND t.t_s >= p.lo AND t.t_s < p.hi),
        |pp AS (
        |  SELECT p_id, CAST(SUM(CAST(w AS DECIMAL(38,18))) AS DOUBLE)
        |    AS tw
        |  FROM paired GROUP BY p_id)
        |SELECT touch_type, COUNT(*) AS n_touches,
        |  ROUND(CAST(SUM(CAST(ROUND(w / tw, 12) AS DECIMAL(38,18)))
        |    AS DOUBLE), 6) AS credit
        |FROM paired JOIN pp ON paired.p_id = pp.p_id
        |GROUP BY touch_type ORDER BY touch_type""".stripMargin,

    "q209_ab_ztest" ->
      """WITH s AS (SELECT source, COUNT(*) AS n,
        |    SUM(CASE WHEN n_chars > 200 THEN 1 ELSE 0 END) AS k
        |  FROM documents GROUP BY source),
        |pr AS (SELECT a.source AS source_a, b.source AS source_b,
        |    CAST(a.k AS DOUBLE) / a.n AS p1,
        |    CAST(b.k AS DOUBLE) / b.n AS p2,
        |    CAST(a.k + b.k AS DOUBLE) / (a.n + b.n) AS pp,
        |    a.n AS n1, b.n AS n2
        |  FROM s a JOIN s b ON a.source < b.source)
        |SELECT source_a, source_b, ROUND(p1, 6) AS p1, ROUND(p2, 6) AS p2,
        |  ROUND((p1 - p2) / SQRT(pp * (1.0 - pp) *
        |    (1.0 / n1 + 1.0 / n2)), 6) AS z,
        |  ABS((p1 - p2) / SQRT(pp * (1.0 - pp) *
        |    (1.0 / n1 + 1.0 / n2))) > 1.96 AS significant
        |FROM pr WHERE pp * (1.0 - pp) > 0
        |ORDER BY source_a, source_b""".stripMargin
  )
}
