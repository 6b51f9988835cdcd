package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables

/** Round-3 surface: corpus-curation accounting operators a large-scale
  * training-data pipeline needs beyond dedup/quality (reference:
  * sclera's analytics operators are the model for "analytics as
  * relational ops"; these follow the same declarative shape).
  *
  * All four stay inside whole-stage codegen: window sums, explode, and
  * hash aggregates only — no UDFs, no driver-side loops, so each scales
  * by adding partitions.
  */
object Curation {

  /** Versioned-table staging root for q282/q283 (per sf dir). */
  private def vtRoot(spark: SparkSession, sfDir: String): String =
    new org.apache.hadoop.fs.Path(graft.sources.CacheFs.root(spark),
      s"graft_vt_${Integer.toHexString(sfDir.hashCode)}").toString

  /** Build the 3-version nation history ONCE per sf dir (nation is the
    * fixed 25-row TPC-H constant table, so the staged snapshots are
    * stable across testdata regenerations); a partial build (killed
    * writer) is wiped and redone. */
  private def vtStage(spark: SparkSession, sfDir: String, root: String,
      t: Tables): Unit = synchronized {
    import graft.sources.VersionedTable
    if (VersionedTable.latestVersion(spark, root) < 2) {
      graft.sources.CacheFs.delete(spark, root)
      val v0 = t.nation
      VersionedTable.commit(root, v0)
      val v1 = v0.filter(col("n_regionkey") =!= 3)
      VersionedTable.commit(root, v1)
      val inserted = spark.range(900, 902).select(
        col("id").cast("int").as("n_nationkey"),
        concat(lit("zzz_new"), col("id") - 899).as("n_name"),
        (col("id") % 2).cast("int").as("n_regionkey"))
      val v2 = v1.withColumn("n_name",
        when(col("n_regionkey") === 1, concat(col("n_name"), lit("_X")))
          .otherwise(col("n_name")))
        .unionByName(inserted)
      VersionedTable.commit(root, v2)
    }
  }

  /** Dialect-neutral: executed verbatim by spark.sql AND DuckDB. */
  private val percentileDiscQuery =
    """SELECT l_returnflag,
      |  percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity) AS p25,
      |  percentile_disc(0.50) WITHIN GROUP (ORDER BY l_quantity) AS p50,
      |  percentile_disc(0.75) WITHIN GROUP (ORDER BY l_quantity) AS p75
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Dialect-neutral: GROUP BY ALL / ORDER BY ALL run verbatim in
    * Spark 4 and DuckDB. */
  private val groupByAllQuery =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS qty
      |FROM lineitem GROUP BY ALL ORDER BY ALL""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // GROUP BY ALL / ORDER BY ALL shorthand through the SQL interface.
    "q127_group_by_all" -> { (spark, dir) =>
      Tables(spark, dir).registerAll()
      spark.sql(groupByAllQuery)
    },

    // LOCF gap-fill (ordered-stream imputation, reference IMPUTED over
    // a stream): carry each user's last click value forward over their
    // event stream. One window pass, passthrough doubles (no
    // arithmetic => exact oracle parity).
    "q123_locf" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t.events
        .withColumn("v",
          when(col("event_type") === "click", col("value")))
        .withColumn("v_filled", last(col("v"), ignoreNulls = true).over(w))
        .select(col("user_id"), col("event_id"), col("v_filled"))
        .orderBy(col("user_id"), col("event_id"))
    },

    // Exact discrete percentiles (value actually present in the data,
    // unlike interpolated q74): WITHIN GROUP syntax runs verbatim in
    // both engines.
    "q124_percentile_disc" -> { (spark, dir) =>
      Tables(spark, dir).registerAll()
      spark.sql(percentileDiscQuery)
    },

    // Per-source language-distribution entropy + Gini impurity: the
    // standard corpus-mixing diagnostics (is a source monolingual?).
    // One hash aggregate + one 1-row-per-group window pass.
    "q119_entropy" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val counts = t.documents
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n"))
      val bySource = Window.partitionBy(col("source"))
      counts
        .withColumn("p",
          col("n").cast("double") / sum(col("n")).over(bySource).cast("double"))
        .groupBy(col("source"))
        .agg(
          round(sum(-col("p") * log(col("p"))), 6).as("entropy"),
          round(lit(1.0) - sum(col("p") * col("p")), 6).as("gini"),
          count(lit(1)).as("n_langs"))
        .orderBy(col("source"))
    },

    // Equi-width histogram of lineitem prices: global min/max via a
    // broadcast 1-row aggregate, then a 20-bucket hash count. The
    // 2-pass shape (tiny agg + counted scan) is the 100 TB plan; no
    // sort, no wide shuffle.
    "q120_histogram" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val x = t.lineitem.select(col("l_extendedprice").as("x"))
      val mm = x.agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      x.crossJoin(broadcast(mm))
        .withColumn("w", (col("hi") - col("lo")) / lit(20.0))
        .withColumn("b",
          least(floor((col("x") - col("lo")) / col("w")), lit(19L)).cast("int"))
        .groupBy(col("b"), col("lo"), col("w"))
        .agg(count(lit(1)).as("n"))
        .select(col("b"), col("n"),
          round(col("lo") + col("b") * col("w"), 6).as("edge"))
        .orderBy(col("b"))
    },

    // Fixed-size token chunks with overlap (context windows for
    // training): window length 16, stride 12 => 4-token overlap.
    // sequence() + posexplode fan out inside the scan partition — no
    // shuffle at all until the final presentation sort.
    "q121_doc_chunking" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      t.documents
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .withColumn("ntok", size(col("toks")))
        .select(col("doc_id"), col("toks"),
          posexplode(expr("sequence(0, ntok - 1, 12)"))
            .as(Seq("chunk_id", "start")))
        .select(col("doc_id"), col("chunk_id"),
          expr("slice(toks, start + 1, 16)").as("chunk"))
        .select(col("doc_id"), col("chunk_id"),
          size(col("chunk")).as("chunk_len"),
          array_join(col("chunk"), " ").as("chunk_text"))
        .orderBy(col("doc_id"), col("chunk_id"))
    },

    // External ORC source round-trip (reference external/: one more
    // columnar wire format; Spark reads/writes ORC natively).
    "q125_orc_source" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val tmp = graft.sources.ExternalStage.materialize(dir, "orc_customer",
        t.customer) { (df, path) =>
        df.coalesce(1).write.mode("overwrite").orc(path)
      }
      spark.read.orc(tmp)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("c_acctbal").cast("decimal(38,6)")).cast("double")
            .as("total_bal"))
        .orderBy(col("c_mktsegment"))
    },

    // Resample an irregular series to a regular grid: every user
    // sampled at 6-hour ticks, each tick carrying the latest value at
    // or before it — the custom AsOfJoinExec driving a classic
    // time-series normalization (oracle = DuckDB's native ASOF JOIN,
    // an independent implementation). Duplicate (user, ts) readings
    // are collapsed with max_by first so the as-of target is unique.
    "q144_resample" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val grid = t.events.select(col("user_id")).distinct()
        .crossJoin(spark.range(1).select(explode(expr(
          "sequence(timestamp'2024-01-02 00:00:00'," +
            " timestamp'2024-01-30 00:00:00', interval 6 hours)"))
          .as("ts")))
      val readings = t.events
        .groupBy(col("user_id"), col("ts"))
        .agg(max_by(col("value"), col("event_id")).as("v"))
      graft.operators.ExtendedOps.asofJoinExec(
        grid, readings, keyCols = Seq("user_id"), ordCol = "ts")
        .select(col("user_id"), col("ts"), col("v"))
        .orderBy(col("user_id"), col("ts"))
    },

    // OHLC candle aggregation: per (user, hour) open/high/low/close —
    // the ordered-stream summary shape. Open/close resolved by window
    // rank over (ts, event_id) so ties are deterministic, then one
    // hash aggregate; no self-joins.
    "q142_ohlc" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val bucketed = t.events
        .withColumn("hr", date_trunc("hour", col("ts")))
      val w = Window.partitionBy(col("user_id"), col("hr"))
        .orderBy(col("ts"), col("event_id"))
      val wDesc = Window.partitionBy(col("user_id"), col("hr"))
        .orderBy(col("ts").desc, col("event_id").desc)
      bucketed
        .withColumn("rn_a", row_number().over(w))
        .withColumn("rn_d", row_number().over(wDesc))
        .groupBy(col("user_id"), col("hr"))
        .agg(
          max(when(col("rn_a") === 1, col("value"))).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max(when(col("rn_d") === 1, col("value"))).as("close"),
          count(lit(1)).as("n"))
        .where(col("n") >= 2)
        .orderBy(col("user_id"), col("hr"))
    },

    // Relational division: users whose events cover EVERY event type
    // (the "for all" quantifier as count-distinct == universe size).
    "q143_rel_division" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val nTypes = t.events.select(col("event_type")).distinct().count()
      t.events
        .groupBy(col("user_id"))
        .agg(countDistinct(col("event_type")).as("n_types"),
          count(lit(1)).as("n_events"))
        .where(col("n_types") === nTypes)
        .select(col("user_id"), col("n_events"))
        .orderBy(col("user_id"))
    },

    // Schema-evolution union: two generations of a feed (the newer
    // one grew a column) combined with unionByName(allowMissing) —
    // old rows null-fill the new column. The everyday shape of a
    // corpus whose schema drifted over years.
    "q139_union_evolve" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val v1 = t.documents.where(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"), col("source"))
      val v2 = t.documents.where(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      v1.unionByName(v2, allowMissingColumns = true)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          count(col("n_chars")).as("n_with_chars"),
          sum(col("n_chars")).as("chars"))
        .orderBy(col("lang"))
    },

    // Schema merge on read: two parquet file generations with
    // different schemas in one directory; mergeSchema=true widens to
    // the union schema at planning time.
    "q140_merge_schema" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val tmp = graft.sources.ExternalStage.materialize(dir, "evolve_docs",
        t.documents) { (df, path) =>
        df.where(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("lang"))
          .coalesce(1).write.mode("overwrite").parquet(path + "/gen=1")
        df.where(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .coalesce(1).write.mode("overwrite").parquet(path + "/gen=2")
        // mark the stage complete for ExternalStage's cache check
        graft.sources.CacheFs.touch(df.sparkSession, path)
      }
      spark.read.option("mergeSchema", "true").parquet(tmp)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          count(col("n_chars")).as("n_with_chars"),
          sum(col("n_chars")).as("chars"))
        .orderBy(col("lang"))
    },

    // Time-weighted average (ordered-stream aggregate): each reading
    // holds until the next one, so it weighs by its interval — the
    // right mean for irregularly-sampled series. One window pass for
    // the interval, decimal-safe sums for the ratio.
    "q141_twap" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      t.events
        .withColumn("dt",
          (unix_micros(lead(col("ts"), 1).over(w)) -
            unix_micros(col("ts"))).cast("double"))
        .where(col("dt").isNotNull)
        .groupBy(col("user_id"))
        .agg(
          (sum((col("value") * col("dt")).cast("decimal(38,6)"))
            .cast("double") /
           sum(col("dt").cast("decimal(38,6)")).cast("double"))
            .as("twap_raw"),
          count(lit(1)).as("n_intervals"))
        .select(col("user_id"), round(col("twap_raw"), 6).as("twap"),
          col("n_intervals"))
        .orderBy(col("user_id"))
    },

    // Weighted sampling without replacement (Efraimidis-Spirakis):
    // key = ln(u) / w with u a portable-hash uniform and w = doc
    // length; the top-k keys ARE the weighted sample. Deterministic
    // on both engines (pure per-row scalar arithmetic), and the top-k
    // is a TakeOrdered — no full sort at scale.
    "q138_weighted_sample" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      t.documents
        .withColumn("u",
          (expr("graft_fingerprint(text)") + lit(1L)).cast("double") /
            lit(1e15))
        .withColumn("es_key", log(col("u")) / col("n_chars").cast("double"))
        .orderBy(col("es_key").desc, col("doc_id"))
        .limit(20)
        .select(col("doc_id"), col("n_chars"),
          round(col("es_key"), 9).as("es_key"))
    },

    // Robust statistics / outlier detection: per-group median, MAD
    // (median absolute deviation), and the count of |x - med| >
    // 3 * MAD outliers — the outlier gate that survives heavy tails
    // where mean/stddev break. Two aggregate passes + one broadcast
    // join of the per-group model.
    "q136_robust_stats" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val x = t.orders.select(col("o_orderpriority").as("prio"),
        col("o_totalprice").as("x"))
      val med = x.groupBy(col("prio"))
        .agg(expr("percentile(x, 0.5D)").as("med"))
      val mad = x.join(broadcast(med), Seq("prio"))
        .groupBy(col("prio"), col("med"))
        .agg(expr("percentile(abs(x - med), 0.5D)").as("mad"))
      x.join(broadcast(mad), Seq("prio"))
        .groupBy(col("prio"))
        .agg(
          round(first(col("med")), 6).as("med"),
          round(first(col("mad")), 6).as("mad"),
          sum(when(abs(col("x") - col("med")) > col("mad") * 3.0, 1L)
            .otherwise(0L)).as("n_outliers"),
          count(lit(1)).as("n"))
        .orderBy(col("prio"))
    },

    // Chi-square test of independence over a contingency table
    // (event_type x value tercile): observed vs expected counts from
    // the marginals, one pass for the table + broadcast marginals —
    // the dependence screen for categorical columns.
    // Cross-source vocabulary overlap (Jaccard matrix) — the corpus
    // diagnostic for "are these feeds drawing on the same language"
    // that q119's entropy and q135's Zipf slope don't see. The corpus
    // collapses to the DISTINCT (source, term) vocabulary frame in
    // one aggregate (bounded by vocabulary, not volume); pairwise
    // intersections are an equi-join on term over that frame, sizes
    // broadcast back — integer-exact until one final division.
    "q302_vocab_jaccard" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val v = t.documents
        .select(col("source"),
          explode(split(col("text"), " ")).as("term"))
        .where(length(col("term")) > 0)
        .distinct()
      val sizes = v.groupBy(col("source")).agg(count(lit(1)).as("nv"))
      val inter = v.as("x").join(v.as("y"),
          col("x.term") === col("y.term") &&
          col("x.source") < col("y.source"))
        .groupBy(col("x.source").as("source_a"),
          col("y.source").as("source_b"))
        .agg(count(lit(1)).as("n_inter"))
      inter
        .join(broadcast(sizes.select(col("source").as("source_a"),
          col("nv").as("n_a"))), Seq("source_a"))
        .join(broadcast(sizes.select(col("source").as("source_b"),
          col("nv").as("n_b"))), Seq("source_b"))
        .select(col("source_a"), col("source_b"),
          col("n_a"), col("n_b"), col("n_inter"),
          round(col("n_inter").cast("double") /
            (col("n_a") + col("n_b") - col("n_inter")).cast("double"),
            6).as("jaccard"))
        .orderBy(col("source_a"), col("source_b"))
    },

    "q137_chi_square" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val ev = t.events.select(col("event_type").as("et"),
        (floor(col("value") / lit(100.0))).cast("long").as("vb"))
      val obs = ev.groupBy(col("et"), col("vb")).agg(count(lit(1)).as("o"))
      val rowm = ev.groupBy(col("et")).agg(count(lit(1)).as("nr"))
      val colm = ev.groupBy(col("vb")).agg(count(lit(1)).as("nc"))
      val tot = ev.agg(count(lit(1)).as("nt"))
      obs.join(broadcast(rowm), Seq("et"))
        .join(broadcast(colm), Seq("vb"))
        .crossJoin(broadcast(tot))
        .withColumn("e",
          col("nr").cast("double") * col("nc").cast("double") /
            col("nt").cast("double"))
        .groupBy(col("et"))
        .agg(
          round(sum((col("o") - col("e")) * (col("o") - col("e")) / col("e")),
            6).as("chi2_part"),
          count(lit(1)).as("n_cells"))
        .orderBy(col("et"))
    },

    // Zipf slope per language: regress ln(freq) on ln(rank) over the
    // top-200 terms — the standard power-law sanity check on a text
    // corpus (natural text ~ -1; synthetic/templated text diverges).
    // Rank ties break on the term itself, so both engines rank
    // identically.
    "q135_zipf_slope" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val freq = t.documents
        .select(col("lang"), explode(split(col("text"), " ")).as("term"))
        .groupBy(col("lang"), col("term"))
        .agg(count(lit(1)).as("freq"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("freq").desc, col("term"))
      freq
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 200)
        .groupBy(col("lang"))
        .agg(
          round(regr_slope(log(col("freq")), log(col("rank"))), 6)
            .as("zipf_slope"),
          round(regr_r2(log(col("freq")), log(col("rank"))), 6).as("r2"),
          count(lit(1)).as("n_terms"))
        .orderBy(col("lang"))
    },

    // Nest/unnest round trip: per-customer order lists built with
    // collect_list(struct(...)), deterministically sorted, then
    // flattened back with inline() — the nested-document shape
    // (one row per entity, array-of-struct details) and its inverse.
    // The oracle is the flat identity, so the round trip must be
    // lossless.
    "q134_nest_unnest" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      t.orders
        .groupBy(col("o_custkey"))
        .agg(sort_array(collect_list(
          struct(col("o_orderkey"), col("o_totalprice")))).as("os"))
        .select(col("o_custkey"), inline(col("os")))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },

    // arg-max/arg-min aggregates (max_by/min_by — value at the extreme
    // of another expression; o_orderkey is unique, so the answer is
    // deterministic on both engines).
    "q132_arg_extremes" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      t.orders
        .groupBy(col("o_orderstatus"))
        .agg(
          max_by(col("o_totalprice"), col("o_orderkey")).as("last_price"),
          min_by(col("o_totalprice"), col("o_orderkey")).as("first_price"),
          max(col("o_orderkey")).as("last_key"))
        .orderBy(col("o_orderstatus"))
    },

    // Range-clustered data layout: events re-laid-out by
    // repartitionByRange(ts) + sortWithinPartitions(ts) so every file
    // covers a narrow time slice — parquet row-group min/max stats
    // then let a time filter skip almost everything (the clustering
    // discipline a 100 TB event store lives by).
    "q131_sorted_layout" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val tmp = graft.sources.ExternalStage.materialize(dir, "sorted_events",
        t.events) { (df, path) =>
        df.repartitionByRange(8, col("ts")).sortWithinPartitions(col("ts"))
          .write.mode("overwrite").parquet(path)
      }
      spark.read.parquet(tmp)
        .filter(col("ts") >= lit("2024-01-15").cast("timestamp") &&
          col("ts") < lit("2024-01-22").cast("timestamp"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(38,6)")).cast("double").as("total"))
        .orderBy(col("event_type"))
    },

    // File-level min/max MANIFEST pruning over the q131 clustered
    // layout (sources/FileManifest — the Delta/Iceberg data-skipping
    // discipline generalized past Hive partition pruning): one
    // manifest row per file records the ts envelope, a week filter
    // prunes the FILE LIST driver-side (O(#files) metadata, never
    // O(data)) before Spark lists/schedules/opens anything, and the
    // surviving files still get pushdown inside. ManifestSpec pins
    // the pruning rate (< all files survive a one-week filter over a
    // 30-day range-sorted layout) and pruned == unpruned equality;
    // results are layout-invisible so the oracle is the plain
    // filtered aggregate.
    "q314_manifest_scan" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val tmp = graft.sources.ExternalStage.materialize(dir, "sorted_events",
        t.events) { (df, path) =>
        df.repartitionByRange(8, col("ts")).sortWithinPartitions(col("ts"))
          .write.mode("overwrite").parquet(path)
      }
      graft.sources.FileManifest.prunedRead(spark, tmp, "ts",
          java.sql.Timestamp.valueOf("2024-01-15 00:00:00"),
          java.sql.Timestamp.valueOf("2024-01-22 00:00:00"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(38,6)")).cast("double").as("total"))
        .orderBy(col("event_type"))
    },

    // Per-file Bloom manifest point lookup: the data-skipping
    // complement of q314's min/max manifest for HIGH-CARDINALITY
    // keys in a hash-clustered layout (where every file's [lo, hi]
    // envelope spans the whole key domain and min/max prunes
    // nothing). One ~fixed-size Bloom sketch per file; the lookup
    // reads only the candidate files (no false negatives), then the
    // residual equality filter makes the answer exact — results
    // identical to the full scan, which is what the oracle checks.
    // ManifestSpec pins the pruning rate itself.
    "q333_bloom_lookup" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val tmp = graft.sources.ExternalStage.materialize(dir,
        "hashed_lineitem", t.lineitem) { (df, path) =>
        df.repartition(16, col("l_orderkey"))
          .write.mode("overwrite").parquet(path)
      }
      graft.sources.FileManifest
        .bloomLookup(spark, tmp, "l_orderkey", 1L)
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity").cast("decimal(38,6)")).cast("double")
            .as("total_qty"),
          max(col("l_linenumber")).as("max_line"))
    },

    // Z-order (Morton) clustered layout: the 2-D sibling of q131 —
    // bit-interleaved (l_partkey, l_suppkey) coordinates cluster the
    // files into small rectangles of the key space, so footer min/max
    // statistics prune on EITHER dimension (ZorderSpec measures the
    // pruning; q131's 1-D sort can only ever prune its sort column).
    // The layout is invisible to results: the oracle is the same
    // rectangle aggregate over the original parquet.
    // Small-file compaction (lakehouse OPTIMIZE): a deliberately
    // fragmented 64-file staging copy of the corpus is rewritten into
    // ceil(rows/5000) near-target-size files via ONE round-robin
    // repartition. The report's file count is a deterministic
    // function of (rows, target), which makes a LAYOUT operation
    // oracle-checkable; CompactionSpec additionally pins content
    // equality and the per-file row spread.
    "q299_compact" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val frag = graft.sources.ExternalStage.materialize(dir,
        "frag_documents", t.documents) { (df, path) =>
        df.repartition(64).write.mode("overwrite").parquet(path)
      }
      graft.operators.LayoutOps.compact(spark, frag,
        frag + "_compacted", 5000L)
    },

    "q214_zorder_layout" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val proj = t.lineitem.select(col("l_orderkey"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"))
      val tmp = graft.sources.ExternalStage.materialize(dir,
        "zorder_lineitem", proj) { (df, path) =>
        graft.operators.LayoutOps
          .writeZordered(df, "l_partkey", "l_suppkey", 16, path)
      }
      spark.read.parquet(tmp)
        .filter(col("l_partkey").between(20, 150) &&
          col("l_suppkey").between(2, 7))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(38,6)")).cast("double")
            .as("total_qty"))
        .orderBy(col("l_suppkey"))
    },

    // Multi-aggregate PIVOT: each pivot value expands to one column
    // per aggregate (count + decimal-safe sum), still one pass / one
    // Expand — no per-value scans.
    "q130_pivot_multi" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      t.orders
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(38,6)")).cast("double")
            .as("total"))
        .select(col("o_orderpriority"),
          coalesce(col("F_n"), lit(0L)).as("f_n"),
          col("F_total").as("f_total"),
          coalesce(col("O_n"), lit(0L)).as("o_n"),
          col("O_total").as("o_total"))
        .orderBy(col("o_orderpriority"))
    },

    // DML surface (reference sql/statements INSERT/UPDATE/DELETE) the
    // Spark-native way: copy-on-write staging — DELETE = filter,
    // UPDATE = conditional projection, INSERT = union — written once
    // to parquet and queried back. (On a real deployment this is the
    // table-format commit path: Spark itself stays append-only.)
    "q129_dml_cow" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val tmp = graft.sources.ExternalStage.materialize(dir, "dml_nation",
        t.nation) { (df, path) =>
        val afterDelete = df.filter(col("n_regionkey") =!= 3)
        val afterUpdate = afterDelete.withColumn("n_name",
          when(col("n_regionkey") === 1, concat(col("n_name"), lit("_X")))
            .otherwise(col("n_name")))
        val inserted = spark.range(900, 902).select(
          col("id").cast("int").as("n_nationkey"),
          concat(lit("zzz_new"), col("id") - 899).as("n_name"),
          (col("id") % 2).cast("int").as("n_regionkey"))
        afterUpdate.unionByName(inserted)
          .coalesce(1).write.mode("overwrite").parquet(path)
      }
      spark.read.parquet(tmp)
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n"), min(col("n_name")).as("first_name"),
          max(col("n_name")).as("last_name"))
        .orderBy(col("n_regionkey"))
    },

    // Time-travel over the copy-on-write DML history (q129 grown into
    // a table format): three committed snapshots — v0 the base
    // catalog, v1 after a DELETE, v2 after an UPDATE + INSERT — read
    // back BY VERSION with per-version summaries. Immutable parquet
    // snapshots + pinned-version readers are exactly the
    // Delta/Iceberg commit discipline that makes concurrent curation
    // rewrites safe at 100 TB; nothing is rewritten in place.
    "q282_time_travel" -> { (spark, dir) =>
      import graft.sources.VersionedTable
      val t = Tables(spark, dir)
      val root = vtRoot(spark, dir)
      vtStage(spark, dir, root, t)
      (0 to 2).map { v =>
        VersionedTable.read(spark, root, v)
          .agg(lit(v).as("version"), count(lit(1)).as("n_rows"),
            sum(col("n_nationkey")).as("key_sum"),
            countDistinct(col("n_regionkey")).as("n_regions"))
      }.reduce(_ unionByName _).orderBy(col("version"))
    },

    // Row-level diff between two pinned versions (the audit query
    // every versioned curation run ends with): ONE full outer join on
    // the key, status = added / removed / changed / unchanged.
    "q283_version_diff" -> { (spark, dir) =>
      import graft.sources.VersionedTable
      val t = Tables(spark, dir)
      val root = vtRoot(spark, dir)
      vtStage(spark, dir, root, t)
      VersionedTable.diff(spark, root, "n_nationkey", 0, 2)
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), min(col("k")).as("min_key"),
          max(col("k")).as("max_key"))
        .orderBy(col("status"))
    },

    // Hive-style partitioned parquet source: documents laid out as
    // lang=<v>/ directories; the lang filter prunes partitions at
    // planning time (the scan never opens non-en files — the layout
    // every 100 TB corpus uses).
    "q128_partitioned_source" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val tmp = graft.sources.ExternalStage.materialize(dir, "part_docs",
        t.documents) { (df, path) =>
        df.write.mode("overwrite").partitionBy("lang").parquet(path)
      }
      spark.read.parquet(tmp)
        .filter(col("lang") === "en")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy(col("source"))
    },

    // Categorical naive Bayes (second CLASSIFIED flavor next to the
    // nearest-centroid q40): predict event_type from hour-of-day and
    // value bucket, Laplace-smoothed, scored in log space. Train =
    // tiny count aggregates (broadcastable at any corpus size: the
    // model is |labels| * |feature values| rows); score = distinct
    // feature combos x labels, argmax via one window rank.
    "q126_naive_bayes" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val ev = t.events.select(
        hour(col("ts")).cast("long").as("f1"),
        floor(col("value") / lit(50.0)).cast("long").as("f2"),
        col("event_type").as("label"))
      val total = ev.agg(count(lit(1)).as("n_total"))
      val vocab = ev.agg(
        countDistinct(col("f1")).as("v1"),
        countDistinct(col("f2")).as("v2"))
      val nl = ev.groupBy(col("label")).agg(count(lit(1)).as("n_l"))
      val nf1 = ev.groupBy(col("label"), col("f1"))
        .agg(count(lit(1)).as("n_f1"))
      val nf2 = ev.groupBy(col("label"), col("f2"))
        .agg(count(lit(1)).as("n_f2"))
      val combos = ev.select(col("f1"), col("f2")).distinct()
      val scored = combos
        .crossJoin(broadcast(nl))
        .join(broadcast(nf1), Seq("label", "f1"), "left")
        .join(broadcast(nf2), Seq("label", "f2"), "left")
        .crossJoin(broadcast(total)).crossJoin(broadcast(vocab))
        .withColumn("score",
          log(col("n_l").cast("double") / col("n_total").cast("double")) +
          log((coalesce(col("n_f1"), lit(0L)) + lit(1L)).cast("double") /
            (col("n_l") + col("v1")).cast("double")) +
          log((coalesce(col("n_f2"), lit(0L)) + lit(1L)).cast("double") /
            (col("n_l") + col("v2")).cast("double")))
      val w = Window.partitionBy(col("f1"), col("f2"))
        .orderBy(col("score").desc, col("label"))
      scored
        .withColumn("rk", row_number().over(w))
        .where(col("rk") === 1)
        .select(col("f1"), col("f2"), col("label").as("predicted"),
          round(col("score"), 6).as("score"))
        .orderBy(col("f1"), col("f2"))
    },

    // Sequence-packing accounting: docs are laid out per source in
    // doc_id order and packed into 256-token context bins by running
    // offset (bin = start offset div 256). Reports docs + tokens per
    // bin — the packing-efficiency view a data loader needs. One
    // window cumsum per source partition, then a hash aggregate.
    "q122_seq_packing" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      t.documents
        .select(col("source"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("ntok"))
        .withColumn("cum", sum(col("ntok")).over(w))
        .withColumn("bin", expr("(cum - ntok) div 256"))
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("tokens"))
        .orderBy(col("source"), col("bin"))
    },

    // TRUE next-fit sequence packing (vs q122's offset accounting):
    // per source shard, docs in doc_id order fill a 256-token context
    // bin until the next doc would overflow, which CLOSES the bin —
    // the actual greedy packer a data loader runs, with per-bin fill
    // accounting. Scale shape: one hash repartition puts each shard
    // wholly in one partition, the stateful fold is a per-partition
    // single pass (no global order, shards pack in parallel), and the
    // per-bin report is a hash aggregate. Capacity division is by a
    // power of 2 so fill_ratio is IEEE-exact cross-engine. Oracle =
    // the same fold as a per-source recursive CTE.
    "q252_seq_pack" -> { (spark, dir) =>
      val cap = 256L
      val t = Tables(spark, dir)
      val d = t.documents
        .select(col("source"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("ntok"))
        .repartition(col("source"))
        .sortWithinPartitions(col("source"), col("doc_id"))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("bin",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ntok",
          org.apache.spark.sql.types.LongType)))
      val packed = d.mapPartitions { it =>
        var curSrc: String = null
        var bin = 0L; var fill = 0L
        it.map { r =>
          val src = r.getString(0)
          val id = r.getLong(1); val nt = r.getLong(2)
          if (src != curSrc) { curSrc = src; bin = 0L; fill = 0L }
          if (fill > 0 && fill + nt > cap) { bin += 1; fill = 0L }
          fill += nt
          org.apache.spark.sql.Row(src, bin, id, nt)
        }
      }(org.apache.spark.sql.Encoders.row(schema))
      packed.groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("tokens"),
          min(col("doc_id")).as("first_doc"))
        .withColumn("fill_ratio",
          round(col("tokens").cast("double") / cap.toDouble, 6))
        .orderBy(col("source"), col("bin"))
    },

    // Incremental materialized aggregate view (MatViewOps): the
    // per-(source, lang) doc/token totals maintained as a parquet
    // artifact by merging per-delta partial aggregates — the view is
    // built from the src0 slice and then REFRESHED once per remaining
    // source, never re-scanning history; refresh cost = delta scan +
    // view-sized merge (key-bounded, not history-bounded). Integer
    // sums make every merge exact, so the final view hash-matches the
    // oracle's direct full aggregate. IncrementalMatViewSpec pins
    // merge == full recompute after every refresh order.
    "q249_matview" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val keys = Seq("source", "lang")
      val ntok = size(split(col("text"), " "))
      val staged = graft.sources.ExternalStage.materialize(
        dir, "matview_srclang", t.documents) { (df, path) =>
        val sources = df.select(col("source")).distinct()
          .orderBy(col("source")).collect().map(_.getString(0))
        val view = s"$path/view"
        sources.foreach { s =>
          graft.operators.MatViewOps.refresh(spark, view,
            graft.operators.MatViewOps.partial(
              df.where(col("source") === s), keys, ntok), keys)
        }
        // mark the stage complete for materialize's idempotence
        graft.sources.CacheFs.touch(df.sparkSession, path)
      }
      graft.operators.MatViewOps
        .read(spark, s"$staged/view")
        .orderBy(col("source"), col("lang"))
    }
  )

  def oracle: Map[String, String] = Map(
    "q127_group_by_all" -> groupByAllQuery,

    "q123_locf" ->
      """SELECT user_id, event_id,
        |  LAST_VALUE(CASE WHEN event_type = 'click' THEN value END
        |      IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS v_filled
        |FROM events ORDER BY user_id, event_id""".stripMargin,

    "q124_percentile_disc" -> percentileDiscQuery,

    "q119_entropy" ->
      """WITH c AS (
        |  SELECT source, lang, COUNT(*) AS n FROM documents GROUP BY 1, 2),
        |s AS (
        |  SELECT source, CAST(n AS DOUBLE) /
        |    CAST(SUM(n) OVER (PARTITION BY source) AS DOUBLE) AS p
        |  FROM c)
        |SELECT source, ROUND(SUM(-p * LN(p)), 6) AS entropy,
        |  ROUND(1.0 - SUM(p * p), 6) AS gini, COUNT(*) AS n_langs
        |FROM s GROUP BY source ORDER BY source""".stripMargin,

    "q120_histogram" ->
      """WITH mm AS (
        |  SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
        |  FROM lineitem),
        |b AS (
        |  SELECT LEAST(CAST(FLOOR((l_extendedprice - lo) / ((hi - lo) / 20.0))
        |      AS BIGINT), 19) AS b, lo, (hi - lo) / 20.0 AS w
        |  FROM lineitem, mm)
        |SELECT CAST(b AS INT) AS b, COUNT(*) AS n,
        |  ROUND(lo + b * w, 6) AS edge
        |FROM b GROUP BY b, lo, w ORDER BY b""".stripMargin,

    "q121_doc_chunking" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    len(string_split(text, ' ')) AS ntok
        |  FROM documents),
        |u AS (
        |  SELECT doc_id, toks,
        |    unnest(generate_series(0, CAST(ntok - 1 AS BIGINT), 12)) AS i
        |  FROM d),
        |c AS (
        |  SELECT doc_id, CAST(i // 12 AS INT) AS chunk_id,
        |    list_slice(toks, i + 1, i + 16) AS chunk
        |  FROM u)
        |SELECT doc_id, chunk_id, CAST(len(chunk) AS INT) AS chunk_len,
        |  array_to_string(chunk, ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    "q125_orc_source" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE)
        |    AS total_bal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment"""
        .stripMargin,

    "q144_resample" ->
      """WITH grid AS (
        |  SELECT u.user_id, g.ts FROM
        |    (SELECT DISTINCT user_id FROM events) u
        |    CROSS JOIN (SELECT unnest(generate_series(
        |      TIMESTAMP '2024-01-02 00:00:00',
        |      TIMESTAMP '2024-01-30 00:00:00',
        |      INTERVAL 6 HOUR)) AS ts) g),
        |readings AS (
        |  SELECT user_id, ts, max_by(value, event_id) AS v
        |  FROM events GROUP BY user_id, ts)
        |SELECT grid.user_id, grid.ts, r.v
        |FROM grid ASOF LEFT JOIN readings r
        |  ON grid.user_id = r.user_id AND grid.ts >= r.ts
        |ORDER BY grid.user_id, grid.ts""".stripMargin,

    "q142_ohlc" ->
      """WITH b AS (
        |  SELECT user_id, date_trunc('hour', ts) AS hr, ts, event_id,
        |    value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
        |      ORDER BY ts, event_id) AS rn_a,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
        |      ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM events)
        |SELECT user_id, hr,
        |  MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
        |  MAX(value) AS high, MIN(value) AS low,
        |  MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
        |  COUNT(*) AS n
        |FROM b GROUP BY user_id, hr HAVING COUNT(*) >= 2
        |ORDER BY user_id, hr""".stripMargin,

    "q143_rel_division" ->
      """SELECT user_id, COUNT(*) AS n_events
        |FROM events GROUP BY user_id
        |HAVING COUNT(DISTINCT event_type) =
        |  (SELECT COUNT(DISTINCT event_type) FROM events)
        |ORDER BY user_id""".stripMargin,

    "q139_union_evolve" ->
      """WITH u AS (
        |  SELECT doc_id, lang, CAST(NULL AS BIGINT) AS n_chars
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id, lang, n_chars
        |  FROM documents WHERE doc_id % 2 = 1)
        |SELECT lang, COUNT(*) AS n, COUNT(n_chars) AS n_with_chars,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM u GROUP BY lang ORDER BY lang""".stripMargin,

    "q140_merge_schema" ->
      """WITH u AS (
        |  SELECT doc_id, lang, CAST(NULL AS BIGINT) AS n_chars
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id, lang, n_chars
        |  FROM documents WHERE doc_id % 2 = 1)
        |SELECT lang, COUNT(*) AS n, COUNT(n_chars) AS n_with_chars,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM u GROUP BY lang ORDER BY lang""".stripMargin,

    "q141_twap" ->
      """WITH d AS (
        |  SELECT user_id, value,
        |    CAST(epoch_us(LEAD(ts) OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id)) - epoch_us(ts) AS DOUBLE) AS dt
        |  FROM events)
        |SELECT user_id,
        |  ROUND(CAST(SUM(CAST(value * dt AS DECIMAL(38,6))) AS DOUBLE) /
        |    CAST(SUM(CAST(dt AS DECIMAL(38,6))) AS DOUBLE), 6) AS twap,
        |  COUNT(*) AS n_intervals
        |FROM d WHERE dt IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q138_weighted_sample" ->
      """WITH fp AS (SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(SUBSTRING(text, 1, 256), ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |    (h, c) -> (h * 31 + c) % 1000000000000000) AS fp
        |  FROM documents),
        |k AS (SELECT d.doc_id, d.n_chars,
        |    LN(CAST(f.fp + 1 AS DOUBLE) / 1000000000000000.0)
        |      / CAST(d.n_chars AS DOUBLE) AS es_key
        |  FROM documents d JOIN fp f ON d.doc_id = f.doc_id)
        |SELECT doc_id, n_chars, ROUND(es_key, 9) AS es_key FROM k
        |ORDER BY es_key DESC, doc_id LIMIT 20""".stripMargin,

    "q136_robust_stats" ->
      """WITH med AS (
        |  SELECT o_orderpriority AS prio,
        |    QUANTILE_CONT(o_totalprice, 0.5) AS med
        |  FROM orders GROUP BY 1),
        |mad AS (
        |  SELECT prio, med,
        |    QUANTILE_CONT(ABS(o_totalprice - med), 0.5) AS mad
        |  FROM orders JOIN med ON o_orderpriority = prio
        |  GROUP BY prio, med)
        |SELECT prio, ROUND(med, 6) AS med, ROUND(mad, 6) AS mad,
        |  CAST(SUM(CASE WHEN ABS(o_totalprice - med) > mad * 3.0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  COUNT(*) AS n
        |FROM orders JOIN mad ON o_orderpriority = prio
        |GROUP BY prio, med, mad ORDER BY prio""".stripMargin,

    // same distinct vocabulary frame + term equi-join
    "q302_vocab_jaccard" ->
      """WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |v AS (SELECT DISTINCT source, term FROM toks
        |  WHERE LENGTH(term) > 0),
        |sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS nv
        |  FROM v GROUP BY source),
        |inter AS (
        |  SELECT x.source AS source_a, y.source AS source_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_inter
        |  FROM v x JOIN v y
        |    ON x.term = y.term AND x.source < y.source
        |  GROUP BY 1, 2)
        |SELECT i.source_a, i.source_b,
        |  a.nv AS n_a, b.nv AS n_b, i.n_inter,
        |  ROUND(CAST(i.n_inter AS DOUBLE)
        |    / CAST(a.nv + b.nv - i.n_inter AS DOUBLE), 6) AS jaccard
        |FROM inter i
        |JOIN sizes a ON i.source_a = a.source
        |JOIN sizes b ON i.source_b = b.source
        |ORDER BY i.source_a, i.source_b""".stripMargin,

    "q137_chi_square" ->
      """WITH ev AS (
        |  SELECT event_type AS et,
        |    CAST(FLOOR(value / 100.0) AS BIGINT) AS vb
        |  FROM events),
        |obs AS (SELECT et, vb, COUNT(*) AS o FROM ev GROUP BY 1, 2),
        |rowm AS (SELECT et, COUNT(*) AS nr FROM ev GROUP BY 1),
        |colm AS (SELECT vb, COUNT(*) AS nc FROM ev GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS nt FROM ev)
        |SELECT et,
        |  ROUND(SUM((o - e) * (o - e) / e), 6) AS chi2_part,
        |  COUNT(*) AS n_cells
        |FROM (
        |  SELECT obs.et, obs.o,
        |    CAST(nr AS DOUBLE) * CAST(nc AS DOUBLE) / CAST(nt AS DOUBLE)
        |      AS e
        |  FROM obs JOIN rowm ON obs.et = rowm.et
        |  JOIN colm ON obs.vb = colm.vb CROSS JOIN tot)
        |GROUP BY et ORDER BY et""".stripMargin,

    "q135_zipf_slope" ->
      """WITH freq AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |counts AS (
        |  SELECT lang, term, COUNT(*) AS freq FROM freq GROUP BY 1, 2),
        |ranked AS (
        |  SELECT lang, freq, ROW_NUMBER() OVER (
        |      PARTITION BY lang ORDER BY freq DESC, term) AS rank
        |  FROM counts)
        |SELECT lang,
        |  ROUND(regr_slope(LN(freq), LN(rank)), 6) AS zipf_slope,
        |  ROUND(regr_r2(LN(freq), LN(rank)), 6) AS r2,
        |  COUNT(*) AS n_terms
        |FROM ranked WHERE rank <= 200
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "q134_nest_unnest" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM orders
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q132_arg_extremes" ->
      """SELECT o_orderstatus,
        |  max_by(o_totalprice, o_orderkey) AS last_price,
        |  min_by(o_totalprice, o_orderkey) AS first_price,
        |  MAX(o_orderkey) AS last_key
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    // the report is a closed form of (rows, target): that is the point
    "q299_compact" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(64 AS BIGINT) AS files_before,
        |  CAST(CEIL(COUNT(*) / 5000.0) AS BIGINT) AS files_after,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows_after
        |FROM documents""".stripMargin,

    "q214_zorder_layout" ->
      """SELECT l_suppkey, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)
        |    AS total_qty
        |FROM lineitem
        |WHERE l_partkey BETWEEN 20 AND 150
        |  AND l_suppkey BETWEEN 2 AND 7
        |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,

    "q131_sorted_layout" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-15' AND ts < TIMESTAMP '2024-01-22'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // manifest pruning is layout metadata — results identical to the
    // plain filtered aggregate
    "q314_manifest_scan" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-15' AND ts < TIMESTAMP '2024-01-22'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the Bloom-pruned lookup must equal the plain full-scan filter
    "q333_bloom_lookup" ->
      """SELECT l_orderkey, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)
        |    AS total_qty,
        |  MAX(l_linenumber) AS max_line
        |FROM lineitem WHERE l_orderkey = 1
        |GROUP BY l_orderkey""".stripMargin,

    "q130_pivot_multi" ->
      """SELECT o_orderpriority,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS f_n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
        |    FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS f_total,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS o_n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
        |    FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS o_total
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    // the three snapshot states recomputed relationally
    "q282_time_travel" ->
      """WITH v1 AS (SELECT * FROM nation WHERE n_regionkey <> 3),
        |v2 AS (
        |  SELECT n_nationkey,
        |    CASE WHEN n_regionkey = 1 THEN n_name || '_X' ELSE n_name END
        |      AS n_name,
        |    n_regionkey FROM v1
        |  UNION ALL SELECT 900, 'zzz_new1', 0
        |  UNION ALL SELECT 901, 'zzz_new2', 1)
        |SELECT CAST(0 AS INT) AS version, CAST(COUNT(*) AS BIGINT)
        |    AS n_rows,
        |  CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
        |  CAST(COUNT(DISTINCT n_regionkey) AS BIGINT) AS n_regions
        |FROM nation
        |UNION ALL
        |SELECT CAST(1 AS INT), CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(n_nationkey) AS BIGINT),
        |  CAST(COUNT(DISTINCT n_regionkey) AS BIGINT) FROM v1
        |UNION ALL
        |SELECT CAST(2 AS INT), CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(n_nationkey) AS BIGINT),
        |  CAST(COUNT(DISTINCT n_regionkey) AS BIGINT) FROM v2
        |ORDER BY version""".stripMargin,

    // same canonical-string row fingerprints + full outer join
    "q283_version_diff" ->
      """WITH v2 AS (
        |  SELECT n_nationkey,
        |    CASE WHEN n_regionkey = 1 THEN n_name || '_X' ELSE n_name END
        |      AS n_name,
        |    n_regionkey FROM nation WHERE n_regionkey <> 3
        |  UNION ALL SELECT 900, 'zzz_new1', 0
        |  UNION ALL SELECT 901, 'zzz_new2', 1),
        |fa AS (SELECT n_nationkey AS k,
        |    n_name || CAST(n_regionkey AS VARCHAR) AS fp_a FROM nation),
        |fb AS (SELECT n_nationkey AS k,
        |    n_name || CAST(n_regionkey AS VARCHAR) AS fp_b FROM v2),
        |d AS (
        |  SELECT COALESCE(fa.k, fb.k) AS k,
        |    CASE WHEN fa.k IS NULL THEN 'added'
        |      WHEN fb.k IS NULL THEN 'removed'
        |      WHEN fp_a <> fp_b THEN 'changed'
        |      ELSE 'unchanged' END AS status
        |  FROM fa FULL OUTER JOIN fb ON fa.k = fb.k)
        |SELECT status, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(MIN(k) AS INT) AS min_key, CAST(MAX(k) AS INT) AS max_key
        |FROM d GROUP BY status ORDER BY status""".stripMargin,

    "q129_dml_cow" ->
      """WITH final AS (
        |  SELECT n_nationkey,
        |    CASE WHEN n_regionkey = 1 THEN n_name || '_X' ELSE n_name END
        |      AS n_name,
        |    n_regionkey
        |  FROM nation WHERE n_regionkey <> 3
        |  UNION ALL SELECT 900, 'zzz_new1', 0
        |  UNION ALL SELECT 901, 'zzz_new2', 1)
        |SELECT n_regionkey, COUNT(*) AS n, MIN(n_name) AS first_name,
        |  MAX(n_name) AS last_name
        |FROM final GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,

    "q128_partitioned_source" ->
      """SELECT source, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents WHERE lang = 'en'
        |GROUP BY source ORDER BY source""".stripMargin,

    "q126_naive_bayes" ->
      """WITH ev AS (
        |  SELECT CAST(hour(ts) AS BIGINT) AS f1,
        |    CAST(FLOOR(value / 50.0) AS BIGINT) AS f2,
        |    event_type AS label
        |  FROM events),
        |total AS (SELECT COUNT(*) AS n_total FROM ev),
        |vocab AS (SELECT COUNT(DISTINCT f1) AS v1,
        |    COUNT(DISTINCT f2) AS v2 FROM ev),
        |nl AS (SELECT label, COUNT(*) AS n_l FROM ev GROUP BY label),
        |nf1 AS (SELECT label, f1, COUNT(*) AS n_f1 FROM ev GROUP BY 1, 2),
        |nf2 AS (SELECT label, f2, COUNT(*) AS n_f2 FROM ev GROUP BY 1, 2),
        |combos AS (SELECT DISTINCT f1, f2 FROM ev),
        |scored AS (
        |  SELECT c.f1, c.f2, nl.label,
        |    LN(CAST(n_l AS DOUBLE) / CAST(n_total AS DOUBLE)) +
        |    LN(CAST(COALESCE(n_f1, 0) + 1 AS DOUBLE) /
        |       CAST(n_l + v1 AS DOUBLE)) +
        |    LN(CAST(COALESCE(n_f2, 0) + 1 AS DOUBLE) /
        |       CAST(n_l + v2 AS DOUBLE)) AS score
        |  FROM combos c CROSS JOIN nl
        |  LEFT JOIN nf1 ON nf1.label = nl.label AND nf1.f1 = c.f1
        |  LEFT JOIN nf2 ON nf2.label = nl.label AND nf2.f2 = c.f2
        |  CROSS JOIN total CROSS JOIN vocab),
        |ranked AS (
        |  SELECT f1, f2, label, score, ROW_NUMBER() OVER (
        |      PARTITION BY f1, f2 ORDER BY score DESC, label) AS rk
        |  FROM scored)
        |SELECT f1, f2, label AS predicted, ROUND(score, 6) AS score
        |FROM ranked WHERE rk = 1 ORDER BY f1, f2""".stripMargin,

    "q122_seq_packing" ->
      """WITH d AS (
        |  SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
        |  FROM documents),
        |c AS (
        |  SELECT source, ntok,
        |    CAST(SUM(ntok) OVER (PARTITION BY source ORDER BY doc_id)
        |      AS BIGINT) AS cum
        |  FROM d)
        |SELECT source, (cum - ntok) // 256 AS bin, COUNT(*) AS n_docs,
        |  CAST(SUM(ntok) AS BIGINT) AS tokens
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the same next-fit fold as a per-source recursive CTE
    "q252_seq_pack" ->
      """WITH RECURSIVE d AS (
        |  SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
        |      AS rn
        |  FROM documents),
        |p AS (
        |  SELECT source, doc_id, ntok, rn, CAST(0 AS BIGINT) AS bin,
        |    ntok AS fill
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.source, d.doc_id, d.ntok, d.rn,
        |    CASE WHEN p.fill + d.ntok > 256 THEN p.bin + 1
        |      ELSE p.bin END,
        |    CASE WHEN p.fill + d.ntok > 256 THEN d.ntok
        |      ELSE p.fill + d.ntok END
        |  FROM d JOIN p ON d.source = p.source AND d.rn = p.rn + 1)
        |SELECT source, bin, COUNT(*) AS n_docs,
        |  CAST(SUM(ntok) AS BIGINT) AS tokens, MIN(doc_id) AS first_doc,
        |  ROUND(CAST(SUM(ntok) AS DOUBLE) / 256.0, 6) AS fill_ratio
        |FROM p GROUP BY source, bin ORDER BY source, bin""".stripMargin,

    // the maintained view must equal a direct full aggregate
    "q249_matview" ->
      """SELECT source, lang, COUNT(*) AS n_rows,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |FROM documents GROUP BY source, lang
        |ORDER BY source, lang""".stripMargin
  )
}
