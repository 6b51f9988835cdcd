package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}
import graft.sources.CacheFs

/** Okapi BM25 ranked retrieval as a relational plan (the reference's
  * text-search surface re-expressed Spark-first; sclera exposes search
  * through external text engines — here the posting-list shape is the
  * relational plan itself).
  *
  * Scale notes — the whole query is ONE corpus scan with no token-
  * level shuffle: document length and per-query-term term frequencies
  * are per-row array projections (`size(tokens)`,
  * `size(filter(tokens, = term))`) computed from a single tokenize;
  * corpus statistics (N, avgdl, per-term df) collapse to a 1-ROW
  * aggregate that broadcast-cross-joins back (no driver-side action
  * anywhere); the global top-k funnels through the bounded
  * graft_topk_by aggregate — map-side combined, never a corpus-wide
  * ranking window. At 100 TB the same per-row shapes run against the
  * pre-built posting-list index instead (see [[buildIndex]] /
  * [[bm25Indexed]]): per-query cost becomes |terms| posting joins +
  * the bounded top-k, independent of corpus token count.
  */
object TextSearchOps {

  /** Per-doc token lengths + per-term tfs as one zero-shuffle
    * projection. Docs with no tokens are dropped — explode-based
    * length counting (the oracle's shape) never sees them, so they
    * are outside the corpus for N/avgdl purposes. */
  private def tfProjection(docs: DataFrame, idCol: String,
      textCol: String, terms: Seq[String]): DataFrame = {
    val tfCols: Seq[Column] = terms.zipWithIndex.map { case (t, i) =>
      size(filter(col("toks"), x => x === lit(t))).cast("long").as(s"tf$i")
    }
    docs
      .select(col(idCol), TF.regexTokens(col(textCol)).as("toks"))
      .select(Seq(col(idCol), size(col("toks")).cast("long").as("dl"))
        ++ tfCols: _*)
      .where(col("dl") > 0)
  }

  /** BM25 weight of one term occurrence given tf/dl and the broadcast
    * corpus stats columns (n_docs, avgdl, df_i). */
  private def weight(tf: Column, dl: Column, df: Column,
      nDocs: Column, avgdl: Column, k1: Double, b: Double): Column = {
    val idf = log((nDocs - df + lit(0.5)) / (df + lit(0.5)) + lit(1.0))
    idf * (tf.cast("double") * lit(k1 + 1.0)) /
      (tf.cast("double") +
        lit(k1) * (lit(1.0 - b) + lit(b) * (dl.cast("double") / avgdl)))
  }

  /** Query-likelihood retrieval with Dirichlet smoothing (Ponte &
    * Croft 1998; Zhai & Lafferty 2001) — the other classical
    * probabilistic ranking besides BM25, sharing its zero-shuffle
    * shape: per-term tfs and doc length are per-row projections off
    * ONE tokenize; the corpus statistics (total tokens + per-term
    * collection frequencies) are ONE 1-row aggregate broadcast back;
    * candidates (>= 1 matching term) score ALL query terms in fixed
    * term order — score(q,d) = Σ_t ln((tf + μ·p_t) / (dl + μ)) with
    * p_t = (ctf_t + 1)/(tokens + 1) (add-one keeps ln finite for
    * corpus-absent terms); bounded graft_topk_by funnel, never a
    * ranking window. */
  def queryLikelihood(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int, mu: Double = 300.0): DataFrame = {
    require(terms.nonEmpty, "query likelihood needs at least one term")
    val base = CacheScope.scoped(tfProjection(docs, idCol, textCol, terms))
    val statCols: Seq[Column] =
      Seq(sum(col("dl")).cast("double").as("tokens")) ++
      terms.indices.map(i =>
        sum(col(s"tf$i")).cast("double").as(s"ctf$i"))
    val stats = base.agg(statCols.head, statCols.tail: _*)
    val score = terms.indices.map { i =>
      log((col(s"tf$i").cast("double")
        + lit(mu) * ((col(s"ctf$i") + lit(1.0))
          / (col("tokens") + lit(1.0))))
        / (col("dl").cast("double") + lit(mu)))
    }.reduce(_ + _)
    base
      .where(terms.indices.map(i => col(s"tf$i") > 0).reduce(_ || _))
      .crossJoin(broadcast(stats))
      .withColumn("score", round(score, 6))
      .groupBy()
      .agg(expr(s"graft_topk_by(score, $idCol, $idCol, $k)").as("top"))
      .select(posexplode(col("top")))
      .select((col("pos") + 1).cast("int").as("rk"),
        col("col.tie").as(idCol), col("col.score").as("score"))
      .orderBy(col("rk"))
  }

  def bm25(docs: DataFrame, idCol: String, textCol: String,
           terms: Seq[String], k: Int,
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "GRAFT SEARCH needs at least one query term")
    val base = CacheScope.scoped(tfProjection(docs, idCol, textCol, terms))
    // 1-row corpus statistics; joins back via broadcast, never .head()
    val statCols: Seq[Column] =
      Seq(count(lit(1)).cast("double").as("n_docs"),
        (sum(col("dl").cast("decimal(38,6)")).cast("double") /
          count(lit(1)).cast("double")).as("avgdl")) ++
      terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L))
          .cast("double").as(s"df$i"))
    val stats = base.agg(statCols.head, statCols.tail: _*)
    // score = fixed term-order sum of per-term weights (deterministic
    // float order, same as the oracle's coalesced conditional sums)
    val score = terms.indices.map { i =>
      when(col(s"tf$i") > 0,
        weight(col(s"tf$i"), col("dl"), col(s"df$i"),
          col("n_docs"), col("avgdl"), k1, b))
        .otherwise(lit(0.0))
    }.reduce(_ + _)
    base
      .where(terms.indices.map(i => col(s"tf$i") > 0).reduce(_ || _))
      .crossJoin(broadcast(stats))
      .withColumn("score", round(score, 6))
      .groupBy()
      .agg(expr(s"graft_topk_by(score, $idCol, $idCol, $k)").as("top"))
      .select(posexplode(col("top")))
      .select((col("pos") + 1).cast("int").as("rk"),
        col("col.tie").as(idCol), col("col.score").as("score"))
      .orderBy(col("rk"))
  }

  // ------------------------------------------------------------------
  // Materialized inverted index — the 100-TB path. Build once, search
  // many: the posting list (term, doc, tf) and the doc-length/stats
  // tables persist as parquet, and a query touches only its terms'
  // postings.
  // ------------------------------------------------------------------

  /** True iff a COMPLETE index exists at `indexDir` (stats is written
    * last by buildIndex, so its _SUCCESS marker closes the build).
    * Checked through the Hadoop FileSystem so an index on HDFS/S3 is
    * visible — a java.nio check only sees the driver's local disk. */
  def indexComplete(indexDir: String): Boolean =
    graft.sources.CacheFs.complete(
      org.apache.spark.sql.SparkSession.active, s"$indexDir/stats")

  /** Content fingerprint of a corpus directory — delegates to
    * [[graft.sources.CacheFs.fingerprint]] (Hadoop FileSystem
    * listing: sees HDFS/S3 corpora, not just driver-local paths).
    * Cache keys derived from this invalidate automatically when the
    * corpus is regenerated in place — a path-only key (e.g.
    * `dir.hashCode`) would silently serve a stale index. */
  def corpusFingerprint(dir: String): String =
    graft.sources.CacheFs.fingerprint(
      org.apache.spark.sql.SparkSession.active, dir)

  /** Build the inverted index at `indexDir`: `postings` (term, id, tf
    * — partitioned by term prefix so a query's term lookups prune
    * files), `doclen` (id, dl), and `stats` (1 row: n_docs, avgdl).
    * One tokenize pass over the corpus; postings shuffle once on
    * (term, id). */
  def buildIndex(docs: DataFrame, idCol: String, textCol: String,
      indexDir: String): Unit = {
    val toks = docs
      .select(col(idCol), TF.regexTokens(col(textCol)).as("toks"))
      .persist()
    toks
      .select(col(idCol), size(col("toks")).cast("long").as("dl"))
      .where(col("dl") > 0)
      .write.mode("overwrite").parquet(s"$indexDir/doclen")
    toks
      .select(col(idCol), explode(col("toks")).as("term"))
      .groupBy(col("term"), col(idCol))
      .agg(count(lit(1)).as("tf"))
      .withColumn("tp", substring(col("term"), 1, 1))
      .write.mode("overwrite").partitionBy("tp")
      .parquet(s"$indexDir/postings")
    toks.unpersist()
    val spark = docs.sparkSession
    // stats is an APPEND-ONLY DELTA table: one (n_docs, sum_dl) row
    // per commit, integers carried exactly in doubles. Totals (and
    // avgdl) are derived by [[indexStats]] — a bounded one-row-per-
    // commit aggregate. Append-only means incremental maintenance
    // never read-modify-writes shared state, which is what makes the
    // streaming apply idempotent under crash-replay.
    spark.read.parquet(s"$indexDir/doclen")
      .agg(count(lit(1)).cast("double").as("n_docs"),
        sum(col("dl").cast("decimal(38,6)")).cast("double").as("sum_dl"))
      .write.mode("overwrite").parquet(s"$indexDir/stats")
  }

  /** Corpus totals derived from the stats delta table: 1 row
    * (n_docs, avgdl, sum_dl). The deltas are exact integers in
    * doubles, so the sums — and the single division — are
    * bit-identical to a from-scratch rebuild's. */
  def indexStats(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): DataFrame =
    spark.read.parquet(s"$indexDir/stats")
      .agg(sum(col("n_docs")).as("n_docs"),
        (sum(col("sum_dl")) / sum(col("n_docs"))).as("avgdl"),
        sum(col("sum_dl")).as("sum_dl"))

  /** Append a batch of NEW documents to an existing index: their
    * postings and doc lengths append in place (one tokenize pass over
    * the batch only) and one (n_docs, sum_dl) DELTA row lands in the
    * stats table — nothing reads or rewrites existing index state, so
    * the 100-TB "build once" story survives a growing corpus and
    * every write is O(batch). Caller contract: batch ids are new
    * (streaming dedup upstream). */
  def appendToIndex(newDocs: DataFrame, idCol: String, textCol: String,
      indexDir: String): Unit = {
    require(indexComplete(indexDir),
      s"appendToIndex: no complete index at $indexDir (buildIndex first)")
    val toks = newDocs
      .select(col(idCol), TF.regexTokens(col(textCol)).as("toks"))
      .persist()
    val newLens = toks
      .select(col(idCol), size(col("toks")).cast("long").as("dl"))
      .where(col("dl") > 0)
    newLens.write.mode("append").parquet(s"$indexDir/doclen")
    toks
      .select(col(idCol), explode(col("toks")).as("term"))
      .groupBy(col("term"), col(idCol))
      .agg(count(lit(1)).as("tf"))
      .withColumn("tp", substring(col("term"), 1, 1))
      .write.mode("append").partitionBy("tp")
      .parquet(s"$indexDir/postings")
    newLens
      .agg(count(lit(1)).cast("double").as("n_docs"),
        coalesce(sum(col("dl").cast("decimal(38,6)")).cast("double"),
          lit(0.0)).as("sum_dl"))
      .coalesce(1).write.mode("append").parquet(s"$indexDir/stats")
    toks.unpersist()
    ()
  }

  /** Crash-safe, IDEMPOTENT per-batch index maintenance for the
    * streaming path (at-least-once foreachBatch): every component is
    * append-only with DETERMINISTIC batch-derived file names, staged
    * then moved, behind a per-batch applied-marker. A replay of a
    * committed batch is a no-op; a replay of a torn apply first
    * clears that batch's files and re-moves the full set; the
    * bootstrap build writes an INTENT record first, so its replay
    * re-runs the (overwrite-mode, idempotent) build instead of
    * double-appending. */
  def applyBatchIdempotent(batch: DataFrame, idCol: String,
      textCol: String, indexDir: String, tag: String): Unit = {
    val spark = batch.sparkSession
    val root = new Path(indexDir)
    val fs = CacheFs.fs(spark, root)
    fs.mkdirs(root)
    val applied = s"_applied_$tag"
    if (fs.exists(new Path(root, applied))) return
    def names = fs.listStatus(root).map(_.getPath.getName)
    val bootTag = names.collectFirst {
      case n if n.startsWith("_bootstrap_") => n.stripPrefix("_bootstrap_")
    }
    if (!indexComplete(indexDir) || bootTag.contains(tag)) {
      // intent BEFORE the build: a replay of this batch must rebuild
      // (overwrite semantics), never append on top of its own output
      CacheFs.touch(spark, indexDir, s"_bootstrap_$tag")
      buildIndex(batch, idCol, textCol, indexDir)
      // the rebuild overwrote the component dirs, wiping any batches
      // appended after the original bootstrap — drop their markers so
      // the at-least-once source's re-delivery re-applies them
      // instead of being suppressed by stale markers
      names.filter(n => n.startsWith("_applied_") && n != applied)
        .foreach(n => fs.delete(new Path(root, n), false))
      CacheFs.touch(spark, indexDir, applied)
    } else CacheFs.commitBatch(spark, indexDir, tag, applied) { stage =>
      val toks = batch
        .select(col(idCol), TF.regexTokens(col(textCol)).as("toks"))
        .persist()
      val newLens = toks
        .select(col(idCol), size(col("toks")).cast("long").as("dl"))
        .where(col("dl") > 0)
      newLens.write.mode("overwrite").parquet(s"$stage/doclen")
      toks
        .select(col(idCol), explode(col("toks")).as("term"))
        .groupBy(col("term"), col(idCol))
        .agg(count(lit(1)).as("tf"))
        .withColumn("tp", substring(col("term"), 1, 1))
        .write.mode("overwrite").partitionBy("tp")
        .parquet(s"$stage/postings")
      newLens
        .agg(count(lit(1)).cast("double").as("n_docs"),
          coalesce(sum(col("dl").cast("decimal(38,6)")).cast("double"),
            lit(0.0)).as("sum_dl"))
        .coalesce(1).write.mode("overwrite").parquet(s"$stage/stats")
      toks.unpersist()
      ()
    }
  }

  /** BM25 top-k against a prebuilt index: reads ONLY the query terms'
    * postings (partition-pruned by term prefix + pushed term filter),
    * never the corpus text. Identical scores to [[bm25]]. */
  def bm25Indexed(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, idCol: String, terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "GRAFT SEARCH needs at least one query term")
    val postings = spark.read.parquet(s"$indexDir/postings")
      .where(col("tp").isin(terms.map(_.take(1)).distinct: _*) &&
        col("term").isin(terms: _*))
    val doclen = spark.read.parquet(s"$indexDir/doclen")
    val stats = indexStats(spark, indexDir)
    val dfreq = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = postings
      .join(broadcast(dfreq), "term")
      .join(doclen, idCol)
      .crossJoin(broadcast(stats))
      .withColumn("w",
        weight(col("tf"), col("dl"), col("df").cast("double"),
          col("n_docs"), col("avgdl"), k1, b))
    // fixed term-order sum, same float discipline as the direct path
    val termSums: Seq[Column] = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, col("w"))).as(s"w$i")
    }
    val score = terms.indices
      .map(i => coalesce(col(s"w$i"), lit(0.0)))
      .reduce(_ + _)
    w.groupBy(col(idCol)).agg(termSums.head, termSums.tail: _*)
      .withColumn("score", round(score, 6))
      .groupBy()
      .agg(expr(s"graft_topk_by(score, $idCol, $idCol, $k)").as("top"))
      .select(posexplode(col("top")))
      .select((col("pos") + 1).cast("int").as("rk"),
        col("col.tie").as(idCol), col("col.score").as("score"))
      .orderBy(col("rk"))
  }
}
