package graft.operators

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.CacheFs

/** Incremental materialized aggregate view: a grouped aggregate kept
  * as a parquet artifact and maintained by MERGING mergeable partial
  * aggregates — never by re-scanning history. The view stores
  * (keys..., n_rows, n_tokens) where both measures are integer sums,
  * so refresh = re-aggregate(current partials ∪ delta partials) is
  * EXACT and associative: any refresh order, any delta batching,
  * yields bit-identical state to a full recompute (spec-pinned by
  * IncrementalMatViewSpec, the aggregate analogue of
  * IncrementalIndexSpec's build-once/extend-forever inverted index).
  *
  * Scale shape: each refresh scans ONLY the delta (one hash aggregate,
  * map-side combined) plus the current view — and the view is bounded
  * by key cardinality, not history volume, so a 100-TB fact with a
  * 10k-key view refreshes in delta time. Generation swap is
  * write-new-then-rename (the DML copy-on-write discipline); readers
  * of the old generation are unaffected until the swap. All path
  * operations go through the Hadoop FileSystem, so the view can live
  * on HDFS/S3 — a java.nio swap only works on the driver's local
  * disk.
  *
  * Reference analogue: sclera evaluates views by re-execution
  * (modules/core/src/main/scala/sql/ViewTable); the incremental-merge
  * maintenance here is the Spark-native upgrade of that surface.
  */
object MatViewOps {

  /** Mergeable partial aggregate of one delta batch. */
  def partial(delta: DataFrame, keys: Seq[String], ntok: Column): DataFrame =
    delta.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_rows"), sum(ntok.cast("long")).as("n_tokens"))

  /** Merge a delta's partials into the view at `viewPath` (creating it
    * if absent): new generation written beside the old, then swapped
    * in via rename. Integer sum re-aggregation — exact. */
  def refresh(spark: SparkSession, viewPath: String,
      deltaPartial: DataFrame, keys: Seq[String]): Unit = {
    val merged =
      if (!CacheFs.complete(spark, viewPath)) deltaPartial
      else spark.read.parquet(viewPath).unionByName(deltaPartial)
        .groupBy(keys.map(col): _*)
        .agg(sum(col("n_rows")).as("n_rows"),
          sum(col("n_tokens")).as("n_tokens"))
    val next = new Path(viewPath + ".next")
    merged.coalesce(1).write.mode("overwrite").parquet(next.toString)
    // generation swap: move old out of the way, promote the new one.
    // FileSystem rename — the same commit-by-pointer move every table
    // format (Delta/Iceberg) does on an object store.
    val filesystem = CacheFs.fs(spark, next)
    val old = new Path(viewPath + ".old")
    filesystem.delete(old, true)
    val cur = new Path(viewPath)
    if (filesystem.exists(cur)) filesystem.rename(cur, old)
    if (!filesystem.rename(next, cur))
      throw new IllegalStateException(
        s"MatViewOps: generation swap to $cur failed")
    filesystem.delete(old, true)
    ()
  }

  /** Read the current view generation. */
  def read(spark: SparkSession, viewPath: String): DataFrame =
    spark.read.parquet(viewPath)
}
