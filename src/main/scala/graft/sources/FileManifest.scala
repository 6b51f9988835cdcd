package graft.sources

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level min/max manifest over a clustered parquet layout — the
  * Delta/Iceberg data-skipping discipline generalized past Hive
  * partition pruning (reference: the external-source location layer,
  * external/; the manifest itself is ours, built for the 100-TB
  * path).
  *
  * A clustered layout (q131 range sort, q214 z-order) gives every
  * FILE a narrow min/max envelope on the cluster column. The
  * manifest records one row per file — (file, min, max, rows) — so a
  * range predicate prunes the FILE LIST before Spark ever lists,
  * schedules, or opens the skipped files. At 100 TB the manifest is
  * ~1 row per file (metadata-scale, like a partition catalog); the
  * driver-side prune is O(#files), never O(data), and the pruned
  * read then still gets parquet row-group/pushdown filtering INSIDE
  * the surviving files.
  *
  * Build is one distributed scan (input_file_name + min/max/count
  * aggregate) staged idempotently behind a _SUCCESS marker, same
  * discipline as ExternalStage.
  */
object FileManifest {

  /** Build (once) the manifest for `layoutDir` on `keyCol`; returns
    * the manifest directory. All filesystem access goes through the
    * Hadoop FileSystem, so a layout on HDFS/S3 works the same as a
    * local one. */
  def build(spark: SparkSession, layoutDir: String, keyCol: String)
      : String = synchronized {
    val dir = new Path(layoutDir, s"_manifest_$keyCol")
    if (!CacheFs.complete(spark, dir.toString)) {
      spark.read.parquet(layoutDir)
        .groupBy(input_file_name().as("file"))
        .agg(min(col(keyCol)).as("lo"), max(col(keyCol)).as("hi"),
          count(lit(1)).as("n_rows"))
        .coalesce(1)
        .write.mode("overwrite").parquet(dir.toString)
    }
    dir.toString
  }

  /** Incrementally refresh the manifest after files were APPENDED to
    * the layout: scan only the files the manifest does not know yet
    * (driver-side file listing is O(#files) metadata, the envelope
    * aggregate reads only the new files' data) and append their
    * rows. Equivalent to a full rebuild for append-only layouts —
    * the 100-TB maintenance path, where re-scanning the whole layout
    * per new file batch would be O(data). Returns the number of new
    * files indexed. */
  def refresh(spark: SparkSession, layoutDir: String, keyCol: String)
      : Long = synchronized {
    val mDir = build(spark, layoutDir, keyCol)
    val fresh = unknownFiles(spark, mDir, layoutDir)
    if (fresh.nonEmpty) {
      spark.read.parquet(fresh: _*)
        .groupBy(input_file_name().as("file"))
        .agg(min(col(keyCol)).as("lo"), max(col(keyCol)).as("hi"),
          count(lit(1)).as("n_rows"))
        .coalesce(1)
        .write.mode("append").parquet(mDir)
    }
    fresh.size.toLong
  }

  /** Layout files the manifest at `mDir` does not know yet —
    * driver-side file listing through the Hadoop FileSystem,
    * O(#files) metadata. Manifest entries come from
    * input_file_name(), which is a URL-encoded URI (a space becomes
    * %20); decode through java.net.URI so the known-set matches
    * regardless of characters or scheme in the layout path. */
  private def unknownFiles(spark: SparkSession, mDir: String,
      layoutDir: String): Seq[String] = {
    val known = spark.read.parquet(mDir)
      .select(col("file")).collect().map(r => decodePath(r.getString(0)))
      .toSet
    val root = new Path(layoutDir)
    CacheFs.fs(spark, root).listStatus(root).toSeq
      .filter { st =>
        val n = st.getPath.getName
        st.isFile && n.endsWith(".parquet") &&
          !n.startsWith("_") && !n.startsWith(".")
      }
      .filterNot(st => known(decodePath(st.getPath.toUri.toString)))
      .map(_.getPath.toString)
  }

  /** Decode a (possibly URL-encoded) file URI or raw path to a plain
    * absolute filesystem path for comparison. */
  private def decodePath(s: String): String =
    try {
      val u = new java.net.URI(s)
      if (u.getPath != null && u.getPath.nonEmpty) u.getPath else s
    } catch { case _: java.net.URISyntaxException => s }

  /** Files whose [lo, hi] envelope intersects [from, to) — the list
    * a pruned read should pass to spark.read.parquet. Metadata-scale
    * driver action (one row per file, like partition listing). */
  def prunedPaths(spark: SparkSession, manifestDir: String,
      from: Any, to: Any): Seq[String] = {
    spark.read.parquet(manifestDir)
      .where(col("hi") >= lit(from) && col("lo") < lit(to))
      .select(col("file")).collect()
      .map(r => decodePath(r.getString(0))).toSeq
  }

  /** Total file count in the manifest (for pruning-rate asserts). */
  def fileCount(spark: SparkSession, manifestDir: String): Long =
    spark.read.parquet(manifestDir).count()

  /** Build (once) a per-file BLOOM manifest on `keyCol` — point-
    * lookup data skipping where a min/max envelope cannot prune
    * (high-cardinality keys in hash-clustered or unclustered
    * layouts): one row per file holding a fixed-size Bloom sketch of
    * the file's key set (Spark's own BloomFilterAggregate via
    * graft_bloom_agg — zero false negatives by construction, false
    * positives bounded by the sketch size). The sketch size is
    * independent of row count, so the manifest stays metadata-scale
    * (one ~64 KiB row per file) at 100 TB. */
  def buildBloom(spark: SparkSession, layoutDir: String, keyCol: String,
      numItems: Long = 65536L, numBits: Long = 524288L)
      : String = synchronized {
    val dir = new Path(layoutDir, s"_bloom_$keyCol")
    if (!CacheFs.complete(spark, dir.toString)) {
      spark.read.parquet(layoutDir)
        .groupBy(input_file_name().as("file"))
        .agg(expr(s"graft_bloom_agg($keyCol, ${numItems}L, ${numBits}L)")
          .as("bloom"), count(lit(1)).as("n_rows"))
        .coalesce(1)
        .write.mode("overwrite").parquet(dir.toString)
    }
    dir.toString
  }

  /** Incrementally refresh the Bloom manifest after files were
    * APPENDED to the layout — each file's sketch depends on that
    * file alone, so indexing only the unknown files is EXACTLY a
    * from-scratch rebuild (the bit-OR merge inside a file's
    * aggregate is order-independent and the serialization is
    * deterministic, so sketches are byte-equal — spec-pinned).
    * O(new data), never O(layout). Returns new files indexed. */
  def refreshBloom(spark: SparkSession, layoutDir: String,
      keyCol: String, numItems: Long = 65536L, numBits: Long = 524288L)
      : Long = synchronized {
    val mDir = buildBloom(spark, layoutDir, keyCol, numItems, numBits)
    val fresh = unknownFiles(spark, mDir, layoutDir)
    if (fresh.nonEmpty) {
      spark.read.parquet(fresh: _*)
        .groupBy(input_file_name().as("file"))
        .agg(expr(s"graft_bloom_agg($keyCol, ${numItems}L, ${numBits}L)")
          .as("bloom"), count(lit(1)).as("n_rows"))
        .coalesce(1)
        .write.mode("append").parquet(mDir)
    }
    fresh.size.toLong
  }

  /** Files whose Bloom sketch MIGHT contain `key` (no false
    * negatives). Metadata-scale driver action like [[prunedPaths]]
    * (one row per file, collected and tested locally — Spark's
    * might_contain expression only accepts a CONSTANT sketch, and
    * the manifest's sketch is per-row); the probe hashes through the
    * same XxHash64(seed 42) the build aggregate used. */
  def bloomCandidatePaths(spark: SparkSession, manifestDir: String,
      key: Long): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val hash = XxHash64(Seq(Literal(key)), 42L).eval(null)
      .asInstanceOf[Long]
    spark.read.parquet(manifestDir)
      .select(col("file"), col("bloom")).collect().toSeq
      .filter { r =>
        org.apache.spark.util.sketch.BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(
            r.getAs[Array[Byte]]("bloom")))
          .mightContainLong(hash)
      }
      .map(r => decodePath(r.getString(0)))
  }

  /** Equality lookup through the Bloom manifest: read only the
    * candidate files, then apply the exact predicate inside the
    * survivors (a Bloom hit is a maybe; the residual filter makes
    * the answer exact). An empty candidate list proves the key
    * absent — return the empty relation without touching data. */
  def bloomLookup(spark: SparkSession, layoutDir: String,
      keyCol: String, key: Long): DataFrame = {
    val mDir = buildBloom(spark, layoutDir, keyCol)
    val paths = bloomCandidatePaths(spark, mDir, key)
    if (paths.isEmpty)
      spark.read.parquet(layoutDir).where(lit(false))
    else spark.read.parquet(paths: _*).where(col(keyCol) === key)
  }

  /** Range-filtered read through the manifest: prune the file list,
    * then apply the residual predicate inside the survivors. A fully
    * pruned list proves the range empty — return the empty relation
    * (schema from the layout) without touching data. */
  def prunedRead(spark: SparkSession, layoutDir: String, keyCol: String,
      from: Any, to: Any): DataFrame = {
    val mDir = build(spark, layoutDir, keyCol)
    val paths = prunedPaths(spark, mDir, from, to)
    if (paths.isEmpty) spark.read.parquet(layoutDir).where(lit(false))
    else spark.read.parquet(paths: _*)
      .where(col(keyCol) >= lit(from) && col(keyCol) < lit(to))
  }
}
