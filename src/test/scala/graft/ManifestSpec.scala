package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** File-level min/max manifest pruning (q314 / sources/FileManifest):
  * the manifest must actually SKIP files for a narrow range filter
  * over a range-clustered layout, and the pruned read must return
  * exactly what an unpruned scan returns. */
class ManifestSpec extends AnyFunSuite {
  import TestSession._

  private lazy val layout: String = {
    val t = Tables(spark, sfDir)
    sources.ExternalStage.materialize(sfDir, "sorted_events",
      t.events) { (df, path) =>
      df.repartitionByRange(8, col("ts")).sortWithinPartitions(col("ts"))
        .write.mode("overwrite").parquet(path)
    }
  }

  private val lo = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
  private val hi = java.sql.Timestamp.valueOf("2024-01-22 00:00:00")

  test("a one-week filter prunes files from the 30-day layout") {
    val mDir = sources.FileManifest.build(spark, layout, "ts")
    val total = sources.FileManifest.fileCount(spark, mDir)
    val kept = sources.FileManifest.prunedPaths(spark, mDir, lo, hi).size
    assert(total >= 8, s"layout should have >= 8 files, saw $total")
    assert(kept > 0 && kept < total,
      s"manifest kept $kept of $total files — no pruning happened")
    // 7 of 30 days over an 8-way range-sorted layout: at most half
    // the files can overlap the week
    assert(kept <= total / 2, s"kept $kept of $total (weak envelope)")
  }

  test("pruned read == unpruned read, row for row") {
    val pruned = sources.FileManifest
      .prunedRead(spark, layout, "ts", lo, hi)
      .orderBy(col("event_id")).collect().toSeq
    val full = spark.read.parquet(layout)
      .where(col("ts") >= lit(lo) && col("ts") < lit(hi))
      .orderBy(col("event_id")).collect().toSeq
    assert(pruned.nonEmpty && pruned == full)
  }

  test("GRAFT MANIFEST statements lower to FileManifest") {
    val status = spark
      .sql(s"GRAFT MANIFEST BUILD '$layout' KEY ts")
      .collect().head
    assert(status.getAs[String]("n_files").toLong >= 8)
    val viaSql = spark.sql(
      s"GRAFT MANIFEST SCAN '$layout' KEY ts " +
        "FROM '2024-01-15 00:00:00' TO '2024-01-22 00:00:00'")
      .orderBy(col("event_id")).collect().toSeq
    val viaOp = sources.FileManifest
      .prunedRead(spark, layout, "ts", lo, hi)
      .orderBy(col("event_id")).collect().toSeq
    assert(viaSql.nonEmpty && viaSql == viaOp)
  }

  test("incremental refresh == full rebuild after appended files") {
    // copy the layout so the shared staged copy stays pristine
    val tmp = java.nio.file.Files
      .createTempDirectory("manifest_refresh").toString
    val base = spark.read.parquet(layout)
    base.write.mode("overwrite").parquet(tmp)
    val m1 = sources.FileManifest.build(spark, tmp, "ts")
    val before = sources.FileManifest.fileCount(spark, m1)
    assert(sources.FileManifest.refresh(spark, tmp, "ts") == 0L)
    // append a new slice of data as extra files
    base.limit(500).coalesce(2).write.mode("append").parquet(tmp)
    val indexed = sources.FileManifest.refresh(spark, tmp, "ts")
    assert(indexed >= 1L, "refresh saw no new files")
    assert(sources.FileManifest.fileCount(spark, m1) == before + indexed)
    // the refreshed manifest must equal a from-scratch rebuild
    val full = spark.read.parquet(tmp)
      .groupBy(input_file_name().as("file"))
      .agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("file")).collect().toSeq
    val incr = spark.read.parquet(m1)
      .orderBy(col("file")).collect().toSeq
    assert(incr == full)
  }

  // Bloom manifest: point-lookup skipping on a HASH-clustered layout
  // where min/max envelopes span the whole key domain
  private lazy val hashedLayout: String = {
    val t = Tables(spark, sfDir)
    sources.ExternalStage.materialize(sfDir, "hashed_lineitem",
      t.lineitem) { (df, path) =>
      df.repartition(16, col("l_orderkey"))
        .write.mode("overwrite").parquet(path)
    }
  }

  test("bloom manifest prunes a point lookup to few candidate files") {
    val mDir = sources.FileManifest
      .buildBloom(spark, hashedLayout, "l_orderkey")
    val total = sources.FileManifest.fileCount(spark, mDir)
    assert(total >= 16, s"layout should have >= 16 files, saw $total")
    val cands = sources.FileManifest
      .bloomCandidatePaths(spark, mDir, 1L)
    // the key hashes to ONE file; Bloom false positives may add a
    // few more, but never the whole layout
    assert(cands.nonEmpty && cands.size <= total / 4,
      s"bloom kept ${cands.size} of $total files — no pruning")
  }

  test("bloom lookup == full-scan equality filter, row for row") {
    val viaBloom = sources.FileManifest
      .bloomLookup(spark, hashedLayout, "l_orderkey", 1L)
      .orderBy(col("l_linenumber")).collect().toSeq
    val full = spark.read.parquet(hashedLayout)
      .where(col("l_orderkey") === 1L)
      .orderBy(col("l_linenumber")).collect().toSeq
    assert(viaBloom.nonEmpty && viaBloom == full)
  }

  test("bloom lookup of an absent key returns empty without reading") {
    // key far outside the domain: no false negative risk — the
    // candidate list may be empty (provably absent) or tiny; either
    // way the exact residual filter returns zero rows
    val rows = sources.FileManifest
      .bloomLookup(spark, hashedLayout, "l_orderkey", 999999999L)
      .count()
    assert(rows == 0L)
  }

  test("GRAFT MANIFEST BLOOM / LOOKUP statements lower to FileManifest") {
    val status = spark
      .sql(s"GRAFT MANIFEST BLOOM '$hashedLayout' KEY l_orderkey")
      .collect().head
    assert(status.getAs[String]("n_files").toLong >= 16L)
    val viaSql = spark
      .sql(s"GRAFT MANIFEST LOOKUP '$hashedLayout' KEY l_orderkey EQ 1")
      .orderBy(col("l_linenumber")).collect().toSeq
    val viaOp = sources.FileManifest
      .bloomLookup(spark, hashedLayout, "l_orderkey", 1L)
      .orderBy(col("l_linenumber")).collect().toSeq
    assert(viaSql.nonEmpty && viaSql == viaOp)
  }

  test("incremental bloom refresh == from-scratch rebuild, byte for byte") {
    val tmp = java.nio.file.Files
      .createTempDirectory("bloom_refresh").toString
    val base = spark.read.parquet(hashedLayout)
    base.write.mode("overwrite").parquet(tmp)
    val m1 = sources.FileManifest.buildBloom(spark, tmp, "l_orderkey")
    val before = sources.FileManifest.fileCount(spark, m1)
    assert(sources.FileManifest
      .refreshBloom(spark, tmp, "l_orderkey") == 0L)
    base.limit(500).coalesce(2).write.mode("append").parquet(tmp)
    val indexed = sources.FileManifest
      .refreshBloom(spark, tmp, "l_orderkey")
    assert(indexed >= 1L, "refresh saw no new files")
    assert(sources.FileManifest.fileCount(spark, m1)
      == before + indexed)
    // per-file sketches depend on that file alone: the refreshed
    // manifest must equal a from-scratch rebuild byte for byte
    val full = spark.read.parquet(tmp)
      .groupBy(input_file_name().as("file"))
      .agg(expr("graft_bloom_agg(l_orderkey, 65536L, 524288L)")
        .as("bloom"), count(lit(1)).as("n_rows"))
      .orderBy(col("file")).collect().toSeq
    val incr = spark.read.parquet(m1)
      .orderBy(col("file")).collect().toSeq
    assert(incr.size == full.size)
    for ((a, b) <- incr.zip(full)) {
      assert(a.getString(0) == b.getString(0))
      assert(a.getAs[Long]("n_rows") == b.getAs[Long]("n_rows"))
      assert(java.util.Arrays.equals(a.getAs[Array[Byte]]("bloom"),
        b.getAs[Array[Byte]]("bloom")), s"sketch differs: ${a.getString(0)}")
    }
    // and the lookup through the refreshed manifest still matches
    val viaBloom = sources.FileManifest
      .bloomLookup(spark, tmp, "l_orderkey", 1L)
      .collect().toSeq.sortBy(_.toString)
    val fullScan = spark.read.parquet(tmp)
      .where(col("l_orderkey") === 1L)
      .collect().toSeq.sortBy(_.toString)
    assert(viaBloom.nonEmpty && viaBloom == fullScan)
  }

  test("prunedRead of a fully pruned range returns the empty relation") {
    val far = java.sql.Timestamp.valueOf("1990-01-01 00:00:00")
    val farHi = java.sql.Timestamp.valueOf("1990-02-01 00:00:00")
    val out = sources.FileManifest
      .prunedRead(spark, layout, "ts", far, farHi)
    assert(out.count() == 0L)
    // schema intact so downstream operators still bind
    assert(out.columns.contains("event_id") && out.columns.contains("ts"))
  }

  test("refresh matches the manifest on URL-encoded layout paths") {
    // input_file_name() URL-encodes (space -> %20); the known-file
    // set must still match, else every refresh re-indexes ALL files
    // and the manifest double-counts
    val tmp = java.nio.file.Files
      .createTempDirectory("manifest enc ").toString
    assert(tmp.contains(" "), "temp dir must contain a space")
    val base = spark.read.parquet(layout)
    base.write.mode("overwrite").parquet(tmp)
    val m1 = sources.FileManifest.build(spark, tmp, "ts")
    val before = sources.FileManifest.fileCount(spark, m1)
    assert(sources.FileManifest.refresh(spark, tmp, "ts") == 0L,
      "refresh re-indexed already-known files (URL-encoding mismatch)")
    base.limit(300).coalesce(1).write.mode("append").parquet(tmp)
    val indexed = sources.FileManifest.refresh(spark, tmp, "ts")
    assert(indexed >= 1L)
    assert(sources.FileManifest.fileCount(spark, m1) == before + indexed)
    // a second refresh sees nothing new (no duplicate manifest rows)
    assert(sources.FileManifest.refresh(spark, tmp, "ts") == 0L)
    // pruned read through the encoded-path manifest == full scan
    val pruned = sources.FileManifest
      .prunedRead(spark, tmp, "ts", lo, hi)
      .orderBy(col("event_id")).collect().toSeq
    val full = spark.read.parquet(tmp)
      .where(col("ts") >= lit(lo) && col("ts") < lit(hi))
      .orderBy(col("event_id")).collect().toSeq
    assert(pruned.nonEmpty && pruned == full)
  }

  test("manifest build is idempotent and hidden from layout readers") {
    val m1 = sources.FileManifest.build(spark, layout, "ts")
    val m2 = sources.FileManifest.build(spark, layout, "ts")
    assert(m1 == m2)
    // the _manifest_* subdir must be invisible to a plain read of the
    // layout (leading-underscore paths are hidden from Spark readers),
    // so the layout's row count is unchanged by building the manifest
    val t = Tables(spark, sfDir)
    assert(spark.read.parquet(layout).count() == t.events.count())
  }
}
