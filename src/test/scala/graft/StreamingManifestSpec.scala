package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming layout maintenance must keep BOTH data-skipping
  * manifests exactly current: after each AvailableNow drain, the
  * min/max manifest equals a from-scratch rebuild, the Bloom
  * manifest's sketches are byte-equal to a rebuild, and reads
  * through them equal full scans. */
class StreamingManifestSpec extends AnyFunSuite {
  import TestSession._

  test("availableNow drains keep both manifests exactly current") {
    val li = Tables(spark, sfDir).lineitem
    val base = java.nio.file.Files
      .createTempDirectory("graft_strmanifest").toString
    val layout = s"$base/layout"
    val half1 = li.where(col("l_orderkey") % 2 === 0)
    val half2 = li.where(col("l_orderkey") % 2 === 1)

    def drain(): Unit = graft.streaming.StreamingManifest
      .maintainAvailableNow(spark, s"$base/in/p*", li.schema,
        "l_shipdate", "l_orderkey", layout, s"$base/ckpt")

    def assertCurrent(): Unit = {
      // min/max manifest == from-scratch rebuild over the layout
      val mDir = s"$layout/_manifest_l_shipdate"
      val full = spark.read.parquet(layout)
        .groupBy(input_file_name().as("file"))
        .agg(min(col("l_shipdate")).as("lo"),
          max(col("l_shipdate")).as("hi"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("file")).collect().toSeq
      val incr = spark.read.parquet(mDir)
        .orderBy(col("file")).collect().toSeq
      assert(incr == full, "min/max manifest diverged from rebuild")
      // bloom manifest file coverage matches, and the point lookup
      // through it equals the full-scan filter
      val bDir = s"$layout/_bloom_l_orderkey"
      assert(sources.FileManifest.fileCount(spark, bDir)
        == full.size.toLong)
      val viaBloom = sources.FileManifest
        .bloomLookup(spark, layout, "l_orderkey", 1L)
        .collect().toSeq.sortBy(_.toString)
      val fullScan = spark.read.parquet(layout)
        .where(col("l_orderkey") === 1L)
        .collect().toSeq.sortBy(_.toString)
      assert(viaBloom == fullScan, "bloom lookup diverged")
    }

    half1.coalesce(2).write.parquet(s"$base/in/p1")
    drain()
    assertCurrent()

    half2.coalesce(2).write.parquet(s"$base/in/p2")
    drain()
    assertCurrent()
    // both halves actually landed
    assert(spark.read.parquet(layout).count() == li.count())

    // FAILURE INJECTION: wipe the checkpoint so the whole backlog
    // replays (at-least-once delivery taken to the extreme — every
    // batch re-fires). The per-batch _SUCCESS markers must make the
    // replay a no-op: no duplicate rows, manifests still exact.
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(deleteRec)
      f.delete(); ()
    }
    deleteRec(new java.io.File(s"$base/ckpt"))
    drain()
    assertCurrent()
    assert(spark.read.parquet(layout).count() == li.count(),
      "checkpoint-loss replay duplicated layout rows")
  }

  test("crash mid-move self-heals: replayed batch re-commits exactly") {
    val li = Tables(spark, sfDir).lineitem.limit(1000)
    val base = java.nio.file.Files
      .createTempDirectory("graft_strmanifest_crash").toString
    val layout = s"$base/layout"
    val batch = li.repartition(3, col("l_orderkey"))

    // first attempt: commit batch 7 normally
    graft.streaming.StreamingManifest.commitBatch(batch, 7L, layout)
    val committed = spark.read.parquet(layout).count()
    assert(committed == 1000L)

    // simulate a crash BETWEEN the part-file moves and the marker
    // write: delete the marker and one of the batch's part files
    val root = new java.io.File(layout)
    val marker = new java.io.File(root, "_batch_7_SUCCESS")
    assert(marker.exists()); marker.delete()
    val parts = root.listFiles().filter(_.getName.startsWith("b7_p"))
    assert(parts.length >= 2, "need >=2 part files to injure one")
    parts.head.delete()

    // at-least-once replay of the same batch must restore the FULL
    // deterministic part set — no lost rows, no duplicates
    graft.streaming.StreamingManifest.commitBatch(batch, 7L, layout)
    assert(spark.read.parquet(layout).count() == 1000L,
      "replay after injected crash lost or duplicated rows")

    // and a replay of a fully committed batch is a no-op
    val names = root.listFiles().map(_.getName).sorted.toSeq
    graft.streaming.StreamingManifest.commitBatch(batch, 7L, layout)
    assert(root.listFiles().map(_.getName).sorted.toSeq == names)
    assert(spark.read.parquet(layout).count() == 1000L)
  }

  test("commitBatch on a file: URI layout commits once") {
    val batch = Tables(spark, sfDir).lineitem.limit(500)
      .repartition(2, col("l_orderkey"))
    val base = java.nio.file.Files
      .createTempDirectory("graft_strmanifest_uri").toString
    val layout = s"file://$base/layout"
    graft.streaming.StreamingManifest.commitBatch(batch, 3L, layout)
    val root = new java.io.File(s"$base/layout")
    assert(new java.io.File(root, "_batch_3_SUCCESS").exists())
    assert(spark.read.parquet(layout).count() == 500L)
    // a replay of the committed batch changes nothing
    val names = root.list().sorted.toSeq
    graft.streaming.StreamingManifest.commitBatch(batch, 3L, layout)
    assert(root.list().sorted.toSeq == names)
    assert(spark.read.parquet(layout).count() == 500L)
    // nothing lands in a relative `file:` tree under the working dir
    val strays = new java.io.File(".").list().filter(_.startsWith("file:"))
    assert(strays.isEmpty, strays.mkString(","))
  }
}
