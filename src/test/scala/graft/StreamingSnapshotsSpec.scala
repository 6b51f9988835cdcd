package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.VersionedTable
import graft.streaming.StreamingSnapshots

/** Streaming snapshot ingestion (streaming/StreamingSnapshots): each
  * drained micro-batch commits one immutable version; the latest
  * version equals the batch read of everything ingested so far, and
  * a second incremental run appends new versions without touching the
  * old ones. */
class StreamingSnapshotsSpec extends AnyFunSuite {
  import TestSession._

  test("available-now ingestion commits versions that match batch") {
    val d = java.nio.file.Files.createTempDirectory("graft_snapstream")
    val root = d.resolve("vt").toString
    val ckpt = d.resolve("ckpt").toString
    val src = d.toString + "/in"
    val docs = Tables(spark, sfDir).documents
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val n = docs.count()
    val first = docs.limit((n / 2).toInt)
    val second = docs.exceptAll(first)

    first.coalesce(1).write.mode("overwrite").parquet(src + "/p1")
    StreamingSnapshots.ingestAvailableNow(
      spark, src + "/p*", docs.schema, root, ckpt)
    val v0 = VersionedTable.latestVersion(spark, root)
    assert(v0 >= 0)
    assert(VersionedTable.read(spark, root, v0).count() == first.count())

    second.coalesce(1).write.mode("overwrite").parquet(src + "/p2")
    StreamingSnapshots.ingestAvailableNow(
      spark, src + "/p*", docs.schema, root, ckpt)
    val v1 = VersionedTable.latestVersion(spark, root)
    assert(v1 > v0, "second run must commit a NEW version")
    // pinned old version untouched (snapshot isolation)
    assert(VersionedTable.read(spark, root, v0).count() == first.count())
    // latest == batch union of everything ingested
    val latest = VersionedTable.read(spark, root, v1)
    assert(latest.count() == n)
    assert(latest.exceptAll(docs).isEmpty &&
      docs.exceptAll(latest).isEmpty,
      "latest snapshot must equal the batch read")
    // version log row counts strictly increase
    val hist = VersionedTable.history(spark, root).collect()
      .sortBy(_.getInt(0)).map(_.getLong(1))
    assert(hist.zip(hist.tail).forall { case (a, b) => a < b })

    // FAILURE INJECTION: checkpoint loss replays the whole backlog
    // (at-least-once taken to the extreme). The batch tags on the
    // committed versions must make the replay a no-op — no duplicate
    // versions, no double-unioned rows.
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(deleteRec)
      f.delete(); ()
    }
    deleteRec(new java.io.File(ckpt))
    val versionsBefore = VersionedTable.versions(spark, root)
    StreamingSnapshots.ingestAvailableNow(
      spark, src + "/p*", docs.schema, root, ckpt)
    assert(VersionedTable.versions(spark, root) == versionsBefore,
      "checkpoint-loss replay committed duplicate versions")
    val relatest = VersionedTable
      .read(spark, root, VersionedTable.latestVersion(spark, root))
    assert(relatest.count() == n &&
      relatest.exceptAll(docs).isEmpty && docs.exceptAll(relatest).isEmpty)
  }

  test("commitTagged: replay returns the existing version; torn stage heals") {
    val d = java.nio.file.Files.createTempDirectory("graft_snaptag")
    val root = d.resolve("vt2").toString
    val df = Tables(spark, sfDir).region
    val v = VersionedTable.commitTagged(root, df, "batch_A")
    assert(VersionedTable.commitTagged(root, df, "batch_A") == v,
      "same-tag commit must return the existing version")
    assert(VersionedTable.versions(spark, root).size == 1)

    // torn stage from a crashed attempt: junk staging dir for the
    // NEXT version number must not block a fresh commit
    val stage = new java.io.File(root, s"_staging_v${v + 1}")
    stage.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(stage, "junk").toPath, "partial write")
    val v2 = VersionedTable.commitTagged(root, df, "batch_B")
    assert(v2 == v + 1 && VersionedTable.versions(spark, root).size == 2)
    assert(VersionedTable.taggedVersion(spark, root, "batch_B").contains(v2))
    // the healed version reads cleanly
    assert(VersionedTable.read(spark, root, v2).count() == df.count())
  }
}
