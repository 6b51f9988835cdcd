package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextSearchOps

/** Incremental index maintenance must be EXACT: build-then-append
  * equals a from-scratch rebuild — same postings, same doc lengths,
  * same merged stats, and therefore byte-identical BM25 scores. */
class IncrementalIndexSpec extends AnyFunSuite {
  import TestSession._

  private val terms = Seq("hash", "merge", "scan")

  private def contentEqual(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  private def assertSameIndex(idxA: String, idxB: String): Unit = {
    val pA = spark.read.parquet(s"$idxA/postings")
    val pB = spark.read.parquet(s"$idxB/postings")
    assert(contentEqual(pA, pB), "postings diverge")
    assert(contentEqual(
      spark.read.parquet(s"$idxA/doclen"),
      spark.read.parquet(s"$idxB/doclen")), "doclen diverges")
    val sA = TextSearchOps.indexStats(spark, idxA).head()
    val sB = TextSearchOps.indexStats(spark, idxB).head()
    assert(sA.getAs[Double]("n_docs") == sB.getAs[Double]("n_docs"))
    // bit-identical, not approximately equal: the merge is exact
    assert(sA.getAs[Double]("avgdl") == sB.getAs[Double]("avgdl"))
    assert(sA.getAs[Double]("sum_dl") == sB.getAs[Double]("sum_dl"))
    val rA = TextSearchOps.bm25Indexed(spark, idxA, "doc_id", terms, 10)
      .collect().toSeq
    val rB = TextSearchOps.bm25Indexed(spark, idxB, "doc_id", terms, 10)
      .collect().toSeq
    assert(rA == rB, "BM25 results diverge between the two indexes")
  }

  test("append-maintained index equals the full rebuild") {
    val docs = Tables(spark, sfDir).documents
    val base = java.nio.file.Files
      .createTempDirectory("graft_incidx").toString
    val half1 = docs.where(col("doc_id") % 2 === 0)
    val half2 = docs.where(col("doc_id") % 2 === 1)

    TextSearchOps.buildIndex(docs, "doc_id", "text", s"$base/full")
    TextSearchOps.buildIndex(half1, "doc_id", "text", s"$base/inc")
    TextSearchOps.appendToIndex(half2, "doc_id", "text", s"$base/inc")

    assertSameIndex(s"$base/inc", s"$base/full")
  }

  test("streaming maintenance under Trigger.AvailableNow is exact") {
    val docs = Tables(spark, sfDir).documents
    val base = java.nio.file.Files
      .createTempDirectory("graft_stridx").toString
    val half1 = docs.where(col("doc_id") % 2 === 0)
    val half2 = docs.where(col("doc_id") % 2 === 1)
    TextSearchOps.buildIndex(docs, "doc_id", "text", s"$base/full")

    // corpus grows between scheduler runs; each run drains only the
    // new files (checkpointed) and extends the index
    half1.coalesce(1).write.parquet(s"$base/in/p1")
    graft.streaming.StreamingIndexer.maintainAvailableNow(
      spark, s"$base/in/p*", docs.schema, "doc_id", "text",
      s"$base/inc", s"$base/ckpt")
    assert(TextSearchOps.indexComplete(s"$base/inc"))

    half2.coalesce(1).write.parquet(s"$base/in/p2")
    graft.streaming.StreamingIndexer.maintainAvailableNow(
      spark, s"$base/in/p*", docs.schema, "doc_id", "text",
      s"$base/inc", s"$base/ckpt")

    assertSameIndex(s"$base/inc", s"$base/full")

    // FAILURE INJECTION 1: checkpoint loss -> the whole backlog
    // replays (every batch re-fires, including the bootstrap). The
    // per-batch applied-markers and the intent-logged bootstrap must
    // make the replay a no-op: index still equals the full rebuild.
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(deleteRec)
      f.delete(); ()
    }
    deleteRec(new java.io.File(s"$base/ckpt"))
    graft.streaming.StreamingIndexer.maintainAvailableNow(
      spark, s"$base/in/p*", docs.schema, "doc_id", "text",
      s"$base/inc", s"$base/ckpt")
    assertSameIndex(s"$base/inc", s"$base/full")
  }

  /** Bootstrap, append, tear and replay an index under `base`; `inc`
    * is how the index dir under `base` is named to the operator (a
    * plain path, or a qualified URI of the same directory). */
  private def crashSelfHeals(base: String, inc: String): Unit = {
    val docs = Tables(spark, sfDir).documents
    val half1 = docs.where(col("doc_id") % 2 === 0)
    val half2 = docs.where(col("doc_id") % 2 === 1)
    TextSearchOps.buildIndex(docs, "doc_id", "text", s"$base/full")

    // bootstrap batch 0, then append batch 7
    TextSearchOps.applyBatchIdempotent(half1, "doc_id", "text", inc, "0")
    TextSearchOps.applyBatchIdempotent(half2, "doc_id", "text", inc, "7")
    assertSameIndex(s"$base/inc", s"$base/full")

    // simulate a crash BETWEEN the batch-7 file moves and its marker:
    // drop the marker and one of the batch's moved files
    val root = new java.io.File(s"$base/inc")
    val marker = new java.io.File(root, "_applied_7")
    assert(marker.exists()); marker.delete()
    val torn = new java.io.File(root, "doclen").listFiles()
      .filter(_.getName.startsWith("b7_"))
    assert(torn.nonEmpty, "batch-7 files missing from doclen")
    torn.head.delete()

    // at-least-once replay of batch 7 must restore the exact state
    TextSearchOps.applyBatchIdempotent(half2, "doc_id", "text", inc, "7")
    assertSameIndex(s"$base/inc", s"$base/full")

    // and a replay of the fully applied batch is a no-op
    val names = new java.io.File(root, "doclen")
      .listFiles().map(_.getName).sorted.toSeq
    TextSearchOps.applyBatchIdempotent(half2, "doc_id", "text", inc, "7")
    assert(new java.io.File(root, "doclen")
      .listFiles().map(_.getName).sorted.toSeq == names)

    // a committed bootstrap's replay is short-circuited by its marker
    assert(new java.io.File(root, "_applied_0").exists())
    TextSearchOps.applyBatchIdempotent(half1, "doc_id", "text", inc, "0")
    assertSameIndex(s"$base/inc", s"$base/full")

    // bootstrap replay WITHOUT its marker (crash before it): the
    // intent log forces a rebuild from the replayed batch and drops
    // the stale markers of wiped appends, so re-delivering batch 7
    // restores exactness instead of being suppressed
    new java.io.File(root, "_applied_0").delete()
    TextSearchOps.applyBatchIdempotent(half1, "doc_id", "text", inc, "0")
    assert(!new java.io.File(root, "_applied_7").exists(),
      "stale append marker survived the bootstrap rebuild")
    TextSearchOps.applyBatchIdempotent(half2, "doc_id", "text", inc, "7")
    assertSameIndex(s"$base/inc", s"$base/full")
  }

  test("crash mid-apply self-heals: torn batch re-applies exactly") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_idxcrash").toString
    crashSelfHeals(base, s"$base/inc")
  }

  test("a qualified file: index dir is maintained in place") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_idxuri").toString
    crashSelfHeals(base, s"file:$base/inc")
    // nothing lands in a relative `file:` tree under the working dir
    assert(!new java.io.File(s"file:$base").exists(),
      "index markers written under the JVM's working directory")
  }
}
