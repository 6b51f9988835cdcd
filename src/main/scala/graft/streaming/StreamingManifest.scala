package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.sources.{CacheFs, FileManifest}

/** Streaming lakehouse-layout maintenance (streaming twin of the
  * FileManifest family): new data files landing under `inPath` are
  * drained with Trigger.AvailableNow; each micro-batch is APPENDED
  * to the layout as fresh parquet files and both data-skipping
  * manifests — the min/max envelope manifest and the per-file Bloom
  * manifest — are incrementally refreshed (each refresh indexes only
  * the files the manifest does not know, O(new data) never
  * O(layout)). The scheduler-run shape for a growing 100-TB layout:
  * every invocation processes only what arrived since the last
  * checkpoint, keeps the skipping metadata current, then stops on
  * its own.
  *
  * Exactness contract (StreamingManifestSpec): after any sequence of
  * runs, both manifests equal from-scratch rebuilds over the layout
  * (the Bloom sketches byte-for-byte), so range scans and point
  * lookups through them equal full scans.
  */
object StreamingManifest {

  /** Drain everything currently under `inPath` into the layout at
    * `layoutDir`, keeping the `rangeKey` min/max manifest and the
    * `bloomKey` Bloom manifest current; returns after the backlog is
    * processed (throws if the drain exceeds `timeoutMs`).
    *
    * foreachBatch is at-least-once, so the layout append is made
    * IDEMPOTENT: each micro-batch stages to a scratch dir, then moves
    * its part files into the layout under DETERMINISTIC
    * batchId-derived names behind a per-batch _SUCCESS marker. A
    * crash-replay of an already-committed batch is a no-op; a replay
    * of a half-moved batch first clears that batch's part files and
    * re-moves the full deterministic set — so the layout never holds
    * duplicate rows and the manifests' exactness contract (reads
    * through manifests == source) survives failure recovery. */
  def maintainAvailableNow(
      spark: SparkSession, inPath: String, schema: StructType,
      rangeKey: String, bloomKey: String,
      layoutDir: String, checkpoint: String,
      timeoutMs: Long = 300000L): Unit = {
    val stream = spark.readStream.schema(schema).parquet(inPath)
    val q = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        commitBatch(batch, batchId, layoutDir)
        FileManifest.refresh(spark, layoutDir, rangeKey)
        FileManifest.refreshBloom(spark, layoutDir, bloomKey)
        ()
      }
      .start()
    try {
      if (!q.awaitTermination(timeoutMs))
        throw new java.util.concurrent.TimeoutException(
          s"StreamingManifest: backlog drain of $inPath did not " +
            s"complete within ${timeoutMs}ms")
    } finally q.stop()
  }

  /** Idempotently append one micro-batch's rows to the flat layout:
    * [[graft.sources.CacheFs.commitBatch]] stages it, then renames
    * its parts to `b<batchId>_p<i>.parquet` behind a
    * `_batch_<batchId>_SUCCESS` marker (both the marker and the
    * stage dir start with '_', so layout readers and the manifest
    * file listing ignore them). */
  private[graft] def commitBatch(batch: DataFrame, batchId: Long,
      layoutDir: String): Unit =
    CacheFs.commitBatch(batch.sparkSession, layoutDir, batchId.toString,
      s"_batch_${batchId}_SUCCESS") { stage =>
      batch.write.mode("overwrite").parquet(stage)
    }
}
