package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.sources.VersionedTable

/** Streaming snapshot ingestion (the versioned-table twin of
  * StreamingIndexer): files landing under `srcPath` are drained with
  * Trigger.AvailableNow, and each non-empty micro-batch commits ONE
  * new immutable version of the accumulated table — previous version
  * UNION the batch. Readers pinned to any version are never disturbed
  * (snapshot isolation), and the version log doubles as the ingestion
  * audit trail: exactly the Delta-style "append commits under a
  * streaming writer" shape a 100-TB landing zone runs on a scheduler.
  *
  * Exactness contract (StreamingSnapshotsSpec): after draining, the
  * LATEST version equals the batch read of everything under srcPath,
  * and version row counts are strictly increasing.
  */
object StreamingSnapshots {

  /** Drain the backlog under `srcPath`, committing one version per
    * non-empty micro-batch into `root`; returns after the backlog is
    * processed (throws if the drain exceeds `timeoutMs`).
    * foreachBatch is at-least-once, so commits go through
    * VersionedTable.commitTagged with the batchId as the tag: the
    * staged rename makes version visibility and the tag one atomic
    * event, and a crash-replay of an already-committed batch finds
    * its tag and becomes a no-op — no duplicate versions, no
    * double-unioned rows. */
  def ingestAvailableNow(
      spark: SparkSession, srcPath: String, schema: StructType,
      root: String, checkpoint: String,
      timeoutMs: Long = 300000L): Unit = {
    val stream = spark.readStream.schema(schema).parquet(srcPath)
    val q = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // union with the previous committed state; first commit is
        // the batch alone. The batch is materialized via its own plan
        // (foreachBatch hands us a static frame), so the commit's
        // write is the only action.
        val latest = VersionedTable.latestVersion(spark, root)
        if (batch.take(1).nonEmpty) {
          val next =
            if (latest < 0) batch
            else VersionedTable.read(spark, root, latest).unionByName(batch)
          VersionedTable.commitTagged(root, next, s"ingest_$batchId")
        }
        ()
      }
      .start()
    try {
      if (!q.awaitTermination(timeoutMs))
        throw new java.util.concurrent.TimeoutException(
          s"StreamingSnapshots: backlog drain of $srcPath did not " +
            s"complete within ${timeoutMs}ms")
    } finally q.stop()
  }
}
