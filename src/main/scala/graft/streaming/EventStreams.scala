package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming pipelines over the events stream — the Spark
  * expression of the reference's first-class ordered-stream processing
  * (sclera evaluates stream-evaluable subplans incrementally; here the
  * same logical plans run under the micro-batch engine with watermarks
  * bounding state).
  *
  * The batch-equivalent plans (same operators, same results) are
  * registered as q45/q46/q47 for the DuckDB oracle gate; these
  * readStream variants are exercised by StreamingSpec.
  */
object EventStreams {

  /** Stream source over a directory of events parquet files (the file
    * stream source requires a directory — at scale events land as a
    * growing directory of parquet parts).
    *
    * The file source requires an explicit schema, but the testdata has
    * shipped `ts` in two physical layouts across rounds (TIMESTAMP
    * (NANOS) → LongType under nanosAsLong, and timestamp[us] →
    * TIMESTAMP_NTZ), so probe the directory with a one-off batch read
    * (footer-only, no data scan) and normalize `ts` to TIMESTAMP the
    * same way the batch catalog does. */
  def readEvents(spark: SparkSession, eventsDir: String): DataFrame = {
    val probed: StructType = spark.read.parquet(eventsDir).schema
    graft.Tables.normalizeEventsTs(
      spark.readStream.schema(probed).parquet(eventsDir))
  }

  /** Tumbling 1h windowed aggregation with a watermark bounding state —
    * the streaming twin of q45_stream_window. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("w.start").as("w_start"), col("event_type"),
        col("n"), col("total"))

  /** Per-user session windows (30-minute gap) via the built-in
    * session_window — the streaming twin of q47_sessionize. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))
}
