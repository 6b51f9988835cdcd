package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.ThetaSketch
import graft.streaming.StreamingReach

/** Streaming theta reach must agree with the batch sketch in its
  * exact regime, including across micro-batch boundaries: the final
  * per-segment sketch bytes must be IDENTICAL to the batch
  * graft_theta over everything streamed, so live sketches and batch
  * sketches compose in the same set algebra. */
class StreamingReachSpec extends AnyFunSuite {
  import TestSession._

  test("streaming reach equals batch sketch across micro-batches") {
    val d = java.nio.file.Files.createTempDirectory("graft_reach_stream")
    val ev = Tables(spark, sfDir).events
      .select(col("event_type"), col("user_id").cast("string").as("uid"))
    val n = ev.count()
    val firstHalf = ev.limit((n / 2).toInt)
    val secondHalf = ev.exceptAll(firstHalf)
    firstHalf.coalesce(1).write.mode("overwrite")
      .parquet(d.resolve("p1").toString)
    secondHalf.coalesce(1).write.mode("overwrite")
      .parquet(d.resolve("p2").toString)

    val stream = spark.readStream
      .schema(firstHalf.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(d.toString + "/p*")
    val q = StreamingReach.reach(
        StreamingReach.keyed(stream, "event_type", "uid"), k = 4096)
      .writeStream.outputMode("update")
      .format("memory").queryName("reach_out")
      .start()
    try q.processAllAvailable() finally q.stop()

    // latest emission per segment = the final state
    val latest = spark.table("reach_out")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("seg")).orderBy(col("reach").desc)))
      .where(col("rn") === 1)
      .select(col("seg"), col("reach"), col("sketch"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getAs[Array[Byte]](2))).toMap

    val batch = ev
      .groupBy(col("event_type"))
      .agg(countDistinct(col("uid")).as("exact"),
        expr("graft_theta(uid, 4096)").as("sk"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getAs[Array[Byte]](2))).toMap

    assert(latest.keySet == batch.keySet)
    latest.foreach { case (seg, (reach, bytes)) =>
      val (exact, batchBytes) = batch(seg)
      // exact regime: k=4096 over <= 1500 distinct users per segment
      assert(reach == exact, s"segment $seg reach $reach != $exact")
      assert(bytes.sameElements(batchBytes),
        s"segment $seg live sketch != batch sketch")
    }
    // live sketches compose in the batch set algebra: all segments
    // share (almost) every user here, so A-not-B is tiny vs reach
    val segs = latest.keys.toSeq.sorted
    val inter = ThetaSketch.intersectEstimate(
      latest(segs.head)._2, latest(segs.last)._2)
    assert(inter > 0.0 && inter <= math.min(
      latest(segs.head)._1, latest(segs.last)._1).toDouble)
  }
}
