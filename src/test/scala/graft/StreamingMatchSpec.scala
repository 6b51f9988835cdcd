package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SeqMatchOp
import graft.streaming.{EventStreams, StreamingMatch}

/** The streaming MATCH operator must agree exactly with the batch
  * matcher over the same events (single micro-batch drive). */
class StreamingMatchSpec extends AnyFunSuite {
  import TestSession._

  lazy val eventsDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_match_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      d.resolve("events.parquet"))
    d.toString
  }

  test("streaming MATCH equals batch MATCH on the full stream") {
    // one pattern per operator the DFA is built from: `*`, `|`, `?`,
    // `{n,m}`, `+` and PERMUTE
    val patterns = Seq("click view* purchase",
      "click (view|signup) purchase", "view click? purchase",
      "error{1,2} signup", "(click|view)+ purchase",
      "PERMUTE(click, view, purchase)")
    for ((pattern, i) <- patterns.zipWithIndex) {
      val stream = EventStreams.readEvents(spark, eventsDir)
      val q = StreamingMatch.matches(stream, pattern)
        .writeStream.outputMode("append")
        .format("memory").queryName(s"match_out_$i")
        .start()
      try q.processAllAvailable() finally q.stop()

      val streamed = spark.table(s"match_out_$i")
        .select(col("user_id"), col("match_id"), col("n_rows"),
          col("first_ord"), col("last_ord"), col("path"))
      val batch = SeqMatchOp.matchPattern(
        Tables(spark, sfDir).events, "user_id", "ts", "event_type", pattern)
        .select(col("user_id"), col("match_id"), col("n_rows"),
          col("first_ord"), col("last_ord"), col("path"))

      assert(streamed.count() > 0, pattern)
      assert(streamed.exceptAll(batch).isEmpty &&
        batch.exceptAll(streamed).isEmpty, pattern)
    }
  }

  test("a pattern that accepts the empty sequence is rejected") {
    val stream = EventStreams.readEvents(spark, eventsDir)
    val e = intercept[IllegalArgumentException](
      StreamingMatch.matches(stream, "view*"))
    assert(e.getMessage.contains("empty sequence"))
    // the batch matchers reject it on the driver too, through both
    // GRAFT MATCH forms
    Tables(spark, sfDir).registerAll()
    Seq("LABEL event_type", "LABEL BY event_type").foreach { labels =>
      val b = intercept[IllegalArgumentException](
        spark.sql("GRAFT MATCH 'view*' ON events KEY user_id ORDER ts " +
          labels).collect())
      assert(b.getMessage.contains(
        "MATCH pattern accepts the empty sequence: view*"), b.getMessage)
    }
  }

  test("MATCH micro-batches stop compiling code after the second batch") {
    // five slices in (ts, event_id) order, released one file per batch
    val d = java.nio.file.Files.createTempDirectory("graft_match_codegen")
    val ev = Tables(spark, sfDir).events
    val rows = ev.orderBy(col("ts"), col("event_id")).collect().toSeq
    val slices = rows.grouped((rows.size + 4) / 5).toSeq
    slices.zipWithIndex.foreach { case (s, i) =>
      spark.createDataFrame(java.util.Arrays.asList(s: _*), ev.schema)
        .coalesce(1).write.parquet(d.resolve(s"stage/s$i").toString)
    }
    val src = java.nio.file.Files.createDirectories(d.resolve("src"))
    def release(i: Int): Unit = {
      val stage = java.nio.file.Files.list(d.resolve(s"stage/s$i"))
      val part = try stage.filter(_.toString.endsWith(".parquet"))
        .findFirst.get finally stage.close()
      java.nio.file.Files.move(part, src.resolve(s"s$i.parquet"))
    }
    release(0)
    val q = StreamingMatch.matches(
        spark.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", "1").parquet(src.toString),
        "click view* purchase")
      .writeStream.outputMode("append")
      .format("memory").queryName("match_out_codegen")
      .start()
    val compiles = try {
      slices.indices.map { i =>
        if (i > 0) release(i)
        q.processAllAvailable()
        org.apache.spark.metrics.source.CodegenMetrics
          .METRIC_COMPILATION_TIME.getCount
      }
    } finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) == slices.size)
    assert(compiles.drop(1).distinct.size == 1,
      s"compilations after each batch: ${compiles.mkString(", ")}")
  }

  test("streaming MATCH state carries across micro-batches") {
    // split the events into two files so the file source produces at
    // least two batches with maxFilesPerTrigger=1; cross-batch matches
    // (run begun in batch 1, completed in batch 2) must still emit.
    val d = java.nio.file.Files.createTempDirectory("graft_match_2batch")
    val ev = Tables(spark, sfDir).events.orderBy(col("ts"), col("event_id"))
    val n = ev.count()
    // halve by ts order so runs straddle the boundary for some user
    val firstHalf = ev.limit((n / 2).toInt)
    val secondHalf = ev.exceptAll(firstHalf)
    firstHalf.coalesce(1).write.mode("overwrite")
      .parquet(d.resolve("p1").toString)
    // file source lists lexicographically; ensure p1 then p2
    secondHalf.coalesce(1).write.mode("overwrite")
      .parquet(d.resolve("p2").toString)

    val stream = spark.readStream
      .schema(firstHalf.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(d.toString + "/p*")
    val q = StreamingMatch.matches(stream, "click view* purchase")
      .writeStream.outputMode("append")
      .format("memory").queryName("match_out_2b")
      .start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("match_out_2b").count()
    val batch = SeqMatchOp.matchPattern(
      Tables(spark, sfDir).events, "user_id", "ts", "event_type",
      "click view* purchase").count()
    assert(streamed == batch)
  }
}
