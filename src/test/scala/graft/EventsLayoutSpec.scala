package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Regression guard for the events `ts` data-layout contract.
  *
  * The driver's testdata has shipped `events.ts` in two different
  * physical parquet layouts across rounds — TIMESTAMP(NANOS) (readable
  * only as LongType nanos under nanosAsLong=true) and timestamp[us]
  * with isAdjustedToUTC=false (read as TIMESTAMP_NTZ). Round 4
  * hard-coded the nanos path and every events-dependent query died at
  * analysis when the layout flipped. This spec pins the adaptive read:
  * both layouts must come back as TimestampType with identical
  * wall-clock values, and the real testdata must load.
  */
class EventsLayoutSpec extends AnyFunSuite {
  import TestSession._

  private val wallClockMicros = 1700000000000000L // 2023-11-14T22:13:20Z

  test("real testdata events loads with ts as TIMESTAMP and rows > 0") {
    val ev = Tables(spark, sfDir).events
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.count() > 0)
  }

  test("long-nanos layout normalizes to the same wall clock") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-ev-nanos").toString
    // a raw INT64 column is exactly what a TIMESTAMP(NANOS) file looks
    // like through the nanosAsLong=true reader
    Seq((1L, wallClockMicros * 1000L))
      .toDF("event_id", "ts").write.mode("overwrite").parquet(dir)
    val norm = Tables.normalizeEventsTs(spark.read.parquet(dir))
    assert(norm.schema("ts").dataType == TimestampType)
    val got = norm.select(unix_micros(col("ts"))).head().getLong(0)
    assert(got == wallClockMicros)
  }

  test("timestamp_ntz (timestamp[us]) layout normalizes to the same wall clock") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-ev-ntz").toString
    Seq((1L, wallClockMicros))
      .toDF("event_id", "us")
      .select(col("event_id"),
        timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
      .write.mode("overwrite").parquet(dir)
    val read = spark.read.parquet(dir)
    assert(read.schema("ts").dataType == TimestampNTZType)
    val norm = Tables.normalizeEventsTs(read)
    assert(norm.schema("ts").dataType == TimestampType)
    val got = norm.select(unix_micros(col("ts"))).head().getLong(0)
    assert(got == wallClockMicros)
  }

  test("streaming readEvents adapts to the real testdata layout") {
    val stream = streaming.EventStreams.readEvents(spark, s"$sfDir/events.parquet")
    assert(stream.isStreaming)
    assert(stream.schema("ts").dataType == TimestampType)
  }

  test("building the events readers leaves the session conf unchanged") {
    val fresh = spark.newSession()
    val before = fresh.conf.getAll
    Tables(fresh, sfDir).events
    streaming.EventStreams.readEvents(fresh, s"$sfDir/events.parquet")
    val changed = fresh.conf.getAll.toSet.diff(before.toSet)
    assert(changed.isEmpty && fresh.conf.getAll.size == before.size,
      s"readers changed the session conf: $changed")
  }
}
