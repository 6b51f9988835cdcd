package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Versioned-table layer (sources.VersionedTable, q282/q283): commit /
  * pinned-read round trip, monotone version log, and exact diff
  * semantics. */
class VersionedTableSpec extends AnyFunSuite {
  import TestSession._
  import graft.sources.VersionedTable

  private def freshRoot(tag: String): String = {
    val f = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_vt_spec_$tag")
    def rm(x: java.io.File): Unit = {
      if (x.isDirectory) x.listFiles().foreach(rm)
      x.delete()
    }
    rm(f)
    f.toString
  }

  test("commit assigns consecutive versions; reads are pinned") {
    val root = freshRoot("roundtrip")
    assert(VersionedTable.latestVersion(spark, root) == -1)
    val base = spark.range(0, 10).select(col("id"),
      (col("id") * 2).as("v"))
    assert(VersionedTable.commit(root, base) == 0)
    assert(VersionedTable.commit(root, base.filter(col("id") < 5)) == 1)
    assert(VersionedTable.latestVersion(spark, root) == 1)
    // v0 is untouched by the v1 commit (snapshot isolation)
    assert(VersionedTable.read(spark, root, 0).count() == 10)
    assert(VersionedTable.read(spark, root, 1).count() == 5)
    val hist = VersionedTable.history(spark, root).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(hist == Map(0 -> 10L, 1 -> 5L))
    intercept[IllegalArgumentException] {
      VersionedTable.read(spark, root, 2)
    }
  }

  test("diff reports added/removed/changed/unchanged exactly") {
    val root = freshRoot("diff")
    val v0 = spark.range(0, 6).select(col("id"), lit("a").as("s"))
    VersionedTable.commit(root, v0)
    val v1 = spark.range(2, 8).select(col("id"),
      when(col("id") === 3, "b").otherwise("a").as("s"))
    VersionedTable.commit(root, v1)
    val d = VersionedTable.diff(spark, root, "id", 0, 1)
      .groupBy(col("status")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // 0,1 removed; 6,7 added; 3 changed; 2,4,5 unchanged
    assert(d == Map("removed" -> 2L, "added" -> 2L,
      "changed" -> 1L, "unchanged" -> 3L))
  }

  test("vacuum bounds the horizon; counter keeps advancing") {
    import spark.implicits._
    val root = freshRoot("vac")
    for (i <- 0 until 4)
      VersionedTable.commit(root, Seq((i, s"v$i")).toDF("k", "s"))
    assert(VersionedTable.versions(spark, root) == Seq(0, 1, 2, 3))
    val deleted = VersionedTable.vacuum(spark, root, keep = 2)
    assert(deleted == Seq(0, 1))
    assert(VersionedTable.versions(spark, root) == Seq(2, 3))
    // vacuumed versions are gone, survivors still read
    intercept[IllegalArgumentException] {
      VersionedTable.read(spark, root, 0)
    }
    assert(VersionedTable.read(spark, root, 3).count() == 1L)
    // the next commit continues past the highest survivor
    val v = VersionedTable.commit(root, Seq((9, "n")).toDF("k", "s"))
    assert(v == 4)
    // the statement front door reports the deletion
    val st = spark.sql("GRAFT VACUUM '" + root + "' KEEP 1").collect()
    assert(st.nonEmpty)
    assert(VersionedTable.versions(spark, root) == Seq(4))
  }

  test("a file: URI root keeps every snapshot and reads each back") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_vt_uri")
    val root = s"file://$d/vt"
    Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "s")
      .createOrReplaceTempView("vt_uri_src")
    spark.sql(s"GRAFT SNAPSHOT vt_uri_src INTO '$root'").collect()
    spark.sql("SELECT * FROM vt_uri_src WHERE k > 1")
      .createOrReplaceTempView("vt_uri_src2")
    spark.sql(s"GRAFT SNAPSHOT vt_uri_src2 INTO '$root'").collect()
    val log = spark.sql(s"GRAFT VERSIONS '$root'").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(log == Map(0 -> 3L, 1 -> 2L), s"version log: $log")
    assert(spark.sql(s"GRAFT READ '$root' VERSION 0").count() == 3L)
    assert(spark.sql(s"GRAFT READ '$root' VERSION 1").count() == 2L)
    // the versions live under the URI's path, and nothing lands in a
    // relative `file:` tree under the working directory
    assert(new java.io.File(s"$d/vt/v1/_SUCCESS").exists())
    val strays = new java.io.File(".").list().filter(_.startsWith("file:"))
    assert(strays.isEmpty, strays.mkString(","))
  }

  test("GRAFT VERSIONS on a root with no version is the empty log") {
    val empty = spark.sql(
      "GRAFT VERSIONS '" + freshRoot("empty_log") + "'")
    assert(empty.collect().isEmpty)
    val root = freshRoot("one_version")
    VersionedTable.commit(root, spark.range(2).toDF("id"))
    assert(empty.schema ==
      spark.sql("GRAFT VERSIONS '" + root + "'").schema)
  }

  test("GRAFT EXPORT materializes a view; round trip preserves rows") {
    import spark.implicits._
    val out = freshRoot("export")
    Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "s")
      .createOrReplaceTempView("export_src")
    spark.sql("GRAFT EXPORT export_src INTO '" + out + "' FORMAT CSV")
    val back = spark.read.option("header", "true")
      .option("inferSchema", "true").csv(out)
    assert(back.count() == 3L)
    assert(back.select(sum(col("k"))).head.getLong(0) == 6L)
  }
}
