package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The statement/execution split (reference: sql/statements/
  * SqlStatement.scala declares, exec/Processor.scala runs): EVERY
  * side-effecting GRAFT statement parses to a runtime command node,
  * so `GRAFT EXPLAIN <stmt>` renders the plan WITHOUT executing the
  * effect. One probe per statement family; each asserts both that
  * EXPLAIN returns plan rows mentioning the command and that the
  * world is unchanged afterwards. */
class ExplainNoExecSpec extends AnyFunSuite {
  import TestSession._

  private def explain(stmt: String): String =
    spark.sql(s"GRAFT EXPLAIN $stmt").collect()
      .map(_.getString(1)).mkString("\n")

  test("EXPLAIN DML leaves the view untouched") {
    Tables(spark, sfDir).nation.createOrReplaceTempView("xne_nation")
    val before = spark.table("xne_nation").count()
    val p1 = explain("GRAFT DELETE FROM xne_nation WHERE n_regionkey = 0")
    val p2 = explain("GRAFT UPDATE xne_nation SET n_name = 'x' " +
      "WHERE n_regionkey = 1")
    val p3 = explain("GRAFT INSERT INTO xne_nation VALUES (999, 'z', 0)")
    assert(Seq(p1, p2, p3).forall(_.contains("GraftStatementCommand")))
    assert(spark.table("xne_nation").count() == before)
  }

  test("EXPLAIN MERGE and BATCH execute nothing") {
    Tables(spark, sfDir).nation.createOrReplaceTempView("xne_m")
    spark.sql("SELECT n_nationkey, 'new' AS n_name, n_regionkey " +
      "FROM xne_m LIMIT 2").createOrReplaceTempView("xne_delta")
    val before = spark.table("xne_m")
      .agg(min(col("n_name"))).head.getString(0)
    explain("GRAFT MERGE INTO xne_m USING xne_delta ON n_nationkey")
    explain("GRAFT BATCH DELETE FROM xne_m WHERE n_regionkey = 0; " +
      "INSERT INTO xne_m VALUES (998, 'y', 1)")
    assert(spark.table("xne_m")
      .agg(min(col("n_name"))).head.getString(0) == before)
  }

  test("BATCH pre-validates every statement before applying any") {
    Tables(spark, sfDir).nation.createOrReplaceTempView("xne_atomic")
    val before = spark.table("xne_atomic").count()
    // the first statement is valid DML, the second is not — the batch
    // must fail atomically with the first NOT applied
    val e = intercept[Exception] {
      spark.sql("GRAFT BATCH DELETE FROM xne_atomic WHERE " +
        "n_regionkey = 0; SELECT * FROM xne_atomic").collect()
    }
    assert(e.getMessage.contains("GRAFT BATCH accepts only DML"))
    assert(spark.table("xne_atomic").count() == before)
  }

  test("BATCH is atomic under RUNTIME failures too") {
    Tables(spark, sfDir).nation.createOrReplaceTempView("xne_rt")
    val before = spark.table("xne_rt").count()
    // both statements pass the regex pre-validation; the second dies
    // only when its post-image is built (unresolvable column) — the
    // first statement's delete must roll back
    val e = intercept[Exception] {
      spark.sql("GRAFT BATCH DELETE FROM xne_rt WHERE n_regionkey = 0; " +
        "UPDATE xne_rt SET no_such_col = 1 WHERE n_regionkey = 1")
        .collect()
    }
    assert(e != null)
    assert(spark.table("xne_rt").count() == before,
      "runtime-failed batch left partial effects")
  }

  test("UPDATE: WHERE inside a parenthesized SET expression") {
    Tables(spark, sfDir).nation.createOrReplaceTempView("xne_w")
    // the token WHERE appears inside the SET expression's string
    // concat parens — the depth-aware split must not cut there
    spark.sql("GRAFT UPDATE xne_w SET n_name = " +
      "(concat(n_name, ' WHERE tagged'))").collect()
    assert(spark.table("xne_w")
      .where(col("n_name").endsWith(" WHERE tagged")).count() ==
      spark.table("xne_w").count())
  }

  test("BATCH splitter: escaped quotes and literal semicolons") {
    Tables(spark, sfDir).nation.createOrReplaceTempView("xne_q")
    spark.sql("GRAFT BATCH " +
      "UPDATE xne_q SET n_name = 'it''s; fine' WHERE n_regionkey = 0; " +
      "DELETE FROM xne_q WHERE n_regionkey = 3").collect()
    assert(spark.table("xne_q")
      .where(col("n_name") === "it's; fine").count() > 0)
    assert(spark.table("xne_q")
      .where(col("n_regionkey") === 3).count() == 0)
  }

  test("EXPLAIN CREATE VIEW / TABLE / DROP register nothing") {
    Tables(spark, sfDir).registerAll()
    explain("GRAFT CREATE VIEW xne_v AS SELECT 1 AS one")
    assert(!spark.catalog.tableExists("xne_v"))
    explain("GRAFT CREATE TABLE xne_t AS SELECT r_regionkey FROM region")
    assert(!spark.catalog.tableExists("xne_t"))
    explain("GRAFT CREATE TEMP TABLE xne_tt AS SELECT 1 AS one")
    assert(!spark.catalog.tableExists("xne_tt"))
    // and DROP of a live view does not drop it
    spark.sql("GRAFT CREATE TEMP VIEW xne_live AS SELECT 2 AS two")
      .collect()
    explain("GRAFT DROP VIEW xne_live")
    assert(spark.catalog.tableExists("xne_live"))
    spark.sql("GRAFT DROP VIEW xne_live").collect()
  }

  test("EXPLAIN CREATE CLASSIFIER trains nothing") {
    Tables(spark, sfDir).registerAll()
    explain("GRAFT CREATE CLASSIFIER xne_model TARGET label ON embeddings")
    assert(!spark.catalog.tableExists("graft_model_xne_model"))
  }

  test("EXPLAIN EXPORT / SNAPSHOT / ZORDER / COMPACT write nothing") {
    Tables(spark, sfDir).registerAll()
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"xne_out_${System.nanoTime()}").toString
    explain(s"GRAFT EXPORT region INTO '$tmp/exp' FORMAT CSV")
    explain(s"GRAFT SNAPSHOT region INTO '$tmp/snap'")
    explain("GRAFT ZORDER lineitem BY (l_partkey, l_suppkey) " +
      s"FILES 4 INTO '$tmp/zo'")
    explain(s"GRAFT COMPACT '$sfDir/region.parquet' " +
      s"INTO '$tmp/cmp' ROWS 100")
    assert(!new java.io.File(tmp).exists())
  }

  test("EXPLAIN catalog admin mutates no registry") {
    val locsBefore = graft.sources.ExternalLocations.names.toSet
    explain("GRAFT ADD LOCATION xne_loc PARQUET '/nonexistent/path'")
    assert(graft.sources.ExternalLocations.names.toSet == locsBefore)
    val confKey = "spark.graft.xne.probe"
    explain(s"GRAFT SET $confKey = 42")
    assert(spark.conf.getOption(confKey).isEmpty)
  }

  test("EXPLAIN PLOT ... RENDER starts no Spark job") {
    Tables(spark, sfDir).registerAll()
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(String.valueOf(Option(e.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("xne_plot", "explain plot render")
      // a single-geom shape and the many-clause binned shape
      explain("GRAFT PLOT lineitem SEGMENTS X l_quantity " +
        "XEND l_extendedprice Y l_discount YEND l_tax LIMIT 50 RENDER")
      explain("GRAFT PLOT lineitem X l_extendedprice FROM 0 TO 100000 " +
        "BINS 8 Y AVG l_quantity SERIES l_returnflag GEOM POINT " +
        "POSITION JITTER SCALE LOG VLINE 10,20 HLINE 5 " +
        "REGIONX 1 2 REGIONY 3 4 ABLINE 0.5 1 RENDER 'xne plot'")
      // the listener bus delivers job starts in order: once a fence
      // job is seen, every earlier job start has been seen too
      sc.setJobGroup("xne_fence", "fence")
      spark.range(1).count()
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains("xne_fence") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(groups.contains("xne_fence"))
      assert(!groups.contains("xne_plot"),
        "EXPLAIN of a PLOT RENDER ran a Spark job")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("DML statements return status rows when actually run") {
    Tables(spark, sfDir).nation.createOrReplaceTempView("xne_run")
    val r = spark.sql(
      "GRAFT DELETE FROM xne_run WHERE n_regionkey = 3").collect().head
    assert(r.getAs[String]("operation") == "delete" &&
      r.getAs[String]("status") == "applied")
    assert(spark.table("xne_run")
      .where(col("n_regionkey") === 3).count() == 0)
  }
}
