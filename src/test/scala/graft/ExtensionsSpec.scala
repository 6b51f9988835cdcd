package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ExtendedOps
import graft.plans.DistinctOnPlan

/** The custom-logical-node path: DistinctOnPlan is lowered by the
  * extension-injected RewriteDistinctOn rule into the window+filter
  * plan, and agrees with the directly-composed equivalent. */
class ExtensionsSpec extends AnyFunSuite {
  import TestSession._

  private def viaNode = ExtendedOps.distinctOn(
    Tables(spark, sfDir).orders,
    keys = Seq("o_custkey"),
    order = Seq(("o_orderdate", false), ("o_orderkey", true)))

  test("custom node is lowered out of the analyzed plan") {
    val analyzed = viaNode.queryExecution.analyzed
    assert(analyzed.collectFirst { case d: DistinctOnPlan => d }.isEmpty,
      "DistinctOnPlan survived analysis — rewrite rule not applied")
    assert(viaNode.queryExecution.executedPlan.toString.contains("Window"))
  }

  test("custom node agrees with the composed window+filter version") {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey"))
    val composed = Tables(spark, sfDir).orders
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .drop("rn")
    assert(viaNode.exceptAll(composed).isEmpty &&
      composed.exceptAll(viaNode).isEmpty)
  }

  test("GRAFT DISTINCT ON SQL production equals the DSL result") {
    Tables(spark, sfDir).registerAll()
    val viaSql = spark.sql(
      "GRAFT DISTINCT ON (o_custkey) FROM orders " +
        "ORDER BY o_orderdate DESC, o_orderkey")
    assert(viaSql.exceptAll(viaNode).isEmpty &&
      viaNode.exceptAll(viaSql).isEmpty)
  }

  test("GRAFT MATCH SQL production equals the operator result") {
    Tables(spark, sfDir).registerAll()
    val viaSql = spark.sql(
      "GRAFT MATCH 'click view* purchase' ON events " +
        "KEY user_id ORDER ts LABEL event_type")
    val direct = graft.operators.SeqMatchOp.matchPattern(
      Tables(spark, sfDir).events, "user_id", "ts", "event_type",
      "click view* purchase")
    assert(viaSql.count() > 0)
    assert(viaSql.exceptAll(direct).isEmpty &&
      direct.exceptAll(viaSql).isEmpty)
  }

  test("ordinary SQL still parses through the delegate") {
    Tables(spark, sfDir).registerAll()
    assert(spark.sql("SELECT COUNT(*) AS n FROM orders")
      .collect().head.getLong(0) > 0)
  }

  test("malformed GRAFT syntax falls through to a clear parse error") {
    val e = intercept[Exception] {
      spark.sql("GRAFT MATCH missing quotes ON events").collect()
    }
    assert(e.getMessage != null)
  }

  test("GRAFT DISTINCT ON with an unknown column names the column") {
    Tables(spark, sfDir).registerAll()
    val e = intercept[IllegalArgumentException] {
      spark.sql("GRAFT DISTINCT ON (nope) FROM orders ORDER BY o_orderkey")
    }
    assert(e.getMessage.contains("nope"))
  }

  test("entry() has no graft-extension dependency (driver runs it bare)") {
    // the driver smoke-checks entry() with its own SparkSession — no
    // extensions, no graft confs. Guard: the flagship plan must not
    // reference any graft_* function or custom node, and must not
    // touch the nanos-timestamp events table.
    val df = SparkEntry.entry(spark)
    val plan = df.queryExecution.analyzed.toString
    assert(!plan.contains("graft_"), "extension function in entry plan")
    assert(!plan.toLowerCase.contains("events"), "nanos table in entry")
    assert(df.count() > 0)
  }

  test("graft functions resolve through the session extension") {
    val n = spark.sql(
      "SELECT graft_fingerprint('hello world') AS fp").collect()
    assert(n.head.getLong(0) > 0)
  }
}
