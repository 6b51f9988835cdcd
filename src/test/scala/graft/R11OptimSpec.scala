package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-11 optimization equivalence pins: each rewrite this round
  * must be ROW-IDENTICAL to the formulation it replaced.
  */
class R11OptimSpec extends AnyFunSuite {
  import TestSession._

  test("graft_pairs == nested transform/flatten lambda formulation") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = Seq.tabulate(60) { i =>
      (i.toLong, (0 until rnd.nextInt(9)).map(_ => rnd.nextInt(40))
        .distinct.sorted)
    }
    val df = rows.toDF("id", "items")
    val native = df.select(col("id"),
      expr("graft_pairs(items)").as("p"))
    val lambda = df.select(col("id"), expr(
      """flatten(transform(items, (x, i) ->
        |  transform(slice(items, i + 2, size(items)),
        |    y -> struct(x AS a, y AS b))))""".stripMargin).as("p"))
    val n = native.select(col("id"), explode(col("p")).as("e"))
      .select(col("id"), col("e.a"), col("e.b"))
    val l = lambda.select(col("id"), explode(col("p")).as("e"))
      .select(col("id"), col("e.a"), col("e.b"))
    assert(n.except(l).isEmpty && l.except(n).isEmpty)
    assert(n.count() === l.count()) // multiplicity, not just sets
  }

  test("graft_triples == nested transform/flatten lambda formulation") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val rows = Seq.tabulate(40) { i =>
      (i.toLong, (0 until rnd.nextInt(8)).map(_ => rnd.nextInt(30))
        .distinct.sorted)
    }
    val df = rows.toDF("id", "items")
    val n = df.select(col("id"),
        explode(expr("graft_triples(items)")).as("e"))
      .select(col("id"), col("e.a"), col("e.b"), col("e.c"))
    val l = df.select(col("id"), explode(expr(
      """flatten(flatten(transform(items, (x, i) ->
        |  transform(slice(items, i + 2, size(items)), (y, j) ->
        |    transform(slice(items, i + j + 3, size(items)),
        |      z -> struct(x AS a, y AS b, z AS c))))))""".stripMargin))
        .as("e"))
      .select(col("id"), col("e.a"), col("e.b"), col("e.c"))
    assert(n.except(l).isEmpty && l.except(n).isEmpty)
    assert(n.count() === l.count())
  }

  test("graft_pairs generalizes over element types (strings)") {
    import spark.implicits._
    val df = Seq((1L, Seq("a", "b", "c"))).toDF("id", "items")
    val got = df.select(explode(expr("graft_pairs(items)")).as("e"))
      .select(col("e.a"), col("e.b")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === Set(("a", "b"), ("a", "c"), ("b", "c")))
  }

  test("monotonic-id bit-split rank == global row_number (q147 shape)") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val df = Seq.tabulate(5000) { i =>
      (rnd.nextInt(1000).toDouble, i.toLong)
    }.toDF("x", "k")
    val parts = 7
    val sorted = df.repartitionByRange(parts, col("x"), col("k"))
      .sortWithinPartitions(col("x"), col("k"))
    val local = sorted
      .withColumn("_mid", monotonically_increasing_id())
      .withColumn("pid", shiftright(col("_mid"), 33).cast("int"))
      .withColumn("rn",
        col("_mid").bitwiseAND(lit((1L << 33) - 1)) + lit(1L))
      .drop("_mid")
    val counts = local.groupBy(col("pid")).agg(count(lit(1)).as("c"))
    val offs = counts.alias("a")
      .join(counts.alias("b"), col("b.pid") < col("a.pid"), "left")
      .groupBy(col("a.pid").as("pid"))
      .agg(coalesce(sum(col("b.c")), lit(0L)).as("off"))
    val ranked = local.join(broadcast(offs), Seq("pid"))
      .withColumn("p", col("off") + col("rn"))
      .select(col("x"), col("k"), col("p"))
    val expect = df.withColumn("p", row_number().over(
      org.apache.spark.sql.expressions.Window
        .orderBy(col("x"), col("k")).partitionBy()))
      .select(col("x"), col("k"), col("p").cast("long").as("p"))
    assert(ranked.except(expect).isEmpty && expect.except(ranked).isEmpty)
  }

  test("streaming drain partition hint leaves results identical") {
    // the q387 EWMA drain under an explicit 1-partition override must
    // equal the same drain at the session default: state partitioning
    // is layout, not semantics
    val dir = sfDir
    val a = SparkEntry.queries("q387_stream_ewma_final")(spark, dir)
      .collect().toSeq
    spark.conf.set("spark.graft.stream.shufflePartitions", "3")
    try {
      val b = SparkEntry.queries("q387_stream_ewma_final")(spark, dir)
        .collect().toSeq
      assert(a === b)
    } finally spark.conf.unset("spark.graft.stream.shufflePartitions")
  }
}
