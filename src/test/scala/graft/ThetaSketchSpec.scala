package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{ThetaBuffer, ThetaSketch}

/** The theta/KMV distinct sketch: exactness-while-uncapped contract,
  * set-operation estimators (intersect / a-not-b / union), analytic
  * error bounds once capped, and partition-count invariance of the
  * merge (map-side partials == single partition). */
class ThetaSketchSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  private def sketchOf(ids: Seq[String], k: Int, parts: Int)
      : Array[Byte] = {
    ids.toDF("id").repartition(parts)
      .agg(expr(s"graft_theta(id, $k)").as("sk"))
      .head().getAs[Array[Byte]](0)
  }

  // two sets with a known overlap: A = 0..2999, B = 2000..5999
  private val a = (0 until 3000).map("u" + _)
  private val b = (2000 until 6000).map("u" + _)

  test("uncapped sketch is the exact distinct set (all ops exact)") {
    val ska = sketchOf(a, k = 8192, parts = 8)
    val skb = sketchOf(b, k = 8192, parts = 8)
    assert(ThetaSketch.estimate(ska) == 3000.0)
    assert(ThetaSketch.estimate(skb) == 4000.0)
    assert(ThetaSketch.intersectEstimate(ska, skb) == 1000.0)
    assert(ThetaSketch.aNotBEstimate(ska, skb) == 2000.0)
    assert(ThetaSketch.aNotBEstimate(skb, ska) == 3000.0)
    assert(ThetaSketch.estimate(ThetaSketch.union(ska, skb)) == 6000.0)
  }

  test("duplicates do not move the estimate (distinct semantics)") {
    val once = sketchOf(a, k = 8192, parts = 4)
    val thrice = sketchOf(a ++ a ++ a, k = 8192, parts = 4)
    assert(ThetaSketch.estimate(once) == ThetaSketch.estimate(thrice))
  }

  test("capped sketch lands inside the analytic error bound") {
    // k=512 over 3000/4000 distinct: RSE ~ 1/sqrt(511) ~ 4.4%; assert
    // 5 sigma so the test is deterministic-safe for this fixed hash
    val ska = sketchOf(a, k = 512, parts = 8)
    val skb = sketchOf(b, k = 512, parts = 8)
    def relErr(est: Double, truth: Double) = math.abs(est - truth) / truth
    assert(relErr(ThetaSketch.estimate(ska), 3000.0) < 0.22)
    assert(relErr(ThetaSketch.estimate(skb), 4000.0) < 0.22)
    assert(relErr(
      ThetaSketch.estimate(ThetaSketch.union(ska, skb)), 6000.0) < 0.22)
    // set-op sample is thinner (overlap fraction of k): allow more
    assert(relErr(ThetaSketch.intersectEstimate(ska, skb), 1000.0) < 0.5)
    assert(relErr(ThetaSketch.aNotBEstimate(ska, skb), 2000.0) < 0.35)
  }

  test("merge is partition-count invariant") {
    val one = sketchOf(a, k = 512, parts = 1)
    val many = sketchOf(a, k = 512, parts = 16)
    assert(one.sameElements(many))
  }

  test("serialization round-trips the buffer") {
    val buf = new ThetaBuffer(16)
    (1 to 100).foreach(i => buf.add(i.toLong * 0x9E3779B97F4A7C15L))
    val back = ThetaSketch.deserialize(ThetaSketch.serialize(buf))
    assert(back.k == buf.k && back.capped == buf.capped &&
      back.thetaHash == buf.thetaHash &&
      back.sample == buf.sample)
  }

  test("merge with a tighter remote cutoff drops local tail hashes") {
    // local uncapped {10,20,30}; remote capped at cutoff 25 with {5}:
    // merged must discard 30 (>= remote cutoff) and keep {5,10,20}
    val local = new ThetaBuffer(8)
    Seq(10L, 20L, 30L).foreach(local.add)
    val remote = new ThetaBuffer(8)
    remote.add(5L)
    remote.capped = true
    remote.thetaHash = 25L
    local.merge(remote)
    assert(local.capped && local.thetaHash == 25L)
    assert(local.sample.size == 3 && !local.sample.contains(30L))
  }

  test("re-aggregating stored sketches == sketching the raw union") {
    // the sketch-warehouse contract behind graft_theta_merge: persist
    // per-segment sketches once, roll up by merging the sketch column
    val rows = (for (d <- 1 to 7; u <- 0 until 3000) yield (d, s"u$u"))
    val daily = rows.toDF("day", "id").repartition(8)
      .groupBy($"day").agg(expr("graft_theta(id, 512)").as("sk"))
    val rolled = daily.agg(expr("graft_theta_merge(sk)").as("m"))
      .head().getAs[Array[Byte]](0)
    val direct = sketchOf((1 to 7).flatMap(d =>
      (0 until 3000).map("u" + _)), k = 512, parts = 8)
    assert(rolled.sameElements(direct),
      "merged day sketches differ from the direct sketch")
  }

  test("null inputs are skipped; an all-null group estimates 0") {
    val sk = Seq[Option[String]](Some("a"), None, Some("b"), None)
      .toDF("id")
      .agg(expr("graft_theta(id, 64)")).head().getAs[Array[Byte]](0)
    assert(ThetaSketch.estimate(sk) == 2.0)
    val empty = Seq[Option[String]](None, None).toDF("id")
      .agg(expr("graft_theta(id, 64)")).head().getAs[Array[Byte]](0)
    assert(ThetaSketch.estimate(empty) == 0.0)
    assert(ThetaSketch.intersectEstimate(sk, empty) == 0.0)
    assert(ThetaSketch.aNotBEstimate(sk, empty) == 2.0)
  }

  test("k must be an integer literal >= 16") {
    val df = Seq("a").toDF("id")
    intercept[Exception] {
      df.agg(expr("graft_theta(id, length(id))")).collect()
    }
    intercept[Exception] {
      df.agg(expr("graft_theta(id, 4)")).collect()
    }
  }

  test("q368 verdict columns are all true at sf0.001") {
    val out = SparkEntry.queries("q368_theta_setops")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.length == 10) // 5 choose 2 event-type pairs
    val verdictIdx = 7 until 14
    out.foreach { r =>
      verdictIdx.foreach(i => assert(r.getBoolean(i), s"col $i in $r"))
    }
  }

  test("q370 rolling-sketch verdicts are all true at sf0.001") {
    val out = SparkEntry.queries("q370_theta_rolling")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getBoolean(2) && r.getBoolean(3), s"verdicts in $r")
    }
  }
}
