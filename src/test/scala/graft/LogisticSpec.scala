package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.MLOps

/** Logistic-regression trainer: the training curve must actually
  * descend, the learned separator must beat chance on held-out data,
  * and the decimal-summed gradients must make training deterministic
  * under repartitioning. */
class LogisticSpec extends AnyFunSuite {
  import TestSession._

  private def dataset() = MLOps.standardize(
    graft.queries.Analytics.qualityTrainingSet(Tables(spark, sfDir)),
    "feat")

  test("loss decreases monotonically over rounds") {
    val data = dataset()
    val nDims = data.select(size(col("feat"))).head.getInt(0)
    val losses = (0 to 6 by 2).map { it =>
      val (w, b) =
        if (it == 0) (Array.fill(nDims)(0.0), 0.0)
        else MLOps.logisticTrain(data, "feat", "y", it, 5.0)
      MLOps.logisticLoss(data, "feat", "y", w, b)
    }
    assert(math.abs(losses.head - math.log(2.0)) < 1e-12)
    losses.sliding(2).foreach { case Seq(a, b) =>
      assert(b < a, s"loss went up: $losses")
    }
  }

  test("held-out accuracy beats chance; training is layout-invariant") {
    val data = dataset()
    val train = data.where(col("doc_id") % 5 =!= 0)
    val test = data.where(col("doc_id") % 5 === 0)
    val (w, b) = MLOps.logisticTrain(train, "feat", "y", 15, 5.0)
    val wLit = array(w.toIndexedSeq.map(lit): _*)
    val scored = test.withColumn("_w", wLit)
      .withColumn("z",
        expr("aggregate(zip_with(feat, _w, (xi, wi) -> " +
          "CAST(xi AS DOUBLE) * wi), CAST(0 AS DOUBLE), " +
          "(a, v) -> a + v)") + lit(b))
      .withColumn("pred", (col("z") > 0).cast("int"))
    val m = scored.agg(
      (sum((col("pred") === col("y")).cast("int")).cast("double") /
        count(lit(1))).as("acc"),
      (sum(when(col("y") === 1, col("pred"))).cast("double") /
        sum(col("y"))).as("recall")).head
    val acc = m.getDouble(0); val recall = m.getDouble(1)
    // the gate is linear in these features, so the distilled model
    // must recover it nearly exactly (balanced classes, ~0.5 chance)
    assert(acc > 0.9, s"held-out accuracy $acc: gate not recovered")
    assert(recall > 0.8, s"held-out recall $recall: majority collapse")

    // decimal-summed gradients: identical model on a different layout
    val (w2, b2) =
      MLOps.logisticTrain(train.repartition(13), "feat", "y", 15, 5.0)
    assert(w.sameElements(w2) && b == b2,
      "training result depends on partitioning")
  }

  test("an empty training frame fails with a clear message") {
    import spark.implicits._
    val empty = Seq.empty[(Seq[Double], Int)].toDF("feat", "y")
    val e = intercept[IllegalArgumentException] {
      MLOps.logisticTrain(empty, "feat", "y", 3, 1.0)
    }
    assert(e.getMessage.contains("training frame is empty"))
  }
}
