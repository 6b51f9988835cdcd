package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Audience reach & overlap via theta/KMV sketches
  * (plans/ThetaSketch.scala) behind the GRAFT REACH statement —
  * sclera's aggregate-extension surface re-expressed as sketch
  * algebra (reference: analytics aggregates; the set-operation math
  * follows Beyer et al. SIGMOD'07 / the DataSketches theta sketch).
  *
  * One scan collapses each segment to a k-bounded sketch; every
  * pairwise union / intersection / difference is then sketch algebra
  * on the |segments|-row frame — the raw ID sets never shuffle
  * against each other, the 100-TB reach-report shape.
  *
  * Exactness contract: while a segment's distinct-key count stays
  * under k (the default 65536 covers dimension-scale audiences) the
  * sketch IS the exact distinct set and every reported number is
  * exact; beyond that they are estimates with relative standard
  * error ~ 1/sqrt(k-1).
  */
object ReachOps {

  def reach(df: DataFrame, keyCol: String, segCol: String,
      k: Int = 65536): DataFrame = {
    val sk = df.groupBy(col(segCol).as("seg"))
      .agg(expr(s"graft_theta($keyCol, $k)").as("sk"))
    sk.as("a").join(sk.as("b"), col("a.seg") < col("b.seg"))
      .select(col("a.seg").as("seg_a"), col("b.seg").as("seg_b"),
        round(expr("graft_theta_estimate(a.sk)")).cast("long")
          .as("reach_a"),
        round(expr("graft_theta_estimate(b.sk)")).cast("long")
          .as("reach_b"),
        round(expr(
          "graft_theta_estimate(graft_theta_union(a.sk, b.sk))"))
          .cast("long").as("reach_union"),
        round(expr("graft_theta_intersect(a.sk, b.sk)")).cast("long")
          .as("reach_inter"),
        round(expr("graft_theta_anotb(a.sk, b.sk)")).cast("long")
          .as("reach_anotb"))
      .orderBy(col("seg_a"), col("seg_b"))
  }
}
