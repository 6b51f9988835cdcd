package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Micro-batched ANN serving: a stream of query vectors probes a
  * STATIC IVF-assigned corpus and emits the exact bounded top-k per
  * query — the serving twin of the batch IVF path (q101/q179), the
  * way a retrieval endpoint actually consumes a 100-TB index: the
  * corpus/list assignment is built once (batch; incremental append is
  * StreamingIndexer's job for the lexical twin), each arriving query
  * costs |corpus| * nprobe / nlist, and per-query funnels are
  * graft_topk_by aggregates (k rows of map-side state), never a
  * window.
  *
  * The probe is ONE function used by both the streaming foreachBatch
  * and the batch reference, so StreamingAnnSpec's cross-check pins
  * exactly the property that matters: results are invariant to HOW
  * the query stream is micro-batched.
  */
object StreamingAnn {

  /** Assign every corpus vector to its nearest of `nlist` fixed
    * coarse centroids (lowest-id vectors, the deterministic seeding
    * the whole ANN family uses). One pass; returns
    * (c_id, vec_id, embedding). */
  def assignLists(corpus: DataFrame, nlist: Int): DataFrame = {
    val cents = centroids(corpus, nlist)
    corpus.crossJoin(broadcast(cents))
      .withColumn("d2", expr("graft_dist_sq(centroid, embedding)"))
      .groupBy(col("vec_id"))
      .agg(min_by(struct(col("c_id"), col("embedding")),
        struct(col("d2"), col("c_id"))).as("_b"))
      .select(col("_b.c_id").as("c_id"), col("vec_id"),
        col("_b.embedding").as("embedding"))
  }

  def centroids(corpus: DataFrame, nlist: Int): DataFrame =
    corpus.where(col("vec_id") < nlist)
      .select(col("vec_id").cast("int").as("c_id"),
        transform(col("embedding"), v => v.cast("double")).as("centroid"))

  /** Probe: top-k cosine neighbors from the `nprobe` nearest lists,
    * for every query row (vec_id, embedding) in `queries`. */
  def probe(queries: DataFrame, lists: DataFrame, cents: DataFrame,
      nprobe: Int, k: Int): DataFrame = {
    val qranked = queries
      .crossJoin(broadcast(cents))
      .withColumn("d2", expr("graft_dist_sq(centroid, embedding)"))
      .groupBy(col("vec_id"), col("embedding"))
      .agg(expr(s"graft_topk_by(-d2, c_id, c_id, $nprobe)").as("top"))
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        explode(col("top.tie")).as("c_id_l"))
      .select(col("c_id_l").cast("int").as("c_id"), col("q_id"),
        col("qe"))
    lists.join(broadcast(qranked), Seq("c_id"))
      .where(col("vec_id") =!= col("q_id"))
      .withColumn("cos", expr("graft_cosine(embedding, qe)"))
      .groupBy(col("q_id"))
      .agg(expr(s"graft_topk_by(cos, vec_id, vec_id, $k)").as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), col("col.tie").as("vec_id"),
        round(col("col.score"), 6).as("cos"),
        (col("pos") + 1).cast("int").as("rk"))
  }

  /** Start serving: each micro-batch of arriving query vectors is
    * probed against the static lists and its results appended to the
    * parquet `sinkPath` (a real deployment writes a result topic).
    * `queryStream` must carry (vec_id, embedding). */
  def serve(queryStream: DataFrame, lists: DataFrame, cents: DataFrame,
      nprobe: Int, k: Int, sinkPath: String): StreamingQuery =
    queryStream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        probe(batch, lists, cents, nprobe, k)
          .write.mode("append").parquet(sinkPath)
      }
      .start()
}
