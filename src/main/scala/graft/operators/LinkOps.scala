package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Phonetic-blocked record linkage (the q272 operator, reusable and
  * behind the GRAFT LINK statement).
  *
  * Blocking key: graft's deterministic soundex chain — built from the
  * SAME upper/translate/regexp primitives in Spark and DuckDB so block
  * keys agree bit-for-bit across engines. Score: the native codegen'd
  * graft_jaro_winkler expression (arithmetic-order-pinned to DuckDB's
  * jaro_winkler_similarity).
  *
  * Scale shape: linkage runs at DICTIONARY scale — both inputs are
  * reduced to distinct-value frames first (bounded by vocabulary, not
  * corpus), the clean roster broadcasts, and per-block candidate sets
  * are bounded by the phonetic-code fan-out, never all-pairs.
  */
object LinkOps {

  /** The soundex chain as a SQL expression over column `c` (Spark
    * flavor; the DuckDB oracle adds RE2's 'g' flags). */
  def phoneticSql(c: String): String = {
    val dedup = (0 to 6).foldLeft(
      s"translate(translate(upper(regexp_replace($c, '[^A-Za-z]', " +
        "'')), 'HW', ''), " +
        "'ABCDEFGIJKLMNOPQRSTUVXYZ', '012301202245501262301022')") {
      (acc, d) => s"regexp_replace($acc, '$d$d+', '$d')" }
    s"substr(upper(regexp_replace($c, '[^A-Za-z]', '')), 1, 1) || " +
      s"substr(replace(substr($dedup, 2), '0', '') || '000', 1, 3)"
  }

  /** Best clean match per distinct dirty value: soundex block, score
    * with Jaro-Winkler, keep matches >= minJw, pick (max jw, then max
    * name) deterministically. Output: (dname, best_match, jw, n_cand).
    */
  def phoneticLink(dirty: DataFrame, dirtyCol: String,
      clean: DataFrame, cleanCol: String, minJw: Double): DataFrame = {
    val c = clean.select(col(cleanCol).cast("string").as("cname"))
      .distinct()
      .withColumn("blk", expr(phoneticSql("cname")))
    val d = dirty.select(col(dirtyCol).cast("string").as("dname"))
      .distinct()
      .withColumn("blk", expr(phoneticSql("dname")))
    d.join(broadcast(c), "blk")
      .withColumn("jw", expr("graft_jaro_winkler(dname, cname)"))
      .where(col("jw") >= minJw)
      .groupBy(col("dname"))
      .agg(count(lit(1)).as("n_cand"),
        max(struct(col("jw"), col("cname"))).as("_b"))
      .select(col("dname"), col("_b.cname").as("best_match"),
        round(col("_b.jw"), 6).as("jw"), col("n_cand"))
      .orderBy(col("dname"))
  }
}
