package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Catalog over the driver-generated parquet tables in one sf directory.
  *
  * Mirrors the reference's notion of a schema of base tables
  * (reference: modules/core/src/main/scala/objects — SchemaTable et al.)
  * re-expressed as plain Spark parquet scans so Catalyst gets full
  * pushdown/pruning on every query.
  */
final class Tables(val spark: SparkSession, val dir: String) {
  /** spark.read.parquet resolves the file schema EAGERLY (a footer
    * read per call); the base tables are immutable driver-generated
    * parquet, so the resolved DataFrame is cached per
    * (session, dir, table) — registerAll() and repeated accessor
    * calls then cost a map lookup instead of 10 footer reads per
    * query (bench-visible on every SQL front-door query). */
  def table(name: String): DataFrame =
    Tables.cache.getOrElseUpdate((spark, dir, name),
      spark.read.parquet(s"$dir/$name.parquet"))

  def region: DataFrame = table("region")
  def nation: DataFrame = table("nation")
  def customer: DataFrame = table("customer")
  def supplier: DataFrame = table("supplier")
  def part: DataFrame = table("part")
  def orders: DataFrame = table("orders")
  def lineitem: DataFrame = table("lineitem")
  /** events, with `ts` normalized to TIMESTAMP whatever the physical
    * parquet layout is. The testdata has shipped `ts` two ways across
    * rounds — TIMESTAMP(NANOS) (which Spark's vectorized reader only
    * accepts via nanosAsLong=true, set by Engine.session, yielding a
    * LongType of nanos) and plain timestamp[us] with
    * isAdjustedToUTC=false (which Spark reads as TIMESTAMP_NTZ).
    * Branch on the type actually read instead of assuming a layout;
    * both land on TimestampType under the session's UTC discipline,
    * matching DuckDB's naive-timestamp view of the same files. */
  def events: DataFrame = Tables.normalizeEventsTs(table("events"))
  def documents: DataFrame = table("documents")
  def embeddings: DataFrame = table("embeddings")

  /** Register all tables as temp views for spark.sql(...) queries.
    * Uses the per-table accessors so `events` gets the nanos->micros
    * treatment (a raw table("events") read of the TIMESTAMP(NANOS)
    * layout yields LongType nanos). */
  def registerAll(): Unit = {
    val dfs = Map(
      "region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events,
      "documents" -> documents, "embeddings" -> embeddings)
    Tables.names.foreach { n => dfs(n).createOrReplaceTempView(n) }
  }
}

object Tables {
  private val cache =
    scala.collection.concurrent.TrieMap
      .empty[(SparkSession, String, String), DataFrame]

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String): Tables = new Tables(spark, dir)

  /** Normalize an events frame's `ts` column to TimestampType from any
    * layout the testdata has used: LongType (nanos read via
    * nanosAsLong), TIMESTAMP_NTZ (timestamp[us], isAdjustedToUTC=false
    * — wall-clock-identical cast under the UTC session), or already
    * TIMESTAMP (no-op). */
  def normalizeEventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
}
