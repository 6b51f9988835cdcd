package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.StringType

import graft.sources.{CacheFs, IndexRegistry}

/** GRAFT CREATE INDEX <name> ON <target> (<col>) — the unified index
  * statement (reference sql/statements/SqlStatement.scala:164-175:
  * SqlCreateIndex routes per location). Two lowerings:
  *
  *   - `ON '<path>'`   (file layout): build the per-file Bloom
  *     manifest on the key column — the data-skipping structure a
  *     lake layout actually supports;
  *   - `ON <catalog>.<table>` (attached JDBC catalog): real vendor
  *     `CREATE INDEX` DDL over the same connection lane GRAFT NATIVE
  *     uses.
  *
  * Runtime commands, not parse-time side effects — GRAFT EXPLAIN of
  * an index statement renders the node without building anything
  * (the NativeStatementCommand discipline).
  */
case class CreateIndexCommand(name: String, target: String,
    keyCols: Seq[String]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("index_name", StringType, nullable = false)(),
    AttributeReference("kind", StringType, nullable = false)(),
    AttributeReference("target", StringType, nullable = false)(),
    AttributeReference("key", StringType, nullable = false)(),
    AttributeReference("status", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    require(keyCols.nonEmpty, "GRAFT CREATE INDEX: no columns")
    require(IndexRegistry.get(spark, name).isEmpty,
      s"GRAFT CREATE INDEX: '$name' already exists")
    val keyList = keyCols.mkString(",")
    if (target.startsWith("'")) {
      val path = target.stripPrefix("'").stripSuffix("'")
      // one Bloom manifest per listed column: a point lookup on ANY
      // of them skips files (the reference's multi-column index,
      // re-expressed as the structure a lake layout supports)
      val mDirs = keyCols.map(c =>
        graft.sources.FileManifest.buildBloom(spark, path, c))
      IndexRegistry.put(spark,
        IndexRegistry.IndexDef(name, "bloom", path, keyList,
          mDirs.mkString(",")))
      Seq(Row(name, "bloom", path, keyList, "created"))
    } else {
      val Array(catalog, table) = target.split("\\.", 2)
      val url = spark.conf
        .getOption(s"spark.sql.catalog.$catalog.url")
        .getOrElse(throw new IllegalArgumentException(
          s"GRAFT CREATE INDEX: '$catalog' is not an attached catalog"))
      val conn = java.sql.DriverManager.getConnection(url)
      // ANSI double-quoted identifiers: the seeded tables keep their
      // exact-case names (the GRAFT NATIVE spec's convention), and
      // Derby/DuckDB/Postgres all accept the quoted form
      try {
        val st = conn.createStatement()
        try st.executeUpdate(
          s"""CREATE INDEX $name ON "$table"""" +
            keyCols.map(c => s""""$c"""").mkString("(", ",", ")"))
        finally st.close()
      } finally conn.close()
      IndexRegistry.put(spark,
        IndexRegistry.IndexDef(name, "remote", target, keyList, catalog))
      Seq(Row(name, "remote", target, keyList, "created"))
    }
  }
}

/** GRAFT DROP INDEX <name> — reverses whichever lowering created it:
  * the Bloom manifest dir is deleted for file indexes, vendor
  * `DROP INDEX` runs for remote ones. */
case class DropIndexCommand(name: String) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("index_name", StringType, nullable = false)(),
    AttributeReference("status", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] =
    IndexRegistry.get(spark, name) match {
      case None => Seq(Row(name, "absent"))
      case Some(d) =>
        if (d.kind == "bloom") {
          // detail carries one manifest dir per indexed column
          d.detail.split(",").foreach(CacheFs.delete(spark, _))
        } else {
          val url = spark.conf
            .getOption(s"spark.sql.catalog.${d.detail}.url")
            .getOrElse(throw new IllegalArgumentException(
              s"GRAFT DROP INDEX: '${d.detail}' is not attached"))
          val conn = java.sql.DriverManager.getConnection(url)
          // Derby drops by bare name; other vendors accept it too
          try {
            val st = conn.createStatement()
            try st.executeUpdate(s"DROP INDEX $name")
            finally st.close()
          } finally conn.close()
        }
        IndexRegistry.drop(spark, name)
        Seq(Row(name, "dropped"))
    }
}
