package graft.sources

import java.sql.DriverManager

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Durable catalog over embedded Derby (reference parity: sclera
  * persists every object definition — locations, tables, ML objects —
  * in an embedded metadata store, modules/core/src/main/scala/objects
  * + the H2-backed schema store; graft uses the Derby that already
  * ships on the Spark classpath). Location definitions survive the
  * session: GRAFT SAVE CATALOG writes the registry, GRAFT LOAD
  * CATALOG rebuilds it in a fresh process.
  *
  * Storage: one `graft_locations(name, spec)` table in a local Derby
  * database directory; `spec` is a pipe-delimited encoding with
  * URL-escaped fields (no JSON dependency).
  */
object DurableCatalog {

  private def connUrl: String = EmbeddedDerby.url("graft_catalog")

  private def withConn[A](f: java.sql.Connection => A): A = {
    val c = DriverManager.getConnection(connUrl)
    // SERIALIZABLE: save() lanes are DELETE-all + INSERT-set inside a
    // transaction; under Derby's default READ_COMMITTED two concurrent
    // savers could both see the empty post-DELETE state and interleave
    // their INSERTs (duplicate-PK abort of one writer at best, a merged
    // half-and-half catalog at worst). Serializable table locks make
    // the second saver wait and land a complete set.
    c.setTransactionIsolation(
      java.sql.Connection.TRANSACTION_SERIALIZABLE)
    try f(c) finally c.close()
  }

  private def ensureTable(c: java.sql.Connection): Unit = {
    val meta = c.getMetaData.getTables(null, null, "GRAFT_LOCATIONS", null)
    val exists = meta.next()
    meta.close()
    if (!exists) {
      val st = c.createStatement()
      st.executeUpdate(
        "CREATE TABLE graft_locations (" +
          "name VARCHAR(128) PRIMARY KEY, spec VARCHAR(4096))")
      st.close()
    }
  }

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  /** Pipe-delimited, URL-escaped spec encoding. */
  def encode(loc: ExternalLocation): String = loc match {
    case ParquetLocation(p) => s"parquet|${enc(p)}"
    case CsvLocation(p, h, s) =>
      s"csv|${enc(p)}|$h|${enc(s.map(_.toDDL).getOrElse(""))}"
    case JsonLocation(p, s) =>
      s"json|${enc(p)}|${enc(s.map(_.toDDL).getOrElse(""))}"
    case TextLocation(p) => s"text|${enc(p)}"
    case JdbcLocation(url, table, opts) =>
      val o = opts.toSeq.sorted
        .map { case (k, v) => s"${enc(k)}=${enc(v)}" }.mkString(",")
      s"jdbc|${enc(url)}|${enc(table)}|$o"
    case other =>
      // SPI-provided location kinds (spi/GraftProviders.scala) are
      // registrable and queryable but carry no durable spec encoding;
      // persisting one needs the provider to ship its own catalog.
      throw new IllegalArgumentException(
        s"location kind ${other.getClass.getName} is not durable " +
          "(provider-defined kinds have no spec encoding)")
  }

  def decode(spec: String): ExternalLocation = {
    val parts = spec.split("\\|", -1)
    def ddl(s: String): Option[StructType] =
      if (s.isEmpty) None else Some(StructType.fromDDL(dec(s)))
    parts(0) match {
      case "parquet" => ParquetLocation(dec(parts(1)))
      case "csv" =>
        CsvLocation(dec(parts(1)), parts(2).toBoolean, ddl(parts(3)))
      case "json" => JsonLocation(dec(parts(1)), ddl(parts(2)))
      case "text" => TextLocation(dec(parts(1)))
      case "jdbc" =>
        val opts =
          if (parts.length < 4 || parts(3).isEmpty) Map.empty[String, String]
          else parts(3).split(",").map { kv =>
            val Array(k, v) = kv.split("=", 2)
            dec(k) -> dec(v)
          }.toMap
        JdbcLocation(dec(parts(1)), dec(parts(2)), opts)
      case other =>
        throw new IllegalArgumentException(s"unknown location kind $other")
    }
  }

  /** Persist the current ExternalLocations registry; returns the
    * number of saved entries. Replaces the stored set atomically
    * (single transaction). */
  def save(): Int = withConn { c =>
    ensureTable(c)
    c.setAutoCommit(false)
    val del = c.createStatement()
    del.executeUpdate("DELETE FROM graft_locations")
    del.close()
    val ins = c.prepareStatement(
      "INSERT INTO graft_locations (name, spec) VALUES (?, ?)")
    // provider-defined kinds carry no durable spec encoding — skip
    // them instead of failing the whole save (their providers own
    // their persistence; see encode's scaladoc)
    val entries = ExternalLocations.names.flatMap { n =>
      try Some(n -> encode(ExternalLocations.get(n).get))
      catch { case _: IllegalArgumentException => None }
    }
    entries.foreach { case (n, spec) =>
      ins.setString(1, n)
      ins.setString(2, spec)
      ins.addBatch()
    }
    ins.executeBatch()
    ins.close()
    c.commit()
    entries.size
  }

  /** Load every stored definition into the registry (overwriting
    * same-named entries); returns the number loaded. */
  def load(): Int = withConn { c =>
    ensureTable(c)
    val st = c.createStatement()
    val rs = st.executeQuery("SELECT name, spec FROM graft_locations")
    var n = 0
    while (rs.next()) {
      ExternalLocations.register(rs.getString(1), decode(rs.getString(2)))
      n += 1
    }
    rs.close(); st.close()
    n
  }

  private def ensureViewTable(c: java.sql.Connection): Unit = {
    val meta = c.getMetaData.getTables(null, null, "GRAFT_VIEWS", null)
    val exists = meta.next()
    meta.close()
    if (!exists) {
      val st = c.createStatement()
      st.executeUpdate(
        "CREATE TABLE graft_views (" +
          "name VARCHAR(128) PRIMARY KEY, def VARCHAR(8192))")
      st.close()
    }
  }

  /** Persist the NON-TEMP view definitions (sclera parity: TEMP
    * objects are session-lifetime by definition and never durable).
    * Replaces the stored set atomically. */
  def saveViews(views: Seq[SessionViews.ViewDef]): Int = withConn { c =>
    ensureViewTable(c)
    c.setAutoCommit(false)
    val del = c.createStatement()
    del.executeUpdate("DELETE FROM graft_views")
    del.close()
    val ins = c.prepareStatement(
      "INSERT INTO graft_views (name, def) VALUES (?, ?)")
    val durable = views.filterNot(_.temp)
    durable.foreach { v =>
      ins.setString(1, v.name)
      ins.setString(2, v.definition)
      ins.addBatch()
    }
    ins.executeBatch()
    ins.close()
    c.commit()
    durable.size
  }

  /** The stored view definitions; the caller (the SQL front door)
    * re-parses each definition and re-registers the temp view — the
    * parser cannot be invoked from here without inverting the
    * package dependency. */
  def loadViews(): Seq[SessionViews.ViewDef] = withConn { c =>
    ensureViewTable(c)
    val st = c.createStatement()
    val rs = st.executeQuery("SELECT name, def FROM graft_views")
    val out = Seq.newBuilder[SessionViews.ViewDef]
    while (rs.next()) {
      out += SessionViews.ViewDef(
        rs.getString(1), rs.getString(2), temp = false)
    }
    rs.close(); st.close()
    out.result().sortBy(_.name)
  }

  /** Explicit metadata-schema lifecycle (reference SqlStatement.scala
    * :46,183-185 CREATE/DROP SCHEMA — sclera's metadata store is
    * created explicitly; graft normally auto-initializes on first
    * save, but the explicit statements complete the admin surface).
    * Returns the number of catalog tables present after init. */
  def initSchema(): Int = withConn { c =>
    ensureTable(c); ensureViewTable(c); ensureModelTable(c)
    ensureIndexTable(c); ensureTableDefTable(c)
    5
  }

  /** Drop every catalog table (the reverse lifecycle statement);
    * returns how many existed. */
  def dropSchema(): Int = withConn { c =>
    val names = Seq("GRAFT_LOCATIONS", "GRAFT_VIEWS", "GRAFT_MODELS",
      "GRAFT_INDEXES", "GRAFT_TABLEDEFS")
    var n = 0
    names.foreach { t =>
      val meta = c.getMetaData.getTables(null, null, t, null)
      val exists = meta.next(); meta.close()
      if (exists) {
        val st = c.createStatement()
        st.executeUpdate(s"DROP TABLE $t")
        st.close()
        n += 1
      }
    }
    n
  }

  private def ensureIndexTable(c: java.sql.Connection): Unit = {
    val meta = c.getMetaData.getTables(null, null, "GRAFT_INDEXES", null)
    val exists = meta.next()
    meta.close()
    if (!exists) {
      val st = c.createStatement()
      st.executeUpdate(
        "CREATE TABLE graft_indexes (" +
          "name VARCHAR(128) PRIMARY KEY, kind VARCHAR(32), " +
          "target VARCHAR(1024), keycol VARCHAR(512), " +
          "detail VARCHAR(2048))")
      st.close()
    }
  }

  /** Persist index metadata (the artifacts they describe are already
    * durable — on-disk Bloom manifests, vendor indexes in the
    * attached DB — so the registry rows must survive the session
    * too, or a restart orphans them: LIST INDEXES goes empty, DROP
    * reports 'absent' and leaks the manifest, re-CREATE hits the
    * vendor's 'already exists'). Replaces the stored set. */
  def saveIndexes(defs: Seq[IndexRegistry.IndexDef]): Int = withConn { c =>
    ensureIndexTable(c)
    c.setAutoCommit(false)
    val del = c.createStatement()
    del.executeUpdate("DELETE FROM graft_indexes")
    del.close()
    val ins = c.prepareStatement(
      "INSERT INTO graft_indexes (name, kind, target, keycol, detail) " +
        "VALUES (?, ?, ?, ?, ?)")
    defs.foreach { d =>
      ins.setString(1, d.name); ins.setString(2, d.kind)
      ins.setString(3, d.target); ins.setString(4, d.keyCol)
      ins.setString(5, d.detail)
      ins.addBatch()
    }
    ins.executeBatch()
    ins.close()
    c.commit()
    defs.size
  }

  /** The stored index definitions (LOAD CATALOG re-registers them). */
  def loadIndexes(): Seq[IndexRegistry.IndexDef] = withConn { c =>
    ensureIndexTable(c)
    val st = c.createStatement()
    val rs = st.executeQuery(
      "SELECT name, kind, target, keycol, detail FROM graft_indexes")
    val out = Seq.newBuilder[IndexRegistry.IndexDef]
    while (rs.next()) {
      out += IndexRegistry.IndexDef(rs.getString(1), rs.getString(2),
        rs.getString(3), rs.getString(4), rs.getString(5))
    }
    rs.close(); st.close()
    out.result().sortBy(_.name)
  }

  private def ensureTableDefTable(c: java.sql.Connection): Unit = {
    val meta = c.getMetaData.getTables(null, null, "GRAFT_TABLEDEFS", null)
    val exists = meta.next()
    meta.close()
    if (!exists) {
      val st = c.createStatement()
      st.executeUpdate(
        "CREATE TABLE graft_tabledefs (" +
          "name VARCHAR(128) PRIMARY KEY, defs VARCHAR(8192))")
      st.close()
    }
  }

  /** Persist declared-schema table metadata (CREATE TABLE with column
    * defs — reference SqlCudParser tableExplicitDef; the PRIMARY KEY /
    * REFERENCES roles live only here, so without this row the declared
    * types and keys vanish across SAVE/LOAD while the table's parquet
    * content survives as an ExternalLocation). Replaces the stored
    * set. Encoding: `name:type:key` per column, URL-escaped fields,
    * `;`-joined. */
  def saveTableDefs(defs: Seq[TableMeta.TableDef]): Int = withConn { c =>
    ensureTableDefTable(c)
    c.setAutoCommit(false)
    val del = c.createStatement()
    del.executeUpdate("DELETE FROM graft_tabledefs")
    del.close()
    val ins = c.prepareStatement(
      "INSERT INTO graft_tabledefs (name, defs) VALUES (?, ?)")
    defs.foreach { d =>
      ins.setString(1, d.name)
      ins.setString(2, d.columns.map(col =>
        s"${enc(col.name)}:${enc(col.typeDdl)}:${enc(col.key)}")
        .mkString(";"))
      ins.addBatch()
    }
    ins.executeBatch()
    ins.close()
    c.commit()
    defs.size
  }

  /** The stored declared-schema table definitions (LOAD CATALOG
    * re-registers the metadata and, where the table's content parquet
    * survives as a location, the table itself). */
  def loadTableDefs(): Seq[TableMeta.TableDef] = withConn { c =>
    ensureTableDefTable(c)
    val st = c.createStatement()
    val rs = st.executeQuery("SELECT name, defs FROM graft_tabledefs")
    val out = Seq.newBuilder[TableMeta.TableDef]
    while (rs.next()) {
      val cols = rs.getString(2).split(";", -1).toSeq
        .filter(_.nonEmpty).map { item =>
          val Array(n, t, k) = item.split(":", 3)
          TableMeta.ColumnDef(dec(n), dec(t), dec(k))
        }
      out += TableMeta.TableDef(rs.getString(1), cols)
    }
    rs.close(); st.close()
    out.result().sortBy(_.name)
  }

  private def ensureModelTable(c: java.sql.Connection): Unit = {
    val meta = c.getMetaData.getTables(null, null, "GRAFT_MODELS", null)
    val exists = meta.next()
    meta.close()
    if (exists) {
      // migrate a pre-path store: the versioned layout needs the
      // path column; stored names without one are re-savable
      val cols = c.getMetaData.getColumns(null, null, "GRAFT_MODELS", "PATH")
      val hasPath = cols.next()
      cols.close()
      if (!hasPath) {
        val st = c.createStatement()
        st.executeUpdate("DROP TABLE graft_models")
        st.close()
      } else return
    }
    val st = c.createStatement()
    st.executeUpdate(
      "CREATE TABLE graft_models (" +
        "name VARCHAR(128) PRIMARY KEY, path VARCHAR(1024))")
    st.close()
  }

  /** Parquet home for persisted model frames: `graft_catalog_models`
    * under the driver's `java.io.tmpdir`, beside the Derby catalog
    * db, qualified on the local filesystem through [[CacheFs.fs]]. */
  private def modelsDir(spark: SparkSession): Path =
    CacheFs.fs(spark, new Path("file:///")).makeQualified(
      new Path(System.getProperty("java.io.tmpdir"), "graft_catalog_models"))

  /** Persist every named ML model (sclera parity: CREATE CLASSIFIER /
    * CLUSTERER / RECOMMENDER objects live in the metadata store) —
    * the trained model RELATION writes to a FRESH versioned parquet
    * dir beside the catalog db (never overwriting the previous
    * version: a model frame loaded from the old dir may still be
    * serving in-process, and an in-place overwrite would delete the
    * files under its lineage), the (name, path) pair into
    * graft_models. Replaces the stored set. */
  def saveModels(spark: SparkSession): Int =
    withConn { c =>
      ensureModelTable(c)
      // prior committed (name -> path): kept through GC so a frame
      // loaded from the previous save keeps its files while in flight
      val prior = {
        val st = c.createStatement()
        val rs = st.executeQuery("SELECT name, path FROM graft_models")
        val b = Map.newBuilder[String, String]
        while (rs.next()) b += rs.getString(1) -> rs.getString(2)
        rs.close(); st.close()
        b.result()
      }
      val home = modelsDir(spark)
      val names = spark.catalog.listTables().collect()
        .map(_.name).filter(_.startsWith("graft_model_"))
        .map(_.stripPrefix("graft_model_")).sorted.toSeq
      val entries = names.map { n =>
        val path = new Path(home,
          s"$n/v-${java.util.UUID.randomUUID.toString.take(8)}").toString
        spark.table(s"graft_model_$n").write.parquet(path)
        n -> path
      }
      c.setAutoCommit(false)
      val del = c.createStatement()
      del.executeUpdate("DELETE FROM graft_models")
      del.close()
      val ins = c.prepareStatement(
        "INSERT INTO graft_models (name, path) VALUES (?, ?)")
      entries.foreach { case (n, p) =>
        ins.setString(1, n); ins.setString(2, p); ins.addBatch()
      }
      ins.executeBatch()
      ins.close()
      c.commit()
      // GC: every save writes fresh UUID version dirs, so without
      // collection repeated saves grow the models home unboundedly.
      // Keep the newly committed path and the previously committed
      // path per name, PLUS anything younger than the grace window —
      // a concurrent session that ran GRAFT LOAD CATALOG earlier may
      // still be serving a frame from an older version dir, and the
      // one-save keep set is only safe single-process. Age-based
      // grace bounds that exposure: only dirs older than the window
      // (and out of the keep set) are deleted.
      // (paths saved by older builds are bare local paths: qualify
      // them so they match the listing)
      val fs = CacheFs.fs(spark, home)
      val keep = (entries.map(_._2) ++ prior.values)
        .map(p => fs.makeQualified(new Path(p))).toSet
      val graceMs = sys.props.get("graft.catalog.modelGc.graceMs")
        .map(_.toLong).getOrElse(30L * 60L * 1000L)
      val cutoff = System.currentTimeMillis() - graceMs
      if (fs.exists(home))
        fs.listStatus(home).filter(_.isDirectory).foreach { nameDir =>
          fs.listStatus(nameDir.getPath)
            .filter(d => d.isDirectory && d.getPath.getName.startsWith("v-"))
            .filterNot(d => keep.contains(d.getPath))
            .filter(_.getModificationTime < cutoff)
            .foreach(d => fs.delete(d.getPath, true))
        }
      entries.size
    }

  /** Re-register every stored model: the frame reads back from its
    * versioned parquet, persists eagerly (scoring must not re-read
    * per use, the CREATE-statement contract), and re-enters the
    * session registry + ModelCache. */
  def loadModels(spark: SparkSession): Int =
    withConn { c =>
      ensureModelTable(c)
      val st = c.createStatement()
      val rs = st.executeQuery("SELECT name, path FROM graft_models")
      var n = 0
      while (rs.next()) {
        val name = rs.getString(1)
        val df = spark.read.parquet(rs.getString(2)).persist()
        df.count()
        df.createOrReplaceTempView(s"graft_model_$name")
        graft.operators.ModelCache.put(spark, name, df)
        n += 1
      }
      rs.close(); st.close()
      n
    }
}
