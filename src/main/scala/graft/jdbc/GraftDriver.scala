package graft.jdbc

import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.sql.{Connection, Driver, DriverManager, ResultSet,
  ResultSetMetaData, SQLException, SQLFeatureNotSupportedException,
  Statement, Types}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

import graft.service.{StatementError, StatementRunner}

/** JDBC driver over the engine (reference: modules/interfaces/jdbc —
  * sclera exposes itself to JDBC clients; a user points
  * DriverManager at `jdbc:scleradb:...` and runs statements). The
  * graft twin: `jdbc:graft:<table-dir>` boots (or reuses) the
  * extension-wired SparkSession, registers the directory's tables,
  * and serves the full Spark SQL + GRAFT dialect through standard
  * java.sql Connection/Statement/ResultSet, each statement through
  * [[graft.service.StatementRunner]]; `Statement.cancel()` cancels it.
  *
  * Engineering shape: this is a CLIENT facade, not a wire protocol.
  * The java.sql interfaces are huge and mostly irrelevant here, so
  * the supported surface is implemented over dynamic proxies: every
  * method the facade doesn't support throws
  * SQLFeatureNotSupportedException by name instead of silently lying.
  */
object GraftJdbc {

  lazy private val registered: Unit =
    DriverManager.registerDriver(new GraftDriver)

  /** Idempotent DriverManager registration. */
  def ensureRegistered(): Unit = registered

  @volatile private var shared: SparkSession = _

  private def session(): SparkSession = synchronized {
    if (shared == null || shared.sparkContext.isStopped)
      shared = SparkSession.getActiveSession
        .orElse(SparkSession.getDefaultSession)
        .getOrElse(graft.Engine.session())
    shared
  }

  private def proxy[T](iface: Class[T])(
      handler: PartialFunction[(String, Array[AnyRef]), AnyRef]): T = {
    val h = new InvocationHandler {
      override def invoke(p: AnyRef, m: Method,
          args: Array[AnyRef]): AnyRef = {
        val a = if (args == null) Array.empty[AnyRef] else args
        if (m.getDeclaringClass == classOf[Object]) m.getName match {
          case "toString" => s"graft-jdbc-${iface.getSimpleName}"
          case "hashCode" => Integer.valueOf(System.identityHashCode(p))
          case "equals" => java.lang.Boolean.valueOf(p eq a(0))
          case _ => null
        }
        else try handler.applyOrElse((m.getName, a),
          (_: (String, Array[AnyRef])) =>
            throw new SQLFeatureNotSupportedException(
              s"${iface.getSimpleName}.${m.getName} not supported " +
                "by the graft JDBC facade"))
        catch { case e: StatementError => throw sqlError(e) }
      }
    }
    iface.cast(Proxy.newProxyInstance(
      iface.getClassLoader, Array(iface), h))
  }

  /** SQLState 42000 for a bad statement, HY008 for a cancelled one,
    * XX000 for an engine fault; the Spark exception stays the cause. */
  private def sqlError(e: StatementError): SQLException =
    new SQLException(e.getMessage, e.kind match {
      case StatementError.User => "42000"
      case StatementError.Cancelled => "HY008"
      case StatementError.Fault => "XX000"
    }, e.getCause)

  private def sqlType(dt: DataType): Int = dt match {
    case IntegerType => Types.INTEGER
    case LongType => Types.BIGINT
    case DoubleType => Types.DOUBLE
    case FloatType => Types.FLOAT
    case StringType => Types.VARCHAR
    case BooleanType => Types.BOOLEAN
    case DateType => Types.DATE
    case TimestampType => Types.TIMESTAMP
    case BinaryType => Types.BINARY
    case _: DecimalType => Types.DECIMAL
    case ShortType => Types.SMALLINT
    case ByteType => Types.TINYINT
    case _ => Types.OTHER
  }

  /** INCREMENTAL result set: rows stream from `it` (the runner's
    * uncapped iterator), so the driver JVM holds at most one
    * Spark partition of the result at a time and upstream jobs run
    * lazily as the client iterates — a client that reads k rows of a
    * huge result computes only the partitions those k rows touch,
    * never the whole result (reference modules/interfaces/jdbc;
    * JdbcIncrementalFetchSpec proves it on a 10^8-row query). */
  private def resultSet(schema: StructType,
      it: Iterator[org.apache.spark.sql.Row]): ResultSet = {
    var current: org.apache.spark.sql.Row = null
    var nullSeen = false
    var closed = false
    /** The current row's value at a 1-based index or a column label. */
    def value(at: AnyRef): AnyRef = {
      if (current == null || closed)
        throw new SQLException("cursor out of range")
      val v = current.get(at match {
        case i: Integer => i - 1
        case s: String => schema.fieldIndex(s)
      })
      nullSeen = v == null
      v.asInstanceOf[AnyRef]
    }
    def num(at: AnyRef): Option[Number] = Option(value(at)).map {
      case n: Number => n
      case other => throw new SQLException(s"not numeric: $other")
    }
    def field(a: Array[AnyRef]) = schema(a(0).asInstanceOf[Integer] - 1)
    lazy val meta: ResultSetMetaData =
      proxy(classOf[ResultSetMetaData]) {
        case ("getColumnCount", _) => Integer.valueOf(schema.length)
        case ("getColumnName" | "getColumnLabel", a) => field(a).name
        case ("getColumnTypeName", a) => field(a).dataType.simpleString
        case ("getColumnType", a) =>
          Integer.valueOf(sqlType(field(a).dataType))
        case ("isNullable", _) =>
          Integer.valueOf(ResultSetMetaData.columnNullable)
      }
    proxy(classOf[ResultSet]) {
      case ("next", _) =>
        val has = !closed && it.hasNext
        current = if (has) it.next() else null
        java.lang.Boolean.valueOf(has)
      case ("close", _) => closed = true; null
      case ("isClosed", _) => java.lang.Boolean.valueOf(closed)
      case ("wasNull", _) => java.lang.Boolean.valueOf(nullSeen)
      case ("getMetaData", _) => meta
      case ("findColumn", a) =>
        Integer.valueOf(schema.fieldIndex(a(0).asInstanceOf[String]) + 1)
      case ("getObject" | "getTimestamp", a) => value(a(0))
      case ("getString", a) => Option(value(a(0))).map(_.toString).orNull
      case ("getInt", a) => Int.box(num(a(0)).fold(0)(_.intValue))
      case ("getLong", a) => Long.box(num(a(0)).fold(0L)(_.longValue))
      case ("getDouble", a) => Double.box(num(a(0)).fold(0.0)(_.doubleValue))
      case ("getBoolean", a) => Option(value(a(0)))
        .fold(java.lang.Boolean.FALSE)(_.asInstanceOf[java.lang.Boolean])
    }
  }

  private[jdbc] def statement(spark: SparkSession,
      conn: Connection): Statement = {
    var closed = false
    var last: ResultSet = null
    var maxRows = 0
    var fetchSize = 0
    @volatile var running: StatementRunner.Handle = null
    def run(sql: AnyRef): StatementRunner.Result = {
      running = new StatementRunner.Handle(spark)
      // setMaxRows is a PLAN-LEVEL cap, not a client-side drop: the
      // limit lands in the Spark plan, so upstream work shrinks too.
      running.run(sql.asInstanceOf[String], Some(maxRows).filter(_ > 0))
    }
    def query(sql: AnyRef): ResultSet = {
      val r = run(sql); last = resultSet(r.schema, r.rows); last
    }
    proxy(classOf[Statement]) {
      case ("executeQuery", a) => query(a(0))
      case ("execute", a) => query(a(0)); java.lang.Boolean.TRUE
      case ("executeUpdate", a) =>
        run(a(0)).rows.foreach(_ => ()); Integer.valueOf(0)
      case ("getResultSet", _) => last
      case ("getUpdateCount", _) => Integer.valueOf(-1)
      case ("getMoreResults", _) => java.lang.Boolean.FALSE
      case ("close", _) => closed = true; null
      case ("isClosed", _) => java.lang.Boolean.valueOf(closed)
      case ("getConnection", _) => conn
      case ("setMaxRows", a) =>
        maxRows = a(0).asInstanceOf[Integer].intValue; null
      case ("getMaxRows", _) => Integer.valueOf(maxRows)
      case ("setFetchSize", a) =>
        fetchSize = a(0).asInstanceOf[Integer].intValue; null
      case ("getFetchSize", _) => Integer.valueOf(fetchSize)
      case ("cancel", _) => Option(running).foreach(_.cancel()); null
      case ("getWarnings", _) => null
      case ("clearWarnings", _) => null
    }
  }

  private[jdbc] def connection(dir: Option[String]): Connection = {
    val spark = session()
    dir.filter(_.nonEmpty)
      .foreach(d => graft.Tables(spark, d).registerAll())
    var closed = false
    lazy val conn: Connection = proxy(classOf[Connection]) {
      case ("createStatement", _) => statement(spark, conn)
      case ("close", _) => closed = true; null // session outlives conns
      case ("isClosed", _) => java.lang.Boolean.valueOf(closed)
      case ("isValid", _) =>
        java.lang.Boolean.valueOf(!spark.sparkContext.isStopped)
      case ("setAutoCommit", _) => null
      case ("getAutoCommit", _) => java.lang.Boolean.TRUE
      case ("commit", _) => null
      case ("rollback", _) => null
      case ("getCatalog", _) => "graft"
      case ("setCatalog", _) => null
      case ("getWarnings", _) => null
      case ("clearWarnings", _) => null
      case ("isReadOnly", _) => java.lang.Boolean.FALSE
      case ("setReadOnly", _) => null
    }
    conn
  }
}

/** `jdbc:graft:[<table-dir>]` — see [[GraftJdbc]]. */
class GraftDriver extends Driver {
  override def acceptsURL(url: String): Boolean =
    url != null && url.startsWith("jdbc:graft:")

  override def connect(url: String,
      info: java.util.Properties): Connection =
    if (!acceptsURL(url)) null // per JDBC spec: null, not an exception
    else GraftJdbc.connection(Some(url.stripPrefix("jdbc:graft:")))

  override def getMajorVersion: Int = 0
  override def getMinorVersion: Int = 1
  override def jdbcCompliant(): Boolean = false
  override def getPropertyInfo(url: String, info: java.util.Properties)
      : Array[java.sql.DriverPropertyInfo] = Array.empty
  override def getParentLogger: java.util.logging.Logger =
    throw new SQLFeatureNotSupportedException("getParentLogger")
}
