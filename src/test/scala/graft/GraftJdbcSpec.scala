package graft

import java.sql.{DriverManager, SQLException}
import java.util.concurrent.{CompletableFuture, ConcurrentLinkedQueue,
  TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException

import org.scalatest.funsuite.AnyFunSuite

/** The engine's OWN JDBC driver surface: a plain java.sql client
  * (DriverManager -> Connection -> Statement -> ResultSet) running
  * Spark SQL and GRAFT statements against the session. */
class GraftJdbcSpec extends AnyFunSuite {
  import TestSession._

  test("DriverManager round trip over jdbc:graft:") {
    val _ = spark // session up before the driver looks for one
    graft.jdbc.GraftJdbc.ensureRegistered()
    val conn = DriverManager.getConnection(s"jdbc:graft:$sfDir")
    try {
      assert(conn.isValid(1) && conn.getCatalog == "graft")
      val st = conn.createStatement()
      val rs = st.executeQuery(
        "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")
      val md = rs.getMetaData
      assert(md.getColumnCount == 2)
      assert(md.getColumnName(2) == "r_name")
      assert(md.getColumnType(2) == java.sql.Types.VARCHAR)
      val names = Iterator.continually(rs)
        .takeWhile(_.next()).map(_.getString("r_name")).toList
      assert(names.head == "AFRICA" && names.length == 5)
      rs.close(); st.close()
    } finally conn.close()
    assert(conn.isClosed)
  }

  test("GRAFT dialect statements flow through the JDBC surface") {
    graft.jdbc.GraftJdbc.ensureRegistered()
    val conn = DriverManager.getConnection(s"jdbc:graft:$sfDir")
    try {
      val rs = conn.createStatement().executeQuery(
        "GRAFT SKEW lineitem KEY l_orderkey")
      assert(rs.next())
      assert(rs.getLong("n_keys") > 0)
      assert(rs.getDouble("skew_factor") >= 1.0)
      assert(!rs.next())
    } finally conn.close()
  }

  test("unsupported java.sql surface fails loudly, nulls tracked") {
    graft.jdbc.GraftJdbc.ensureRegistered()
    val conn = DriverManager.getConnection(s"jdbc:graft:$sfDir")
    try {
      intercept[java.sql.SQLFeatureNotSupportedException] {
        conn.prepareCall("ANY")
      }
      val rs = conn.createStatement().executeQuery(
        "SELECT CAST(NULL AS STRING) AS s, 1 AS one")
      assert(rs.next())
      assert(rs.getString("s") == null && rs.wasNull())
      assert(rs.getInt("one") == 1 && !rs.wasNull())
    } finally conn.close()
  }

  test("a bad statement fails with SQLException, SQLState 42000") {
    graft.jdbc.GraftJdbc.ensureRegistered()
    val conn = DriverManager.getConnection(s"jdbc:graft:$sfDir")
    try {
      val e = intercept[SQLException] {
        conn.createStatement().executeQuery("SELECT * FROM nope")
      }
      assert(e.getSQLState == "42000")
      assert(e.getCause.isInstanceOf[AnalysisException], e.getCause)
    } finally conn.close()
  }

  test("Statement.cancel() stops a running statement with SQLState HY008") {
    graft.jdbc.GraftJdbc.ensureRegistered()
    val sc = spark.sparkContext
    val started = new ConcurrentLinkedQueue[Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(e.jobId)
    }
    sc.addSparkListener(listener)
    val conn = DriverManager.getConnection(s"jdbc:graft:$sfDir")
    val st = conn.createStatement()
    val outcome = new CompletableFuture[Throwable]
    val worker = new Thread(() => outcome.complete(
      try {
        st.executeQuery("SELECT max(id) FROM range(0, 1000000000000)")
        null
      } catch { case e: Throwable => e }))
    worker.start()
    try {
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
      while (started.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(!started.isEmpty, "the statement started no job")
      st.cancel()
      outcome.get(30, TimeUnit.SECONDS) match {
        case e: SQLException => assert(e.getSQLState == "HY008", e)
        case other => fail(s"expected SQLException HY008, got $other")
      }
    } finally {
      // a failing run must not leave its jobs running
      started.asScala.foreach(sc.cancelJob(_))
      worker.join(30000)
      sc.removeSparkListener(listener)
      conn.close()
    }
  }
}
