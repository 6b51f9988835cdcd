package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkException
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.parser.ParseException
import org.scalatest.funsuite.AnyFunSuite

import graft.service.{StatementError, StatementRunner}

/** The one statement runner behind every front end: its job group, its
  * cancel, its failure classes, and a guard that keeps the front ends
  * from growing their own execute path. */
class StatementRunnerSpec extends AnyFunSuite {
  import TestSession._

  /** Job starts with their group, and `settle` to wait for the ones so
    * far: the listener bus delivers in order, so once a fence job's
    * start is seen, every earlier one has been seen too. */
  private class Jobs {
    val groups = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty(
          "spark.jobGroup.id")))
    }
    spark.sparkContext.addSparkListener(listener)
    def settle(): Seq[String] = {
      spark.sparkContext.setJobGroup("srs_fence", null)
      try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains("srs_fence") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(groups.contains("srs_fence"))
      val seen = groups.asScala.toSeq.filter(_ != "srs_fence")
      groups.clear()
      seen
    }
    def close(): Unit = spark.sparkContext.removeSparkListener(listener)
  }

  test("failures split into user errors and engine faults") {
    val parse = intercept[ParseException](spark.sql("SELEC 1"))
    val analysis = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM nope")
    }
    val cases = Seq(
      parse -> StatementError.User,
      analysis -> StatementError.User,
      new IllegalArgumentException("bad argument") -> StatementError.User,
      new NullPointerException -> StatementError.Fault,
      SparkException.internalError("broken invariant") -> StatementError.Fault)
    for ((e, kind) <- cases) {
      val err = StatementRunner.error(e)
      assert(err.kind == kind, e)
      assert(err.getCause eq e)
    }
    assert(StatementRunner.error(new NullPointerException).getMessage ==
      "java.lang.NullPointerException")
    assert(StatementRunner.error(new RuntimeException("\na\n\nb\nc\nd"))
      .getMessage == "a / b / c")
    assert(StatementRunner.error(parse).getMessage
      .startsWith("[PARSE_SYNTAX_ERROR]"))
  }

  test("jobs run under the statement's group; cancel stops later pulls") {
    val sc = spark.sparkContext
    val jobs = new Jobs
    sc.setJobGroup("caller", "caller's own")
    try {
      val h = new StatementRunner.Handle(spark)
      val r = h.run("SELECT id FROM range(0, 40, 1, 4)", None)
      assert(sc.getLocalProperty("spark.jobGroup.id") == "caller")
      assert(r.rows.take(12).map(_.getLong(0)).toSeq == (0L until 12L))
      assert(sc.getLocalProperty("spark.jobGroup.id") == "caller")
      assert(sc.getLocalProperty("spark.job.description") == "caller's own")
      h.cancel()
      val e = intercept[StatementError](r.rows.hasNext)
      assert(e.kind == StatementError.Cancelled)
      assert(sc.getLocalProperty("spark.jobGroup.id") == "caller")
      // 12 rows of 10-row partitions: two partition jobs, none after
      assert(jobs.settle() == Seq(h.group, h.group))
    } finally {
      sc.clearJobGroup()
      jobs.close()
    }
  }

  test("a row cap runs the statement as one job") {
    val jobs = new Jobs
    try {
      val r = StatementRunner.run(spark,
        "SELECT id FROM range(0, 1000, 1, 4) WHERE id % 7 = 0", Some(3))
      assert(r.rows.map(_.getLong(0)).toSeq == Seq(0L, 7L, 14L))
      assert(r.elapsedMs > 0)
      assert(jobs.settle().size == 1)
    } finally jobs.close()
  }

  test("only StatementRunner executes a front end's statement") {
    val main = new java.io.File("src/main")
    assert(main.isDirectory, s"run from the project root: $main")
    val executes = """\.sql\(|\.collect\b|collectAsList|toLocalIterator""".r
    // the two exceptions: \explain prints an unexecuted plan, and
    // Graft.sql hands back a lazy Dataset
    val allowed = Map(
      "scala/graft/service/HttpService.scala" -> Nil,
      "scala/graft/jdbc/GraftDriver.scala" -> Nil,
      "scala/graft/tools/Shell.scala" -> Seq(
        """try out.println(spark.sql(cmd.stripPrefix("\\explain").trim)"""),
      "java/graft/javaapi/Graft.java" -> Seq("return spark.sql(statement);"))
    for ((file, expected) <- allowed) {
      val src = scala.io.Source.fromFile(new java.io.File(main, file), "UTF-8")
      val hits =
        try src.getLines().map(_.trim).filter(executes.findFirstIn(_).nonEmpty)
          .toList
        finally src.close()
      assert(hits == expected, s"$file executes statements itself: $hits")
    }
  }
}
