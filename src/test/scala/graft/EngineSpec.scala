package graft

import org.scalatest.funsuite.AnyFunSuite

/** The extensions path: a session built by Engine.session (as the
  * shared TestSession is) has the graft native functions available
  * directly in SQL — no per-query registration. */
class EngineSpec extends AnyFunSuite {
  import TestSession._

  private val names = GraftExtensions.functions.map(_._1.funcName)

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" / ")

  test("graft extensions expose native functions to SQL") {
    val one = spark.sql(
      "SELECT graft_cosine(array(1.0f, 0.0f), array(1.0f, 0.0f)) AS c")
      .collect()(0).getDouble(0)
    assert(math.abs(one - 1.0) < 1e-12)
    val fp = spark.sql(
      "SELECT graft_fingerprint('abc') AS fp").collect()(0).getLong(0)
    // ((0*31+97)*31+98)*31+99
    assert(fp == ((97L * 31 + 98) * 31 + 99))
    val ic = spark.sql(
      """SELECT graft_sorted_intersect_count(
        |  array('a','b','c'), array('b','c','d')) AS n""".stripMargin)
      .collect()(0).getInt(0)
    assert(ic == 2)
  }

  test("every function in the table resolves on a fresh session") {
    assert(names.size == 29 && names.distinct == names)
    // newSession() shares no temp functions with the session that
    // ran earlier queries, so only the extension can provide these
    val fresh = spark.newSession()
    val missing = names.filterNot(fresh.catalog.functionExists)
    assert(missing.isEmpty, s"unresolved on a fresh session: $missing")
    val jw = fresh.sql("SELECT graft_jaro_winkler('martha', 'marhta')")
      .head().getDouble(0)
    assert(math.abs(jw - 0.9611111111111111) < 1e-9)
  }

  test("a wrong argument count names the function and what it accepts") {
    val union = intercept[Exception] {
      spark.sql("SELECT graft_theta_union(X'00')").collect()
    }
    assert(messages(union).contains(
      "graft_theta_union takes 2 argument(s), got 1"), messages(union))
    val merge = intercept[Exception] {
      spark.sql("SELECT graft_theta_merge()").collect()
    }
    assert(messages(merge).contains(
      "graft_theta_merge takes 1 argument(s), got 0"), messages(merge))
    val topk = intercept[Exception] {
      spark.sql("SELECT graft_topk(1)").collect()
    }
    assert(messages(topk).contains(
      "graft_topk takes 2 or 3 argument(s), got 1"), messages(topk))
  }

  test("functions reach a session only through GraftExtensions") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: $root")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap { f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    def containing(s: String): Seq[String] =
      files(root).filter { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.mkString.contains(s) finally src.close()
      }.map(f => root.toPath.relativize(f.toPath).toString).sorted
    assert(containing("createOrReplaceTempFunction") ==
      Seq("graft/functions/ExternalFunctions.scala"))
    assert(containing("experimental.extraStrategies").isEmpty)
  }
}
