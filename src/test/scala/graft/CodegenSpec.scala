package graft

import org.scalatest.funsuite.AnyFunSuite

/** Whole-stage-codegen regression guard for the native expressions.
  *
  * Round 4 shipped `SortedIntersectCount.doGenCode` with literal local
  * names; two instances in one generated function made Janino reject
  * the redefinition and the whole stage silently fell back to
  * interpreted execution. With `spark.sql.codegen.fallback=false` the
  * fallback becomes a hard failure, so this spec breaks loudly if any
  * native expression's generated code stops compiling — including the
  * two-instances-in-one-function shape that triggered the bug.
  */
class CodegenSpec extends AnyFunSuite {
  import TestSession._

  private def withStrictCodegen(sql: String): Array[org.apache.spark.sql.Row] = {
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try spark.sql(sql).collect()
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None => spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  test("two sorted-intersect-counts compile in one generated function") {
    val rows = withStrictCodegen(
      """SELECT
        |  graft_sorted_intersect_count(array(1L,2L,3L), array(2L,3L,4L)) AS a,
        |  graft_sorted_intersect_count(array('x','y'), array('y','z')) AS b
        |""".stripMargin)
    assert(rows.head.getInt(0) == 2 && rows.head.getInt(1) == 1)
  }

  test("two cosine + two dist_sq instances compile together") {
    val rows = withStrictCodegen(
      """SELECT
        |  graft_cosine(array(cast(1.0 as float), cast(0.0 as float)),
        |               array(cast(1.0 as float), cast(0.0 as float))) AS c1,
        |  graft_cosine(array(cast(0.0 as float), cast(2.0 as float)),
        |               array(cast(0.0 as float), cast(1.0 as float))) AS c2,
        |  graft_dist_sq(array(cast(1.0 as float), cast(1.0 as float)),
        |                array(cast(0.0 as float), cast(0.0 as float))) AS d1,
        |  graft_dist_sq(array(cast(3.0 as float)),
        |                array(cast(1.0 as float))) AS d2
        |""".stripMargin)
    val r = rows.head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-9)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-9)
    assert(math.abs(r.getDouble(2) - 2.0) < 1e-9)
    assert(math.abs(r.getDouble(3) - 4.0) < 1e-9)
  }

  test("fingerprint / minhash / shingles / simhash compile under strict codegen") {
    val rows = withStrictCodegen(
      """SELECT
        |  graft_fingerprint('hello world') AS fp,
        |  graft_fingerprint('hello world!') AS fp2,
        |  size(graft_minhash(array(7L, 11L, 13L), 8)) AS mh,
        |  size(graft_shingle_hashes('a b c d', 2)) AS sh,
        |  graft_simhash64(array('a','b')) AS s1,
        |  graft_simhash64(array('a','b')) AS s2
        |""".stripMargin)
    val r = rows.head
    assert(r.getLong(0) != r.getLong(1))
    assert(r.getInt(2) == 8 && r.getInt(3) == 3)
    assert(r.getLong(4) == r.getLong(5))
  }
}
