package graft

import org.scalatest.funsuite.AnyFunSuite

/** The GRAFT dialect must be whitespace/case-robust (the reference's
  * parser is a real tokenizer; our regex productions need explicit
  * (?is) discipline) and must NEVER swallow ordinary Spark SQL — the
  * delegate contract is what makes the dialect composable. */
class ParserRobustnessSpec extends AnyFunSuite {
  import TestSession._

  private def rows(sql: String): Long = spark.sql(sql).count()

  test("statements parse case-insensitively with ragged whitespace") {
    Tables(spark, sfDir).registerAll()
    assert(rows("graft   profile    nation") > 0)
    assert(rows("GrAfT SkEw lineitem KeY l_suppkey") == 1)
    assert(rows("graft\n  distinct on (n_regionkey)\n  from nation " +
      "order by n_regionkey, n_name") == 5)
    assert(rows("  GRAFT  SEARCH documents ID doc_id TEXT text " +
      "FOR 'hash merge' TOP 5  ") == 5)
    assert(rows("graft list functions") >= 0)
    assert(rows("GRAFT TYPEINFER nation") > 0)
  }

  test("ordinary Spark SQL passes through the delegate untouched") {
    Tables(spark, sfDir).registerAll()
    assert(rows("SELECT 1 AS x") == 1)
    assert(rows("SELECT n_name FROM nation WHERE n_regionkey = 0") > 0)
    // keywords that PREFIX graft productions but are not them
    assert(rows("SELECT 'GRAFT MATCH' AS s") == 1)
    assert(rows("WITH g AS (SELECT 1 AS x) SELECT * FROM g") == 1)
  }

  test("dialect rewrites never touch string literals") {
    Tables(spark, sfDir).registerAll()
    // pagination keywords INSIDE a literal are data, not dialect
    val lit1 = spark.sql(
      "SELECT 'use FETCH FIRST 5 ROWS ONLY here' AS s").head.getString(0)
    assert(lit1 == "use FETCH FIRST 5 ROWS ONLY here")
    val lit2 = spark.sql(
      "SELECT 'OFFSET 3 ROWS is a phrase' AS s").head.getString(0)
    assert(lit2 == "OFFSET 3 ROWS is a phrase")
    // SEQUENCE / EXTERNAL references inside literals stay verbatim
    val lit3 = spark.sql(
      "SELECT 'read FROM SEQUENCE(9) maybe' AS s").head.getString(0)
    assert(lit3 == "read FROM SEQUENCE(9) maybe")
    val lit4 = spark.sql(
      "SELECT 'EXTERNAL(somewhere)' AS s").head.getString(0)
    assert(lit4 == "EXTERNAL(somewhere)")
    // ... while the same tokens OUTSIDE literals still rewrite
    assert(spark.sql("SELECT n FROM SEQUENCE(4) " +
      "WHERE n > 1 FETCH FIRST 2 ROWS ONLY").count() == 2)
    // SEQUENCE(n) becomes an inline relation: parsing registers
    // nothing (a length no other test uses, so no earlier statement
    // registered a view for it), and a user alias names the relation
    val before = spark.catalog.listTables().collect().map(_.name).toSet
    spark.sessionState.sqlParser.parsePlan("SELECT n FROM SEQUENCE(41)")
    assert(spark.catalog.listTables().collect().map(_.name).toSet == before)
    assert(spark.sql("SELECT s.n FROM SEQUENCE(3) s WHERE s.n > 1")
      .collect().map(_.getLong(0)).toSeq == Seq(2L, 3L))
  }

  test("malformed graft statements fail as SQL, not silently") {
    Tables(spark, sfDir).registerAll()
    // missing TOP clause -> not the SEARCH production -> delegate
    // parse error, never a half-parsed plan
    assertThrows[Exception] {
      spark.sql("GRAFT SEARCH documents ID doc_id TEXT text").collect()
    }
    assertThrows[Exception] {
      spark.sql("GRAFT DTW only_one_table").collect()
    }
    // every keyword of the statement table: a truncated statement
    // names its keyword and the accepted forms
    graft.plans.GraftSqlParser.keywords.foreach { kw =>
      val e = intercept[Exception] {
        spark.sql(s"graft ${kw.toLowerCase}").collect()
      }
      assert(e.getMessage.contains(s"GRAFT $kw"), e.getMessage)
    }
    val unknown = intercept[Exception] {
      spark.sql("graft frobnicate x").collect()
    }
    assert(unknown.getMessage.contains("FROBNICATE"), unknown.getMessage)
    // a malformed MATCH pattern fails before any job runs, naming the
    // pattern and the position, so does one whose DFA is too large,
    // and the runner reports both as user errors
    Seq("click (view purchase" -> "expected ')' at pos 20",
        "a{x}" -> "expected a count at pos 2, found 'x'",
        "a | * b" -> "expected a label or '(' at pos 4",
        "( a | b )* a ( a | b ){13}" -> "more than 10000 DFA states").foreach {
      case (pattern, where) =>
        val e = intercept[IllegalArgumentException] {
          spark.sql(s"GRAFT MATCH '$pattern' ON events KEY user_id " +
            "ORDER ts LABEL event_type").collect()
        }
        assert(e.getMessage.contains(s"MATCH pattern '$pattern'") &&
          e.getMessage.contains(where), e.getMessage)
        assert(graft.service.StatementRunner.error(e).kind ==
          graft.service.StatementError.User)
    }
  }

  test("GRAFT CHECK evaluates named rules in one statement") {
    Tables(spark, sfDir).registerAll()
    val rows = spark.sql(
      "GRAFT CHECK lineitem RULE 'qty_ok: l_quantity >= 1' " +
        "RULE 'disc_low: l_discount <= 0.08'").collect()
    assert(rows.length == 2)
    val byRule = rows.map(r =>
      r.getAs[String]("rule") -> r.getAs[Long]("n_violations")).toMap
    assert(byRule("qty_ok") == 0)
    assert(byRule("disc_low") > 0) // 0.08 < max discount 0.10
    assert(rows.forall(_.getAs[Long]("n_rows") > 0))
  }

  test("EXPLAIN wraps any graft statement") {
    Tables(spark, sfDir).registerAll()
    val p = spark.sql("GRAFT EXPLAIN GRAFT SKEW lineitem KEY l_suppkey")
      .collect().mkString("\n")
    assert(p.nonEmpty)
  }

  test("QUALIFY lowers around ORDER BY inside OVER() and outside it") {
    Tables(spark, sfDir).registerAll()
    // the predicate's OVER(... ORDER BY ...) must NOT be mistaken for
    // the statement's trailing ORDER BY (the depth-scanner contract)
    val top = spark.sql(
      """SELECT n_regionkey, n_name FROM nation
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY n_regionkey
        |  ORDER BY n_name) = 1
        |ORDER BY n_regionkey""".stripMargin).collect()
    assert(top.length == 5) // one per region
    assert(!top.head.schema.fieldNames.contains("graft_q"))
    // per-group min via QUALIFY equals groupBy min
    val viaAgg = spark.sql(
      "SELECT n_regionkey, MIN(n_name) AS n_name FROM nation " +
        "GROUP BY n_regionkey ORDER BY n_regionkey").collect()
    assert(top.map(_.toString).toSeq == viaAgg.map(_.toString).toSeq)
    // a QUALIFY keyword inside a string literal is untouched
    assert(rows("SELECT 'QUALIFY x' AS s") == 1)
  }

  test("named parameters bind through the graft parser chain") {
    Tables(spark, sfDir).registerAll()
    // Spark 4 routes :name markers through parsePlanWithParameters —
    // the override must forward the context, or bindings are dropped
    val p = spark.sql(
      "SELECT COUNT(*) AS n FROM orders WHERE o_totalprice > :minp",
      Map("minp" -> 50000.0)).collect()(0).getLong(0)
    val l = spark.sql(
      "SELECT COUNT(*) AS n FROM orders WHERE o_totalprice > 50000.0")
      .collect()(0).getLong(0)
    assert(p == l && l > 0)
    // parameters still bind when a graft textual rewrite fires
    // (QUALIFY lowering rewrites the statement before the delegate)
    val q = spark.sql(
      "SELECT o_custkey, o_totalprice FROM orders " +
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey " +
        "ORDER BY o_totalprice DESC) <= :k",
      Map("k" -> 1)).count()
    val qLit = spark.sql(
      "SELECT o_custkey, o_totalprice FROM orders " +
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey " +
        "ORDER BY o_totalprice DESC) <= 1").count()
    assert(q == qLit && q > 0)
  }

  test("EXECUTE IMMEDIATE with USING binds positionally") {
    Tables(spark, sfDir).registerAll()
    val e = spark.sql(
      "EXECUTE IMMEDIATE 'SELECT COUNT(*) AS n FROM orders " +
        "WHERE o_totalprice > ?' USING 50000.0").collect()(0).getLong(0)
    val l = spark.sql(
      "SELECT COUNT(*) AS n FROM orders WHERE o_totalprice > 50000.0")
      .collect()(0).getLong(0)
    assert(e == l && l > 0)
  }

  test("GRAFT SAMPLE is deterministic and pushes a pure filter") {
    Tables(spark, sfDir).registerAll()
    val a = spark.sql("GRAFT SAMPLE documents BY doc_id PCT 10")
    val b = spark.sql("GRAFT SAMPLE documents BY doc_id PCT 10")
    assert(a.count() == b.count() && a.count() > 0)
    // membership is a filter over the scan — no shuffle in the plan
    val plan = a.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // PCT 100 keeps everything; PCT widening is monotone
    val all = spark.sql("GRAFT SAMPLE documents BY doc_id PCT 99")
    assert(all.count() >= a.count())
  }

  test("round-7 statements: PLOT spec clauses and ATTACH parse robustly") {
    Tables(spark, sfDir).registerAll()
    // clause order is part of the grammar: LAYER before SERIES
    // before FACET before SCALE before RENDER, each optional
    assert(rows("graft plot orders x o_totalprice bins 4 " +
      "y count o_totalprice") == 4)
    assert(rows("GRAFT PLOT orders X o_totalprice FROM 0 TO 600000 " +
      "BINS 4 Y COUNT o_totalprice LAYER AVG o_totalprice " +
      "SERIES o_orderstatus FACET o_orderpriority SCALE LOG " +
      "RENDER 'kitchen sink'") == 1)
    // a LAYER with a bogus aggregate is not the production -> the
    // delegate rejects it as SQL, never a half-parsed plan
    assertThrows[Exception] {
      spark.sql("GRAFT PLOT orders X o_totalprice BINS 4 " +
        "Y COUNT o_totalprice LAYER MEDIAN o_totalprice").collect()
    }
    // an inverted X domain fails loudly
    assertThrows[Exception] {
      spark.sql("GRAFT PLOT orders X o_totalprice FROM 10 TO 5 " +
        "BINS 4 Y COUNT o_totalprice").collect()
    }
    // ATTACH DERBY parses case-insensitively; unknown db still
    // attaches (Derby creates lazily) and the status row comes back
    val st = spark
      .sql("graft attach derby 'robust_attach_db' as robustfed")
      .collect().head
    assert(st.getAs[String]("status") == "attached")
  }

  test("GRAFT REACH parses with and without the optional K clause") {
    Tables(spark, sfDir).registerAll()
    // 5 event types -> 10 pairs; K caps the sketch, default 65536
    assert(rows("graft reach events key user_id by event_type") == 10)
    // ~450 distinct (user, day) keys per segment at sf0.001: K 64
    // genuinely caps and the numbers become estimates
    spark.sql("SELECT event_type, user_id * 100 + day(ts) AS uk " +
      "FROM events").createOrReplaceTempView("reach_aud")
    val est = spark
      .sql("GRAFT REACH reach_aud KEY uk BY event_type K 64")
      .collect()
    assert(est.length == 10)
    est.foreach { r =>
      val (a, b, u) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(a > 0 && b > 0 && u > 0, s"bad row $r")
      // capped estimates still land in the right ballpark (~450/seg)
      assert(a > 100 && a < 2000, s"estimate off the rails: $r")
    }
    // a malformed K is rejected as SQL, never a half-parsed plan
    assertThrows[Exception] {
      spark.sql("GRAFT REACH events KEY user_id BY event_type K x")
        .collect()
    }
  }

  test("TYPEINFER APPLY casts columns; NULLS and LIMIT steer it") {
    spark.sql("SELECT * FROM VALUES ('1','x'), ('2','y'), ('NA','3') " +
      "AS t(a, b)").createOrReplaceTempView("ti_src")
    // NULLS makes the marker a SQL NULL, so column a is all-integer
    val applied = spark
      .sql("GRAFT TYPEINFER ti_src NULLS ('NA') APPLY")
    assert(applied.schema("a").dataType ==
      org.apache.spark.sql.types.LongType)
    // b is mixed -> stays string
    assert(applied.schema("b").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(applied.where("a IS NULL").count() == 1)
    // LIMIT bounds the lookahead: first 2 rows of b are NOT numeric,
    // so b still strings; with a numeric-leading view it would cast
    spark.sql("SELECT * FROM VALUES ('7'), ('8'), ('oops') AS t(c)")
      .createOrReplaceTempView("ti_src2")
    val looked = spark
      .sql("GRAFT TYPEINFER ti_src2 LIMIT 2 APPLY")
    assert(looked.schema("c").dataType ==
      org.apache.spark.sql.types.LongType)
    // ...and the cast applies to EVERY row: the non-numeric tail
    // becomes NULL (cast semantics), not an error
    assert(looked.where("c IS NULL").count() == 1)
    // report mode ignores the modifiers -> loud failure, not silence
    assertThrows[Exception] {
      spark.sql("GRAFT TYPEINFER ti_src NULLS ('NA')").collect()
    }
  }

  test("GRAFT FDCHECK reports held and violated dependencies") {
    Tables(spark, sfDir).registerAll()
    val r = spark.sql("GRAFT FDCHECK customer " +
      "(c_custkey -> c_nationkey, c_nationkey -> c_mktsegment)")
      .collect().map(x =>
        x.getAs[String]("lhs") -> x.getAs[Boolean]("holds")).toMap
    assert(r("c_custkey"), "key FD should hold")
    assert(!r("c_nationkey"), "attribute FD should be violated")
    assertThrows[Exception] {
      spark.sql("GRAFT FDCHECK customer (nonsense here)").collect()
    }
  }
}
