package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SeqMatchOp

class SeqMatchSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  private def seq(rows: (Long, Int, String)*) =
    rows.toDF("k", "ord", "lab")

  test("simple concatenation a b") {
    val out = SeqMatchOp.matchPattern(
      seq((1L, 1, "a"), (1L, 2, "b"), (1L, 3, "a"), (1L, 4, "a"),
        (1L, 5, "b")),
      "k", "ord", "lab", "a b").collect()
    assert(out.map(r => (r.getLong(1), r.getString(5))).toSeq ==
      Seq((1L, "a->b"), (2L, "a->b")))
    assert(out.map(r => (r.getInt(3), r.getInt(4))).toSeq ==
      Seq((1, 2), (4, 5)))
  }

  test("kleene star a b* c and alternation") {
    val out = SeqMatchOp.matchPattern(
      seq((7L, 1, "a"), (7L, 2, "b"), (7L, 3, "b"), (7L, 4, "c"),
        (7L, 5, "x"), (7L, 6, "a"), (7L, 7, "c")),
      "k", "ord", "lab", "a b* c").collect()
    assert(out.map(_.getString(5)).toSeq == Seq("a->b->b->c", "a->c"))

    val alt = SeqMatchOp.matchPattern(
      seq((7L, 1, "a"), (7L, 2, "x"), (7L, 3, "b")),
      "k", "ord", "lab", "( a | b )").collect()
    assert(alt.map(_.getString(5)).toSeq == Seq("a", "b"))
  }

  test("optional and plus") {
    val out = SeqMatchOp.matchPattern(
      seq((2L, 1, "a"), (2L, 2, "a"), (2L, 3, "b")),
      "k", "ord", "lab", "a+ b").collect()
    // shortest-match: 'a' alone can't accept, a+ b accepts at first b
    assert(out.length == 1 && out.head.getString(5) == "a->a->b")

    val opt = SeqMatchOp.matchPattern(
      seq((2L, 1, "a"), (2L, 2, "b"), (2L, 3, "b")),
      "k", "ord", "lab", "a b?").collect()
    // shortest: accepts at 'a' immediately (b? optional)
    assert(opt.head.getString(5) == "a")
  }

  test("bounded quantifiers {n} and {n,m}") {
    // a{2} b: exactly two a's then b
    val exact = SeqMatchOp.matchPattern(
      seq((1L, 1, "a"), (1L, 2, "a"), (1L, 3, "b"),
        (1L, 4, "a"), (1L, 5, "b")),
      "k", "ord", "lab", "a{2} b").collect()
    assert(exact.map(_.getString(5)).toSeq == Seq("a->a->b"))

    // a{1,2} b on a a a b: the run over a1,a2 exhausts both a-slots,
    // dies at a3, and scanning restarts AT the failing row (the
    // streaming discipline — no backtracking to run-start+1), so the
    // match is a3->b4
    val ranged = SeqMatchOp.matchPattern(
      seq((2L, 1, "a"), (2L, 2, "a"), (2L, 3, "a"), (2L, 4, "b")),
      "k", "ord", "lab", "a{1,2} b").collect()
    assert(ranged.map(_.getString(5)).toSeq == Seq("a->b"))

    // {0,m}: pure optional prefix
    val opt = SeqMatchOp.matchPattern(
      seq((3L, 1, "b"), (3L, 2, "a"), (3L, 3, "b")),
      "k", "ord", "lab", "a{0,1} b").collect()
    assert(opt.map(_.getString(5)).toSeq == Seq("b", "a->b"))
  }

  test("PERMUTE matches any ordering and equals explicit alternation") {
    val rows = seq((4L, 1, "a"), (4L, 2, "b"), (4L, 3, "b"), (4L, 4, "a"),
      (4L, 5, "x"), (4L, 6, "a"), (4L, 7, "b"))
    val permute = SeqMatchOp.matchPattern(
      rows, "k", "ord", "lab", "PERMUTE(a, b)").collect()
    val explicit = SeqMatchOp.matchPattern(
      rows, "k", "ord", "lab", "( a b | b a )").collect()
    assert(permute.map(_.getString(5)).toSeq ==
      explicit.map(_.getString(5)).toSeq)
    assert(permute.map(_.getString(5)).toSeq == Seq("a->b", "b->a", "a->b"))
  }

  test("matches reset across keys") {
    val out = SeqMatchOp.matchPattern(
      seq((1L, 1, "a"), (2L, 1, "b"), (1L, 2, "b"), (2L, 2, "a")),
      "k", "ord", "lab", "a b").collect()
    // key 1 has a(1) b(2) → match; key 2 has b(1) a(2) → no match
    assert(out.length == 1 && out.head.getLong(0) == 1L)
  }

  test("real pattern over events: click view* purchase") {
    val ev = Tables(spark, sfDir).events
    val out = SeqMatchOp.matchPattern(
      ev, "user_id", "ts", "event_type", "click view* purchase")
    assert(out.count() > 0)
  }

  test("per-label aggregates on matches") {
    val rows = Seq(
      (1L, 1, "a", 10.0), (1L, 2, "a", 20.0), (1L, 3, "b", 5.0))
      .toDF("k", "ord", "lab", "v")
    val out = SeqMatchOp.matchPattern(
      rows, "k", "ord", "lab", "a+ b", valueCol = Some("v")).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Int]("n_a") == 2)
    assert(r.getAs[Double]("sum_a") == 30.0)
    assert(r.getAs[Int]("n_b") == 1)
    assert(r.getAs[Double]("sum_b") == 5.0)
  }

  private def mseq(rows: (Long, Int, Seq[String])*) =
    rows.toDF("k", "ord", "labs")

  test("multi-label rows: union step over the label set") {
    // row 2 carries both labels: it can close `a b` AND it could
    // start a fresh `a ...` run — union semantics accept at row 2
    val out = SeqMatchOp.matchPatternMulti(
      mseq((1L, 1, Seq("a")), (1L, 2, Seq("a", "b")), (1L, 3, Seq("b"))),
      "k", "ord", "labs", "a b").collect()
    assert(out.length == 1)
    // recorded label = first label in array order that ADVANCES the
    // state set: from the post-`a` state only `b` advances
    assert(out.head.getString(5) == "a->b")
    assert(out.head.getInt(3) == 1 && out.head.getInt(4) == 2)
  }

  test("wildcard pairing: purchase any over multi-label rows") {
    // every row carries `any`; purchases also carry `purchase` —
    // leftmost non-overlapping pairs each purchase with its next row
    def labs(t: String): Seq[String] =
      if (t == "p") Seq("purchase", "any") else Seq("any")
    val rows = Seq(("v", 1), ("p", 2), ("v", 3), ("p", 4), ("p", 5),
      ("p", 6), ("v", 7))
      .map { case (t, o) => (1L, o, labs(t)) }
    val out = SeqMatchOp.matchPatternMulti(
      mseq(rows: _*), "k", "ord", "labs", "purchase any").collect()
      .sortBy(_.getInt(3))
    // matches: (2,3), (4,5), (6,7) — purchase at 5 is consumed as any
    assert(out.map(r => (r.getInt(3), r.getInt(4))).toSeq ==
      Seq((2, 3), (4, 5), (6, 7)))
    assert(out.forall(_.getString(5) == "purchase->any"))
  }

  test("LABEL BY: repeated WHEN arms give a row several labels") {
    Seq((1L, 1, "go"), (1L, 2, "x"))
      .toDF("k", "o", "v").createOrReplaceTempView("mlb_spec")
    // 'go' maps to BOTH a and b — either single-label pattern matches
    val a = spark.sql("GRAFT MATCH 'a' ON mlb_spec KEY k ORDER o " +
      "LABEL BY v WHEN 'go' THEN a WHEN 'go' THEN b").count()
    val b = spark.sql("GRAFT MATCH 'b' ON mlb_spec KEY k ORDER o " +
      "LABEL BY v WHEN 'go' THEN a WHEN 'go' THEN b").count()
    assert(a == 1 && b == 1)
    // ELSE fires only where NO arm matched: row1 labels {a}, row2 {z}
    val e = spark.sql("GRAFT MATCH 'z z' ON mlb_spec KEY k ORDER o " +
      "LABEL BY v WHEN 'go' THEN a ELSE z").count()
    assert(e == 0)
    val e2 = spark.sql("GRAFT MATCH 'a z' ON mlb_spec KEY k ORDER o " +
      "LABEL BY v WHEN 'go' THEN a ELSE z").count()
    assert(e2 == 1)
    // bare LABEL BY (no mapping): the column value IS the label
    val bare = spark.sql("GRAFT MATCH 'go x' ON mlb_spec KEY k " +
      "ORDER o LABEL BY v").count()
    assert(bare == 1)
  }

  test("rows with no advancing label are dropped, not fatal") {
    val out = SeqMatchOp.matchPatternMulti(
      mseq((1L, 1, Seq("x")), (1L, 2, Seq("a")), (1L, 3, Seq("x")),
        (1L, 4, Seq("b"))),
      "k", "ord", "labs", "a b").collect()
    // x rows break the run: a(2) dies at x(3), no match
    assert(out.isEmpty)
  }

  test("aggregate columns come from the parsed pattern's labels") {
    val rows = Seq((1L, 1, "click", 1.0), (1L, 2, "view", 2.0),
      (1L, 3, "view", 3.0), (1L, 4, "purchase", 4.0),
      (1L, 5, "purchase", 5.0), (1L, 6, "click", 6.0))
      .toDF("k", "ord", "lab", "v")
    val base = Seq("k", "match_id", "n_rows", "first_ord", "last_ord", "path")
    def aggCols(ls: String*) = base ++ ls.flatMap(l => Seq(s"n_$l", s"sum_$l"))

    val bounded = SeqMatchOp.matchPattern(rows, "k", "ord", "lab",
      "click view{1,2} purchase", Some("v"))
    assert(bounded.columns.toSeq == aggCols("click", "purchase", "view"))
    val b = bounded.collect()
    assert(b.length == 1 && b.head.getAs[Int]("n_view") == 2 &&
      b.head.getAs[Double]("sum_view") == 5.0)

    val permute = SeqMatchOp.matchPattern(rows, "k", "ord", "lab",
      "PERMUTE(click, purchase)", Some("v"))
    assert(permute.columns.toSeq == aggCols("click", "purchase"))
    val p = permute.collect()
    assert(p.map(_.getString(5)).toSeq == Seq("purchase->click"))
    assert(p.head.getAs[Int]("n_click") == 1 &&
      p.head.getAs[Double]("sum_purchase") == 5.0)

    rows.createOrReplaceTempView("labels_spec")
    val pivot = spark.sql("GRAFT MATCH 'click view{1,2} purchase' ON " +
      "labels_spec KEY k ORDER ord LABEL lab VALUE v PIVOT COUNT FOR (view)")
      .collect()
    assert(pivot.map(_.getAs[Int]("view")).toSeq == Seq(2))
  }

  test("a VALUE column that is not numeric fails when the plan is built") {
    val rows = Seq((1L, 1, "a", "x")).toDF("k", "ord", "lab", "v")
    val e = intercept[IllegalArgumentException](
      SeqMatchOp.matchPattern(rows, "k", "ord", "lab", "a", Some("v")))
    assert(e.getMessage.contains("'v'") && e.getMessage.contains("STRING"),
      e.getMessage)
    rows.createOrReplaceTempView("value_type_spec")
    val s = intercept[IllegalArgumentException](spark.sql(
      "GRAFT MATCH 'a' ON value_type_spec KEY k ORDER ord LABEL lab VALUE v"))
    assert(s.getMessage.contains("MATCH VALUE column 'v' has type STRING"),
      s.getMessage)
  }
}
