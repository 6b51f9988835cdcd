package graft.operators

import java.lang.Double.compare

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row-sequence regex MATCH — the Spark re-expression of the
  * reference's label-sequence matcher (reference: analytics/sequence/
  * matcher/rowseqmatcher/RowSequenceMatcher.scala and
  * LabelSequenceMatcher.scala): rows are labeled, the per-key ordered
  * label stream is matched against a regular expression, and each
  * match is emitted with positional/aggregate info.
  *
  * Pattern syntax: labels are whitespace-separated identifiers;
  * operators: concatenation (juxtaposition), `|` alternation, `*`,
  * `+`, `?`, `{n}`, `{n,m}` postfix, `( )` grouping, and
  * `PERMUTE(a, b, ...)` (any order — MATCH_RECOGNIZE parity; expands
  * to the alternation of all orderings, capped at 6 elements).
  * Examples: `click view* purchase`, `click view{1,2} purchase`,
  * `PERMUTE(click, purchase)`.
  *
  * Match semantics: leftmost, non-overlapping, shortest (a match is
  * emitted as soon as the automaton accepts; scanning resumes at the
  * next row). This is the streaming-friendly discipline: the pattern
  * compiles once, when the plan is built, into a DFA ([[compileDfa]]),
  * and one kernel ([[Matcher]]) steps it for the batch matchers and
  * for graft.streaming.StreamingMatch alike. A key's state is one DFA
  * state, its run's path and O(labels) folded aggregates.
  *
  * Scale shape: repartition by key + sortWithinPartitions, then a
  * single mapPartitions pass runs the kernel across key runs — no
  * per-group materialization, state bounded per key.
  */
object SeqMatchOp {

  // ---- Thompson-NFA over a label alphabet (classic construction) ----

  private sealed trait Ast
  private case class Sym(label: String) extends Ast
  private case class Cat(a: Ast, b: Ast) extends Ast
  private case class Alt(a: Ast, b: Ast) extends Ast
  private case class Star(a: Ast) extends Ast
  private case class Plus(a: Ast) extends Ast
  private case class Opt(a: Ast) extends Ast

  private val Token = """[()|*+?{},]|[^\s()|*+?{},]+""".r

  /** Parse a pattern; a malformed one fails with an
    * IllegalArgumentException naming the pattern and the position (a
    * 0-based character offset) of the offending token. */
  private def parse(pattern: String): Ast = {
    val toks = Token.findAllMatchIn(pattern).toVector
    var i = 0
    def peek: Option[String] = toks.lift(i).map(_.matched)
    def eat(t: String): Boolean = peek.contains(t) && { i += 1; true }
    def fail(expected: String): Nothing = throw new IllegalArgumentException(
      s"MATCH pattern '$pattern': expected $expected at pos " +
        toks.lift(i).fold(s"${pattern.length}, found the end of the pattern")(
          t => s"${t.start}, found '${t.matched}'"))
    def expect(t: String): Unit = if (!eat(t)) fail(s"'$t'")
    def count(): Int = peek.flatMap(_.toIntOption).filter(_ >= 0)
      .map { n => i += 1; n }.getOrElse(fail("a count"))
    def parseAlt(): Ast = {
      var a = parseCat()
      while (eat("|")) a = Alt(a, parseCat())
      a
    }
    def parseCat(): Ast = {
      var a = parsePostfix()
      while (peek.exists(t => t != "|" && t != ")" && t != ","))
        a = Cat(a, parsePostfix())
      a
    }
    def parsePostfix(): Ast = {
      var a = parseAtom()
      var done = false
      while (!done)
        if (eat("*")) a = Star(a)
        else if (eat("+")) a = Plus(a)
        else if (eat("?")) a = Opt(a)
        else if (eat("{")) {
          // a{n,m}: n required copies then m-n optional copies
          val n = count()
          val m = if (eat(",")) count() else n
          if (m < n || m < 1) fail("bounds with n <= m and m >= 1")
          expect("}")
          a = (List.fill(n)(a) ++ List.fill(m - n)(Opt(a))).reduce(Cat)
        } else done = true
      a
    }
    def parseAtom(): Ast =
      if (eat("(")) { val a = parseAlt(); expect(")"); a }
      else if (eat("PERMUTE")) {
        expect("(")
        val parts = mutable.Buffer(parsePostfix())
        while (eat(",")) parts += parsePostfix()
        if (parts.size > 6) fail("at most 6 PERMUTE elements")
        expect(")")
        parts.toList.permutations.map(_.reduce(Cat)).reduce[Ast](Alt(_, _))
      } else peek.filterNot(_.exists("()|*+?{},".contains(_)))
        .map { t => i += 1; Sym(t) }.getOrElse(fail("a label or '('"))
    val ast = parseAlt()
    if (i < toks.length) fail("an operator or a label")
    ast
  }

  /** NFA: transitions (state, label) -> states, epsilon edges, accept. */
  final class Nfa(
      val trans: Map[(Int, String), Set[Int]],
      val eps: Map[Int, Set[Int]],
      val start: Int, val accept: Int) {
    val closureCache = mutable.Map.empty[Set[Int], Set[Int]]
    def closure(states: Set[Int]): Set[Int] =
      closureCache.getOrElseUpdate(states, {
        var out = states
        var frontier = states
        while (frontier.nonEmpty) {
          val nxt = frontier.flatMap(s => eps.getOrElse(s, Set.empty)) -- out
          out ++= nxt
          frontier = nxt
        }
        out
      })
    def step(states: Set[Int], label: String): Set[Int] =
      closure(states.flatMap(s => trans.getOrElse((s, label), Set.empty)))
    def initial: Set[Int] = closure(Set(start))
    def accepts(states: Set[Int]): Boolean = states.contains(accept)
    /** The label alphabet, sorted. */
    def labels: Vector[String] = trans.keys.map(_._2).toVector.distinct.sorted
  }

  def compile(pattern: String): Nfa = {
    var n = 0
    def fresh(): Int = { n += 1; n - 1 }
    val trans = mutable.Map.empty[(Int, String), Set[Int]]
    val eps = mutable.Map.empty[Int, Set[Int]]
    def addEps(a: Int, b: Int): Unit =
      eps(a) = eps.getOrElse(a, Set.empty) + b
    def build(ast: Ast): (Int, Int) = ast match {
      case Sym(l) =>
        val s = fresh(); val e = fresh()
        trans((s, l)) = trans.getOrElse((s, l), Set.empty) + e
        (s, e)
      case Cat(a, b) =>
        val (sa, ea) = build(a); val (sb, eb) = build(b)
        addEps(ea, sb); (sa, eb)
      case Alt(a, b) =>
        val s = fresh(); val e = fresh()
        val (sa, ea) = build(a); val (sb, eb) = build(b)
        addEps(s, sa); addEps(s, sb); addEps(ea, e); addEps(eb, e)
        (s, e)
      case Star(a) =>
        val s = fresh(); val e = fresh()
        val (sa, ea) = build(a)
        addEps(s, sa); addEps(s, e); addEps(ea, sa); addEps(ea, e)
        (s, e)
      case Plus(a) => build(Cat(a, Star(a)))
      case Opt(a) =>
        val s = fresh(); val e = fresh()
        val (sa, ea) = build(a)
        addEps(s, sa); addEps(s, e); addEps(ea, e)
        (s, e)
    }
    val (s, e) = build(parse(pattern))
    new Nfa(trans.toMap, eps.toMap, s, e)
  }

  /** The pattern's labels, sorted: the DFA's label ids and the order of
    * the per-label aggregate columns. */
  def labels(pattern: String): Vector[String] = compile(pattern).labels

  /** DFA over the pattern's label ids. State 0 is the NFA's initial
    * state set and -1 is dead: no run can continue, as with an empty
    * NFA state set. A label outside the pattern has id -1 and always
    * leads to -1. State ids follow a fixed breadth-first order, so a
    * checkpointed state stays valid for the same pattern. */
  final class Dfa(val labels: Vector[String], next: Array[Array[Int]],
      accepting: Array[Boolean]) extends Serializable {
    private val ids = labels.zipWithIndex.toMap
    def label(l: String): Int = ids.getOrElse(l, -1)
    def step(state: Int, label: Int): Int =
      if (label < 0) -1 else next(state)(label)
    def accepts(state: Int): Boolean = accepting(state)
    def size: Int = next.length
  }

  private final val MaxDfaStates = 10000

  /** Subset construction over [[compile]]'s NFA: each reachable state
    * set becomes one DFA state. Every MATCH entry point compiles its
    * pattern here, once, when the plan is built, which rejects a
    * pattern that accepts the empty sequence: it would "match" before
    * any row, and the kernel has no run to emit. It is eager, so
    * checkpointed state ids stay fixed, and a DFA past [[MaxDfaStates]]
    * (`(a|b)* a (a|b){n}` has 2^(n+1) + 1) fails before it fills the
    * heap. */
  def compileDfa(pattern: String): Dfa = {
    val nfa = compile(pattern)
    val labels = nfa.labels
    val sets = mutable.ArrayBuffer(nfa.initial)
    val ids = mutable.HashMap(nfa.initial -> 0)
    val next = mutable.ArrayBuffer.empty[Array[Int]]
    while (next.length < sets.length) {
      if (sets.length > MaxDfaStates) throw new IllegalArgumentException(
        s"MATCH pattern '$pattern': more than $MaxDfaStates DFA states")
      val from = sets(next.length)
      next += labels.map { l =>
        val to = nfa.step(from, l)
        if (to.isEmpty) -1
        else ids.getOrElseUpdate(to, { sets += to; sets.length - 1 })
      }.toArray
    }
    val dfa = new Dfa(labels, next.toArray, sets.map(nfa.accepts).toArray)
    require(!dfa.accepts(0),
      s"MATCH pattern accepts the empty sequence: $pattern")
    dfa
  }

  /** The MATCH kernel: steps one key's ordered rows at a time through
    * the DFA ([[newKey]] between keys). On a dead step the run is
    * dropped and the same row retried from state 0; on accept the run
    * goes to `emit` and restarts.
    *
    * A row is a symbol: a label id, or a label set ([[symbol]] of a
    * Seq) that steps on all its labels at once. Sets reach unions of
    * DFA states, numbered per pass after the DFA's own, with each
    * (state, symbol) edge cached when first taken: NFA steps distribute
    * over a union, so a union steps as its members do and accepts if
    * one does. The path records the first label in set order whose own
    * step is not dead.
    *
    * Each label's count, sum, min and max and the run's argmax row
    * (strictly greater: the earliest row wins ties) fold as the run
    * grows, sums in run order: a run holds O(labels) values and its
    * path, never its rows. */
  final class Matcher(dfa: Dfa)(emit: Matcher => Unit) {
    var state = 0
    var n = 0
    var first: Any = _
    var last: Any = _
    val path = new StringBuilder
    var matchId = 0L
    private val k = dfa.labels.length
    val count = new Array[Int](k)
    val sum, min, max = new Array[Double](k)
    var argOrd: Any = _
    var argLabel = -1
    var argValue = 0.0

    // label-set symbols and the unions they reach; lazy, so a pass of
    // single labels (every stream key in every batch) allocates none
    private lazy val symbols = mutable.HashMap.empty[Seq[String], Int]
    private lazy val sets = mutable.ArrayBuffer.empty[Seq[Int]]
    private lazy val unions = mutable.HashMap.empty[Seq[Int], Int]
    private lazy val members = mutable.ArrayBuffer.empty[Seq[Int]]
    private lazy val edges = mutable.HashMap.empty[Long, Long]

    def symbol(label: String): Int = dfa.label(label)

    def symbol(labels: Seq[String]): Int = symbols.getOrElse(labels, {
      val ids = labels.map(dfa.label).filter(_ >= 0)
      val sym = if (ids.length < 2) ids.headOption.getOrElse(-1)
        else { sets += ids; k + sets.length - 1 }
      symbols(labels.toVector) = sym
      sym
    })

    def newKey(): Unit = { matchId = 0L; restart() }

    def restart(): Unit = {
      state = 0; n = 0; path.setLength(0)
      java.util.Arrays.fill(count, 0)
    }

    private def states(s: Int): Seq[Int] =
      if (s < dfa.size) Seq(s) else members(s - dfa.size)

    private def accepts(s: Int): Boolean =
      if (s < dfa.size) dfa.accepts(s) else states(s).exists(dfa.accepts)

    def feed(ord: Any, sym: Int, value: Double): Unit = {
      var e = edge(state, sym)
      if (e < 0) { restart(); e = edge(0, sym) }
      if (e >= 0) {
        val l = e.toInt
        if (n == 0) first = ord else path ++= "->"
        path ++= dfa.labels(l)
        last = ord
        val c = count(l)
        count(l) += 1
        sum(l) = if (c == 0) value else sum(l) + value
        // java.lang.Double.compare orders like Seq.min and Seq.max
        if (c == 0 || compare(value, min(l)) < 0) min(l) = value
        if (c == 0 || compare(value, max(l)) > 0) max(l) = value
        if (n == 0 || value > argValue) {
          argOrd = ord; argLabel = l; argValue = value
        }
        n += 1
        state = (e >>> 32).toInt
      }
      if (accepts(state)) { matchId += 1; emit(this); restart() }
    }

    /** The edge from `from` on `sym`: the next state in the high half
      * and the recorded label id in the low half, or -1 when dead. */
    private def edge(from: Int, sym: Int): Long =
      if (sym < 0) -1L
      else if (from < dfa.size && sym < k) {
        val to = dfa.step(from, sym)
        if (to < 0) -1L else (to.toLong << 32) | sym
      } else edges.getOrElseUpdate((from.toLong << 32) | sym, {
        val steps = (if (sym < k) Seq(sym) else sets(sym - k))
          .map(l => l -> states(from).map(dfa.step(_, l)).filter(_ >= 0))
          .filter(_._2.nonEmpty)
        if (steps.isEmpty) -1L
        else {
          val to = steps.flatMap(_._2).distinct.sorted
          val id = if (to.size == 1) to.head
            else unions.getOrElseUpdate(to, {
              members += to; dfa.size + members.length - 1 })
          (id.toLong << 32) | steps.head._1
        }
      })
  }

  // ---- The relational operator ----

  /** Label rows by ordered predicates (the MATCH_RECOGNIZE DEFINE
    * analogue; reference labels rows by computed classifiers): the
    * first predicate that holds wins, `default` otherwise. The label
    * lands in column `__label`, ready for [[matchPattern]]. */
  def withLabels(
      df: DataFrame,
      defs: Seq[(String, org.apache.spark.sql.Column)],
      default: String): DataFrame =
    df.withColumn("__label",
      defs.foldRight(lit(default): org.apache.spark.sql.Column) {
        case ((name, pred), els) => when(pred, name).otherwise(els)
      })

  /** Match `pattern` over each key's ordered label stream.
    *
    * Per-label aggregates (reference: analytics/sequence/matcher/
    * aggregate/SeqAggregate.scala): when `valueCol` is given, each
    * match row also carries, for every label symbol in the pattern,
    * the count of matched rows with that label (`n_<label>`) and the
    * sum of `valueCol` over them (`sum_<label>`). With `rich = true`
    * the fuller reference family lands too — `min_<label>` /
    * `max_<label>` / `avg_<label>` (SeqMinMax/SeqAvg), null when the
    * label never fired inside the match (the SeqOptAggregate "absent"
    * wrapping); the avg derives from the same run-ordered sum, so it
    * is engine-deterministic.
    *
    * @param df       input
    * @param keyCol   partition key column (long)
    * @param ordCol   ordering column within key (any sortable type)
    * @param labelCol column holding the row's label string
    * @param valueCol optional numeric column for per-label sums
    * @param rich     also emit per-label min/max/avg
    * @param arg      also emit the ARG aggregate (reference
    *                 SeqArgAggregate: the ROW at which the value
    *                 attains its maximum over the match, ties broken
    *                 toward the earliest matched row) as
    *                 argmax_ord / argmax_label / argmax_value
    * @return one row per match: key, match_id (1-based per key),
    *         n_rows, first_ord, last_ord, path, [per-label aggs]
    */
  def matchPattern(
      df: DataFrame, keyCol: String, ordCol: String, labelCol: String,
      pattern: String, valueCol: Option[String] = None,
      rich: Boolean = false, arg: Boolean = false): DataFrame = {
    val dfa = compileDfa(pattern)
    valueCol.foreach { v =>
      val t = df.schema(v).dataType
      require(t.isInstanceOf[NumericType],
        s"MATCH VALUE column '$v' has type ${t.sql}; it must be numeric")
    }
    val labels = dfa.labels
    val withValue = valueCol.isDefined
    val withArg = arg && withValue
    val aggFields =
      if (!withValue) Seq.empty
      else labels.flatMap { l =>
        Seq(StructField(s"n_$l", IntegerType),
          StructField(s"sum_$l", DoubleType)) ++
        (if (rich) Seq(
          StructField(s"min_$l", DoubleType, nullable = true),
          StructField(s"max_$l", DoubleType, nullable = true),
          StructField(s"avg_$l", DoubleType, nullable = true))
        else Seq.empty)
      }
    val argFields =
      if (!withArg) Seq.empty
      else Seq(StructField("argmax_ord", df.schema(ordCol).dataType),
        StructField("argmax_label", StringType),
        StructField("argmax_value", DoubleType))
    val selected = Seq(col(keyCol).cast("long").as(keyCol), col(ordCol),
      col(labelCol).cast("string").as(labelCol)) ++
      valueCol.map(v => col(v).cast("double").as(v))
    scan(df.select(selected: _*), keyCol, ordCol, dfa,
        aggFields ++ argFields) { (m, r) =>
      m.feed(r.get(1), m.symbol(r.getString(2)),
        if (withValue && !r.isNullAt(3)) r.getDouble(3) else 0.0)
    } { m =>
      val aggs = if (!withValue) Seq.empty else labels.indices.flatMap { l =>
        val c = m.count(l)
        val s = if (c == 0) 0.0 else m.sum(l)
        Seq[Any](c, s) ++
          (if (!rich) Seq.empty
          else if (c == 0) Seq[Any](null, null, null)
          else Seq[Any](m.min(l), m.max(l), s / c))
      }
      if (withArg) aggs ++ Seq(m.argOrd, labels(m.argLabel), m.argValue)
      else aggs
    }
  }

  /** Multi-label MATCH (reference analytics/sequence/labeler/
    * rowlabeler/ColumnRowLabeler.scala:29-44 — labels read from an
    * input column through a WHEN/THEN value mapping, with multi-label
    * rows and wildcard labels): each row carries a label SET
    * (`labelsCol`, array&lt;string&gt;) and steps the kernel on all
    * its labels at once — a row with labels {purchase, any} advances
    * both a branch expecting `purchase` and one expecting `any`. The
    * label recorded in `path` is the first label in array order whose
    * own step is not dead (array order = statement order: the
    * WHEN/ELSE-mapped label before the ALSO wildcard), which keeps the
    * emitted path deterministic. Same leftmost / shortest /
    * non-overlapping semantics and the same one-pass repartition+sort
    * shape as [[matchPattern]]. */
  def matchPatternMulti(
      df: DataFrame, keyCol: String, ordCol: String, labelsCol: String,
      pattern: String): DataFrame = {
    val dfa = compileDfa(pattern)
    scan(df.select(col(keyCol).cast("long").as(keyCol), col(ordCol),
        col(labelsCol).cast("array<string>").as(labelsCol)),
        keyCol, ordCol, dfa, Seq.empty) { (m, r) =>
      m.feed(r.get(1),
        m.symbol(if (r.isNullAt(2)) Seq.empty[String] else r.getSeq[String](2)),
        0.0)
    }(_ => Seq.empty)
  }

  /** One kernel pass per partition over `rows` (key, ord, label…),
    * repartitioned by key and sorted by (key, ord): `feed` steps a row,
    * and each match becomes a row of key, match_id, n_rows, first_ord,
    * last_ord, path and `extra`'s values for `extraFields`. */
  private def scan(rows: DataFrame, keyCol: String, ordCol: String,
      dfa: Dfa, extraFields: Seq[StructField])(
      feed: (Matcher, Row) => Unit)(extra: Matcher => Seq[Any]): DataFrame = {
    val ordType = rows.schema(ordCol).dataType
    val schema = StructType(Seq(
      StructField(keyCol, LongType),
      StructField("match_id", LongType),
      StructField("n_rows", IntegerType),
      StructField("first_ord", ordType),
      StructField("last_ord", ordType),
      StructField("path", StringType)) ++ extraFields)
    rows.repartition(col(keyCol))
      .sortWithinPartitions(col(keyCol), col(ordCol))
      .mapPartitions { it =>
        val pending = mutable.Queue.empty[Row]
        var key = -1L
        val m = new Matcher(dfa)(m => pending.enqueue(Row.fromSeq(
          Seq(key, m.matchId, m.n, m.first, m.last, m.path.toString) ++
            extra(m))))
        new Iterator[Row] {
          override def hasNext: Boolean = {
            while (pending.isEmpty && it.hasNext) {
              val r = it.next()
              if (r.getLong(0) != key) { key = r.getLong(0); m.newKey() }
              feed(m, r)
            }
            pending.nonEmpty
          }
          override def next(): Row = pending.dequeue()
        }
      }(RowEncoder.encoderFor(schema))
  }
}
