package graft.operators

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
  * next row). This is the streaming-friendly discipline — state is one
  * NFA state-set per key, O(pattern) size.
  *
  * Scale shape: repartition by key + sortWithinPartitions, then a
  * single mapPartitions pass runs the automaton across key runs —
  * no per-group materialization, state bounded per key, works
  * identically under Structured Streaming's
  * flatMapGroupsWithState if fed incrementally.
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

  /** a{n,m}: n required copies then m-n optional copies (language
    * equality is all the NFA needs; shortest-match semantics are
    * unaffected by the expansion shape). */
  private def repeat(a: Ast, n: Int, m: Int): Ast = {
    require(n >= 0 && m >= n && m >= 1, s"bad bounds {$n,$m}")
    val parts = List.fill(n)(a) ++ List.fill(m - n)(Opt(a))
    parts.reduce(Cat)
  }

  private def parse(pattern: String): Ast = {
    val toks = pattern
      .replace("(", " ( ").replace(")", " ) ").replace("|", " | ")
      .replace("*", " * ").replace("+", " + ").replace("?", " ? ")
      .replace("{", " { ").replace("}", " } ").replace(",", " , ")
      .trim.split("\\s+").filter(_.nonEmpty).toList
    var rest = toks
    def peek: Option[String] = rest.headOption
    def next(): String = { val h = rest.head; rest = rest.tail; h }
    def parseAlt(): Ast = {
      var a = parseCat()
      while (peek.contains("|")) { next(); a = Alt(a, parseCat()) }
      a
    }
    def parseCat(): Ast = {
      var a = parsePostfix()
      while (peek.exists(t => t != "|" && t != ")")) {
        a = Cat(a, parsePostfix())
      }
      a
    }
    def parsePostfix(): Ast = {
      var a = parseAtom()
      var done = false
      while (!done) peek match {
        case Some("*") => next(); a = Star(a)
        case Some("+") => next(); a = Plus(a)
        case Some("?") => next(); a = Opt(a)
        case Some("{") =>
          next()
          val n = next().toInt
          val m = peek match {
            case Some(",") => next(); next().toInt
            case _ => n
          }
          require(next() == "}", s"unclosed {} in pattern: $pattern")
          a = repeat(a, n, m)
        case _ => done = true
      }
      a
    }
    def parseAtom(): Ast = next() match {
      case "(" =>
        val a = parseAlt()
        require(next() == ")", s"unbalanced parens in pattern: $pattern")
        a
      case "PERMUTE" =>
        require(next() == "(", s"PERMUTE needs (...) in pattern: $pattern")
        val parts = mutable.Buffer(parsePostfix())
        while (peek.contains(",")) { next(); parts += parsePostfix() }
        require(next() == ")", s"unbalanced PERMUTE in pattern: $pattern")
        require(parts.size <= 6, "PERMUTE supports at most 6 elements")
        parts.toList.permutations
          .map(_.reduce(Cat)).reduce[Ast](Alt(_, _))
      case sym => Sym(sym)
    }
    val ast = parseAlt()
    require(rest.isEmpty, s"trailing tokens in pattern: $pattern")
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

  /** DFA over the pattern's label ids. State 0 is the NFA's initial
    * state set and -1 is dead: no run can continue, as with an empty
    * NFA state set. A label outside the pattern always leads to -1. */
  final class Dfa(labelIds: Map[String, Int], next: Array[Array[Int]],
      accepting: Array[Boolean]) extends Serializable {
    def step(state: Int, label: String): Int =
      labelIds.get(label).fold(-1)(next(state)(_))
    def accepts(state: Int): Boolean = accepting(state)
  }

  /** Subset construction over [[compile]]'s NFA: each reachable state
    * set becomes one DFA state. */
  def compileDfa(pattern: String): Dfa = {
    val nfa = compile(pattern)
    val labels = nfa.trans.keys.map(_._2).toVector.distinct.sorted
    val sets = mutable.ArrayBuffer(nfa.initial)
    val ids = mutable.HashMap(nfa.initial -> 0)
    val next = mutable.ArrayBuffer.empty[Array[Int]]
    while (next.length < sets.length) {
      val from = sets(next.length)
      next += labels.map { l =>
        val to = nfa.step(from, l)
        if (to.isEmpty) -1
        else ids.getOrElseUpdate(to, { sets += to; sets.length - 1 })
      }.toArray
    }
    new Dfa(labels.zipWithIndex.toMap, next.toArray,
      sets.map(nfa.accepts).toArray)
  }

  /** Reject, on the driver, a pattern that accepts the empty sequence:
    * it would "match" before any row, and the matchers have no run to
    * emit. Every MATCH entry point (both batch matchers and
    * StreamingMatch) calls this before planning. */
  def requireNonEmptyMatch(pattern: String): Unit = {
    val nfa = compile(pattern)
    require(!nfa.accepts(nfa.initial),
      s"MATCH pattern accepts the empty sequence: $pattern")
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
    requireNonEmptyMatch(pattern)
    val spark = df.sparkSession
    val ordType = df.schema(ordCol).dataType
    val labels = pattern.split("[()|*+?\\s]+").filter(_.nonEmpty)
      .distinct.sorted.toSeq
    val aggFields = valueCol match {
      case None => Seq.empty
      case Some(_) =>
        labels.flatMap { l =>
          Seq(StructField(s"n_$l", IntegerType),
            StructField(s"sum_$l", DoubleType)) ++
          (if (rich) Seq(
            StructField(s"min_$l", DoubleType, nullable = true),
            StructField(s"max_$l", DoubleType, nullable = true),
            StructField(s"avg_$l", DoubleType, nullable = true))
          else Seq.empty)
        }
    }
    val argFields =
      if (!arg || valueCol.isEmpty) Seq.empty
      else Seq(StructField("argmax_ord", df.schema(ordCol).dataType),
        StructField("argmax_label", StringType),
        StructField("argmax_value", DoubleType))
    val outSchema = StructType(Seq(
      StructField(keyCol, LongType),
      StructField("match_id", LongType),
      StructField("n_rows", IntegerType),
      StructField("first_ord", ordType),
      StructField("last_ord", ordType),
      StructField("path", StringType)) ++ aggFields ++ argFields)
    val baseCols = Seq(col(keyCol).cast("long").as(keyCol), col(ordCol),
      col(labelCol).cast("string").as(labelCol))
    val selected = valueCol match {
      case None => baseCols
      case Some(v) => baseCols :+ col(v).cast("double").as(v)
    }
    val sorted = df.select(selected: _*)
      .repartition(col(keyCol))
      .sortWithinPartitions(col(keyCol), col(ordCol))
    val withValue = valueCol.isDefined
    val withArg = arg && valueCol.isDefined
    val enc = RowEncoder.encoderFor(outSchema)
    sorted.mapPartitions { rows =>
      val nfa = compile(pattern)
      new Iterator[Row] {
        private var curKey: Long = -1L
        private var matchId: Long = 0L
        private var states = nfa.initial
        private var runRows = mutable.ArrayBuffer.empty[(Any, String, Double)]
        private val pending = mutable.Queue.empty[Row]
        private def restart(): Unit = {
          states = nfa.initial; runRows.clear()
        }
        private def emit(): Unit = {
          matchId += 1
          val base = Seq(
            curKey, matchId, runRows.length,
            runRows.head._1, runRows.last._1,
            runRows.map(_._2).mkString("->"))
          val aggs =
            if (!withValue) Seq.empty
            else labels.flatMap { l =>
              val hits = runRows.filter(_._2 == l)
              val s = hits.map(_._3).sum // run-ordered fold
              Seq[Any](hits.length, s) ++
                (if (!rich) Seq.empty
                else if (hits.isEmpty) Seq[Any](null, null, null)
                else Seq[Any](hits.map(_._3).min, hits.map(_._3).max,
                  s / hits.length))
            }
          val argOut =
            if (!withArg) Seq.empty
            else {
              // argmax row: strictly-greater scan => earliest matched
              // row wins ties (the reference's running-arg semantics)
              var bi = 0
              var i = 1
              while (i < runRows.length) {
                if (runRows(i)._3 > runRows(bi)._3) bi = i
                i += 1
              }
              Seq[Any](runRows(bi)._1, runRows(bi)._2, runRows(bi)._3)
            }
          pending.enqueue(Row.fromSeq(base ++ aggs ++ argOut))
        }
        private def feed(r: Row): Unit = {
          val k = r.getLong(0)
          if (k != curKey) { curKey = k; matchId = 0L; restart() }
          val ord = r.get(1)
          val label = r.getString(2)
          val v = if (withValue && !r.isNullAt(3)) r.getDouble(3) else 0.0
          val nxt = nfa.step(states, label)
          if (nxt.isEmpty) {
            // dead: drop the current run, retry this row as a fresh start
            restart()
            val retry = nfa.step(states, label)
            if (retry.nonEmpty) { states = retry; runRows += ((ord, label, v)) }
          } else {
            states = nxt
            runRows += ((ord, label, v))
          }
          if (nfa.accepts(states)) { emit(); restart() }
        }
        override def hasNext: Boolean = {
          while (pending.isEmpty && rows.hasNext) feed(rows.next())
          pending.nonEmpty
        }
        override def next(): Row = pending.dequeue()
      }
    }(enc)
  }

  /** Multi-label MATCH (reference analytics/sequence/labeler/
    * rowlabeler/ColumnRowLabeler.scala:29-44 — labels read from an
    * input column through a WHEN/THEN value mapping, with multi-label
    * rows and wildcard labels): each row carries a label SET
    * (`labelsCol`, array&lt;string&gt;), and the Thompson NFA steps on
    * the UNION of the per-label transitions — a row with labels
    * {purchase, any} advances both a branch expecting `purchase` and
    * one expecting `any`. The label recorded in `path` is the first
    * label in array order that individually advanced the state set
    * (array order = statement order: the WHEN/ELSE-mapped label
    * before the ALSO wildcard), which keeps the emitted path
    * deterministic. Same leftmost / shortest / non-overlapping
    * semantics and the same one-pass repartition+sort shape as
    * [[matchPattern]]. */
  def matchPatternMulti(
      df: DataFrame, keyCol: String, ordCol: String, labelsCol: String,
      pattern: String): DataFrame = {
    requireNonEmptyMatch(pattern)
    val ordType = df.schema(ordCol).dataType
    val outSchema = StructType(Seq(
      StructField(keyCol, LongType),
      StructField("match_id", LongType),
      StructField("n_rows", IntegerType),
      StructField("first_ord", ordType),
      StructField("last_ord", ordType),
      StructField("path", StringType)))
    val sorted = df
      .select(col(keyCol).cast("long").as(keyCol), col(ordCol),
        col(labelsCol).cast("array<string>").as(labelsCol))
      .repartition(col(keyCol))
      .sortWithinPartitions(col(keyCol), col(ordCol))
    val enc = RowEncoder.encoderFor(outSchema)
    sorted.mapPartitions { rows =>
      val nfa = compile(pattern)
      new Iterator[Row] {
        private var curKey: Long = -1L
        private var matchId: Long = 0L
        private var states = nfa.initial
        private var runRows = mutable.ArrayBuffer.empty[(Any, String)]
        private val pending = mutable.Queue.empty[Row]
        private def restart(): Unit = {
          states = nfa.initial; runRows.clear()
        }
        private def emit(): Unit = {
          matchId += 1
          pending.enqueue(Row.fromSeq(Seq(
            curKey, matchId, runRows.length,
            runRows.head._1, runRows.last._1,
            runRows.map(_._2).mkString("->"))))
        }
        /** Union step over the row's label set; also returns the
          * first label (in array order) that advanced on its own. */
        private def stepAll(from: Set[Int],
            ls: Seq[String]): (Set[Int], String) = {
          var union = Set.empty[Int]
          var recorded: String = null
          ls.foreach { l =>
            val s = nfa.step(from, l)
            if (s.nonEmpty) {
              if (recorded == null) recorded = l
              union ++= s
            }
          }
          (union, recorded)
        }
        private def feed(r: Row): Unit = {
          val k = r.getLong(0)
          if (k != curKey) { curKey = k; matchId = 0L; restart() }
          val ord = r.get(1)
          val ls: Seq[String] =
            if (r.isNullAt(2)) Seq.empty else r.getSeq[String](2)
          val (nxt, rec) = stepAll(states, ls)
          if (nxt.isEmpty) {
            restart()
            val (retry, rec2) = stepAll(states, ls)
            if (retry.nonEmpty) {
              states = retry; runRows += ((ord, rec2))
            }
          } else {
            states = nxt
            runRows += ((ord, rec))
          }
          if (nfa.accepts(states)) { emit(); restart() }
        }
        override def hasNext: Boolean = {
          while (pending.isEmpty && rows.hasNext) feed(rows.next())
          pending.nonEmpty
        }
        override def next(): Row = pending.dequeue()
      }
    }(enc)
  }
}
