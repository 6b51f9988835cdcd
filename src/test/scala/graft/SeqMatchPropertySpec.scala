package graft

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SeqMatchOp

/** Randomized cross-check: the MATCH kernel (SeqMatchOp.Matcher, which
  * the batch matchers and StreamingMatch step) agrees with a
  * brute-force scan-from-each-position reference over the Thompson NFA
  * on thousands of random label streams and a panel of patterns, for
  * single labels, label sets and folded aggregates. Runs the kernel
  * directly (no Spark) — the Spark plumbing is covered by SeqMatchSpec.
  */
class SeqMatchPropertySpec extends AnyFunSuite {

  /** Brute force: attempt a shortest match starting at each position;
    * a dead attempt rescans from the row that killed it (the streaming
    * restart discipline); after a match, continue past its end. A row
    * is a label set: the NFA steps on the union of its labels, and the
    * path records the first label whose own step is not empty. Returns
    * (first row, last row, path) per match. */
  private def bruteForce(nfa: SeqMatchOp.Nfa,
      rows: Vector[Seq[String]]): List[(Int, Int, List[String])] = {
    val out =
      scala.collection.mutable.ListBuffer.empty[(Int, Int, List[String])]
    var start = 0
    while (start < rows.length) {
      var states = nfa.initial
      var i = start
      var matched = -1
      var deadAt = -1
      val path = scala.collection.mutable.ListBuffer.empty[String]
      while (i < rows.length && matched < 0 && deadAt < 0) {
        val steps = rows(i).map(l => l -> nfa.step(states, l))
          .filter(_._2.nonEmpty)
        if (steps.isEmpty) deadAt = i
        else {
          path += steps.head._1
          states = steps.flatMap(_._2).toSet
          if (nfa.accepts(states)) matched = i else i += 1
        }
      }
      if (matched >= 0) {
        out += ((start, matched, path.toList)); start = matched + 1
      }
      else if (deadAt >= 0 && deadAt > start) start = deadAt
      else start += 1
    }
    out.toList
  }

  /** The kernel over one key: rows are fed with their index as the
    * ordinal; each emitted match is read through `read`. */
  private def kernel[T](pattern: String, n: Int)(
      feed: (SeqMatchOp.Matcher, Int) => Unit)(
      read: SeqMatchOp.Matcher => T): List[T] = {
    val out = scala.collection.mutable.ListBuffer.empty[T]
    val m = new SeqMatchOp.Matcher(SeqMatchOp.compileDfa(pattern))(
      m => out += read(m))
    (0 until n).foreach(i => feed(m, i))
    out.toList
  }

  private def span(m: SeqMatchOp.Matcher): (Int, Int, List[String]) =
    (m.first.asInstanceOf[Int], m.last.asInstanceOf[Int],
      m.path.toString.split("->").toList)

  private val patterns = Seq(
    "a b", "a b* c", "a+ b", "a b? c", "( a | b ) c",
    "a ( b | c )* a", "a? b+", "( a b )+", "a b* b c?",
    "a a b", "c ( a | b )+ c")

  private val alphabet = Vector("a", "b", "c")

  test("streaming NFA equals brute-force on 5000 random streams") {
    val rnd = new Random(20260812L)
    for (_ <- 1 to 5000; pattern <- Seq(patterns(rnd.nextInt(patterns.size)))) {
      val n = rnd.nextInt(24)
      val labels = Vector.fill(n)(alphabet(rnd.nextInt(3)))
      val nfa = SeqMatchOp.compile(pattern)
      val bf = bruteForce(nfa, labels.map(Seq(_)))
      val st = kernel(pattern, n)(
        (m, i) => m.feed(i, m.symbol(labels(i)), 0.0))(span)
      assert(st == bf,
        s"pattern=[$pattern] labels=${labels.mkString}")
    }
  }

  test("label-set rows step the kernel like the NFA's union step") {
    val rnd = new Random(20261020L)
    // sets in random order, some empty, some with a label outside
    // the pattern, so the recorded label depends on set order
    val pool = alphabet :+ "x"
    for (_ <- 1 to 5000) {
      val pattern = patterns(rnd.nextInt(patterns.size))
      val n = rnd.nextInt(24)
      val rows = Vector.fill(n)(
        rnd.shuffle(pool).take(rnd.nextInt(pool.size + 1)).toSeq)
      val bf = bruteForce(SeqMatchOp.compile(pattern), rows)
      val st = kernel(pattern, n)(
        (m, i) => m.feed(i, m.symbol(rows(i)), 0.0))(span)
      assert(st == bf, s"pattern=[$pattern] rows=$rows")
    }
  }

  test("folded aggregates equal a recomputation over the matched rows") {
    val rnd = new Random(20261021L)
    for (_ <- 1 to 5000) {
      val pattern = patterns(rnd.nextInt(patterns.size))
      val n = rnd.nextInt(24)
      val labels = Vector.fill(n)(alphabet(rnd.nextInt(3)))
      // few distinct values, so argmax ties are common
      val values = Vector.fill(n)(rnd.nextInt(4) * 0.1 - 0.1)
      val dfa = SeqMatchOp.compileDfa(pattern)
      val folded = kernel(pattern, n)(
        (m, i) => m.feed(i, m.symbol(labels(i)), values(i))) { m =>
        val perLabel = dfa.labels.indices.map { l =>
          val c = m.count(l)
          if (c == 0) (0, 0.0, None)
          else (c, m.sum(l), Some((m.min(l), m.max(l))))
        }
        (m.first.asInstanceOf[Int], perLabel,
          (m.argOrd.asInstanceOf[Int], dfa.labels(m.argLabel), m.argValue))
      }
      val recomputed =
        bruteForce(SeqMatchOp.compile(pattern), labels.map(Seq(_))).map {
          case (s, e, _) =>
            val slice = (s to e).map(i => (i, labels(i), values(i)))
            val perLabel = dfa.labels.map { l =>
              val hits = slice.filter(_._2 == l).map(_._3)
              (hits.length, hits.sum,
                if (hits.isEmpty) None else Some((hits.min, hits.max)))
            }
            var best = slice.head
            slice.foreach(r => if (r._3 > best._3) best = r)
            (s, perLabel, best)
        }
      assert(folded == recomputed,
        s"pattern=[$pattern] labels=${labels.mkString} values=$values")
    }
  }
}
