package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.SeqMatchOp

/** One event of the matched stream. */
case class MatchEvent(
    user_id: Long, ts: Timestamp, event_id: Long, event_type: String)

/** Keyed matcher state carried between micro-batches: the DFA state,
  * the in-flight run (length, first and last ordinal in micros, the
  * `->`-joined labels) and the per-key match counter. O(current run)
  * per key, independent of stream length. Every field is a scalar, so
  * the state deserializer has no collection expression and a batch's
  * generated code is the same as the one before it. */
case class MatchKeyState(
    dfaState: Int, n: Int, firstOrd: Long, lastOrd: Long, path: String,
    matchId: Long)

/** One emitted match. */
case class StreamMatchOut(
    user_id: Long, match_id: Long, n_rows: Int,
    first_ord: Timestamp, last_ord: Timestamp, path: String)

/** Streaming row-sequence regex MATCH — the incremental twin of
  * graft.operators.SeqMatchOp (reference: analytics/sequence/matcher —
  * sclera evaluates the matcher over unbounded ordered streams; here
  * it runs under flatMapGroupsWithState).
  *
  * The pattern is compiled once per query into the batch operator's
  * DFA ([[SeqMatchOp.compileDfa]]), and each key's events step the
  * same kernel ([[SeqMatchOp.Matcher]]) the batch matchers use, resumed
  * from and saved to the flat [[MatchKeyState]]. MATCH checkpoints
  * written with the earlier state schema (NFA state sets and buffered
  * run rows) cannot be restored; such queries restart from a new
  * checkpoint.
  *
  * Semantics are identical to the batch operator (leftmost,
  * non-overlapping, shortest): a match emits as soon as the automaton
  * accepts and scanning restarts. Events are processed in (ts,
  * event_id) order within each micro-batch; cross-batch order is the
  * stream's arrival discipline (file/kafka sources deliver per-key
  * appends in order — reordering across batches is the source's
  * contract, as in the reference).
  *
  * StreamingMatchSpec cross-checks streaming output ==
  * SeqMatchOp.matchPattern over the same events.
  */
object StreamingMatch {

  private def micros(t: Timestamp): Long =
    t.getTime / 1000 * 1000000L + t.getNanos / 1000

  private def toTs(m: Any): Timestamp = {
    val us = m.asInstanceOf[Long]
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000).toInt)
    t
  }

  def matches(events: DataFrame, pattern: String): Dataset[StreamMatchOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val dfa = SeqMatchOp.compileDfa(pattern)
    events
      .select(col("user_id").cast("long").as("user_id"), col("ts"),
        col("event_id").cast("long").as("event_id"), col("event_type"))
      .as[MatchEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(process(dfa))
  }

  private def process(dfa: SeqMatchOp.Dfa)(
      key: Long, it: Iterator[MatchEvent],
      gs: GroupState[MatchKeyState]): Iterator[StreamMatchOut] = {
    val out = Vector.newBuilder[StreamMatchOut]
    val m = new SeqMatchOp.Matcher(dfa)(m =>
      out += StreamMatchOut(key, m.matchId, m.n, toTs(m.first),
        toTs(m.last), m.path.toString))
    gs.getOption.foreach { st =>
      m.state = st.dfaState; m.n = st.n; m.first = st.firstOrd
      m.last = st.lastOrd; m.path ++= st.path; m.matchId = st.matchId
    }
    it.toVector.sortBy(e => (micros(e.ts), e.event_id))
      .foreach(e => m.feed(micros(e.ts), m.symbol(e.event_type), 0.0))
    gs.update(MatchKeyState(m.state, m.n, m.first.asInstanceOf[Long],
      m.last.asInstanceOf[Long], m.path.toString, m.matchId))
    out.result().iterator
  }
}
