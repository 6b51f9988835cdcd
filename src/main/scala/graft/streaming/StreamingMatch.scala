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
  * The pattern is compiled once per query into a DFA
  * ([[SeqMatchOp.compileDfa]], subset construction over the batch
  * operator's Thompson NFA), so a key steps one `Int` per event and
  * its state is the flat [[MatchKeyState]]. MATCH checkpoints written
  * with the earlier state schema (NFA state sets and buffered run
  * rows) cannot be restored; such queries restart from a new
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

  private def toTs(m: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(m, 1000000L) * 1000)
    t.setNanos((Math.floorMod(m, 1000000L) * 1000).toInt)
    t
  }

  def matches(events: DataFrame, pattern: String): Dataset[StreamMatchOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    SeqMatchOp.requireNonEmptyMatch(pattern)
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
    val st = gs.getOption.getOrElse(MatchKeyState(0, 0, 0L, 0L, "", 0L))
    var state = st.dfaState
    var n = st.n
    var firstOrd = st.firstOrd
    var lastOrd = st.lastOrd
    val path = new StringBuilder(st.path)
    var matchId = st.matchId
    val out = Vector.newBuilder[StreamMatchOut]

    def restart(): Unit = { state = 0; n = 0; path.clear() }

    val ordered = it.toVector.sortBy(e => (micros(e.ts), e.event_id))
    for (e <- ordered) {
      val label = e.event_type
      var next = dfa.step(state, label)
      // dead: drop the current run, retry this row as a fresh start
      if (next < 0) { restart(); next = dfa.step(0, label) }
      if (next >= 0) {
        val ord = micros(e.ts)
        if (n == 0) firstOrd = ord else path ++= "->"
        path ++= label
        lastOrd = ord
        n += 1
        state = next
      }
      if (dfa.accepts(state)) {
        matchId += 1
        out += StreamMatchOut(key, matchId, n, toTs(firstOrd),
          toTs(lastOrd), path.toString)
        restart()
      }
    }

    gs.update(
      MatchKeyState(state, n, firstOrd, lastOrd, path.toString, matchId))
    out.result().iterator
  }
}
