package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One window-hash occurrence carried by a streamed doc. */
case class WinOcc(h: Long, doc_id: Long)

/** Per-hash state: total occurrences seen + whether this hash was
  * already reported as duplicated (each hash reports at most once —
  * output is bounded by the number of DISTINCT duplicated spans, not
  * by the stream volume). */
case class WinState(occ: Long, reported: Boolean)

/** A span first observed to be duplicated: the window hash, the doc
  * that completed the duplication, and the occurrence count at that
  * moment. */
case class DupSpan(h: Long, dup_doc: Long, occ: Long)

/** Incremental sliding-window substring dedup — the streaming twin of
  * q232 (Lee et al. span-level dedup) for a GROWING corpus: window
  * hashes are computed PER ROW (the same shuffle-free array
  * projection as the batch op), so the only stateful stage is the
  * per-hash occurrence count under flatMapGroupsWithState. A span is
  * emitted the FIRST time its count crosses 2 (the moment it becomes
  * a duplicate), tagged with the doc that completed it — the signal
  * an online curation pipeline acts on (flag/trim the arriving doc
  * that repeats an already-seen span).
  *
  * State per key is two scalars; keys are uniform hashes (no skew);
  * the stream shuffles once on the hash. Cross-checked against the
  * batch q232 counts in StreamingWindowDedupSpec across micro-batch
  * boundaries.
  */
object StreamingWindowDedup {

  val WindowTokens = 12

  /** The per-row window-hash projection shared with the batch op. */
  def windowHashes(docs: DataFrame, textCol: String): Dataset[WinOcc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val w = WindowTokens
    docs
      .select(col("doc_id"),
        expr(s"transform(filter(split(lower($textCol), '[^a-z0-9]+'), " +
          "t -> length(t) > 0), t -> graft_fingerprint(t))").as("tf"))
      .select(explode(expr(s"graft_window_hashes(tf, $w)")).as("h"),
        col("doc_id"))
      .as[WinOcc]
  }

  /** Duplicated spans as they first appear in the stream. */
  def dupSpans(docs: DataFrame, textCol: String): Dataset[DupSpan] = {
    val spark = docs.sparkSession
    import spark.implicits._
    windowHashes(docs, textCol)
      .groupByKey(_.h)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (h: Long, it: Iterator[WinOcc], gs: GroupState[WinState]) =>
          var st = gs.getOption.getOrElse(WinState(0L, reported = false))
          var out = List.empty[DupSpan]
          // deterministic fold order within the batch
          for (o <- it.toIndexedSeq.sortBy(_.doc_id)) {
            st = st.copy(occ = st.occ + 1)
            if (st.occ >= 2 && !st.reported) {
              out ::= DupSpan(h, o.doc_id, st.occ)
              st = st.copy(reported = true)
            }
          }
          gs.update(st)
          out.reverseIterator
      }
  }
}
