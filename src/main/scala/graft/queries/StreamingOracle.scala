package graft.queries

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{TextFunctions => TF}
import graft.sources.CacheFs
import graft.streaming.{EventStreams, StreamDedup, StreamingAnn,
  StreamingAsOf, StreamingCusum, StreamingEwma, StreamingIndexer,
  StreamingKalman, StreamingLshDedup, StreamingMarkov, StreamingMatch,
  StreamingMatView, StreamingNaiveBayes, StreamingReach,
  StreamingSeqPatterns, StreamingSessionTimers, StreamingSnapshots,
  StreamingTopK, StreamingWindowDedup}

/** Oracle-backed STREAMING drains (reference: sclera evaluates
  * stream-evaluable subplans incrementally; modules/core
  * streams/...): each query here actually RUNS a Structured
  * Streaming operator over the events parquet via the file stream
  * source, drains it to completion, and returns the final
  * deterministic per-key state — which DuckDB recomputes relationally
  * as the oracle. This closes the loop the spec-only streaming twins
  * leave open: the driver's hash gate now covers the streaming lane
  * itself, not just its batch analogues.
  *
  * Determinism contract: the corpus is ONE parquet file, so the file
  * source delivers exactly one micro-batch; each operator sorts rows
  * by (ts, event_id) within the batch, so the fold order — and hence
  * every emitted double — is a pure function of the data, identical
  * to the oracle's ORDER BY ts, event_id recursion. The memory-sink
  * table name is salted per call so bench/verify re-runs never
  * collide.
  */
object StreamingOracle {

  private val sinkId = new AtomicLong(0L)

  /** Scale-adaptive state/shuffle partition hint per session, set by
    * the stream-source helpers from the SOURCE SIZE (AQE cannot
    * coalesce stateful streaming shuffles, so a drain otherwise runs
    * `spark.sql.shuffle.partitions` state stores per operator per
    * micro-batch — each one a per-batch file commit, pure fixed cost
    * when the state is far smaller than the partition count; guide
    * §2: derive partitioning from input size, not a cluster-width
    * constant). The hint is ceil(sourceBytes / advisoryPartitionSize)
    * clamped to [1, session shuffle partitions] — the same sizing
    * rule AQE applies to batch shuffles — overridable for production
    * via `spark.graft.stream.shufflePartitions`. */
  private val partsHint =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, Integer]()

  private def hintParts(spark: SparkSession, path: String): Unit = {
    val want = spark.conf
      .getOption("spark.graft.stream.shufflePartitions").map(_.toInt)
      .getOrElse {
        val p = new org.apache.hadoop.fs.Path(path)
        val bytes = CacheFs.fs(spark, p).getContentSummary(p).getLength
        val advisory = spark.sessionState.conf.getConf(
          org.apache.spark.sql.internal.SQLConf
            .ADVISORY_PARTITION_SIZE_IN_BYTES)
        math.max(1L, math.min(
          spark.sessionState.conf.numShufflePartitions.toLong,
          (bytes + advisory - 1) / advisory)).toInt
      }
    // several sources in one query: size state by the largest
    partsHint.merge(spark, Int.box(want),
      (a, b) => Int.box(math.max(a, b)))
  }

  /** Raise the pending hint to at least `n` (clamped to the session
    * parallelism). The RocksDB/transformWithState lanes want this:
    * their per-row state point-ops are CPU-bound and parallelize,
    * unlike the HDFS-backed lanes whose per-partition file commit is
    * the fixed cost (measured: q399 5.2s at 1 partition -> 3.1s at
    * 4). */
  private def floorHint(spark: SparkSession, n: Int): Unit =
    partsHint.merge(spark,
      Int.box(math.min(n, spark.sessionState.conf.numShufflePartitions)),
      (a, b) => Int.box(math.max(a, b)))

  /** Run `body` with the RocksDB state store provider AND changelog
    * checkpointing (commit fsyncs the per-batch changelog instead of
    * a full RocksDB snapshot — the production-recommended commit path
    * for large state, and the cheaper one for these ephemeral drain
    * checkpoints; local A/B on q399: medians 4.9 s -> 3.9 s pass-2
    * across 3+3 runs, fsync-weather noisy but never worse). Both
    * confs are saved and restored so batch queries and the
    * HDFS-backed lanes are untouched. */
  private def withRocksDb[T](spark: SparkSession)(body: => T): T = {
    val keys = Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        ("org.apache.spark.sql.execution.streaming." +
          "state.RocksDBStateStoreProvider"),
      ("spark.sql.streaming.stateStore.rocksdb." +
        "changelogCheckpointing.enabled") -> "true")
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Per-session monitor for the drain's temporary
    * shuffle-partitions mutation: the save/mutate/drain/restore
    * sequence must be atomic per session, or two concurrent drains
    * (or a drain racing a batch query that reads the conf) observe
    * each other's partition override. The registry runs sequentially
    * in bench/verify, so the lock is uncontended there. */
  private val drainLocks =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, Object]()

  /** Start `ds` into a fresh memory sink, drain all available input,
    * and hand back the sink table. State partitioning follows the
    * source-size hint (fresh per-drain checkpoints, so the partition
    * count is free to differ per drain); the session conf is restored
    * after the drain so batch queries are untouched. The hint map is
    * consumed (removed) at entry, so a stream that was constructed
    * but never drained cannot leak its hint past this drain. */
  private def drain[T](ds: Dataset[T], mode: String): DataFrame = {
    val spark = ds.sparkSession
    val name = s"graft_stream_oracle_${sinkId.incrementAndGet()}"
    val lock = drainLocks.computeIfAbsent(spark, _ => new Object)
    lock.synchronized {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      val hint = Option(partsHint.remove(spark))
      hint.foreach(h =>
        spark.conf.set("spark.sql.shuffle.partitions", h.toString))
      // a fresh checkpoint under the CacheFs root, deleted after the
      // drain (without one, Spark makes a temporary directory under
      // java.io.tmpdir)
      val checkpoint = new org.apache.hadoop.fs.Path(CacheFs.root(spark),
        s"_checkpoint_${name}_${java.util.UUID.randomUUID}").toString
      try {
        val q = ds.writeStream.outputMode(mode)
          .format("memory").queryName(name)
          .option("checkpointLocation", checkpoint).start()
        try q.processAllAvailable() finally q.stop()
      } finally {
        CacheFs.delete(spark, checkpoint)
        hint.foreach(_ =>
          spark.conf.set("spark.sql.shuffle.partitions", prev))
      }
    }
    spark.table(name)
  }

  /** The file stream source needs a DIRECTORY; the test corpus ships
    * events as one parquet file. Stage it once per corpus fingerprint
    * under the CacheFs root (Hadoop FileSystem end to end, so the
    * stage works when corpus and cache live on HDFS/S3) — all five
    * drains and every bench pass then share the one staged copy. */
  private def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val staged = stagedTable(spark, dir, "events")
    hintParts(spark, staged)
    EventStreams.readEvents(spark, staged)
  }

  /** The file stream source's unit is a DIRECTORY: a table that is
    * already a parquet directory (Spark-written layouts, the scale
    * probe) streams IN PLACE with zero copy; the testdata's
    * single-file tables stage once per corpus fingerprint under the
    * CacheFs root (Hadoop FileSystem end to end, so the stage works
    * when corpus and cache live on HDFS/S3) — every drain and bench
    * pass then shares the one staged copy. */
  private def stagedTable(spark: SparkSession, dir: String,
      table: String): String = {
    val src = s"$dir/$table.parquet"
    val srcPath = new org.apache.hadoop.fs.Path(src)
    val fsFrom = CacheFs.fs(spark, srcPath)
    if (fsFrom.getFileStatus(srcPath).isDirectory) return src
    val fp = CacheFs.fingerprint(spark, src)
    val tag = s"stream_src_${CacheFs.AlgoVersion}_${table}_$fp"
    CacheFs.getOrBuild(spark, tag) { stage =>
      val stageDir = new org.apache.hadoop.fs.Path(stage)
      val fsTo = CacheFs.fs(spark, stageDir)
      fsTo.mkdirs(stageDir)
      org.apache.hadoop.fs.FileUtil.copy(fsFrom, srcPath, fsTo,
        new org.apache.hadoop.fs.Path(stageDir, s"$table.parquet"),
        false, fsTo.getConf)
      CacheFs.touch(spark, stage)
    }
  }

  /** Stream over the staged copy of a table (no ts normalization —
    * used for the documents stream). */
  private def tableStream(spark: SparkSession, dir: String,
      table: String): DataFrame = {
    val staged = stagedTable(spark, dir, table)
    hintParts(spark, staged)
    val schema = spark.read.parquet(staged).schema
    spark.readStream.schema(schema).parquet(staged)
  }

  // chart parameters: fixed by the chart, not estimated mid-stream
  private val Mu = 50.0
  private val Sigma = 20.0
  private val Lambda = 0.2

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Streaming EWMA control chart, drained to its final reading per
    // key: the O(1) carried (z, w) state equals the batch recursion
    // over the event-time-ordered series — the oracle recomputes the
    // identical IEEE fold with list_reduce.
    "q387_stream_ewma_final" -> { (spark, dir) =>
      val out = drain(StreamingEwma.monitor(
        eventsStream(spark, dir), "event_type", "value",
        Mu, Sigma, Lambda), "append")
      // one reading per key per micro-batch: keep the final (max-n)
      val w = Window.partitionBy(col("key")).orderBy(col("n").desc)
      out.withColumn("rk", row_number().over(w)).where(col("rk") === 1)
        .select(col("key"), col("n"),
          round(col("z"), 6).as("z"),
          round(col("ucl"), 6).as("ucl"),
          round(col("lcl"), 6).as("lcl"), col("outf"))
        .orderBy(col("key"))
    },

    // Streaming CUSUM drift monitor, final detector reading per key.
    "q388_stream_cusum_final" -> { (spark, dir) =>
      val out = drain(StreamingCusum.monitor(
        eventsStream(spark, dir), "event_type", "value", Mu), "append")
      val w = Window.partitionBy(col("key")).orderBy(col("n").desc)
      out.withColumn("rk", row_number().over(w)).where(col("rk") === 1)
        .select(col("key"), col("n"),
          round(col("max_cusum"), 6).as("max_cusum"),
          round(col("final_cusum"), 6).as("final_cusum"))
        .orderBy(col("key"))
    },

    // Streaming local-level Kalman filter, final (level, covariance,
    // gain) per key.
    "q389_stream_kalman_final" -> { (spark, dir) =>
      val out = drain(StreamingKalman.filter(
        eventsStream(spark, dir), "event_type", "value", 0.1, 4.0),
        "append")
      val w = Window.partitionBy(col("key")).orderBy(col("n").desc)
      out.withColumn("rk", row_number().over(w)).where(col("rk") === 1)
        .select(col("key"), col("n"),
          round(col("level"), 6).as("level"),
          round(col("p_cov"), 6).as("p_cov"),
          round(col("gain"), 6).as("gain"))
        .orderBy(col("key"))
    },

    // Streaming SpaceSaving heavy hitters in the EXACT regime
    // (capacity >= distinct users per event type at every test SF):
    // final top-5 users per event type, ties toward the smaller term
    // string — exactly the oracle's windowed count rank.
    "q390_stream_topk_final" -> { (spark, dir) =>
      val rows = StreamingTopK.keyed(
        eventsStream(spark, dir), "event_type", "user_id")
      drain(StreamingTopK.topK(rows, 5, 4096), "update")
        .select(col("group"), col("term"), col("n"))
        .orderBy(col("group"), col("n").desc, col("term"))
    },

    // Streaming Markov transition maintenance: the drained transition
    // stream aggregated to the per-(from, to) count matrix — equal to
    // the batch LAG derivation because the carried last-event state
    // stitches micro-batch boundaries.
    "q393_stream_markov_final" -> { (spark, dir) =>
      val ev = eventsStream(spark, dir)
      // per-row keyed processor over the full event stream: the
      // stateful stage is CPU-bound and parallelizes (r12 A/B,
      // best-of-two: 2.05s at the 1-partition byte hint -> 1.58s at
      // 4) — same floor discipline as the RocksDB lanes
      floorHint(spark, 4)
      drain(StreamingMarkov.transitions(ev), "append")
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("from_type"), col("to_type"))
    },

    // Streaming naive Bayes: the drained per-label model (class count
    // + per-feature-value counts) equals exact batch contingency
    // counts — counting is order-insensitive, so this one needs no
    // ordering contract at all.
    "q394_stream_nb_model" -> { (spark, dir) =>
      val ev = eventsStream(spark, dir)
      floorHint(spark, 4) // r12 A/B: 1.24s at hint 1 -> 1.07s at 4
      drain(StreamingNaiveBayes.model(
        StreamingNaiveBayes.observations(ev)),
        "update")
        .select(col("label"), col("n_l"), col("feature"), col("value"),
          col("n"))
        .orderBy(col("label"), col("feature"), col("value"))
    },

    // Streaming sliding-window substring dedup: each duplicated
    // 12-token span is reported the FIRST time its occurrence count
    // crosses 2, tagged with the doc that completed it (fold sorted
    // by doc_id) — the oracle picks the 2nd occurrence in doc order
    // per duplicated window hash.
    "q395_stream_windowdedup_final" -> { (spark, dir) =>
      val docs = tableStream(spark, dir, "documents")
      // per-row window hashing is the cost, not state commits
      floorHint(spark, 4) // r12 A/B: 1.91s at hint 1 -> 1.33s at 4
      drain(StreamingWindowDedup.dupSpans(docs, "text"), "append")
        .select(col("h"), col("dup_doc"), col("occ"))
        .orderBy(col("h"), col("dup_doc"))
    },

    // Streaming row-sequence regex MATCH: the batch operator's DFA kernel
    // under flatMapGroupsWithState, drained over the whole corpus —
    // identical leftmost/non-overlapping/shortest semantics to the
    // batch operator, so the oracle is the same window-SQL match
    // derivation q75/q227 use, minus the per-label aggregates.
    "q396_stream_match_final" -> { (spark, dir) =>
      val ev = eventsStream(spark, dir)
      floorHint(spark, 4) // r12 A/B: 1.28s at hint 1 -> 1.16s at 4
      drain(StreamingMatch.matches(
        ev, "click view* purchase"), "append")
        .select(col("user_id"), col("match_id"), col("n_rows"),
          col("first_ord"), col("last_ord"), col("path"))
        .orderBy(col("user_id"), col("match_id"))
    },

    // Streaming exact dedup: one boolean of state per canonical key,
    // first doc kept (lowest doc_id within a batch); the drained kept
    // set equals the batch q48 canonicalization's per-key keeper.
    "q397_stream_dedup_final" -> { (spark, dir) =>
      drain(StreamDedup.dedup(StreamDedup.withCanonKey(
        tableStream(spark, dir, "documents"))), "append")
        .select(col("canon_key"), col("doc_id"))
        .orderBy(col("canon_key"))
    },

    // Streaming materialized-view maintenance drained to its final
    // state: AvailableNow folds each micro-batch's partial aggregate
    // into the copy-on-write view; the exactness contract (integer
    // merge is associative) makes the final view equal the direct
    // full aggregate — q249's oracle verbatim. Idempotent across
    // bench passes: the checkpoint remembers processed files, so a
    // re-run is a no-op maintain + read.
    "q398_stream_matview_final" -> { (spark, dir) =>
      val staged = stagedTable(spark, dir, "documents")
      val fp = CacheFs.fingerprint(spark, s"$dir/documents.parquet")
      val root = new org.apache.hadoop.fs.Path(
        CacheFs.root(spark), s"stream_mv2_${CacheFs.AlgoVersion}_$fp").toString
      StreamingMatView.maintainAvailableNow(
        spark, staged, spark.read.parquet(staged).schema,
        keys = Seq("source", "lang"),
        ntok = size(split(col("text"), " ")),
        viewPath = s"$root/view", checkpoint = s"$root/ckpt")
      graft.operators.MatViewOps.read(spark, s"$root/view")
        .orderBy(col("source"), col("lang"))
    },

    // Streaming sequential-pattern summary on transformWithState
    // (RocksDB state store), drained and collapsed to the support
    // table — equal to the batch SeqPatternOps derivation, which is
    // q291's oracle.
    "q399_stream_seqpat_final" -> { (spark, dir) =>
      withRocksDb(spark) {
        val ev = eventsStream(spark, dir)
        floorHint(spark, 4)
        val emitted = drain(StreamingSeqPatterns.firstLast(ev), "update")
        StreamingSeqPatterns.supportsFromEmissions(emitted)
      }
    },

    // Streaming ALIGN / as-of join: each purchase joined to the
    // latest click at-or-before it per user, O(1) carried ref state —
    // the oracle is the IGNORE NULLS last-value window derivation
    // over the same (ts, side, event_id) order.
    "q400_stream_asof_final" -> { (spark, dir) =>
      val ev = eventsStream(spark, dir)
      floorHint(spark, 4) // r12 A/B: 1.28s at hint 1 -> 1.19s at 4
      drain(StreamingAsOf.asof(ev, "purchase", "click"), "append")
        .select(col("user_id"), col("event_id"), col("ts"),
          col("ref_event_id"), col("ref_value"))
        .orderBy(col("user_id"), col("event_id"))
    },

    // Incremental inverted-index maintenance drained to completion,
    // then the SAME indexed BM25 search as q222 — the indexer's
    // contract (idempotent batch appends; postings/doclen/stats equal
    // a from-scratch build) makes q222's oracle apply verbatim.
    "q403_stream_indexed_bm25" -> { (spark, dir) =>
      val staged = stagedTable(spark, dir, "documents")
      val fp = CacheFs.fingerprint(spark, s"$dir/documents.parquet")
      val root = new org.apache.hadoop.fs.Path(
        CacheFs.root(spark), s"stream_idx_${CacheFs.AlgoVersion}_$fp").toString
      StreamingIndexer.maintainAvailableNow(
        spark, staged, spark.read.parquet(staged).schema,
        "doc_id", "text",
        indexDir = s"$root/idx", checkpoint = s"$root/ckpt")
      graft.operators.TextSearchOps.bm25Indexed(
        spark, s"$root/idx", "doc_id", Seq("hash", "merge", "scan"),
        k = 10)
    },

    // Streaming theta-sketch audience reach in the EXACT regime
    // (k >= distinct users per segment): the drained estimate equals
    // the exact distinct count the oracle computes.
    "q391_stream_reach_final" -> { (spark, dir) =>
      val rows = StreamingReach.keyed(
        eventsStream(spark, dir), "event_type", "user_id")
      drain(StreamingReach.reach(rows, 4096), "update")
        .select(col("seg"), col("reach"))
        .orderBy(col("seg"))
    },

    // Streaming conversion funnel = streaming MATCH with gap-filler
    // alternations (the funnel-to-regex encoding StreamingFunnelSpec
    // pins against the batch subsequence derivation): a user
    // converts iff a view is later followed by a click later followed
    // by a purchase. Drained converted-user set == the oracle's
    // first-view / first-click-after / any-purchase-after chain.
    "q416_stream_funnel_final" -> { (spark, dir) =>
      val ev = eventsStream(spark, dir)
      floorHint(spark, 4) // r12 A/B: 1.83s at hint 1 -> 1.64s at 4
      drain(StreamingMatch.matches(
          ev,
          "view (view|error|signup|purchase)* click " +
            "(view|click|error|signup)* purchase"), "append")
        .select(col("user_id")).distinct()
        .orderBy(col("user_id"))
    },

    // Incremental MinHash-LSH dedup drained over the document
    // stream: banded signatures bucket under flatMapGroupsWithState,
    // each bucket keeps its first `maxBucket` members (by doc_id —
    // within the single staged micro-batch the processor sorts) and
    // emits the within-bucket candidate pairs. The oracle recomputes
    // the full minhash (k=16, 4 bands of 4 rows) relationally with
    // the same first-50-members cap via ROW_NUMBER.
    "q404_stream_lsh_final" -> { (spark, dir) =>
      val docs = tableStream(spark, dir, "documents")
      // minhash signature computation is the per-row cost
      floorHint(spark, 4) // r12 A/B: 1.99s at hint 1 -> 1.69s at 4
      drain(StreamingLshDedup.candidates(
          docs, "text",
          k = 16, bands = 4, maxBucket = 50), "append")
        .select(col("doc_a"), col("doc_b")).distinct()
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // Timer-based gap sessionization on transformWithState, drained
    // to ALL closed sessions: in-stream closes plus the
    // watermark-timer closes of every user's tail session — the two
    // sentinel batches advance the watermark so the tail timers fire
    // (the same flush discipline the spec uses). The oracle is the
    // batch 30-minute-gap sessionization.
    "q405_stream_sessions_final" -> { (spark, dir) =>
      val fp = CacheFs.fingerprint(spark, s"$dir/events.parquet")
      val tag = s"stream_sess_${CacheFs.AlgoVersion}_$fp"
      val out = CacheFs.getOrBuild(spark, tag) { stage =>
        withRocksDb(spark) {
          val sentinelUser = 999999999L
          val ev = Tables(spark, dir).events
            .select(col("user_id"),
              col("ts").cast("timestamp_ntz").as("ts"))
          ev.write.parquet(s"$stage/src")
          val maxTs = Tables(spark, dir).events
            .agg(max(col("ts"))).collect()(0).getTimestamp(0)
          def sentinel(offsetDays: Int) = {
            import spark.implicits._
            Seq((sentinelUser, new java.sql.Timestamp(
                maxTs.getTime + offsetDays * 86400000L)))
              .toDF("user_id", "ts")
              .select(col("user_id"),
                col("ts").cast("timestamp_ntz").as("ts"))
          }
          val name = "graft_sess_drain_" +
            java.util.UUID.randomUUID.toString.take(8)
          val q = StreamingSessionTimers.sessions(
              EventStreams.readEvents(spark, s"$stage/src"),
              gapMinutes = 30)
            .writeStream.outputMode("append")
            .format("memory").queryName(name)
            .option("checkpointLocation", s"$stage/checkpoint").start()
          try {
            q.processAllAvailable()
            // two sentinel batches: the first advances max event
            // time, the second runs with the advanced watermark so
            // the tail-session timers fire
            sentinel(10).write.mode("append").parquet(s"$stage/src")
            q.processAllAvailable()
            sentinel(20).write.mode("append").parquet(s"$stage/src")
            q.processAllAvailable()
          } finally q.stop()
          spark.table(name)
            .where(col("user_id") =!= sentinelUser)
            .select(col("user_id"), col("session_start"),
              col("session_end"), col("n_events"))
            .write.parquet(s"$stage/out")
          spark.catalog.dropTempView(name)
          // the staged source copy and the checkpoint served their
          // purpose; only the drained session table is the artifact
          CacheFs.delete(spark, s"$stage/src")
          CacheFs.delete(spark, s"$stage/checkpoint")
          CacheFs.touch(spark, stage)
        }
      }
      spark.read.parquet(s"$out/out")
        .orderBy(col("user_id"), col("session_start"))
    },

    // Streaming ANN serving drained over a micro-batched query
    // stream: the 10 query vectors arrive as TWO file-source batches
    // probing the static IVF lists; the union of per-batch top-k
    // results equals the batch IVF query exactly (per-query
    // independence), so q101's oracle applies verbatim. Built once
    // per corpus fingerprint under the CacheFs root; re-runs read
    // the published results.
    "q406_stream_ann_final" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val e = t.embeddings
      val fp = CacheFs.fingerprint(spark, s"$dir/embeddings.parquet")
      val tag = s"stream_ann_${CacheFs.AlgoVersion}_$fp"
      val out = CacheFs.getOrBuild(spark, tag) { stage =>
        val nlist = math.ceil(math.sqrt(e.count().toDouble)).toInt
        val nprobe = math.max(2, math.ceil(nlist / 4.0).toInt)
        val cents = StreamingAnn.centroids(e, nlist)
        val lists = StreamingAnn.assignLists(e, nlist)
        // two query files -> two micro-batches (maxFilesPerTrigger=1)
        e.where(col("vec_id") < 5).coalesce(1)
          .write.parquet(s"$stage/q")
        e.where(col("vec_id") >= 5 && col("vec_id") < 10).coalesce(1)
          .write.mode("append").parquet(s"$stage/q")
        val qs = spark.readStream
          .schema(e.schema).option("maxFilesPerTrigger", 1)
          .parquet(s"$stage/q")
        val q = StreamingAnn.serve(
          qs, lists, cents, nprobe, k = 5, sinkPath = s"$stage/out")
        try q.processAllAvailable() finally q.stop()
        CacheFs.touch(spark, stage)
      }
      spark.read.parquet(s"$out/out")
        .orderBy(col("q_id"), col("rk"))
    },

    // Streaming end-to-end curation drained: the STATEFUL lane (exact
    // dedup, first-doc-per-canon) runs under flatMapGroupsWithState
    // and is drained to the kept set; the stateless filter/score
    // stages (quality gate, langid, per-source mix accounting) then
    // collapse over the kept documents — they are micro-batch-local
    // in a live stream, so the batch collapse is semantics-preserving.
    // (The dropDuplicates form of the curate pipeline keeps an
    // ARBITRARY survivor per canon — not hash-gateable; the keyed
    // dedup pins the lowest doc_id, the q70 keeper rule.)
    "q408_stream_pipeline_final" -> { (spark, dir) =>
      val kept = drain(StreamDedup.dedup(StreamDedup.withCanonKey(
        tableStream(spark, dir, "documents"))), "append")
        .select(col("doc_id"))
      val t = Tables(spark, dir)
      val toks = col("toks")
      val nChars = length(col("text")).cast("double")
      val nPunct = length(regexp_replace(col("text"), "[^.!?,;:]", ""))
        .cast("double")
      val nStop = TF.stopwordHits(toks, TF.langStopwords("en"))
        .cast("double")
      val quality =
        least(size(toks).cast("double") / lit(200.0), lit(1.0)) * 0.5 +
          (nStop / size(toks).cast("double")) * 0.3 +
          (lit(1.0) - nPunct / nChars) * 0.2
      t.documents.join(kept, Seq("doc_id"))
        .withColumn("toks", TF.tokens(col("text")))
        .withColumn("q", quality)
        .where(col("q") >= 0.3)
        .where(TF.langIdFromTokens(toks) === "en")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(toks).cast("long")).as("total_tokens"))
        .orderBy(col("source"))
    },

    // Stream-stream INNER join drained (Structured Streaming's
    // watermark-bounded dual-stream join): purchases joined to the
    // clicks that preceded them within 1 hour — the time-range
    // condition + watermarks bound the click state by the join
    // window, not the stream length (StreamStreamJoinSpec pins the
    // cross-micro-batch behavior; this drain puts the result itself
    // behind the DuckDB hash gate).
    "q427_stream_ssjoin_final" -> { (spark, dir) =>
      val ev = eventsStream(spark, dir)
      val p = ev.where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"),
          col("event_id").as("purchase_id"), col("ts").as("pts"))
      val c = ev.where(col("event_type") === "click")
        .select(col("user_id").as("c_user"),
          col("event_id").as("click_id"), col("ts").as("cts"))
      val cond = expr("p_user = c_user AND " +
        "cts >= pts - INTERVAL 1 HOUR AND cts <= pts")
      drain(p.withWatermark("pts", "1 hour")
        .join(c.withWatermark("cts", "1 hour"), cond), "append")
        .select(col("p_user").as("user_id"), col("purchase_id"),
          col("click_id"))
        .orderBy(col("user_id"), col("purchase_id"), col("click_id"))
    },

    // Stream-stream LEFT OUTER join drained: purchases with no click
    // in their window null-extend AFTER the watermark closes the
    // window. Two sentinel batches (user_id = -1, both event types,
    // far-future ts) push the global watermark past every real
    // window so the tail's outer rows flush — the staging is cached
    // per corpus fingerprint, so bench/verify re-runs stream the
    // same three files.
    "q428_stream_ssouter_final" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val fp = CacheFs.fingerprint(spark, s"$dir/events.parquet")
      val tag = s"stream_ssouter_${CacheFs.AlgoVersion}_$fp"
      val staged = CacheFs.getOrBuild(spark, tag) { stage =>
        val ev = t.events
        ev.coalesce(1).write.mode("overwrite").parquet(s"$stage/p1")
        for (i <- 2 to 3) {
          val base = ev.limit(1).select(
            (col("event_id") + lit(1000000L * i)).as("event_id"),
            (col("ts") + expr(s"INTERVAL ${1000 * i} HOURS")).as("ts"),
            lit(-1L).as("user_id"), col("event_type"),
            col("value"), col("props"))
          base.withColumn("event_type", lit("purchase"))
            .unionByName(base.withColumn("event_type", lit("click")))
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$stage/p$i")
        }
        CacheFs.touch(spark, stage)
      }
      hintParts(spark, staged)
      val stream = spark.readStream.schema(t.events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$staged/p*")
      val p = stream.where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"),
          col("event_id").as("purchase_id"), col("ts").as("pts"))
      val c = stream.where(col("event_type") === "click")
        .select(col("user_id").as("c_user"),
          col("event_id").as("click_id"), col("ts").as("cts"))
      val cond = expr("p_user = c_user AND " +
        "cts >= pts - INTERVAL 1 HOUR AND cts <= pts")
      drain(p.withWatermark("pts", "10 minutes")
        .join(c.withWatermark("cts", "10 minutes"), cond, "left_outer"),
        "append")
        .where(col("p_user") >= 0)
        .select(col("p_user").as("user_id"), col("purchase_id"),
          col("click_id"))
        .orderBy(col("user_id"), col("purchase_id"), col("click_id"))
    },

    // Streaming OHLC candles drained: the declarative min_by/max_by
    // windowed aggregate under Structured Streaming — open/close by
    // (ts, event_id) struct order, the exact tie discipline of the
    // batch q142 rank derivation, whose oracle applies verbatim.
    "q429_stream_ohlc_final" -> { (spark, dir) =>
      val ev = eventsStream(spark, dir)
      floorHint(spark, 4) // r12 A/B: 2.38s at hint 1 -> 2.14s at 4
      drain(ev
        .withWatermark("ts", "2 hours")
        .groupBy(col("user_id"), window(col("ts"), "1 hour").as("w"))
        .agg(
          min_by(col("value"),
            struct(col("ts"), col("event_id"))).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max_by(col("value"),
            struct(col("ts"), col("event_id"))).as("close"),
          count(lit(1)).as("n"))
        .where(col("n") >= 2)
        .select(col("user_id"), col("w.start").as("hr"), col("open"),
          col("high"), col("low"), col("close"), col("n")), "complete")
        .orderBy(col("user_id"), col("hr"))
    },

    // Stream-STATIC dimension enrichment drained: the static side (a
    // deterministic user -> cohort dimension) broadcasts into every
    // micro-batch — zero stream-side state, the standard
    // slowly-changing-dimension pickup for an event firehose; the
    // drained complete-mode aggregate equals the relational join.
    "q437_stream_static_final" -> { (spark, dir) =>
      val dim = Tables(spark, dir).events
        .select(col("user_id")).distinct()
        .withColumn("cohort", pmod(col("user_id"), lit(4)))
      drain(eventsStream(spark, dir)
        .join(broadcast(dim), Seq("user_id"))
        .groupBy(col("cohort"), col("event_type"))
        .agg(count(lit(1)).as("n")), "complete")
        .select(col("cohort"), col("event_type"), col("n"))
        .orderBy(col("cohort"), col("event_type"))
    },

    // Streaming snapshot ingestion drained: the AvailableNow backlog
    // commit produces a versioned table whose LATEST version holds
    // exactly the source rows — the relational read-back is the
    // oracle's plain table scan. Checkpoint + batch-tagged commits
    // make bench/verify re-runs no-op maintains.
    "q409_stream_snapshot_final" -> { (spark, dir) =>
      import graft.sources.VersionedTable
      val staged = stagedTable(spark, dir, "documents")
      val fp = CacheFs.fingerprint(spark, s"$dir/documents.parquet")
      // key the root by corpus fingerprint so testdata regeneration
      // rebuilds cleanly
      val root = new org.apache.hadoop.fs.Path(
        CacheFs.root(spark), s"graft_stream_snap_$fp").toString
      StreamingSnapshots.ingestAvailableNow(
        spark, staged, spark.read.parquet(staged).schema,
        root, checkpoint = s"$root-ckpt")
      VersionedTable.read(
          spark, root, VersionedTable.latestVersion(spark, root))
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    })

  /** Oracle note — DuckDB list_reduce STRUCT-accumulator semantics
    * (verified by probe on 1.0.0, the gate's engine): the fold runs
    * left-to-right and struct fields update SEQUENTIALLY in
    * declaration order, so a later field referencing an
    * earlier-declared field sees the CURRENT step's value, not the
    * previous state. The CUSUM/Kalman recursions below exploit this
    * (e.g. 'minp' reads the just-updated 's'); field order is
    * load-bearing. */
  def oracle: Map[String, String] = Map(

    "q427_stream_ssjoin_final" ->
      """SELECT p.user_id, p.event_id AS purchase_id,
        |  c.event_id AS click_id
        |FROM events p JOIN events c ON p.user_id = c.user_id
        |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        |  AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
        |ORDER BY 1, 2, 3""".stripMargin,

    "q428_stream_ssouter_final" ->
      """SELECT p.user_id, p.event_id AS purchase_id,
        |  c.event_id AS click_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        |  AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
        |ORDER BY 1, 2, 3""".stripMargin,

    "q429_stream_ohlc_final" -> graft.queries.Curation.oracle("q142_ohlc"),

    "q437_stream_static_final" ->
      """SELECT user_id % 4 AS cohort, event_type,
        |  COUNT(*) AS n
        |FROM events GROUP BY 1, 2
        |ORDER BY cohort, event_type""".stripMargin,

    "q387_stream_ewma_final" ->
      """WITH s AS (
        |  SELECT event_type AS key, COUNT(*) AS n,
        |    LIST(value ORDER BY ts, event_id) AS xs
        |  FROM events GROUP BY 1),
        |f AS (
        |  SELECT key, n,
        |    list_reduce(list_prepend(50.0, xs),
        |      (acc, x) -> 0.2 * x + 0.8 * acc) AS z,
        |    list_reduce(list_prepend(1.0,
        |        flatten(list_transform(xs, x -> [0.8, 0.8]))),
        |      (a, b) -> a * b) AS w
        |  FROM s)
        |SELECT key, n, ROUND(z, 6) AS z,
        |  ROUND(50.0 + 3.0 * 20.0
        |    * SQRT(0.2 / 1.8 * (1.0 - w)), 6) AS ucl,
        |  ROUND(50.0 - 3.0 * 20.0
        |    * SQRT(0.2 / 1.8 * (1.0 - w)), 6) AS lcl,
        |  (z > 50.0 + 3.0 * 20.0 * SQRT(0.2 / 1.8 * (1.0 - w))
        |    OR z < 50.0 - 3.0 * 20.0 * SQRT(0.2 / 1.8 * (1.0 - w)))
        |    AS outf
        |FROM f ORDER BY key""".stripMargin,

    "q388_stream_cusum_final" ->
      """WITH s AS (
        |  SELECT event_type AS key, COUNT(*) AS n,
        |    LIST(value ORDER BY ts, event_id) AS xs
        |  FROM events GROUP BY 1),
        |f AS (
        |  SELECT key, n,
        |    list_reduce(
        |      list_prepend(
        |        {'s': CAST(0.0 AS DOUBLE), 'minp': CAST(0.0 AS DOUBLE),
        |         'maxc': CAST(0.0 AS DOUBLE)},
        |        list_transform(xs,
        |          x -> {'s': x, 'minp': CAST(0.0 AS DOUBLE),
        |                'maxc': CAST(0.0 AS DOUBLE)})),
        |      (acc, e) -> {
        |        's': acc.s + (e.s - CAST(50.0 AS DOUBLE)),
        |        'minp': LEAST(acc.minp, acc.s),
        |        'maxc': GREATEST(acc.maxc, acc.s - acc.minp)}) AS st
        |  FROM s)
        |SELECT key, n, ROUND(st.maxc, 6) AS max_cusum,
        |  ROUND(st.s - st.minp, 6) AS final_cusum
        |FROM f ORDER BY key""".stripMargin,

    "q389_stream_kalman_final" ->
      """WITH s AS (
        |  SELECT event_type AS key, COUNT(*) AS n,
        |    LIST(value ORDER BY ts, event_id) AS xs
        |  FROM events GROUP BY 1),
        |f AS (
        |  SELECT key, n,
        |    list_reduce(
        |      list_prepend(
        |        {'n': CAST(0 AS BIGINT), 'g': CAST(0.0 AS DOUBLE),
        |         'l': CAST(0.0 AS DOUBLE), 'p': CAST(0.0 AS DOUBLE)},
        |        list_transform(xs,
        |          x -> {'n': CAST(0 AS BIGINT),
        |                'g': CAST(0.0 AS DOUBLE), 'l': x,
        |                'p': CAST(0.0 AS DOUBLE)})),
        |      (acc, e) -> CASE WHEN acc.n = 0 THEN
        |          {'n': CAST(1 AS BIGINT), 'g': CAST(0.0 AS DOUBLE),
        |           'l': e.l, 'p': CAST(4.0 AS DOUBLE)}
        |        ELSE {
        |          'n': acc.n + 1,
        |          'g': (acc.p + CAST(0.1 AS DOUBLE))
        |            / ((acc.p + CAST(0.1 AS DOUBLE))
        |               + CAST(4.0 AS DOUBLE)),
        |          'l': acc.l + acc.g * (e.l - acc.l),
        |          'p': (CAST(1.0 AS DOUBLE) - acc.g)
        |            * (acc.p + CAST(0.1 AS DOUBLE))} END)
        |      AS st
        |  FROM s)
        |SELECT key, n, ROUND(st.l, 6) AS level,
        |  ROUND(st.p, 6) AS p_cov, ROUND(st.g, 6) AS gain
        |FROM f ORDER BY key""".stripMargin,

    "q390_stream_topk_final" ->
      """WITH c AS (
        |  SELECT event_type AS "group",
        |    CAST(user_id AS VARCHAR) AS term,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT "group", term, n, ROW_NUMBER() OVER
        |    (PARTITION BY "group" ORDER BY n DESC, term) AS rk
        |  FROM c)
        |SELECT "group", term, n FROM r WHERE rk <= 5
        |ORDER BY "group", n DESC, term""".stripMargin,

    "q391_stream_reach_final" ->
      """SELECT event_type AS seg,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS reach
        |FROM events GROUP BY 1 ORDER BY seg""".stripMargin,

    "q400_stream_asof_final" ->
      """WITH s AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS side
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |o AS (
        |  SELECT user_id, ts, event_id, side,
        |    LAST_VALUE(CASE WHEN side = 0 THEN event_id END
        |      IGNORE NULLS) OVER w AS ref_event_id,
        |    LAST_VALUE(CASE WHEN side = 0 THEN value END
        |      IGNORE NULLS) OVER w AS ref_value
        |  FROM s
        |  WINDOW w AS (PARTITION BY user_id
        |    ORDER BY ts, side, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT user_id, event_id, ts, ref_event_id, ref_value
        |FROM o WHERE side = 1
        |ORDER BY user_id, event_id""".stripMargin,

    "q403_stream_indexed_bm25" ->
      graft.queries.Pipeline.oracle("q222_bm25_indexed"),

    "q396_stream_match_final" ->
      """WITH pos AS (SELECT user_id, ts, event_id, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS p
        |  FROM events),
        |cum AS (SELECT user_id, ts, event_type, p,
        |    SUM(CASE WHEN event_type <> 'view' THEN 1 ELSE 0 END)
        |      OVER w AS nv,
        |    MAX(CASE WHEN event_type = 'click' THEN p END) OVER w AS cp
        |  FROM pos
        |  WINDOW w AS (PARTITION BY user_id ORDER BY p
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |nv_at AS (SELECT user_id, event_type, p, nv, cp,
        |    MAX(CASE WHEN event_type = 'click' THEN nv END) OVER
        |      (PARTITION BY user_id ORDER BY p
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cnv
        |  FROM cum),
        |matches AS (SELECT user_id, cp, p,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY p)
        |      AS match_id
        |  FROM nv_at
        |  WHERE event_type = 'purchase' AND cp IS NOT NULL
        |    AND nv - 1 - cnv = 0)
        |SELECT m.user_id, m.match_id,
        |  CAST(COUNT(*) AS INT) AS n_rows,
        |  MIN(r.ts) AS first_ord, MAX(r.ts) AS last_ord,
        |  STRING_AGG(r.event_type, '->' ORDER BY r.p) AS path
        |FROM matches m
        |JOIN pos r ON r.user_id = m.user_id
        |  AND r.p BETWEEN m.cp AND m.p
        |GROUP BY m.user_id, m.match_id
        |ORDER BY m.user_id, m.match_id""".stripMargin,

    "q397_stream_dedup_final" ->
      """SELECT md5(array_to_string(list_sort(list_distinct(
        |    regexp_split_to_array(text, '\s+'))), ' ')) AS canon_key,
        |  MIN(doc_id) AS doc_id
        |FROM documents
        |GROUP BY 1 ORDER BY canon_key""".stripMargin,

    "q398_stream_matview_final" ->
      graft.queries.Curation.oracle("q249_matview"),

    "q399_stream_seqpat_final" ->
      graft.queries.Mining.oracle("q291_seq_patterns"),

    "q393_stream_markov_final" ->
      """WITH s AS (
        |  SELECT user_id, event_type,
        |    LAG(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events)
        |SELECT prev AS from_type, event_type AS to_type,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM s WHERE prev IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q394_stream_nb_model" ->
      """WITH o AS (
        |  SELECT event_type AS label,
        |    CAST(hour(ts) AS BIGINT) AS f1,
        |    CAST(FLOOR(value / 50.0) AS BIGINT) AS f2
        |  FROM events),
        |tot AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_l
        |  FROM o GROUP BY 1),
        |c AS (
        |  SELECT label, 'f1' AS feature, f1 AS value,
        |    CAST(COUNT(*) AS BIGINT) AS n FROM o GROUP BY 1, 3
        |  UNION ALL
        |  SELECT label, 'f2' AS feature, f2 AS value,
        |    CAST(COUNT(*) AS BIGINT) AS n FROM o GROUP BY 1, 3)
        |SELECT c.label, t.n_l, c.feature, c.value, c.n
        |FROM c JOIN tot t ON t.label = c.label
        |ORDER BY c.label, c.feature, c.value""".stripMargin,

    // the batch first-touch subsequence funnel (q145's semantics):
    // first view, first click strictly after it, any purchase
    // strictly after that
    "q416_stream_funnel_final" ->
      """WITH v AS (SELECT user_id, MIN(ts) AS t0 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, MIN(e.ts) AS t1
        |  FROM events e JOIN v USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > v.t0 GROUP BY 1),
        |p AS (SELECT DISTINCT e.user_id
        |  FROM events e JOIN c USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t1)
        |SELECT user_id FROM p ORDER BY user_id""".stripMargin,

    // full minhash (k=16, 4 bands x 4 rows) recomputed relationally;
    // each (band, bsig) bucket keeps its first 50 members by doc_id
    // (the streaming cap keeps first-seen = lowest doc_id within the
    // single staged batch) and contributes all within-bucket pairs
    "q404_stream_lsh_final" ->
      """WITH toks AS (SELECT doc_id,
        |    list_distinct(regexp_split_to_array(text, '\s+')) AS tk
        |  FROM documents),
        |th AS (SELECT doc_id, list_transform(tk, t ->
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(t, ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (h, c) -> (h * 31 + c) % 1000000000000000)
        |      % 2147483647) AS hs
        |  FROM toks),
        |mh AS (SELECT doc_id, list_transform(range(0, 16), i ->
        |    list_min(list_transform(hs, h ->
        |      ((1000003 + i * 7919) * h + (12345 + i * 271))
        |        % 2147483647))) AS sig
        |  FROM th),
        |bands AS (SELECT doc_id, b.b AS band,
        |    mh.sig[b.b*4+1:b.b*4+4] AS bsig
        |  FROM mh CROSS JOIN (SELECT unnest(range(0, 4)) AS b) b),
        |members AS (SELECT band, bsig, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY band, bsig
        |      ORDER BY doc_id) AS rn
        |  FROM bands),
        |kept AS (SELECT * FROM members WHERE rn <= 50)
        |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |FROM kept a JOIN kept b
        |  ON a.band = b.band AND a.bsig = b.bsig
        |  AND a.doc_id < b.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin,

    // batch 30-minute-gap sessionization (q47's derivation without
    // the session_id column — the timer emission carries none)
    "q405_stream_sessions_final" ->
      """WITH gapped AS (SELECT user_id, ts, event_id,
        |    CASE WHEN LAG(ts) OVER w IS NULL THEN 1
        |      WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w)
        |        > 1800 * 1000000 THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (SELECT user_id, ts,
        |    CAST(SUM(new_session) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS sid
        |  FROM gapped)
        |SELECT user_id, MIN(ts) AS session_start,
        |  MAX(ts) AS session_end,
        |  CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    // per-query independence makes the micro-batched serving union
    // equal the batch IVF query — q101's oracle verbatim
    "q406_stream_ann_final" ->
      graft.queries.Pipeline.oracle("q101_ann_ivf"),

    // q70's curation semantics minus avg_quality: keeper = lowest
    // doc_id per canonical token set (the keyed streaming dedup's
    // contract), then the stateless quality/langid gates and the
    // per-source mix accounting
    "q408_stream_pipeline_final" ->
      """WITH base AS (SELECT doc_id, source, text,
        |    regexp_split_to_array(text, '\s+') AS toks,
        |    CAST(LENGTH(text) AS DOUBLE) AS n_chars,
        |    CAST(LENGTH(regexp_replace(text, '[^.!?,;:]', '', 'g'))
        |      AS DOUBLE) AS n_punct,
        |    md5(array_to_string(list_sort(list_distinct(
        |      regexp_split_to_array(text, '\s+'))), ' ')) AS canon
        |  FROM documents),
        |scored AS (SELECT doc_id, source, toks, canon,
        |    MIN(doc_id) OVER (PARTITION BY canon) AS keeper,
        |    LEAST(CAST(len(toks) AS DOUBLE) / 200.0, 1.0) * 0.5
        |      + (CAST(len(list_filter(toks, x -> x IN
        |          ('the','a','of','and','to','in','is'))) AS DOUBLE)
        |        / CAST(len(toks) AS DOUBLE)) * 0.3
        |      + (1.0 - n_punct / n_chars) * 0.2 AS quality,
        |    CASE WHEN len(list_filter(toks, x -> x IN
        |        ('the','a','of','and','to','in','is'))) >=
        |      GREATEST(
        |        len(list_filter(toks, x -> x IN
        |          ('der','die','das','und','ist','ein'))),
        |        len(list_filter(toks, x -> x IN
        |          ('el','la','de','los','que','es'))),
        |        len(list_filter(toks, x -> x IN
        |          ('le','la','les','et','est','un'))),
        |        len(list_filter(toks, x -> x IN
        |          ('的','是','了','在','我'))), 1)
        |      THEN 'en' ELSE 'other' END AS pred
        |  FROM base)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CAST(len(toks) AS BIGINT)) AS BIGINT)
        |    AS total_tokens
        |FROM scored
        |WHERE doc_id = keeper AND quality >= 0.3 AND pred = 'en'
        |GROUP BY source ORDER BY source""".stripMargin,

    // the drained snapshot's latest version IS the source relation
    "q409_stream_snapshot_final" ->
      """SELECT doc_id, source, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,

    "q395_stream_windowdedup_final" ->
      """WITH tf AS (SELECT doc_id,
        |    list_transform(
        |      list_filter(regexp_split_to_array(LOWER(text),
        |        '[^a-z0-9]+'), x -> LENGTH(x) > 0),
        |      t -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(string_split(SUBSTRING(t, 1, 256), ''),
        |          c -> CAST(ascii(c) AS BIGINT))),
        |        (h, c) -> (h * 31 + c) % 1000000000000000)) AS tf
        |  FROM documents),
        |wins AS (SELECT doc_id, unnest(
        |    list_transform(range(1, GREATEST(len(tf) - 10, 1)), i ->
        |      list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        tf[i : i + 11]),
        |        (h, f) -> (h * 31 + f) % 1000000000000000))) AS h
        |  FROM tf),
        |occ AS (SELECT h, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
        |  FROM wins)
        |SELECT h, doc_id AS dup_doc, CAST(2 AS BIGINT) AS occ
        |FROM occ WHERE rn = 2
        |ORDER BY h, dup_doc""".stripMargin)
}
