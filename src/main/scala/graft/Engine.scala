package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistryBase
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

import graft.plans._

/** Session-level integration: a SparkSessionExtensions hook that makes
  * the graft rules, planner strategies, SQL productions and native
  * expressions part of a session, and a session factory with the
  * settings every graft deployment wants (AQE, sane shuffle
  * parallelism, UTC).
  *
  * This hook is the only way graft reaches a session. A supported
  * session is one built by [[Engine.session]], or any session started
  * with `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // Custom logical operators: lowered right after resolution so the
    // optimizer and planner only ever see standard nodes.
    ext.injectPostHocResolutionRule(_ => RewriteDistinctOn)
    // Opt-in optimizer rewrite: point-in-interval theta join →
    // bucket-expansion equi-join (spark.graft.rangeJoin.bucketWidth).
    ext.injectOptimizerRule(_ => RangeJoinRewrite)
    // Opt-in optimizer rewrite: keyed band join (equi-key + point in
    // interval) → the sorted-sweep BandJoinPlan
    // (spark.graft.bandJoin.enabled).
    ext.injectOptimizerRule(_ => BandJoinRewrite)
    // Whole-operator physical extension: AsOfJoinPlan survives to the
    // planner, where this strategy turns it into AsOfJoinExec (the
    // sorted-merge as-of join).
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    // Keyed band/interval join: sorted sweep instead of hash-join +
    // post-filter all-pairs (BandJoinPlan -> BandJoinExec).
    ext.injectPlannerStrategy(_ => BandJoinStrategy)
    // Custom SQL productions (GRAFT MATCH / GRAFT DISTINCT ON);
    // everything else delegates to Spark's parser.
    ext.injectParser { (session, delegate) =>
      new GraftSqlParser(() => session, delegate)
    }
    GraftExtensions.functions.foreach(ext.injectFunction)
  }
}

object GraftExtensions {
  type FnDesc =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** Every graft SQL function: its name, the argument counts it
    * accepts, and its builder. */
  val functions: Seq[FnDesc] = Seq(
    // vectors
    fn("graft_cosine", 2)(es => CosineSimF(es(0), es(1))),
    fn("graft_dist_sq", 2)(es => DistSqF(es(0), es(1))),
    fn("graft_dot", 2)(es => DotF(es(0), es(1))),
    // text
    fn("graft_fingerprint", 1)(es => FingerprintHash(es(0), 256)),
    fn("graft_sorted_intersect_count", 2)(
      es => SortedIntersectCount(es(0), es(1))),
    fn("graft_minhash", 2)(TextExpressions.minhash),
    fn("graft_shingle_hashes", 2)(TextExpressions.shingleHashes),
    fn("graft_simhash64", 1)(es => Simhash64(es(0))),
    fn("graft_window_hashes", 2)(TextExpressions.windowHashes),
    fn("graft_jaro_winkler", 2)(es => JaroWinkler(es(0), es(1))),
    // basket-mining combination generators
    fn("graft_pairs", 1)(es => ArrayPairs(es(0))),
    fn("graft_triples", 1)(es => ArrayTriples(es(0))),
    // scan folds over ordered arrays
    fn("graft_ewma_chart", 5)(
      es => EwmaChartScan(es(0), es(1), es(2), es(3), es(4))),
    fn("graft_kalman_scan", 3)(ScanFolds.kalman),
    fn("graft_holt_scan", 3)(ScanFolds.holt),
    fn("graft_ewma_smooth_scan", 2)(ScanFolds.ewmaSmooth),
    fn("graft_hw_scan", 5)(ScanFolds.holtWinters),
    // top-k and frequency sketches
    fn("graft_topk", 2, 3)(SpaceSavingTopK.fromExprs),
    fn("graft_topk_by", 4)(TopKBy.fromExprs),
    fn("graft_cms", 3)(CountMinSketch.aggFromExprs),
    fn("graft_cms_estimate", 4)(CountMinSketch.estFromExprs),
    fn("graft_bloom_agg", 3)(BloomPrune.aggExpr),
    fn("graft_bloom_contains", 2)(BloomPrune.containsExpr),
    // theta/KMV distinct sketches with set algebra (intersect and
    // a-not-b, which HLL can't do) and stored-sketch re-aggregation
    fn("graft_theta", 1, 2)(ThetaSketch.aggFromExprs),
    fn("graft_theta_merge", 1)(es => ThetaMergeAgg(es(0))),
    fn("graft_theta_estimate", 1)(es => ThetaEstimate(es(0))),
    fn("graft_theta_union", 2)(es => ThetaUnion(es(0), es(1))),
    fn("graft_theta_intersect", 2)(es => ThetaIntersect(es(0), es(1))),
    fn("graft_theta_anotb", 2)(es => ThetaANotB(es(0), es(1))))

  /** A function description whose builder first checks the argument
    * count, so a wrong call names the function and what it accepts. */
  private def fn(name: String, counts: Int*)(
      build: Seq[Expression] => Expression): FnDesc = {
    val info = FunctionRegistryBase.expressionInfo[Expression](name, None)
    (FunctionIdentifier(name), info, { es =>
      require(counts.contains(es.size),
        s"$name takes ${counts.mkString(" or ")} argument(s), " +
          s"got ${es.size}")
      build(es)
    })
  }
}

object Engine {
  /** SparkSession with graft extensions and scale-sane defaults. */
  def session(
      master: String = "local[32]",
      shufflePartitions: Int = 32): SparkSession =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // AQE small-partition coalescing: Spark's default
      // parallelismFirst=true. r6-r10 ran =false ("size by bytes, not
      // cluster width"), which is right when shuffle BYTES are the
      // cost — but it coalesces row-heavy/byte-light shuffles (e.g.
      // 600k small grouped structs ~ a few MB) to ONE partition,
      // serializing CPU-dense aggregates (measured: the q300/q218
      // final aggregates ran 2.7-2.8s on 1 task with 31 cores idle)
      // and flattening the core-count scaling the harness measures.
      // At production scale the two settings agree (bytes >> advisory
      // size ⇒ byte-based sizing either way); they differ only in the
      // small-bytes regime, where wasting the cluster is the wrong
      // call — so the shipped default is also the scale-correct one.
      // Broadcast/shuffle blocks are only unpersisted when the driver
      // GC collects their variables (ContextCleaner weak refs); the
      // default periodic-GC safety net is 30min, so a long-lived
      // session accumulates dead broadcast blocks until memory
      // pressure stalls it. 45s keeps a many-query session flat.
      .config("spark.cleaner.periodicGC.interval", "45s")
      // Whole-stage-codegen class cache: default 100 entries. A
      // long-lived session serving a large query registry (the
      // engine's actual deployment shape — and the bench: 459 queries
      // x 2 passes in one JVM) evicts every compiled class between
      // re-runs of the same query, so EVERY execution pays janino
      // compilation again (hundreds of ms per codegen unit, several
      // units per query). 8192 keeps every distinct unit compiled
      // once; memory cost is metaspace-resident generated classes
      // (~KBs each), trivial next to executor memory.
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.sql.session.timeZone", "UTC")
      // The events testdata has shipped `ts` as TIMESTAMP(NANOS), which
      // the parquet reader accepts only as LongType nanos;
      // Tables.normalizeEventsTs turns every layout into TIMESTAMP.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Streaming checkpoints on `file:` go through the FileSystem API.
      // Without libhadoop, Spark's default FileContext manager forks
      // `chmod`/`stat` child processes on every atomic write: one
      // create+rename measured 25-30 ms, against ~5.6 ms through the
      // `file:` FileSystem and ~3 ms through the raw local one that
      // SchemeCheckpointFileManager uses (4 vCPU). A micro-batch makes
      // several such writes (source log, offsets WAL, commit log, one
      // state delta per partition). Other schemes keep Spark's default.
      .config(graft.streaming.SchemeCheckpointFileManager.ConfKey,
        classOf[graft.streaming.SchemeCheckpointFileManager].getName)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
