package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{DataType, LongType, StructType}

/** SQL-dialect extension (reference: sql/parser/SqlQueryParser.scala —
  * sclera's parser owns custom productions like MATCH and DISTINCT ON;
  * Spark's is extended, not replaced, via injectParser).
  *
  * Two graft productions are recognized at statement level, everything
  * else delegates to Spark's parser:
  *
  *   GRAFT MATCH '<pattern>' ON <table>
  *     KEY <col> ORDER <col> LABEL <col> [VALUE <col>]
  *   GRAFT MATCH '<pattern>' ON <table> KEY <col> ORDER <col>
  *     LABEL BY <col> [WHEN '<v>' THEN <label> ...] [ELSE <label>]
  *     [ALSO <label>]   (column-value label mapping with multi-label
  *     rows: ALSO attaches a wildcard label to every row)
  *
  *   GRAFT DISTINCT ON (<col>[, ...]) FROM <table>
  *     ORDER BY <col> [ASC|DESC] [, ...]
  *
  *   GRAFT ASOF <probe_table> REF <ref_table>
  *     KEY <col>[, ...] ORDER <col>
  *
  *   GRAFT RANGE <points_table> POINT <col> IN <intervals_table>
  *     LO <col> HI <col> WIDTH <number>
  *
  *   GRAFT BAND <points_table> POINT <col> IN <intervals_table>
  *     LO <col> HI <col> KEY <col>[, ...]
  *
  *   GRAFT IMPUTE <table> VALUE <col> KEY <col>[, ...]
  *   GRAFT IMPUTE <table> SET <col> WITH <classifier> [FLAG <col>]
  *     (classifier-backed imputation: NULL targets take the named
  *     model's prediction, FLAG marks the filled rows)
  *   GRAFT IMPUTE <table> SET <col> BAYES ON <c1>[, ...] [FLAG <col>]
  *     (inline-trained categorical naive Bayes over the table's own
  *     complete columns — the reference imputer's shape)
  *
  *   GRAFT CLUSTER <table> K <n> ITERS <m>
  *
  *   GRAFT TYPEINFER <table> [NULLS ('NA', ...)] [LIMIT <n>] [APPLY]
  *
  *   GRAFT PROFILE <table>
  *   GRAFT FDCHECK <table> (<lhs> -> <rhs>[, ...])
  *   GRAFT SKEW <table> KEY <col>
  *   GRAFT SEARCH <table> ID <col> TEXT <col> FOR '<terms>' TOP <n>
  *     [METHOD BM25|QL]  (Okapi BM25 default; QL = query likelihood
  *     with Dirichlet smoothing)
  *
  *   GRAFT ZORDER <table> BY (<x>, <y>) FILES <n> INTO '<path>'
  *
  *   GRAFT EXPLAIN <statement>
  *
  *   GRAFT CREATE CLASSIFIER <name> TARGET <col> ON <table>
  *   GRAFT CREATE CLUSTERER <name> K <n> ITERS <m> ON <table>
  *   GRAFT DROP CLASSIFIER|CLUSTERER <name>
  *   GRAFT CLASSIFIED <table> WITH <name>
  *
  *   GRAFT ADD LOCATION <name> CSV|JSON|PARQUET|TEXT '<path>'
  *     [SCHEMA '<ddl>']
  *   GRAFT REMOVE LOCATION <name> / GRAFT LIST LOCATIONS
  *   GRAFT DESCRIBE LOCATION <name>
  *   GRAFT LIST MODELS|CLASSIFIERS|CLUSTERERS
  *
  *   GRAFT CREATE [TEMP] VIEW <name> AS <stmt>   (any graft
  *     statement as the definition) / GRAFT DROP VIEW <name>
  *   GRAFT LIST|DESCRIBE VIEWS   (DESCRIBE = long format with the
  *     defining statement)
  *   GRAFT ADD TABLE <catalog>.<table> [AS <name>]  (register a
  *     remote table of an ATTACHed catalog under a local name; the
  *     DSv2 pushdown lanes survive) / GRAFT REMOVE TABLE <name>
  *   GRAFT LIST|DESCRIBE TABLES / GRAFT LIST REMAINING <catalog>
  *     (remote tables not yet added — the discovery diff)
  *   ... EXTERNAL(<name>) ... in any ordinary statement's FROM
  *
  *   GRAFT DELETE FROM <view> WHERE <cond>
  *   GRAFT UPDATE <view> SET <col> = <expr> WHERE <cond>
  *   GRAFT INSERT INTO <view> VALUES (<row>)[, ...]
  *   GRAFT MERGE INTO <view> USING <view> ON <key>
  *   GRAFT BATCH <dml>; <dml>; ...   (SqlUpdateBatch parity: a
  *     semicolon-separated list of DML statements applied in order)
  *
  *   GRAFT TEXT PARSE '<regex>' IN <col> TO <c1>[, ...] FROM <table>
  *
  *   ... OFFSET <n> ROWS / FETCH FIRST <n> ROWS ONLY (ANSI pagination,
  *   rewritten to Spark LIMIT/OFFSET in any ordinary statement)
  *
  *   GRAFT SIMJOIN <table> ID <col> TEXT <col> THRESHOLD <n>/<d>
  *   GRAFT DEDUP <new> AGAINST <old> ID <col> TEXT <col>
  *     THRESHOLD <n>/<d>   (cross-corpus near-dup: the new shard
  *     deduped against the existing corpus, pairs across sides only)
  *
  *   GRAFT OVERLAP <left> (<lo>, <hi>) WITH <right> (<lo>, <hi>)
  *     [KEY <col>[, ...]] [WIDTH <number>]
  *
  *   GRAFT SAMPLE <table> BY <col> PCT <n>   (deterministic hash
  *     sample — portable fingerprint bucket, reproducible anywhere)
  *
  *   GRAFT TOPK <table> KEY <col> SCORE <col> ID <col> K <n>
  *     (bounded top-k per group via graft_topk_by — never a window)
  *
  *   GRAFT NATIVE <catalog> '<stmt>'   (raw pass-through to the
  *     attached DB — sclera's `@<location> '<stmt>'`)
  *   GRAFT REACH <table> KEY <col> BY <col> [K <n>]
  *   GRAFT DRIFT <table> VALUE <col> GROUP <col> BINS <n>
  *     (binned two-sample KS of each group vs the rest)
  *
  *   GRAFT SMOOTH <table> TIME <col> VALUE <col>
  *     KALMAN <q> <r> | HOLT <a> <b> | HOLTWINTERS <m> <a> <b> <g>
  *     | EWMA <lambda> <L>
  *     (series smoothing over a bounded series relation: local-level
  *     Kalman filter, Holt double smoothing, additive Holt-Winters
  *     with season length m — one-step forecasts per row — or the
  *     EWMA control chart with time-varying L-sigma limits)
  *
  *   GRAFT TREND <table> KEY <col> TIME <col> VALUE <col>
  *     METHOD THEILSEN | MANNKENDALL
  *     (robust monotone trend per key over a bounded series relation:
  *     Theil-Sen median slope/intercept, or the Mann-Kendall test
  *     with tie-corrected variance, Z, and tau-b)
  *
  *   GRAFT CREATE INDEX <name> ON '<path>'|<catalog>.<table> (<col>)
  *   GRAFT DROP INDEX <name> / GRAFT LIST INDEXES
  *     (unified index DDL: file layouts lower to the per-file Bloom
  *     manifest, attached catalogs to real vendor CREATE INDEX)
  *
  *   GRAFT MANIFEST BUILD '<layout>' KEY <col>
  *   GRAFT MANIFEST SCAN '<layout>' KEY <col> FROM '<lo>' TO '<hi>'
  *   GRAFT MANIFEST BLOOM '<layout>' KEY <col>
  *   GRAFT MANIFEST LOOKUP '<layout>' KEY <col> EQ <n>
  *     (per-file Bloom manifest: point-lookup data skipping where
  *     min/max envelopes cannot prune — high-cardinality keys in
  *     hash-clustered layouts)
  *     (file-level min/max manifest over a clustered layout: BUILD
  *     stages one envelope row per file; SCAN prunes the file list
  *     driver-side before reading — Delta/Iceberg data skipping)
  *
  *   GRAFT LINK <dirty> COL <col> WITH <clean> COL <col> MIN <pct>
  *     (phonetic-blocked Jaro-Winkler record linkage, best match per
  *     distinct dirty value at >= pct/100)
  *
  *   GRAFT CREATE RECOMMENDER <name> USER <col> ITEM <col> ITERS <n>
  *     ON <table> / GRAFT RECOMMEND <name> USER <id> K <k> /
  *     GRAFT DROP RECOMMENDER <name>  (named fixed-point ALS model;
  *     scoring = exact integer micro^2 dot products)
  *
  *   GRAFT SNAPSHOT <view> INTO '<root>' / GRAFT VERSIONS '<root>' /
  *   GRAFT READ '<root>' VERSION <n> /
  *   GRAFT DIFF '<root>' KEY <col> FROM <a> TO <b> /
  *   GRAFT VACUUM '<root>' KEEP <n>
  *     (versioned tables: immutable snapshot commits, version log,
  *     pinned time-travel reads, row-level version diff, bounded
  *     time-travel horizon — vacuumed version numbers never reused)
  *
  *   GRAFT EXPORT <view> INTO '<path>' FORMAT CSV|JSON|PARQUET
  *     (materialize a view to an external format target)
  *
  *   GRAFT SAVE CATALOG / GRAFT LOAD CATALOG  (durable location
  *     registry in embedded Derby — definitions survive the session,
  *     sclera's persistent-metadata-store behavior)
  *
  *   ... QUALIFY <window-predicate> ... in an ordinary top-level
  *   SELECT (lowered to project + outer filter)
  *
  * MATCH compiles to the SeqMatchOp mapPartitions plan; DISTINCT ON
  * builds the custom DistinctOnPlan logical node, which the injected
  * RewriteDistinctOn rule lowers; ASOF builds the AsOfJoinPlan logical
  * node, which the injected AsOfJoinStrategy plans as the sorted-merge
  * AsOfJoinExec — the same front-door/back-door split as the reference
  * (parser produces algebra nodes, the planner lowers them).
  */
class GraftSqlParser(spark: () => SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  // optional PIVOT clause (reference: SqlQueryParser.scala:343-362 —
  // "<fn> FOR <col> IN (labels)" pivots a match aggregate to one
  // column per label, the label-targeted pivot inside MATCH)
  private val MatchRe =
    ("""(?is)\s*GRAFT\s+MATCH\s+'([^']+)'\s+ON\s+(\w+)\s+KEY\s+(\w+)""" +
      """\s+ORDER\s+(\w+)\s+LABEL\s+(\w+)(?:\s+VALUE\s+(\w+))?""" +
      """(?:\s+PIVOT\s+(COUNT|SUM|MIN|MAX|AVG)\s+FOR\s*""" +
      """\(([^)]+)\))?\s*""").r

  // MATCH labels from a column (reference analytics/sequence/labeler/
  // rowlabeler/ColumnRowLabeler.scala:29-44): LABEL BY <col> maps the
  // column's values to pattern labels (WHEN '<v>' THEN <label>, ELSE
  // <label> for unmapped values), and ALSO <label> attaches a
  // wildcard label to EVERY row — multi-label rows feeding the same
  // Thompson NFA. With no WHEN/ELSE the column value itself is the
  // label.
  private val MatchByRe =
    ("""(?is)\s*GRAFT\s+MATCH\s+'([^']+)'\s+ON\s+(\w+)\s+KEY\s+(\w+)""" +
      """\s+ORDER\s+(\w+)\s+LABEL\s+BY\s+(\w+)""" +
      """((?:\s+WHEN\s+'[^']*'\s+THEN\s+\w+)*)""" +
      """(?:\s+ELSE\s+(\w+))?(?:\s+ALSO\s+(\w+))?\s*""").r

  private val MatchWhenRe =
    """(?is)WHEN\s+'([^']*)'\s+THEN\s+(\w+)""".r

  // unified index DDL (reference SqlStatement.scala:164-175): one
  // statement, two lowerings — '<path>' targets build the per-file
  // Bloom manifest, <catalog>.<table> targets run real vendor
  // CREATE/DROP INDEX through the GRAFT NATIVE connection lane
  private val CreateIndexRe =
    ("""(?is)\s*GRAFT\s+CREATE\s+INDEX\s+(\w+)\s+ON\s+""" +
      """('[^']+'|\w+\.\w+)\s*\(\s*([\w,\s]+?)\s*\)\s*""").r
  private val DropIndexRe =
    """(?is)\s*GRAFT\s+DROP\s+INDEX\s+(\w+)\s*""".r
  private val ListIndexesRe =
    """(?is)\s*GRAFT\s+LIST\s+INDEXES\s*""".r

  // cross-corpus near-dup front door (incremental ingestion: the new
  // table deduped AGAINST the existing corpus; threshold as an exact
  // rational like SIMJOIN). The AGAINST STORE form reads the old side
  // from the PERSISTED signature store — the accumulated corpus is
  // never re-scanned, per-shard cost is O(shard + candidates).
  private val DedupAgainstRe =
    ("""(?is)\s*GRAFT\s+DEDUP\s+(\w+)\s+AGAINST\s+(\w+)\s+ID\s+(\w+)""" +
      """\s+TEXT\s+(\w+)\s+THRESHOLD\s+(\d+)\s*/\s*(\d+)\s*""").r
  private val DedupAgainstStoreRe =
    ("""(?is)\s*GRAFT\s+DEDUP\s+(\w+)\s+AGAINST\s+STORE\s+'([^']+)'""" +
      """\s+ID\s+(\w+)\s+TEXT\s+(\w+)""" +
      """\s+THRESHOLD\s+(\d+)\s*/\s*(\d+)\s*""").r
  // signature-store maintenance: BUILD writes the old corpus's banded
  // signatures + token sets once; APPEND folds a newly cleaned shard
  // in with O(shard) work (parquet append — stored rows untouched)
  private val DedupStoreRe =
    ("""(?is)\s*GRAFT\s+DEDUP\s+STORE\s+(BUILD|APPEND)\s+(\w+)""" +
      """\s+ID\s+(\w+)\s+TEXT\s+(\w+)\s+INTO\s+'([^']+)'\s*""").r

  private val CompactRe =
    ("""(?is)\s*GRAFT\s+COMPACT\s+'([^']+)'\s+INTO\s+'([^']+)'""" +
      """\s+ROWS\s+(\d+)\s*""").r

  private val SeqPatRe =
    ("""(?is)\s*GRAFT\s+SEQPAT\s+(\w+)\s+KEY\s+(\w+)""" +
      """\s+ORDER\s+(\w+)\s+LABEL\s+(\w+)\s*""").r

  private val DistinctOnRe =
    ("""(?is)\s*GRAFT\s+DISTINCT\s+ON\s*\(([^)]+)\)\s+FROM\s+(\w+)""" +
      """\s+ORDER\s+BY\s+(.+?)\s*""").r

  private val RangeRe =
    ("""(?is)\s*GRAFT\s+RANGE\s+(\w+)\s+POINT\s+(\w+)\s+IN\s+(\w+)""" +
      """\s+LO\s+(\w+)\s+HI\s+(\w+)\s+WIDTH\s+([0-9.]+)\s*""").r

  private val BandRe =
    ("""(?is)\s*GRAFT\s+BAND\s+(\w+)\s+POINT\s+(\w+)\s+IN\s+(\w+)""" +
      """\s+LO\s+(\w+)\s+HI\s+(\w+)\s+KEY\s+([\w,\s]+?)\s*""").r

  private val AsOfRe =
    ("""(?is)\s*GRAFT\s+ASOF\s+(\w+)\s+REF\s+(\w+)""" +
      """\s+KEY\s+([\w,\s]+?)\s+ORDER\s+(\w+)\s*""").r

  // the reference's second ALIGN mode (ALIGN ... ON dist MARGIN n,
  // AlignTableResult.scala): banded dynamic-time-warping alignment of
  // two ordered streams per key
  private val DtwRe =
    ("""(?is)\s*GRAFT\s+DTW\s+(\w+)\s+WITH\s+(\w+)\s+KEY\s+(\w+)""" +
      """\s+ORDER\s+(\w+)\s+VALUE\s+(\w+)(?:\s+MARGIN\s+(\d+))?\s*""").r

  private val ImputeRe =
    ("""(?is)\s*GRAFT\s+IMPUTE\s+(\w+)\s+VALUE\s+(\w+)""" +
      """\s+KEY\s+([\w,\s]+?)\s*""").r

  // classifier-backed IMPUTED (reference analytics/ml/imputer:
  // ImputeResult scores a trained Classifier; ImputeSpec
  // .flagColRefOpt): fill NULLs in SET <col> by scoring the named
  // model; FLAG adds the imputed-row marker column
  // a LIST of impute specs (reference rep1sep: IMPUTED WITH m1(c1)
  // FLAG f1, m2(c2), ... — several columns filled in ONE clause)
  private val ImputeWithRe =
    ("""(?is)\s*GRAFT\s+IMPUTE\s+(\w+)\s+""" +
      """(SET\s+\w+\s+WITH\s+\w+(?:\s+FLAG\s+\w+)?""" +
      """(?:\s*,\s*SET\s+\w+\s+WITH\s+\w+(?:\s+FLAG\s+\w+)?)*)\s*""").r
  private val ImputeSpecRe =
    """(?is)SET\s+(\w+)\s+WITH\s+(\w+)(?:\s+FLAG\s+(\w+))?""".r

  // inline-trained categorical lane (the reference imputer trains on
  // the table's OWN complete columns): add-1-smoothed naive Bayes
  // over the listed feature columns
  private val ImputeBayesRe =
    ("""(?is)\s*GRAFT\s+IMPUTE\s+(\w+)\s+SET\s+(\w+)\s+BAYES\s+ON\s+""" +
      """([\w,\s]+?)(?:\s+FLAG\s+(\w+))?\s*""").r

  private val ClusterRe =
    """(?is)\s*GRAFT\s+CLUSTER\s+(\w+)\s+K\s+(\d+)\s+ITERS\s+(\d+)\s*""".r

  // TYPEINFER report plus the reference's ACTUAL apply semantics:
  // NULLS('NA', ...) marks custom null strings, LIMIT n bounds the
  // inference lookahead, APPLY returns the table with columns CAST
  // to the inferred types (sclera's TYPEINFER is the cast, not the
  // report — analytics/inferTypes/InferTypesTableResult.scala)
  private val TypeInferRe =
    ("""(?is)\s*GRAFT\s+TYPEINFER\s+(\w+)""" +
      """(?:\s+NULLS\s*\(([^)]*)\))?(?:\s+LIMIT\s+(\d+))?""" +
      """(\s+APPLY)?\s*""").r
  private val QuotedItem = """'([^']*)'""".r

  // single-pass whole-table profile (DESCRIBE PROFILE for any table)
  private val ProfileRe =
    """(?is)\s*GRAFT\s+PROFILE\s+(\w+)\s*""".r

  // functional-dependency discovery over candidate pairs
  // (ProfileOps.fdViolations — TANE-style violation counting)
  private val FdCheckRe =
    """(?is)\s*GRAFT\s+FDCHECK\s+(\w+)\s*\(([^)]+)\)\s*""".r
  private val FdPair = """(\w+)\s*->\s*(\w+)""".r

  // EXPLAIN for any graft statement (reference PlanExplain / EXPLAIN
  // SCRIPT): the physical plan of the INNER statement as rows — works
  // for GRAFT productions Spark's own EXPLAIN can't see
  private val ExplainRe =
    """(?is)\s*GRAFT\s+EXPLAIN\s+(.+)""".r

  // join-key skew diagnosis (ProfileOps.keySkew)
  private val SkewRe =
    """(?is)\s*GRAFT\s+SKEW\s+(\w+)\s+KEY\s+(\w+)\s*""".r

  // data-quality expectation suite (ProfileOps.checkRules): one scan
  // evaluates every rule as conditional aggregates
  private val CheckRe =
    """(?is)\s*GRAFT\s+CHECK\s+(\w+)\s+((?:RULE\s+'[^']+'\s*)+)""".r
  private val CheckRuleRef = """(?is)RULE\s+'([^']+)'""".r

  // BM25 ranked retrieval (TextSearchOps.bm25)
  private val SearchRe =
    ("""(?is)\s*GRAFT\s+SEARCH\s+(\w+)\s+ID\s+(\w+)\s+TEXT\s+(\w+)""" +
      """\s+FOR\s+'([^']+)'\s+TOP\s+(\d+)""" +
      """(?:\s+METHOD\s+(BM25|QL))?\s*""").r

  // materialized inverted index: build once (postings partitioned by
  // term prefix + doc lengths + 1-row stats), search many — per-query
  // cost independent of corpus token count (TextSearchOps.buildIndex /
  // bm25Indexed)
  private val IndexRe =
    ("""(?is)\s*GRAFT\s+INDEX\s+(\w+)\s+ID\s+(\w+)\s+TEXT\s+(\w+)""" +
      """\s+INTO\s+'([^']+)'\s*""").r
  private val SearchIdxRe =
    ("""(?is)\s*GRAFT\s+SEARCH\s+INDEX\s+'([^']+)'\s+ID\s+(\w+)""" +
      """\s+FOR\s+'([^']+)'\s+TOP\s+(\d+)\s*""").r

  // Z-order clustered write (LayoutOps): 2-D prunable physical layout
  private val ZorderRe =
    ("""(?is)\s*GRAFT\s+ZORDER\s+(\w+)\s+BY\s*\(\s*(\w+)\s*,\s*(\w+)""" +
      """\s*\)\s+FILES\s+(\d+)\s+INTO\s+'([^']+)'\s*""").r

  // named ML model objects (reference: sql/parser/SqlCudParser.scala:
  // createMLObj CLASSIFIER/CLUSTERER productions, drop at :293-296;
  // analytics/ml/objects/MLObject.scala) — train once by name, score
  // many times with CLASSIFIED ... WITH
  private val CreateClassifierRe =
    ("""(?is)\s*GRAFT\s+CREATE\s+CLASSIFIER\s+(\w+)\s+TARGET\s+(\w+)""" +
      """\s+ON\s+(\w+)\s*""").r
  private val CreateClustererRe =
    ("""(?is)\s*GRAFT\s+CREATE\s+CLUSTERER\s+(\w+)\s+K\s+(\d+)""" +
      """\s+ITERS\s+(\d+)\s+ON\s+(\w+)\s*""").r
  private val DropModelRe =
    ("""(?is)\s*GRAFT\s+DROP\s+(?:CLASSIFIER|CLUSTERER|RECOMMENDER)""" +
      """\s+(\w+)\s*""").r
  // named ALS recommender objects: train the fixed-point rank-2
  // factorization once by name (AlsOps — ratings = COUNT per
  // (user, item) pair), score many times with GRAFT RECOMMEND.
  private val CreateRecommenderRe =
    ("""(?is)\s*GRAFT\s+CREATE\s+RECOMMENDER\s+(\w+)\s+USER\s+(\w+)""" +
      """\s+ITEM\s+(\w+)\s+ITERS\s+(\d+)\s+ON\s+(\w+)\s*""").r
  private val RecommendRe =
    """(?is)\s*GRAFT\s+RECOMMEND\s+(\w+)\s+USER\s+(\d+)\s+K\s+(\d+)\s*""".r
  private val ClassifiedWithRe =
    """(?is)\s*GRAFT\s+CLASSIFIED\s+(\w+)\s+WITH\s+(\w+)\s*""".r

  // external location admin (reference: sql/parser/SqlAdminParser.scala
  // ADD/REMOVE LOCATION; SqlQueryParser.scala:1055-1059 EXTERNAL in
  // FROM) — the EXTERNAL(name) FROM-clause form is handled by the
  // rewrite in parsePlan's default case
  // the kind is any identifier — resolved against the ServiceLoader
  // SPI registry (built-in CSV/JSON/PARQUET/TEXT plus provider jars)
  private val AddLocRe =
    ("""(?is)\s*GRAFT\s+ADD\s+LOCATION\s+(\w+)\s+""" +
      """(\w+)\s+'([^']+)'""" +
      """(?:\s+SCHEMA\s+'([^']+)')?\s*""").r
  // external scalar FUNCTION objects (reference:
  // external/objects/ExternalFunction.scala:26 — named SQL-callable
  // functions backed by an external provider; here a deterministic
  // expression-template catalog, spliced inline at call sites)
  private val AddFnRe =
    """(?is)\s*GRAFT\s+ADD\s+FUNCTION\s+(\w+)\s+FROM\s+(\w+)\s*""".r
  private val RemoveFnRe =
    """(?is)\s*GRAFT\s+REMOVE\s+FUNCTION\s+(\w+)\s*""".r
  private val ListFnRe =
    """(?is)\s*GRAFT\s+LIST\s+FUNCTIONS\s*""".r

  // ATTACH DERBY '<db>' AS <catalog> — whole-subplan pushdown
  // federation (reference: sql/mapper/SqlMapper.scala, sclera's ADD
  // LOCATION over a live RDBMS): registers the Derby db as a DSv2
  // JDBCTableCatalog with aggregate/limit/join pushdown, so ordinary
  // spark.sql over <catalog>.APP.<table> executes pushable subtrees
  // inside the attached database
  private val AttachDerbyRe =
    """(?is)\s*GRAFT\s+ATTACH\s+DERBY\s+'([^']+)'\s+AS\s+(\w+)\s*""".r

  // ATTACH JDBC '<url>' AS <catalog> [DRIVER '<class>'] — the
  // GENERIC federation lane: any vendor whose engine profile is
  // registered (built-ins: derby, duckdb, h2; third parties through
  // the graft.spi.GraftJdbcDialectProviderService SPI — the
  // reference's rdbms-location SPI, dbms/rdbms/location/
  // RdbmsLocation.scala, re-expressed over JDBCTableCatalog)
  private val AttachJdbcRe =
    ("""(?is)\s*GRAFT\s+ATTACH\s+JDBC\s+'([^']+)'\s+AS\s+(\w+)""" +
      """(?:\s+DRIVER\s+'([^']+)')?\s*""").r

  // Raw NATIVE statement pass-through to an attached catalog
  // (reference: sql/parser/SqlCudParser.scala:304 SqlNativeStatement,
  // sclera's `@<location> '<stmt>'` — vendor DDL like CREATE INDEX
  // that no translated surface covers runs INSIDE the attached DB).
  // Doubled '' escapes a quote inside the statement.
  private val NativeRe =
    """(?is)\s*GRAFT\s+NATIVE\s+(\w+)\s+'((?:[^']|'')+)'\s*""".r

  private val RemoveLocRe =
    """(?is)\s*GRAFT\s+REMOVE\s+LOCATION\s+(\w+)\s*""".r
  private val ListLocRe =
    """(?is)\s*GRAFT\s+LIST\s+LOCATIONS\s*""".r
  // DESCRIBE = LIST in long format (reference SqlAdminParser listOption
  // LongFormat); models list mirrors LIST CLASSIFIERS/CLUSTERERS
  private val DescribeLocRe =
    """(?is)\s*GRAFT\s+DESCRIBE\s+LOCATION\s+(\w+)\s*""".r
  private val ListModelsRe =
    """(?is)\s*GRAFT\s+LIST\s+(?:MODELS|CLASSIFIERS|CLUSTERERS)\s*""".r
  // CREATE EXTERNAL <location> AS <stmt> (reference SqlCudParser
  // createExtTarget): materialize a result INTO a registered external
  // location — the write side of federation (parquet/CSV/JSON/text
  // files or a live JDBC table)
  private val CreateExtRe =
    """(?is)\s*GRAFT\s+CREATE\s+EXTERNAL\s+(\w+)\s+AS\s+(.+)""".r
  // view objects (reference SqlCudParser.scala:106 "VIEW" ~> ident ~
  // createView; ViewId): CREATE [TEMP] VIEW <name> AS <stmt> where
  // <stmt> is ANY graft-dialect statement — views compose over the
  // extended operators, not just plain SQL
  // optional explicit column list (reference createView viewColDef:
  // CREATE VIEW v (a, b) AS <stmt> renames the output positionally)
  private val CreateViewRe =
    ("""(?is)\s*GRAFT\s+CREATE\s+(TEMP\s+)?VIEW\s+(\w+)\s*""" +
      """(?:\(([\w,\s]+)\)\s*)?AS\s+(.+)""").r
  private val DropViewRe =
    """(?is)\s*GRAFT\s+DROP\s+VIEW\s+(\w+)\s*""".r
  private val ListViewsRe =
    """(?is)\s*GRAFT\s+(LIST|DESCRIBE)\s+VIEWS\s*""".r
  // materialized tables (reference SqlCudParser.scala:130 createTable
  // — "TABLE <name> AS <expr>" materializes the result,
  // DbMaterialized at a location): non-TEMP writes parquet under the
  // session warehouse and registers BOTH a parquet-backed temp view
  // (plain FROM <name>) and an external location of the same name
  // (EXTERNAL(<name>), durable via SAVE CATALOG); TEMP persists the
  // frame in-session only
  private val CreateTableRe =
    """(?is)\s*GRAFT\s+CREATE\s+(TEMP\s+)?TABLE\s+(\w+)\s+AS\s+(.+)""".r
  // explicit CREATE TABLE DDL (reference SqlCudParser.scala:137-175
  // tableExplicitDef / tableKeys): column definitions with optional
  // PRIMARY KEY / REFERENCES constraints, table-level PRIMARY KEY
  // (a, b) and FOREIGN KEY (c) REFERENCES t(k) items, optional AS
  // <stmt> (CTAS cast to the declared schema). The body is scanned
  // with a paren-depth matcher, not a regex — DECIMAL(10,2) and the
  // key clauses both carry parens.
  private val CreateTableDefHead =
    """(?is)\s*GRAFT\s+CREATE\s+TABLE\s+(\w+)\s*\((.*)""".r
  private val ColDefRe =
    ("""(?is)\s*(\w+)\s+(\w+(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)""" +
      """(.*)""").r
  private val TableLevelPkRe =
    """(?is)\s*PRIMARY\s+KEY\s*\(([\w,\s]+)\)\s*""".r
  private val TableLevelFkRe =
    ("""(?is)\s*FOREIGN\s+KEY\s*\(\s*(\w+)\s*\)\s*REFERENCES\s+""" +
      """(\w+)\s*\(\s*(\w+)\s*\)\s*""").r
  private val ColRefsRe =
    """(?is)REFERENCES\s+(\w+)\s*\(\s*(\w+)\s*\)""".r
  private val DescTableRe =
    """(?is)\s*GRAFT\s+DESCRIBE\s+TABLE\s+(\w+)\s*""".r
  private val DropTableRe =
    """(?is)\s*GRAFT\s+DROP\s+TABLE\s+(\w+)\s*""".r
  // unified object listing (reference SqlAdminParser listOption
  // SqlListObjects: LIST with no kind = every catalog object)
  private val ListObjectsRe =
    """(?is)\s*GRAFT\s+LIST\s+OBJECTS(?:\s+(\w+))?\s*""".r
  // per-catalog table registration (reference SqlAdminParser.scala:62
  // addTable / removeTable / SqlListAddedTables /
  // SqlListRemainingTables): ADD TABLE registers a remote table of an
  // ATTACHed catalog under a local name — the temp view wraps the
  // DSv2 relation, so the pushdown lanes survive; LIST REMAINING is
  // the discovery diff (remote tables not yet added)
  private val AddTableRe =
    ("""(?is)\s*GRAFT\s+ADD\s+TABLE\s+(\w+)\s*\.\s*(\w+)""" +
      """(?:\s+AS\s+(\w+))?\s*""").r
  private val RemoveTableRe =
    """(?is)\s*GRAFT\s+REMOVE\s+TABLE\s+(\w+)\s*""".r
  private val ListTablesRe =
    """(?is)\s*GRAFT\s+(LIST|DESCRIBE)\s+TABLES\s*""".r
  private val ListRemainingRe =
    """(?is)\s*GRAFT\s+(LIST|DESCRIBE)\s+REMAINING\s+(\w+)\s*""".r
  // config admin (reference SqlAdminParser: SET <param> = <value>,
  // SHOW CONFIG) — session-scoped Spark conf, the knob surface the
  // opt-in optimizer rules (bandJoin/rangeJoin) read
  private val SetConfRe =
    """(?is)\s*GRAFT\s+SET\s+([\w.]+)\s*=\s*(\S+)\s*""".r
  // <param> LOCATION = <loc> (reference SqlStatement.scala:206
  // SqlConfigLocation / SqlAdminParser.scala:90): bind a registered
  // external location as a named parameter's default target
  private val SetConfLocRe =
    """(?is)\s*GRAFT\s+SET\s+([\w.]+)\s+LOCATION\s*=\s*(\w+)\s*""".r
  // metadata-store schema lifecycle (reference SqlStatement.scala
  // :46,183-185 CREATE/DROP SCHEMA)
  private val CreateSchemaRe =
    """(?is)\s*GRAFT\s+CREATE\s+SCHEMA\s*""".r
  private val DropSchemaRe =
    """(?is)\s*GRAFT\s+DROP\s+SCHEMA\s*""".r
  // SHOW OPTIONS is the reference's sibling admin query
  // (SqlStatement.scala SqlShowOptions) — same relation here
  private val ShowConfRe =
    """(?is)\s*GRAFT\s+SHOW\s+(?:CONFIG|OPTIONS)\s*""".r
  private val ExternalRef = """(?i)EXTERNAL\s*\(\s*(\w+)\s*\)""".r
  // virtual sequence source (reference: SqlQueryParser.scala:1060-1062
  // SequenceSource) — FROM SEQUENCE(n) = the integers 1..n, generated
  // executor-side by spark.range. Anchored on FROM/JOIN so the
  // sequence(start, stop) ARRAY function is never touched.
  private val SeqRef =
    """(?i)\b(FROM|JOIN)\s+SEQUENCE\s*\(\s*(\d+)\s*\)""".r
  // ANSI pagination (reference: SqlQueryParser.scala:568-578 — FETCH
  // FIRST/NEXT n ROWS ONLY and OFFSET n ROWS): rewritten to Spark's
  // LIMIT/OFFSET clauses (Spark requires LIMIT before OFFSET)
  private val FetchOffsetRef =
    ("""(?is)\bOFFSET\s+(\d+)\s+ROWS?""" +
      """\s+FETCH\s+(?:FIRST|NEXT)\s+(\d+)\s+ROWS?\s+ONLY""").r
  private val FetchOnlyRef =
    """(?is)\bFETCH\s+(?:FIRST|NEXT)\s+(\d+)\s+ROWS?\s+ONLY""".r
  private val OffsetRowsRef =
    """(?is)\bOFFSET\s+(\d+)\s+ROWS\b""".r

  // DML front doors (reference: sql/parser/SqlCudParser.scala:42-47)
  // lowering to copy-on-write relational algebra: DELETE = filter,
  // UPDATE = conditional projection, INSERT = union — the statement
  // re-registers the view with the post-image and returns it
  // DML batch (reference SqlStatement.scala:158 SqlUpdateBatch — a
  // list of update statements executed as one): semicolon-separated
  // DML statements applied in order; the split respects single-quoted
  // literals
  private val DmlBatchRe =
    """(?is)\s*GRAFT\s+BATCH\s+(.+)\s*""".r

  // WHERE is optional (reference updatePredicate: no WHERE = every
  // row — DELETE empties the table, UPDATE touches all rows); UPDATE
  // takes a multi-assignment SET list (reference rep1(setExpr));
  // INSERT takes an optional column list and either VALUES or a
  // query (reference insert: tableId ~ opt(colRefListPar) ~ relExpr)
  private val DeleteRe =
    """(?is)\s*GRAFT\s+DELETE\s+FROM\s+(\w+)(?:\s+WHERE\s+(.+?))?\s*""".r
  // SET list + optional WHERE are separated by a depth-aware scan
  // (topLevelIndex), not the regex — a lazy regex split would break
  // on a WHERE inside a parenthesized subexpression of the SET list
  private val UpdateRe =
    """(?is)\s*GRAFT\s+UPDATE\s+(\w+)\s+SET\s+(.+?)\s*""".r
  private val InsertRe =
    ("""(?is)\s*GRAFT\s+INSERT\s+INTO\s+(\w+)\s*""" +
      """(?:\(([\w,\s]+)\)\s*)?(VALUES\s+.+?|(?:SELECT|WITH)\b.+?)\s*""").r
  // MERGE = the upsert statement (WHEN MATCHED UPDATE SET * / WHEN NOT
  // MATCHED INSERT *, the Delta/SQL:2003 shape): source rows win on key
  // match, unmatched target rows survive. Post-image = source UNION
  // (target ANTI-JOIN source ON key) — the anti join is a key-only
  // shuffle (or a broadcast when the delta is small, the common case).
  private val MergeRe =
    """(?is)\s*GRAFT\s+MERGE\s+INTO\s+(\w+)\s+USING\s+(\w+)\s+ON\s+(\w+)\s*""".r

  // PLOT data planning (reference: modules/visual PlotPlanner +
  // model/spec/PlotSpec.scala — layered/faceted plot specs) —
  // server-side series shaping: equi-width x bins + per-series
  // aggregate, optional extra LAYERs sharing the same x binning and
  // an optional FACET column (small multiples, same global bin grid
  // across panels); the renderer gets a bounded
  // |facets| x |series| x |layers| x |bins| frame
  private val PlotRe =
    ("""(?is)\s*GRAFT\s+PLOT\s+(\w+)\s+X\s+(\w+)""" +
      """(?:\s+FROM\s+(-?[\d.]+)\s+TO\s+(-?[\d.]+))?\s+BINS\s+(\d+)""" +
      """\s+Y\s+(COUNT|SUM|AVG|MIN|MAX|BOX|BAND)\s+(\w+)""" +
      """((?:\s+LAYER\s+(?:COUNT|SUM|AVG|MIN|MAX)\s+\w+)*)""" +
      """(?:\s+SERIES\s+(\w+))?(?:\s+FACET\s+(\w+))?""" +
      """(?:\s+GEOM\s+(POINT|LINE|RIBBON|BOX|BAR))?""" +
      // POSITION (reference Position.scala:114 PositionDodge, :179
      // PositionStack, :264 PositionJitter): same |series| x |bins|
      // planning frame — composition is render-time (stack =
      // cumulative fold, jitter = deterministic hash offsets)
      """(?:\s+POSITION\s+(STACK|DODGE|JITTER))?""" +
      """(?:\s+SCALE\s+(LOG))?""" +
      // annotation OVERLAYS (reference Geom.scala ABLine:642
      // VLine:683 HLine:663 RegionX:883 RegionY:895): literal
      // reference lines / shaded regions layered over the plot —
      // RENDER-only decoration, the planning frame is unchanged
      """(?:\s+VLINE\s+([\-\d.,]+))?(?:\s+HLINE\s+([\-\d.,]+))?""" +
      """(?:\s+REGIONX\s+(-?[\d.]+)\s+(-?[\d.]+))?""" +
      """(?:\s+REGIONY\s+(-?[\d.]+)\s+(-?[\d.]+))?""" +
      """(?:\s+ABLINE\s+(-?[\d.]+)\s+(-?[\d.]+))?""" +
      """(?:\s+(RENDER)(?:\s+'([^']*)')?)?\s*""").r
  private val PlotLayerRe =
    """(?is)LAYER\s+(COUNT|SUM|AVG|MIN|MAX)\s+(\w+)""".r
  // STAT LOESS smoothing layer (reference model/plot/Stat.scala:481
  // LoessSmooth; parser/PlotParser.scala:289 STAT clause): the binned
  // planning frame plus a per-series local-regression overlay —
  // the fit is driver-side over the bounded |series| x |bins| frame
  private val PlotSmoothRe =
    ("""(?is)\s*GRAFT\s+PLOT\s+(\w+)\s+X\s+(\w+)""" +
      """(?:\s+FROM\s+(-?[\d.]+)\s+TO\s+(-?[\d.]+))?\s+BINS\s+(\d+)""" +
      """\s+Y\s+(COUNT|SUM|AVG|MIN|MAX)\s+(\w+)""" +
      """(?:\s+SERIES\s+(\w+))?""" +
      """\s+SMOOTH\s+LOESS(?:\s+BANDWIDTH\s+([\d.]+))?""" +
      """(?:\s+(RENDER)(?:\s+'([^']*)')?)?\s*""").r
  // column-bound aesthetic mappings (reference PlotParser.scala:332 +
  // model/plot/Aes.scala — SIZE/ALPHA each bindable to a column with
  // its own scale): point marks whose radius/opacity encode extra
  // per-bin aggregates; the planning frame gains one decimal-exact
  // AVG per bound column, still ONE scan + ONE aggregate
  private val PlotAesRe =
    ("""(?is)\s*GRAFT\s+PLOT\s+(\w+)\s+X\s+(\w+)""" +
      """(?:\s+FROM\s+(-?[\d.]+)\s+TO\s+(-?[\d.]+))?\s+BINS\s+(\d+)""" +
      """\s+Y\s+(COUNT|SUM|AVG|MIN|MAX)\s+(\w+)""" +
      """(?:\s+SERIES\s+(\w+))?\s+GEOM\s+POINT""" +
      """\s+SIZE\s+(\w+)(?:\s+ALPHA\s+(\w+))?""" +
      """(?:\s+(RENDER)(?:\s+'([^']*)')?)?\s*""").r
  // annotation geom PLANNING statements: bounded row frames
  private val PlotVlinesRe =
    ("""(?is)\s*GRAFT\s+PLOT\s+(\w+)\s+VLINES\s+X\s+(\w+)""" +
      """(?:\s+LIMIT\s+(\d+))?""" +
      """(?:\s+(RENDER)(?:\s+'([^']*)')?)?\s*""").r
  private val PlotAblinesRe =
    ("""(?is)\s*GRAFT\s+PLOT\s+(\w+)\s+ABLINES\s+SLOPE\s+(\w+)""" +
      """\s+INTERCEPT\s+(\w+)""" +
      """(?:\s+FROM\s+(-?[\d.]+)\s+TO\s+(-?[\d.]+))?""" +
      """(?:\s+LIMIT\s+(\d+))?""" +
      """(?:\s+(RENDER)(?:\s+'([^']*)')?)?\s*""").r
  private val PlotRegionsRe =
    ("""(?is)\s*GRAFT\s+PLOT\s+(\w+)\s+REGIONS\s+LO\s+(\w+)""" +
      """\s+HI\s+(\w+)(?:\s+AXIS\s+(X|Y))?(?:\s+LIMIT\s+(\d+))?""" +
      """(?:\s+(RENDER)(?:\s+'([^']*)')?)?\s*""").r
  // interval row geoms (reference Geom.scala:433 PointRangeY, 547
  // RangeX): point-with-vertical-range and horizontal-bar marks,
  // bounded ordered+LIMITed row frames like SEGMENTS/LABELS
  private val PlotPointRangeRe =
    ("""(?is)\s*GRAFT\s+PLOT\s+(\w+)\s+POINTRANGE\s+X\s+(\w+)""" +
      """\s+Y\s+(\w+)\s+YMIN\s+(\w+)\s+YMAX\s+(\w+)""" +
      """(?:\s+LIMIT\s+(\d+))?""" +
      """(?:\s+(RENDER)(?:\s+'([^']*)')?)?\s*""").r
  private val PlotRangeXRe =
    ("""(?is)\s*GRAFT\s+PLOT\s+(\w+)\s+RANGEX\s+Y\s+(\w+)""" +
      """\s+XMIN\s+(\w+)\s+XMAX\s+(\w+)(?:\s+LIMIT\s+(\d+))?""" +
      """(?:\s+(RENDER)(?:\s+'([^']*)')?)?\s*""").r
  // RangeY (reference Geom.scala:495): the bare vertical interval at
  // x — PointRangeY minus the point mark
  private val PlotRangeYRe =
    ("""(?is)\s*GRAFT\s+PLOT\s+(\w+)\s+RANGEY\s+X\s+(\w+)""" +
      """\s+YMIN\s+(\w+)\s+YMAX\s+(\w+)(?:\s+LIMIT\s+(\d+))?""" +
      """(?:\s+(RENDER)(?:\s+'([^']*)')?)?\s*""").r
  // BLANK geom (reference Geom.scala:304): no marks, scales only
  private val PlotBlankRe =
    ("""(?is)\s*GRAFT\s+PLOT\s+(\w+)\s+BLANK\s+X\s+(\w+)""" +
      """\s+Y\s+(\w+)(?:\s+(RENDER)(?:\s+'([^']*)')?)?\s*""").r
  // GEOMAP-lite (reference Geom.scala:1029 GeoMap): lat/lon-binned
  // tile map on the literal world grid, equirectangular projection
  // optional PROJECT ORTHO (reference model/plot/Coordinates.scala
  // CoordMap — map-projection coordinates): orthographic projection
  // of the tile centers around a given center point, pure per-tile
  // trig over the same bounded frame
  private val PlotGeoRe =
    ("""(?is)\s*GRAFT\s+PLOT\s+(\w+)\s+GEOMAP\s+LAT\s+(\w+)""" +
      """\s+LON\s+(\w+)(?:\s+BINS\s+(\d+))?""" +
      """(?:\s+PROJECT\s+ORTHO\s+LAT0\s+(-?[\d.]+)""" +
      """\s+LON0\s+(-?[\d.]+))?""" +
      """(?:\s+(RENDER)(?:\s+'([^']*)')?)?\s*""").r
  // ROW geoms (reference model/plot/Geom.scala:727 Segment, 1049
  // Text): one mark per input row, so the planning frame is
  // explicitly bounded — ordered projection + LIMIT (default 256)
  private val PlotSegRe =
    ("""(?is)\s*GRAFT\s+PLOT\s+(\w+)\s+SEGMENTS\s+X\s+(\w+)""" +
      """\s+XEND\s+(\w+)\s+Y\s+(\w+)\s+YEND\s+(\w+)(\s+ARROW)?""" +
      """(?:\s+LIMIT\s+(\d+))?""" +
      """(?:\s+(RENDER)(?:\s+'([^']*)')?)?\s*""").r
  private val PlotTextRe =
    ("""(?is)\s*GRAFT\s+PLOT\s+(\w+)\s+LABELS\s+(\w+)\s+X\s+(\w+)""" +
      """\s+Y\s+(\w+)(?:\s+LIMIT\s+(\d+))?""" +
      """(?:\s+(RENDER)(?:\s+'([^']*)')?)?\s*""").r
  // RECT/heatmap geom (reference Geom.scala:822 Rect): the 2D
  // equi-width histogram — bounded |xBins| x |yBins| tiles
  private val PlotHeatRe =
    ("""(?is)\s*GRAFT\s+PLOT\s+(\w+)\s+HEATMAP\s+X\s+(\w+)""" +
      """\s+BINS\s+(\d+)\s+Y\s+(\w+)\s+BINS\s+(\d+)""" +
      """(?:\s+(RENDER)(?:\s+'([^']*)')?)?\s*""").r
  // TICKER/candlestick geom (reference Geom.scala:961 Ticker):
  // one candle per OHLC row, frame bounded by ordered LIMIT
  private val PlotTickerRe =
    ("""(?is)\s*GRAFT\s+PLOT\s+(\w+)\s+TICKER\s+TIME\s+(\w+)""" +
      """\s+OPEN\s+(\w+)\s+HIGH\s+(\w+)\s+LOW\s+(\w+)""" +
      """\s+CLOSE\s+(\w+)(?:\s+LIMIT\s+(\d+))?""" +
      """(?:\s+(RENDER)(?:\s+'([^']*)')?)?\s*""").r

  // SPLIT -> DisjointInterval (reference: SqlQueryParser.scala:366-375
  // splitOp — "SPLIT (lo, hi) INTO (out_lo, out_hi)" with partition
  // columns), the SQL front door for ExtendedOps.disjointIntervals
  private val SplitRe =
    ("""(?is)\s*GRAFT\s+SPLIT\s+(\w+)\s*\(\s*(\w+)\s*,\s*(\w+)\s*\)""" +
      """\s+INTO\s*\(\s*(\w+)\s*,\s*(\w+)\s*\)\s+PARTITION\s+(\w+)\s*""").r

  // TEXT PARSE relational op (reference: SqlQueryParser.scala:1032-1039
  // TEXT <task> IN <col> TO <cols>; analytics/nlp/objects/
  // ParseTask.scala:31-66 — regex match groups projected to columns)
  private val TextParseRe =
    ("""(?is)\s*GRAFT\s+TEXT\s+PARSE\s+'([^']+)'\s+IN\s+(\w+)""" +
      """\s+TO\s+([\w,\s]+?)\s+FROM\s+(\w+)\s*""").r

  // TEXT TASK = a ServiceLoader-discovered NLP task applied by name
  // (reference: SqlQueryParser TEXT <task> production +
  // analytics/nlp/service/NlpService.scala — tasks are runtime
  // services, so third-party taggers plug in without core changes)
  private val TextTaskRe =
    ("""(?is)\s*GRAFT\s+TEXT\s+TASK\s+(\w+)\s+IN\s+(\w+)""" +
      """\s+FROM\s+(\w+)\s*""").r

  private val ListTasksRe =
    """(?is)\s*GRAFT\s+LIST\s+TASKS\s*""".r

  // Bounded top-k-per-group as a statement: the scale-safe QUALIFY
  // alternative. Lowers to the graft_topk_by TypedImperativeAggregate
  // (k rows of state per group, map-side combined) instead of the
  // row_number window that shuffles EVERY candidate into one task
  // per group. ID must be a unique bigint within each group — the
  // determinism contract (score desc, id asc).
  private val TopKRe =
    ("""(?is)\s*GRAFT\s+TOPK\s+(\w+)\s+KEY\s+(\w+)\s+SCORE\s+(\w+)""" +
      """\s+ID\s+(\w+)\s+K\s+(\d+)\s*""").r

  // Audience reach & pairwise overlap via theta sketches as a
  // statement (ReachOps): one scan to |segments| k-bounded sketches,
  // then union/intersect/difference as sketch algebra on the bounded
  // frame — exact while segments stay under k distinct keys.
  private val ReachRe =
    ("""(?is)\s*GRAFT\s+REACH\s+(\w+)\s+KEY\s+(\w+)\s+BY\s+(\w+)""" +
      """(?:\s+K\s+(\d+))?\s*""").r

  // KS distribution-drift monitor as a statement: each group's
  // numeric distribution vs the rest of the table on an equi-width
  // bin grid (DriftOps.ksDrift — the binning keeps it one fact
  // aggregate at 100 TB).
  private val DriftRe =
    ("""(?is)\s*GRAFT\s+DRIFT\s+(\w+)\s+VALUE\s+(\w+)""" +
      """\s+GROUP\s+(\w+)\s+BINS\s+(\d+)\s*""").r

  // series smoothing as a statement family: Kalman / Holt /
  // Holt-Winters over an already-bounded (time, value) series
  // relation (SmoothOps — the fold runs inside one aggregate row;
  // the HOLTWINTERS season length generates the slot expressions)
  private val SmoothRe =
    ("""(?is)\s*GRAFT\s+SMOOTH\s+(\w+)\s+TIME\s+(\w+)\s+VALUE\s+(\w+)""" +
      """\s+KALMAN\s+([0-9.]+)\s+([0-9.]+)\s*""").r
  private val SmoothHoltRe =
    ("""(?is)\s*GRAFT\s+SMOOTH\s+(\w+)\s+TIME\s+(\w+)\s+VALUE\s+(\w+)""" +
      """\s+HOLT\s+([0-9.]+)\s+([0-9.]+)\s*""").r
  private val SmoothHwRe =
    ("""(?is)\s*GRAFT\s+SMOOTH\s+(\w+)\s+TIME\s+(\w+)\s+VALUE\s+(\w+)""" +
      """\s+HOLTWINTERS\s+(\d+)\s+([0-9.]+)\s+([0-9.]+)\s+([0-9.]+)\s*""").r
  private val SmoothEwmaRe =
    ("""(?is)\s*GRAFT\s+SMOOTH\s+(\w+)\s+TIME\s+(\w+)\s+VALUE\s+(\w+)""" +
      """\s+EWMA\s+([0-9.]+)\s+([0-9.]+)\s*""").r

  // File-level min/max manifest over a clustered layout
  // (sources/FileManifest): BUILD stages the per-file envelope rows,
  // SCAN reads through the manifest with the file list pruned
  // driver-side before Spark lists/schedules anything
  private val ManifestBuildRe =
    ("""(?is)\s*GRAFT\s+MANIFEST\s+BUILD\s+'([^']+)'\s+KEY\s+(\w+)""" +
      """\s*""").r
  private val ManifestScanRe =
    ("""(?is)\s*GRAFT\s+MANIFEST\s+SCAN\s+'([^']+)'\s+KEY\s+(\w+)""" +
      """\s+FROM\s+'([^']+)'\s+TO\s+'([^']+)'\s*""").r
  // per-file Bloom manifest: point-lookup skipping where min/max
  // envelopes cannot prune (high-cardinality unclustered keys)
  private val ManifestBloomRe =
    ("""(?is)\s*GRAFT\s+MANIFEST\s+BLOOM\s+'([^']+)'\s+KEY\s+(\w+)""" +
      """\s*""").r
  private val ManifestLookupRe =
    ("""(?is)\s*GRAFT\s+MANIFEST\s+LOOKUP\s+'([^']+)'\s+KEY\s+(\w+)""" +
      """\s+EQ\s+(\d+)\s*""").r

  // Robust monotone-trend estimation/testing over a keyed bounded
  // series relation (TrendOps — Theil-Sen median slope or the
  // Mann-Kendall S/Z/tau-b test; the same bodies the q311/q312 gate
  // queries run through)
  private val TrendRe =
    ("""(?is)\s*GRAFT\s+TREND\s+(\w+)\s+KEY\s+(\w+)\s+TIME\s+(\w+)""" +
      """\s+VALUE\s+(\w+)\s+METHOD\s+(THEILSEN|MANNKENDALL)\s*""").r

  // Versioned-table statements (sources/VersionedTable — the
  // Delta/Iceberg commit discipline): SNAPSHOT commits the view's
  // current state as the next immutable parquet version; VERSIONS
  // lists the log; READ ... VERSION pins a snapshot; DIFF is the
  // one-join row-level audit between two versions.
  // durable catalog (reference: sclera's embedded metadata store —
  // every ADD LOCATION survives the session): SAVE writes the
  // location registry into embedded Derby, LOAD rebuilds it
  private val SaveCatalogRe =
    """(?is)\s*GRAFT\s+SAVE\s+CATALOG\s*""".r
  private val LoadCatalogRe =
    """(?is)\s*GRAFT\s+LOAD\s+CATALOG\s*""".r

  private val SnapshotRe =
    """(?is)\s*GRAFT\s+SNAPSHOT\s+(\w+)\s+INTO\s+'([^']+)'\s*""".r
  private val VersionsRe =
    """(?is)\s*GRAFT\s+VERSIONS\s+'([^']+)'\s*""".r
  private val ReadVersionRe =
    """(?is)\s*GRAFT\s+READ\s+'([^']+)'\s+VERSION\s+(\d+)\s*""".r
  private val VersionDiffRe =
    ("""(?is)\s*GRAFT\s+DIFF\s+'([^']+)'\s+KEY\s+(\w+)""" +
      """\s+FROM\s+(\d+)\s+TO\s+(\d+)\s*""").r
  // storage lifecycle: VACUUM bounds the time-travel horizon (the
  // Delta discipline — old versions deleted, numbers never reused);
  // EXPORT materializes a view to an external format
  private val VacuumRe =
    """(?is)\s*GRAFT\s+VACUUM\s+'([^']+)'\s+KEEP\s+(\d+)\s*""".r
  private val ExportRe =
    ("""(?is)\s*GRAFT\s+EXPORT\s+(\w+)\s+INTO\s+'([^']+)'""" +
      """\s+FORMAT\s+(CSV|JSON|PARQUET)\s*""").r

  // Phonetic-blocked record linkage as a statement: best clean match
  // per distinct dirty value (soundex blocks, Jaro-Winkler score,
  // MIN = the integer-percent score floor). Dictionary-scale by
  // construction (LinkOps distincts both sides first).
  private val LinkRe =
    ("""(?is)\s*GRAFT\s+LINK\s+(\w+)\s+COL\s+(\w+)\s+WITH\s+(\w+)""" +
      """\s+COL\s+(\w+)\s+MIN\s+(\d{1,2})\s*""").r

  // Deterministic hash sampling as a statement (the TABLESAMPLE the
  // reference lacks but every lineage-disciplined pipeline wants):
  // membership = portable fingerprint bucket of a key column, so the
  // sample is REPRODUCIBLE across engines/runs/partitionings — never
  // rand(). Pure filter: pushes down to the scan, zero shuffle.
  private val SampleRe =
    """(?is)\s*GRAFT\s+SAMPLE\s+(\w+)\s+BY\s+(\w+)\s+PCT\s+(\d{1,2})\s*""".r

  // QUALIFY (Teradata/DuckDB/Snowflake window-predicate clause) in an
  // ordinary top-level SELECT: lowered to project-the-predicate +
  // outer filter, the standard rewrite. Supported shape: one
  // top-level SELECT ... FROM ... [WHERE ...] QUALIFY <pred>
  // [ORDER BY ...] [LIMIT n] (no top-level GROUP BY between FROM and
  // QUALIFY; subquery QUALIFYs are not rewritten). The clause is
  // located by a parenthesis-depth scanner, NOT a regex — the window
  // predicate itself contains ORDER BY inside OVER(...), which any
  // non-greedy pattern mis-splits on.
  private def topLevelIndex(
      s: String, keyword: String, from: Int = 0): Int = {
    val upper = s.toUpperCase(java.util.Locale.ROOT)
    val kw = keyword.toUpperCase(java.util.Locale.ROOT)
    var depth = 0; var inStr = false; var i = from
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
          // '_' is a word character in SQL identifiers: without it,
          // a column named where_flag would match its 'where' prefix
          // as a top-level keyword and truncate the SET list.
          def wordChar(ch: Char): Boolean =
            Character.isLetterOrDigit(ch) || ch == '_'
          if (depth == 0 && upper.startsWith(kw, i) &&
            (i == 0 || !wordChar(s.charAt(i - 1))) &&
            (i + kw.length >= s.length ||
              !wordChar(s.charAt(i + kw.length))))
            return i
      }
      i += 1
    }
    -1
  }

  /** Apply a text rewrite only OUTSIDE single-quoted literals (the
    * dialect rewrites — pagination, SEQUENCE, EXTERNAL — are regex
    * over raw SQL text; a literal containing 'FETCH FIRST 5 ROWS
    * ONLY' must come through untouched). Doubled '' escapes stay
    * inside the literal. */
  private def outsideLiterals(sql: String)(
      rewrite: String => String): String = {
    val out = new StringBuilder
    val seg = new StringBuilder
    var inQ = false
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (!inQ) {
        if (c == '\'') {
          out.append(rewrite(seg.toString)); seg.clear()
          out.append(c); inQ = true
        } else seg.append(c)
      } else {
        out.append(c)
        if (c == '\'') {
          if (i + 1 < sql.length && sql.charAt(i + 1) == '\'') {
            out.append('\''); i += 1
          } else inQ = false
        }
      }
      i += 1
    }
    out.append(rewrite(seg.toString))
    out.toString
  }

  private def rewriteQualify(sql: String): String = {
    val q = topLevelIndex(sql, "QUALIFY")
    if (q < 0 ||
      !sql.stripLeading.toUpperCase(java.util.Locale.ROOT)
        .startsWith("SELECT")) return sql
    val fromIdx = topLevelIndex(sql, "FROM")
    if (fromIdx < 0 || fromIdx > q) return sql
    val head = sql.take(q)
    val rest = sql.drop(q + "QUALIFY".length)
    val ob = topLevelIndex(rest, "ORDER")
    val lim = topLevelIndex(rest, "LIMIT")
    val cut = Seq(ob, lim).filter(_ >= 0).sorted.headOption
      .getOrElse(rest.length)
    val pred = rest.take(cut).trim
    val tail = rest.drop(cut)
    val selectList = head.take(fromIdx)
    val fromPart = head.drop(fromIdx)
    s"SELECT * EXCEPT (graft_q) FROM ($selectList, ($pred) AS graft_q " +
      s"$fromPart) WHERE graft_q $tail"
  }

  // SIMJOIN -> prefix-filtered EXACT similarity self-join
  // (DedupOps.prefixJaccardJoin); the threshold is a rational so the
  // prefix-length arithmetic stays exact integer math
  private val SimJoinRe =
    ("""(?is)\s*GRAFT\s+SIMJOIN\s+(\w+)\s+ID\s+(\w+)\s+TEXT\s+(\w+)""" +
      """\s+THRESHOLD\s+(\d+)\s*/\s*(\d+)\s*""").r

  // CONTAINMENT -> asymmetric prefix-filtered containment self-join
  // (DedupOps.containmentJoin); rational threshold keeps the prefix
  // arithmetic and the θ test exact integer math
  private val ContainRe =
    ("""(?is)\s*GRAFT\s+CONTAINMENT\s+(\w+)\s+ID\s+(\w+)\s+TEXT\s+(\w+)""" +
      """\s+THRESHOLD\s+(\d+)\s*/\s*(\d+)\s*""").r

  // PERPLEXITY -> corpus bigram-LM scoring + head/middle/tail tercile
  // buckets (LmOps.perplexityBuckets)
  private val PerplexityRe =
    ("""(?is)\s*GRAFT\s+PERPLEXITY\s+(\w+)\s+ID\s+(\w+)""" +
      """\s+TEXT\s+(\w+)\s*""").r

  // OVERLAP -> grid-binned interval-overlap join
  // (ExtendedOps.intervalOverlapJoin); WIDTH omitted = cost-based:
  // the mean interval span across both sides (replication stays O(1)
  // per row while cells stay selective — the knob's sweet spot)
  private val OverlapRe =
    ("""(?is)\s*GRAFT\s+OVERLAP\s+(\w+)\s*\(\s*(\w+)\s*,\s*(\w+)\s*\)""" +
      """\s+WITH\s+(\w+)\s*\(\s*(\w+)\s*,\s*(\w+)\s*\)""" +
      """(?:\s+KEY\s+([\w,\s]+?))?(?:\s+WIDTH\s+([0-9.]+))?\s*""").r

  private def statusPlan(pairs: (String, String)*): LogicalPlan = {
    val s = spark()
    import org.apache.spark.sql.functions.lit
    s.range(1).select(
      pairs.map { case (n, v) => lit(v).as(n) }: _*)
      .queryExecution.logical
  }

  // DML lowerings shared by the single statements and GRAFT BATCH —
  // copy-on-write algebra: DELETE = filter, UPDATE = conditional
  // projection, INSERT = union, MERGE = anti-join + union; each
  // re-registers the view with its post-image. Invoked only from a
  // command node's run() — never at parse time.
  /** Split a SQL fragment on top-level commas (paren- and
    * quote-aware — expressions and VALUES rows carry both). */
  private def splitTopLevel(fragment: String): Seq[String] = {
    val items = Seq.newBuilder[String]
    val cur = new StringBuilder
    var d = 0; var inQ = false
    fragment.foreach {
      case '\'' => inQ = !inQ; cur += '\''
      case '(' if !inQ => d += 1; cur += '('
      case ')' if !inQ => d -= 1; cur += ')'
      case ',' if d == 0 && !inQ => items += cur.toString; cur.clear()
      case ch => cur += ch
    }
    items += cur.toString
    items.result().map(_.trim).filter(_.nonEmpty)
  }

  /** No WHERE = every row goes (reference updatePredicate). */
  private def applyDelete(s: SparkSession, table: String,
      cond: String): Unit = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    val keep = Option(cond) match {
      case Some(c) => not(coalesce(expr(c), lit(false)))
      case None => lit(false)
    }
    s.table(table).where(keep).createOrReplaceTempView(table)
  }

  /** Split UPDATE's post-SET text into (setList, condOrNull) at the
    * first DEPTH-0 WHERE — a WHERE inside parens belongs to the SET
    * expression. */
  private def splitUpdateParts(rest: String): (String, String) = {
    val w = topLevelIndex(rest, "WHERE")
    if (w < 0) (rest.trim, null)
    else (rest.take(w).trim, rest.drop(w + "WHERE".length).trim)
  }

  /** Multi-assignment SET list (reference rep1(setExpr)); every
    * expression evaluates against the PRE-image (the SQL UPDATE
    * contract — one projection, not a fold), WHERE optional. */
  private def applyUpdate(s: SparkSession, table: String,
      setList: String, cond: String): Unit = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, when}
    val assigns = splitTopLevel(setList).map { item =>
      val i = item.indexOf('=')
      require(i > 0, s"GRAFT UPDATE: cannot parse assignment '$item'")
      (item.take(i).trim, item.drop(i + 1).trim)
    }
    // an empty SET list means the statement text misparsed upstream;
    // reporting 'applied' while touching nothing would be silent loss
    require(assigns.nonEmpty,
      s"GRAFT UPDATE $table: empty SET list")
    val condCol = Option(cond)
      .map(c => coalesce(expr(c), lit(false))).getOrElse(lit(true))
    val t = s.table(table)
    // an assignment to a column the table lacks is an error, not a
    // silent no-op (the projection below matches by name)
    assigns.foreach { case (c, _) =>
      require(t.columns.exists(_.equalsIgnoreCase(c)),
        s"GRAFT UPDATE $table: unknown column '$c' " +
          s"(have: ${t.columns.mkString(", ")})")
    }
    t.select(t.columns.map { c =>
      assigns.find(_._1.equalsIgnoreCase(c)) match {
        case Some((_, e)) =>
          when(condCol, expr(e)).otherwise(col(c)).as(c)
        case None => col(c)
      }
    }.toIndexedSeq: _*)
      .createOrReplaceTempView(table)
  }

  /** INSERT from VALUES or from a query, with an optional column
    * list — unlisted table columns fill with typed NULLs (reference
    * insert: tableId ~ opt(colRefListPar) ~ relExpr). */
  private def applyInsert(s: SparkSession, table: String,
      colList: String, source: String): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    val t = s.table(table)
    val src0 =
      if (source.trim.toUpperCase.startsWith("VALUES"))
        s.sql(s"SELECT * FROM (${source.trim})")
      else s.sql(source.trim)
    val listed = Option(colList).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    // a listed column the table lacks is an error, not silently
    // dropped values (mirrors applyUpdate's unknown-column check)
    listed.foreach { c =>
      require(t.columns.exists(_.equalsIgnoreCase(c)),
        s"GRAFT INSERT INTO $table: unknown column '$c' " +
          s"(have: ${t.columns.mkString(", ")})")
    }
    val rows =
      if (listed.isEmpty) src0.toDF(t.columns.toIndexedSeq: _*)
      else {
        require(listed.length == src0.columns.length,
          s"GRAFT INSERT INTO $table: ${listed.length} columns " +
            s"listed but the source produces ${src0.columns.length}")
        val named = src0.toDF(listed: _*)
        named.select(t.schema.fields.map { f =>
          if (listed.exists(_.equalsIgnoreCase(f.name))) col(f.name)
          else lit(null).cast(f.dataType).as(f.name)
        }.toIndexedSeq: _*)
      }
    // cast to the PRE-image schema before the union: unionByName's
    // set-op widening would otherwise let a BIGINT source silently
    // widen an INT table, drifting the live schema away from the
    // declared TableMeta (the CTAS lane casts the same way)
    val cast = rows.select(t.schema.fields.map(f =>
      col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
    t.unionByName(cast).createOrReplaceTempView(table)
  }

  private def applyMerge(s: SparkSession, target: String, source: String,
      key: String): Unit = {
    import org.apache.spark.sql.functions.col
    val t = s.table(target)
    val src = s.table(source)
    // source rows cast to the PRE-image schema: the union must not
    // widen the target's declared types (same contract as applyInsert)
    val srcCast = src.select(t.schema.fields.map(f =>
      col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
    t.join(src.select(col(key)), Seq(key), "left_anti")
      .unionByName(srcCast)
      .createOrReplaceTempView(target)
  }

  /** CREATE TABLE (col defs): split the body at the matching close
    * paren — (items between the outer parens, optional AS stmt). */
  private def splitTableDef(rest: String): (Seq[String], Option[String]) = {
    var depth = 1; var i = 0; var inStr = false
    while (i < rest.length && depth > 0) {
      val c = rest.charAt(i)
      if (inStr) { if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ => ()
      }
      i += 1
    }
    require(depth == 0, "GRAFT CREATE TABLE: unbalanced parentheses")
    val body = rest.take(i - 1)
    val tail = rest.drop(i).trim
    val asStmt =
      if (tail.isEmpty) None
      else {
        require(tail.length > 2 &&
          tail.take(2).equalsIgnoreCase("AS") &&
          Character.isWhitespace(tail.charAt(2)),
          s"GRAFT CREATE TABLE: expected AS <stmt> after ), got: " +
            tail.take(32))
        Some(tail.drop(2).trim)
      }
    val items = Seq.newBuilder[String]
    val cur = new StringBuilder
    var d = 0
    body.foreach {
      case '(' => d += 1; cur += '('
      case ')' => d -= 1; cur += ')'
      case ',' if d == 0 => items += cur.toString; cur.clear()
      case ch => cur += ch
    }
    items += cur.toString
    (items.result().map(_.trim).filter(_.nonEmpty), asStmt)
  }

  /** Column/constraint items -> typed column defs with key roles
    * (reference tableKeys: column-level PRIMARY KEY / REFERENCES,
    * table-level PRIMARY KEY (a, b) / FOREIGN KEY (c) REFERENCES). */
  private def parseColumnDefs(items: Seq[String])
      : Seq[graft.sources.TableMeta.ColumnDef] = {
    import graft.sources.TableMeta.ColumnDef
    val colsB = Seq.newBuilder[ColumnDef]
    var pkCols = Set.empty[String]
    var fks = Map.empty[String, String]
    items.foreach {
      case TableLevelPkRe(cols) =>
        pkCols ++= cols.split(",").map(_.trim.toLowerCase)
          .filter(_.nonEmpty)
      case TableLevelFkRe(c, t, k) =>
        fks += (c.toLowerCase -> s"references $t($k)")
      case ColDefRe(name, typ, tailRaw) =>
        val tail = tailRaw.trim
        val isPk = tail.toUpperCase.matches("(?s).*PRIMARY\\s+KEY.*")
        val refs = ColRefsRe.findFirstMatchIn(tail)
          .map(m => s"references ${m.group(1)}(${m.group(2)})")
        val t0 = typ.trim.toUpperCase.replaceAll("\\s+", "")
        // normalize the reference's SQL type names to Spark DDL
        val ddl = t0 match {
          case "VARCHAR" | "TEXT" | "CHAR" | "CHARVARYING" => "STRING"
          case "REAL" => "FLOAT"
          case "INTEGER" => "INT"
          case other => other
        }
        colsB += ColumnDef(name, ddl,
          if (isPk) "primary" else refs.getOrElse(""))
      case item => throw new IllegalArgumentException(
        s"GRAFT CREATE TABLE: cannot parse item '$item'")
    }
    colsB.result().map { c =>
      if (pkCols.contains(c.name.toLowerCase) && c.key.isEmpty)
        c.copy(key = "primary")
      else if (c.key.isEmpty)
        c.copy(key = fks.getOrElse(c.name.toLowerCase, ""))
      else c
    }
  }

  override def parsePlan(sqlText: String): LogicalPlan =
    parseWithCtx(sqlText, None)

  /** Spark 4 binds :name / ? parameter markers at PARSE time through
    * this entry point (SparkSession.sql(text, args) no longer wraps
    * the plan itself unless the legacy conf is on) — the interface
    * default would silently drop the bindings, so forward the context
    * to the delegate for ordinary statements. Graft-dialect
    * statements carry no parameter markers; they parse as before. */
  override def parsePlanWithParameters(sqlText: String,
      paramCtx: org.apache.spark.sql.catalyst.parser.ParameterContext)
      : LogicalPlan =
    parseWithCtx(sqlText, Some(paramCtx))

  private def parseWithCtx(sqlText: String,
      paramCtx: Option[org.apache.spark.sql.catalyst.parser.ParameterContext])
      : LogicalPlan = sqlText match {
    case MatchByRe(pattern, table, key, ord, byCol, whensBlob,
        elseLabel, alsoLabel) =>
      import org.apache.spark.sql.functions.{array, array_distinct,
        col, concat, filter, lit, size, when}
      val df = spark().table(table)
      val c = col(byCol).cast("string")
      val pairs = MatchWhenRe.findAllMatchIn(whensBlob)
        .map(m => (m.group(1), m.group(2))).toSeq
      // ALL matching WHEN arms contribute (ColumnRowLabeler's
      // multi-label rows: the same value may map to several labels);
      // ELSE applies only when NO arm matched; with no mapping at all
      // the column value itself is the label
      val mapped: org.apache.spark.sql.Column =
        if (pairs.isEmpty)
          array(Option(elseLabel).map(lit(_)).getOrElse(c))
        else {
          val hits = filter(
            array(pairs.map { case (v, l) =>
              when(c === lit(v), lit(l))
            }: _*), x => x.isNotNull)
          Option(elseLabel).fold(hits)(e =>
            when(size(hits) > 0, hits).otherwise(array(lit(e))))
        }
      val withAlso = Option(alsoLabel)
        .fold(mapped)(a => concat(mapped, array(lit(a))))
      val labels = array_distinct(
        filter(withAlso, v => v.isNotNull))
      graft.operators.SeqMatchOp
        .matchPatternMulti(df.withColumn("__labels", labels),
          key, ord, "__labels", pattern)
        .queryExecution.logical
    case MatchRe(pattern, table, key, ord, label, value,
        pivotAgg, pivotLabels) =>
      import org.apache.spark.sql.functions.{col, round}
      val df = spark().table(table)
      if (pivotAgg == null)
        graft.operators.SeqMatchOp
          .matchPattern(df, key, ord, label, pattern, Option(value))
          .queryExecution.logical
      else {
        // label-targeted pivot of a match aggregate: one column per
        // listed label, named after the label — planning stays the
        // single matchPattern pass (the per-label aggregates already
        // ride each match row; the pivot is pure projection)
        require(value != null, "GRAFT MATCH PIVOT requires VALUE <col>")
        val aggU = pivotAgg.toUpperCase
        val rich = Set("MIN", "MAX", "AVG")(aggU)
        val inPattern = pattern.split("[()|*+?\\s]+")
          .filter(_.nonEmpty).toSet
        val ls = pivotLabels.split(",").map(_.trim).filter(_.nonEmpty)
        ls.foreach(l => require(inPattern(l),
          s"GRAFT MATCH PIVOT: label '$l' not in pattern '$pattern'"))
        val m = graft.operators.SeqMatchOp.matchPattern(
          df, key, ord, label, pattern, Some(value), rich = rich)
        val pcols = ls.toSeq.map { l =>
          aggU match {
            case "COUNT" => col(s"n_$l").as(l)
            case "SUM" => round(col(s"sum_$l"), 6).as(l)
            case other => round(col(s"${other.toLowerCase}_$l"), 6).as(l)
          }
        }
        m.select(Seq(col(key), col("match_id"), col("n_rows")) ++
            pcols: _*)
          .orderBy(col(key), col("match_id"))
          .queryExecution.logical
      }
    case CreateIndexRe(name, target, keyCols) =>
      CreateIndexCommand(name, target,
        keyCols.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    case DropIndexRe(name) =>
      DropIndexCommand(name)
    case ListIndexesRe() =>
      val s = spark()
      import org.apache.spark.sql.functions.{array, explode, lit, struct}
      val ds = graft.sources.IndexRegistry.list(s)
      val rows = ds.map { d =>
        struct(lit(d.name).as("index_name"), lit(d.kind).as("kind"),
          lit(d.target).as("target"), lit(d.keyCol).as("key"))
      }
      val plan =
        if (rows.isEmpty)
          s.range(0).select(lit("").as("index_name"), lit("").as("kind"),
            lit("").as("target"), lit("").as("key"))
        else
          s.range(1).select(explode(array(rows: _*)).as("i"))
            .select("i.*")
      plan.queryExecution.logical

    case DedupStoreRe(mode, table, id, text, path) =>
      GraftStatementCommand.status("DEDUP STORE",
        Seq("store", "table", "mode", "status")) { s =>
        val m = mode.toUpperCase
        if (m == "BUILD")
          graft.operators.DedupOps.buildSignatureStore(
            s.table(table), id, text, 32, path)
        else
          graft.operators.DedupOps.appendSignatureStore(
            s.table(table), id, text, 32, path)
        Seq(path, table, m.toLowerCase, "done")
      }

    case DedupAgainstStoreRe(newT, path, id, text, num, den) =>
      import org.apache.spark.sql.functions.{col, round}
      val s = spark()
      graft.operators.DedupOps.crossDedupAgainstStore(
          s, s.table(newT), path, id, text,
          k = 32, bands = 8, num.toInt, den.toInt)
        .select(col("doc_new"), col("doc_old"),
          round(col("jaccard"), 6).as("jaccard"))
        .queryExecution.logical

    case DedupAgainstRe(newT, oldT, id, text, num, den) =>
      val s = spark()
      import org.apache.spark.sql.functions.{col, round}
      val ops = graft.operators.DedupOps
      val newSigs = graft.operators.CacheScope.scoped(
        ops.minhashSignature(s.table(newT), text, k = 32))
      val oldSigs = graft.operators.CacheScope.scoped(
        ops.minhashSignature(s.table(oldT), text, k = 32))
      val cands = ops.crossMinhashCandidates(
        newSigs, oldSigs, id, k = 32, bands = 8)
        .select(col("doc_new").as("doc_a"), col("doc_old").as("doc_b"))
      // dedupe the verify corpus by id: the statement's contract
      // assumes ID-disjoint sides, but a doc present in both tables
      // must not inflate the token join with duplicated rows
      ops.verifyJaccard(cands,
          s.table(newT).unionByName(s.table(oldT)).dropDuplicates(id),
          id, text)
        .where(col("jaccard") >= num.toDouble / den.toDouble)
        .select(col("doc_a").as("doc_new"), col("doc_b").as("doc_old"),
          round(col("jaccard"), 6).as("jaccard"))
        .queryExecution.logical

    case CompactRe(src, out, rows) =>
      GraftStatementCommand("COMPACT",
        Seq("n_rows" -> LongType, "files_before" -> LongType,
          "files_after" -> LongType, "n_rows_after" -> LongType),
        s => graft.operators.LayoutOps
          .compact(s, src, out, rows.toLong).collect().toSeq)
    case SeqPatRe(table, key, ord, label) =>
      graft.operators.SeqPatternOps
        .seqPatterns(spark().table(table), key, ord, label)
        .queryExecution.logical
    case DistinctOnRe(keys, table, orderBy) =>
      val df = spark().table(table)
      val order = orderBy.split(",").map(_.trim).filter(_.nonEmpty)
        .map { spec =>
          val parts = spec.split("\\s+")
          val asc = parts.length < 2 || !parts(1).equalsIgnoreCase("DESC")
          (parts(0), asc)
        }.toSeq
      DistinctOnPlan.resolved(
        df.queryExecution.analyzed,
        keys.split(",").map(_.trim).filter(_.nonEmpty).toSeq,
        order)
    case RangeRe(points, pcol, intervals, lo, hi, width) =>
      graft.operators.ExtendedOps.rangeJoin(
        spark().table(points), spark().table(intervals),
        pcol, lo, hi, width.toDouble)
        .queryExecution.logical
    case BandRe(points, pcol, intervals, lo, hi, keys) =>
      graft.operators.ExtendedOps.bandJoin(
        spark().table(points), spark().table(intervals),
        keys.split(",").map(_.trim).filter(_.nonEmpty).toSeq,
        pcol, lo, hi)
        .queryExecution.logical
    case AsOfRe(probe, ref, keys, ord) =>
      graft.operators.ExtendedOps.asofJoinExec(
        spark().table(probe), spark().table(ref),
        keys.split(",").map(_.trim).filter(_.nonEmpty).toSeq, ord)
        .queryExecution.logical
    case DtwRe(lTable, rTable, key, ord, value, margin) =>
      val s = spark()
      graft.operators.DtwAlign.align(
        s.table(lTable), s.table(rTable), key, ord, value,
        Option(margin).map(_.toInt))
        .queryExecution.logical

    case ImputeBayesRe(table, colName, feats, flagCol) =>
      graft.operators.MLOps.imputeBayes(
        spark().table(table), colName,
        feats.split(",").map(_.trim).filter(_.nonEmpty).toSeq,
        Option(flagCol))
        .queryExecution.logical
    case ImputeWithRe(table, specsBlob) =>
      val s = spark()
      val specs = ImputeSpecRe.findAllMatchIn(specsBlob)
        .map(m => (m.group(1), m.group(2), Option(m.group(3)))).toSeq
      specs.foldLeft(s.table(table)) {
        case (df, (colName, model, flagCol)) =>
          graft.operators.MLOps.imputeWith(
            df, colName, s.table(s"graft_model_$model"), flagCol)
      }.queryExecution.logical
    case ImputeRe(table, value, keys) =>
      graft.operators.MLOps.imputeMean(
        spark().table(table), value,
        keys.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .queryExecution.logical
    case ClusterRe(table, k, iters) =>
      graft.operators.MLOps.kmeans(
        spark().table(table), k.toInt, iters.toInt)
        .queryExecution.logical
    case TypeInferRe(table, nullsBlob, limitStr, applyFlag) =>
      val nulls = Option(nullsBlob).toSeq.flatMap(b =>
        QuotedItem.findAllMatchIn(b).map(_.group(1)).toSeq)
      val lookAhead = Option(limitStr).map(_.toInt)
      val df = spark().table(table)
      val out =
        if (applyFlag != null)
          graft.operators.MLOps.castInferred(df, nulls, lookAhead)
        else {
          require(nulls.isEmpty && lookAhead.isEmpty,
            "GRAFT TYPEINFER: NULLS/LIMIT need APPLY " +
              "(the report ignores them)")
          graft.operators.MLOps.inferTypes(df)
        }
      out.queryExecution.logical
    case ProfileRe(table) =>
      graft.operators.ProfileOps.profile(spark().table(table))
        .queryExecution.logical
    case FdCheckRe(table, blob) =>
      val cands = FdPair.findAllMatchIn(blob)
        .map(m => m.group(1) -> m.group(2)).toSeq
      require(cands.nonEmpty,
        "GRAFT FDCHECK: need at least one 'lhs -> rhs' candidate")
      graft.operators.ProfileOps
        .fdViolations(spark().table(table), cands)
        .queryExecution.logical
    case CheckRe(table, rulesBlob) =>
      import org.apache.spark.sql.functions.expr
      val rules = CheckRuleRef.findAllMatchIn(rulesBlob).map { m =>
        val spec = m.group(1)
        val (name, body) = spec.indexOf(':') match {
          case -1 => (spec.trim.replaceAll("\\W+", "_"), spec)
          case i => (spec.take(i).trim, spec.drop(i + 1))
        }
        name -> expr(body)
      }.toSeq
      graft.operators.ProfileOps.checkRules(spark().table(table), rules)
        .queryExecution.logical

    case SkewRe(table, key) =>
      graft.operators.ProfileOps.keySkew(spark().table(table), key)
        .queryExecution.logical
    case SearchIdxRe(dir, id, terms, n) =>
      graft.operators.TextSearchOps.bm25Indexed(spark(), dir, id,
        terms.trim.split("\\s+").toSeq, n.toInt)
        .queryExecution.logical
    case SearchRe(table, id, text, terms, n, method) =>
      val toks = terms.trim.split("\\s+").toSeq
      val ranked =
        if (method != null && method.equalsIgnoreCase("QL"))
          graft.operators.TextSearchOps.queryLikelihood(
            spark().table(table), id, text, toks, n.toInt)
        else
          graft.operators.TextSearchOps.bm25(
            spark().table(table), id, text, toks, n.toInt)
      ranked.queryExecution.logical
    case IndexRe(table, id, text, dir) =>
      GraftStatementCommand.status("INDEX BUILD",
        Seq("index", "table", "status")) { s =>
        graft.operators.TextSearchOps.buildIndex(
          s.table(table), id, text, dir)
        Seq(dir, table, "built")
      }
    case ExplainRe(inner) =>
      val s = spark()
      import org.apache.spark.sql.functions.posexplode
      import org.apache.spark.sql.functions.col
      import org.apache.spark.sql.functions.lit
      import org.apache.spark.sql.functions.array
      // SKIP-mode explain: a side-effecting statement (GRAFT NATIVE,
      // INDEX, ...) is rendered, never executed, by its EXPLAIN
      val planText = org.apache.spark.sql.GraftBridge
        .explainString(s, parsePlan(inner),
          org.apache.spark.sql.execution.SimpleMode)
      val lines = planText.split("\n").toSeq
      s.range(1).select(posexplode(
        array(lines.map(lit): _*)).as(Seq("line_no", "plan_line")))
        .select(col("line_no"), col("plan_line"))
        .queryExecution.logical

    case ZorderRe(table, xCol, yCol, files, path) =>
      GraftStatementCommand("ZORDER",
        Seq("n_files" -> LongType, "n_rows" -> LongType), { s =>
        graft.operators.LayoutOps.writeZordered(
          s.table(table), xCol, yCol, files.toInt, path)
        import org.apache.spark.sql.functions.{col, countDistinct, count,
          input_file_name, lit}
        val r = s.read.parquet(path)
          .select(input_file_name().as("_f"))
          .agg(countDistinct(col("_f")).cast("long").as("n_files"),
            count(lit(1)).as("n_rows"))
          .head()
        Seq(org.apache.spark.sql.Row(r.getLong(0), r.getLong(1)))
      })

    case CreateClassifierRe(name, target, table) =>
      GraftStatementCommand.status("CREATE CLASSIFIER",
        Seq("model", "kind", "status")) { s =>
        val model = graft.operators.MLOps
          .centroids(s.table(table), target).persist()
        model.count() // train NOW: scoring must not re-run training
        model.createOrReplaceTempView(s"graft_model_$name")
        graft.operators.ModelCache.put(s, name, model)
        Seq(name, "classifier", "trained")
      }
    case CreateClustererRe(name, k, iters, table) =>
      GraftStatementCommand.status("CREATE CLUSTERER",
        Seq("model", "kind", "status")) { s =>
        val model = graft.operators.MLOps
          .kmeansModel(s.table(table), k.toInt, iters.toInt)
        model.createOrReplaceTempView(s"graft_model_$name")
        graft.operators.ModelCache.put(s, name, model)
        Seq(name, "clusterer", "trained")
      }
    case CreateRecommenderRe(name, userCol, itemCol, iters, table) =>
      GraftStatementCommand.status("CREATE RECOMMENDER",
        Seq("model", "kind", "status")) { s =>
        import org.apache.spark.sql.functions.{col, lit, count => cnt}
        val ratings = s.table(table)
          .groupBy(col(userCol).as("u"), col(itemCol).as("i"))
          .agg(cnt(lit(1)).as("r"))
        val (userF, itemF) = graft.operators.AlsOps
          .alsBoth(ratings, "u", "i", iters.toInt)
        // itemF's sub-chain is computed twice inside the training
        // action (the union's item side + inside userF's final
        // half-step). Deliberately left uncached: persisting it
        // measured 4.5s -> 10s at sf0.1 — the InMemoryRelation
        // barrier in the middle of the alternation chain costs far
        // more than the duplicated codegen'd aggregates.
        val model = userF
          .select(lit("user").as("side"), col("u").cast("long").as("id"),
            col("f1"), col("f2"))
          .union(itemF.select(lit("item").as("side"),
            col("i").cast("long").as("id"), col("f1"), col("f2")))
          .persist()
        model.count() // train NOW: scoring must not re-run the ALS
        model.createOrReplaceTempView(s"graft_model_$name")
        graft.operators.ModelCache.put(s, name, model)
        Seq(name, "recommender", "trained")
      }
    case RecommendRe(name, userId, k) =>
      val s = spark()
      import org.apache.spark.sql.functions.{broadcast, col}
      val m = s.table(s"graft_model_$name")
      val uf = m.where(col("side") === "user" && col("id") === userId.toLong)
        .select(col("f1").as("uf1"), col("f2").as("uf2"))
      val items = m.where(col("side") === "item")
        .select(col("id").as("item"), col("f1"), col("f2"))
      items.crossJoin(broadcast(uf))
        // exact integer micro^2 dot product — deterministic ranking
        .select(col("item"),
          (col("uf1") * col("f1") + col("uf2") * col("f2"))
            .as("score_micro2"))
        .orderBy(col("score_micro2").desc, col("item"))
        .limit(k.toInt)
        .queryExecution.logical
    case DropModelRe(name) =>
      GraftStatementCommand.status("DROP MODEL",
        Seq("model", "status")) { s =>
        s.catalog.dropTempView(s"graft_model_$name")
        // release the model's cache entry with its catalog object
        graft.operators.ModelCache.drop(s, name)
        Seq(name, "dropped")
      }
    case ClassifiedWithRe(table, name) =>
      val s = spark()
      graft.operators.MLOps
        .assign(s.table(table), s.table(s"graft_model_$name"))
        .queryExecution.logical

    case AddLocRe(name, kind, path, schemaDdl) =>
      GraftStatementCommand.status("ADD LOCATION",
        Seq("location", "kind", "path")) { _ =>
        val schema = Option(schemaDdl).map(StructType.fromDDL)
        // kinds come from the ServiceLoader SPI (built-ins +
        // third-party jars; spi/GraftProviders.scala)
        val kinds = graft.spi.ProviderRegistry.sourceKinds
        val factory = kinds.getOrElse(kind.toUpperCase,
          throw new IllegalArgumentException(
            s"unknown location kind '$kind' " +
              s"(have: ${kinds.keys.toSeq.sorted.mkString(", ")})"))
        graft.sources.ExternalLocations.register(name, factory(path, schema))
        Seq(name, kind.toUpperCase, path)
      }
    case AttachDerbyRe(dbName, catalog) =>
      GraftStatementCommand.status("ATTACH DERBY",
        Seq("catalog", "db", "status")) { s =>
        graft.sources.FederatedPushdown.attach(s, catalog, dbName)
        Seq(catalog, dbName, "attached")
      }
    case AttachJdbcRe(url, catalog, driver) =>
      GraftStatementCommand.status("ATTACH JDBC",
        Seq("catalog", "url", "status")) { s =>
        graft.sources.FederatedPushdown.attachJdbc(
          s, catalog, url, Option(driver))
        Seq(catalog, url, "attached")
      }
    case NativeRe(catalog, stmtRaw) =>
      // a runtime COMMAND node, not a parse-time side effect: GRAFT
      // EXPLAIN (or any analysis-only parse) must not run remote DDL
      NativeStatementCommand(catalog, stmtRaw.replace("''", "'"))

    case RemoveLocRe(name) =>
      GraftStatementCommand.status("REMOVE LOCATION",
        Seq("location", "status")) { _ =>
        val removed = graft.sources.ExternalLocations.remove(name)
        Seq(name, if (removed) "removed" else "absent")
      }
    case DescribeLocRe(name) =>
      graft.sources.ExternalLocations.get(name) match {
        case None => statusPlan("location" -> name, "status" -> "absent")
        case Some(loc) =>
          val (kind, path, schema) = loc match {
            case graft.sources.CsvLocation(p, _, s) =>
              ("CSV", p, s.map(_.toDDL).getOrElse(""))
            case graft.sources.JsonLocation(p, s) =>
              ("JSON", p, s.map(_.toDDL).getOrElse(""))
            case graft.sources.TextLocation(p) => ("TEXT", p, "")
            case graft.sources.ParquetLocation(p) => ("PARQUET", p, "")
            case other => (other.getClass.getSimpleName, "", "")
          }
          statusPlan("location" -> name, "kind" -> kind,
            "path" -> path, "schema" -> schema)
      }
    case AddFnRe(name, provider) =>
      GraftStatementCommand.status("ADD FUNCTION",
        Seq("function", "provider", "status")) { s =>
        graft.functions.ExternalFunctions.add(s, name, provider)
        Seq(name, provider, "added")
      }
    case RemoveFnRe(name) =>
      GraftStatementCommand.status("REMOVE FUNCTION",
        Seq("function", "status")) { s =>
        val removed = graft.functions.ExternalFunctions.remove(s, name)
        Seq(name, if (removed) "removed" else "absent")
      }
    case ListFnRe() =>
      val s = spark()
      import org.apache.spark.sql.functions.{array, explode, lit, struct}
      val listed = graft.functions.ExternalFunctions.list(s)
      val plan =
        if (listed.isEmpty)
          // array() of zero structs has NullType elements — star
          // expansion would fail; emit an empty frame with the schema
          s.range(0).select(lit("").as("function"), lit("").as("provider"),
            lit(0).as("arity"), lit("").as("description"))
        else {
          val rows = listed.map { case (n, p, a, d) =>
            struct(lit(n).as("function"), lit(p).as("provider"),
              lit(a).as("arity"), lit(d).as("description"))
          }
          s.range(1).select(explode(array(rows: _*)).as("f")).select("f.*")
        }
      plan.queryExecution.logical

    case CreateExtRe(name, stmt) =>
      GraftStatementCommand.status("CREATE EXTERNAL",
        Seq("location", "status", "columns")) { s =>
        val loc = graft.sources.ExternalLocations.get(name).getOrElse(
          throw new IllegalArgumentException(
            s"unknown external location '$name' (registered: " +
              s"${graft.sources.ExternalLocations.names.mkString(", ")})"))
        val df = s.sql(stmt.trim)
        loc.write(df)
        Seq(name, "created", df.columns.length.toString)
      }
    case CreateTableDefHead(name, rest) =>
      val (items, asStmt) = splitTableDef(rest)
      val defs = parseColumnDefs(items)
      require(defs.nonEmpty, "GRAFT CREATE TABLE: no columns declared")
      GraftStatementCommand.status("CREATE TABLE (DDL)",
        Seq("table", "n_columns", "status")) { s =>
        val schema = StructType.fromDDL(
          defs.map(c => s"${c.name} ${c.typeDdl}").mkString(", "))
        val df = asStmt match {
          case None =>
            // typed EMPTY table: DML (GRAFT INSERT/MERGE) fills it.
            // repartition(1) forces ONE (empty) parquet part file on
            // write below, so the schema lands in a real footer and
            // the location stays readable — a 0-partition write emits
            // only _SUCCESS, which read.parquet cannot infer from.
            s.createDataFrame(
              new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
              .repartition(1)
          case Some(stmt) =>
            // CTAS cast POSITIONALLY to the declared schema (the SQL
            // column-list convention)
            val src = org.apache.spark.sql.GraftBridge
              .ofRows(s, parsePlan(stmt))
            require(src.columns.length == defs.size,
              s"GRAFT CREATE TABLE $name: ${defs.size} columns " +
                s"declared but AS produces ${src.columns.length}")
            import org.apache.spark.sql.functions.col
            src.select(src.columns.zip(schema.fields).map {
              case (c0, f) => col(c0).cast(f.dataType).as(f.name)
            }.toIndexedSeq: _*)
        }
        // declared-schema tables persist like the CTAS lane (parquet
        // content + ExternalLocation) so they survive SAVE/LOAD
        // CATALOG instead of silently vanishing — the key metadata
        // itself rides the graft_tabledefs catalog table
        val root = new org.apache.hadoop.fs.Path(
          s.sessionState.conf.warehousePath,
          s"graft_tables/$name").toString
        df.write.mode("overwrite").parquet(root)
        s.read.parquet(root).createOrReplaceTempView(name)
        graft.sources.ExternalLocations.register(name,
          graft.sources.ParquetLocation(root))
        graft.sources.TableMeta.put(s,
          graft.sources.TableMeta.TableDef(name, defs))
        Seq(name, defs.size.toString, "created")
      }

    case DescTableRe(name) =>
      val s = spark()
      import org.apache.spark.sql.functions.{array, explode, lit, struct}
      // declared tables render their key metadata (reference
      // DescribeObject over Table keys); undeclared ones fall back
      // to the live schema with no key roles
      val cols = graft.sources.TableMeta.get(s, name)
        .map(_.columns)
        .getOrElse(s.table(name).schema.fields.toSeq.map(f =>
          graft.sources.TableMeta.ColumnDef(
            f.name, f.dataType.sql, "")))
      s.range(1).select(explode(array(cols.map(c =>
          struct(lit(c.name).as("column"), lit(c.typeDdl).as("type"),
            lit(c.key).as("key"))): _*)).as("c"))
        .select("c.*").queryExecution.logical

    case CreateTableRe(tempKw, name, stmt) =>
      if (tempKw != null)
        GraftStatementCommand.status("CREATE TEMP TABLE",
          Seq("table", "temp", "status")) { s =>
          // TEMP: session-lifetime materialization (cached frame)
          val cached = org.apache.spark.sql.GraftBridge
            .ofRows(s, parsePlan(stmt.trim)).persist()
          cached.count()
          cached.createOrReplaceTempView(name)
          // a previous declared-schema table of this name is gone —
          // stale key metadata must not survive the replace
          graft.sources.TableMeta.drop(s, name)
          Seq(name, "true", "created")
        }
      else
        GraftStatementCommand.status("CREATE TABLE",
          Seq("table", "temp", "path", "status")) { s =>
          val df = org.apache.spark.sql.GraftBridge
            .ofRows(s, parsePlan(stmt.trim))
          val root = new org.apache.hadoop.fs.Path(
            s.sessionState.conf.warehousePath,
            s"graft_tables/$name").toString
          df.write.mode("overwrite").parquet(root)
          val back = s.read.parquet(root)
          back.createOrReplaceTempView(name)
          // the same name as an external location: EXTERNAL(<name>)
          // reads it, and SAVE CATALOG persists the definition
          graft.sources.ExternalLocations.register(name,
            graft.sources.ParquetLocation(root))
          graft.sources.TableMeta.drop(s, name) // no stale key metadata
          Seq(name, "false", root, "created")
        }
    case DropTableRe(name) =>
      GraftStatementCommand.status("DROP TABLE",
        Seq("table", "status")) { s =>
        // kind guard: a GRAFT CREATE VIEW name is not a table —
        // dropping it here would orphan its SessionViews entry
        // (phantom in LIST VIEWS whose reads fail)
        val isView = graft.sources.SessionViews.listViews(s)
          .exists(_.name.equalsIgnoreCase(name))
        if (isView) Seq(name, "not_a_table")
        else {
          val hadView = s.catalog.tableExists(name)
          if (hadView) s.catalog.dropTempView(name)
          // a GRAFT ADD TABLE registration under this name must go
          // too, or LIST TABLES keeps a phantom row whose reads fail
          graft.sources.SessionViews.dropTable(s, name)
          // declared-schema metadata (CREATE TABLE with col defs)
          // goes with its table
          graft.sources.TableMeta.drop(s, name)
          graft.sources.ExternalLocations.get(name) match {
            case Some(graft.sources.ParquetLocation(p))
                if p.contains("/graft_tables/") =>
              graft.sources.ExternalLocations.remove(name)
              graft.sources.CacheFs.delete(s, p)
            case _ => ()
          }
          Seq(name, if (hadView) "dropped" else "absent")
        }
      }
    case ListObjectsRe(prefix) =>
      val s = spark()
      import org.apache.spark.sql.functions.{array, explode, lit, struct}
      val pre = Option(prefix).map(_.toLowerCase).getOrElse("")
      // a declared table's content parquet registers under the table's
      // own name (durability); that location is a storage detail, not
      // a separate object — suppress it from the listing
      val declaredNames = graft.sources.TableMeta.list(s)
        .map(_.name.toLowerCase).toSet
      val objs: Seq[(String, String)] =
        graft.sources.ExternalLocations.names.sorted
          .filterNot(n => declaredNames.contains(n.toLowerCase))
          .map("location" -> _) ++
        graft.sources.SessionViews.listViews(s)
          .map(v => "view" -> v.name) ++
        graft.sources.SessionViews.listTables(s)
          .map(t => "table" -> t.name) ++
        // explicitly declared tables (CREATE TABLE with col defs)
        graft.sources.TableMeta.list(s)
          .map(t => "table" -> t.name) ++
        s.catalog.listTables().collect().map(_.name)
          .filter(_.startsWith("graft_model_"))
          .map(n => "model" -> n.stripPrefix("graft_model_")).sorted ++
        graft.functions.ExternalFunctions.list(s)
          .map(f => "function" -> f._1) ++
        graft.sources.IndexRegistry.list(s)
          .map(d => "index" -> d.name)
      val kept = objs.distinct
        .filter { case (_, n) => n.toLowerCase.startsWith(pre) }
        .sortBy(o => (o._1, o._2))
      val plan =
        if (kept.isEmpty)
          s.range(0).select(lit("").as("kind"), lit("").as("name"))
        else
          s.range(1).select(explode(array(kept.map { case (k, n) =>
            struct(lit(k).as("kind"), lit(n).as("name"))
          }: _*)).as("o")).select("o.*")
      plan.queryExecution.logical
    case CreateViewRe(tempKw, name, colList, stmt) =>
      val temp = tempKw != null
      GraftStatementCommand.status("CREATE VIEW",
        Seq("view", "temp", "status")) { s =>
        val listed = Option(colList).toSeq
          .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
        // the rename is folded into the DEFINITION text (subquery
        // alias with a column list), so execution and the stored
        // definition LOAD CATALOG re-parses are one and the same; the
        // col-list form therefore requires a SQL definition, like the
        // reference's viewColDef over relExpr
        val storedDef =
          if (listed.isEmpty) stmt.trim
          else {
            val up = stmt.trim.toUpperCase(java.util.Locale.ROOT)
            require(up.startsWith("SELECT") || up.startsWith("WITH") ||
              up.startsWith("VALUES"),
              s"GRAFT CREATE VIEW $name: a column list requires a " +
                "SQL definition (SELECT/WITH/VALUES)")
            s"SELECT * FROM (${stmt.trim}) AS " +
              s"graft_vdef(${listed.mkString(", ")})"
          }
        org.apache.spark.sql.GraftBridge
          .ofRows(s, parsePlan(storedDef))
          .createOrReplaceTempView(name)
        graft.sources.SessionViews.putView(s,
          graft.sources.SessionViews.ViewDef(name, storedDef, temp))
        graft.sources.TableMeta.drop(s, name) // no stale key metadata
        Seq(name, temp.toString, "created")
      }
    case DropViewRe(name) =>
      GraftStatementCommand.status("DROP VIEW",
        Seq("view", "status")) { s =>
        // kind guard (mirror of DropTableRe): CTAS tables and ADD
        // TABLE registrations are not views
        val isTable = graft.sources.SessionViews.listTables(s)
          .exists(_.name.equalsIgnoreCase(name)) ||
          graft.sources.ExternalLocations.get(name).exists {
            case graft.sources.ParquetLocation(p) =>
              p.contains("/graft_tables/")
            case _ => false
          }
        if (isTable) Seq(name, "not_a_view")
        else {
          val known = graft.sources.SessionViews.dropView(s, name)
          if (known) s.catalog.dropTempView(name)
          Seq(name, if (known) "dropped" else "absent")
        }
      }
    case ListViewsRe(fmt) =>
      val s = spark()
      import org.apache.spark.sql.functions.{array, explode, lit, struct}
      val long = fmt.equalsIgnoreCase("DESCRIBE")
      val vs = graft.sources.SessionViews.listViews(s)
      val rows = vs.map { v =>
        if (long)
          struct(lit(v.name).as("view"), lit(v.temp).as("temp"),
            lit(v.definition).as("definition"))
        else struct(lit(v.name).as("view"), lit(v.temp).as("temp"))
      }
      val plan =
        if (rows.isEmpty) {
          val base = s.range(0)
            .select(lit("").as("view"), lit(false).as("temp"))
          (if (long) base.withColumn("definition", lit("")) else base)
        } else
          s.range(1).select(explode(array(rows: _*)).as("v"))
            .select("v.*")
      plan.queryExecution.logical
    case AddTableRe(catalog, table, asName) =>
      val name = Option(asName).getOrElse(table).toLowerCase
      GraftStatementCommand.status("ADD TABLE",
        Seq("table", "catalog", "remote", "status")) { s =>
        graft.sources.FederatedPushdown.table(s, catalog, table)
          .createOrReplaceTempView(name)
        graft.sources.SessionViews.putTable(s,
          graft.sources.SessionViews.AddedTable(name, catalog,
            table.toUpperCase))
        graft.sources.TableMeta.drop(s, name) // no stale key metadata
        Seq(name, catalog, table.toUpperCase, "added")
      }
    case RemoveTableRe(name) =>
      GraftStatementCommand.status("REMOVE TABLE",
        Seq("table", "status")) { s =>
        val known = graft.sources.SessionViews.dropTable(s, name)
        if (known) s.catalog.dropTempView(name)
        Seq(name, if (known) "removed" else "absent")
      }
    case ListTablesRe(fmt) =>
      val s = spark()
      import org.apache.spark.sql.functions.{array, explode, lit, struct}
      val long = fmt.equalsIgnoreCase("DESCRIBE")
      val ts = graft.sources.SessionViews.listTables(s)
      val rows = ts.map { t =>
        if (long)
          struct(lit(t.name).as("table"), lit(t.catalog).as("catalog"),
            lit(t.remote).as("remote"))
        else struct(lit(t.name).as("table"), lit(t.catalog).as("catalog"))
      }
      val plan =
        if (rows.isEmpty) {
          val base = s.range(0)
            .select(lit("").as("table"), lit("").as("catalog"))
          (if (long) base.withColumn("remote", lit("")) else base)
        } else
          s.range(1).select(explode(array(rows: _*)).as("t"))
            .select("t.*")
      plan.queryExecution.logical
    case ListRemainingRe(_, catalog) =>
      val s = spark()
      import org.apache.spark.sql.functions.explode_outer
      import org.apache.spark.sql.functions.{array, lit}
      val addedRemote = graft.sources.SessionViews.listTables(s)
        .filter(_.catalog == catalog).map(_.remote.toLowerCase).toSet
      val remaining = graft.sources.FederatedPushdown
        .remoteTables(s, catalog)
        .filterNot(t => addedRemote.contains(t.toLowerCase))
      s.range(1).select(explode_outer(
        array(remaining.map(lit): _*)).as("remaining"))
        .queryExecution.logical
    case SetConfLocRe(param, locName) =>
      GraftStatementCommand.status("SET LOCATION",
        Seq("param", "location", "status")) { s =>
        require(graft.sources.ExternalLocations.get(locName).isDefined,
          s"GRAFT SET $param LOCATION: unknown location '$locName' " +
            "(register it with GRAFT ADD LOCATION first)")
        s.conf.set(s"spark.graft.location.$param", locName)
        Seq(param, locName, "set")
      }
    case CreateSchemaRe() =>
      GraftStatementCommand.status("CREATE SCHEMA",
        Seq("schema", "n_tables", "status")) { _ =>
        val n = graft.sources.DurableCatalog.initSchema()
        Seq("graft_catalog", n.toString, "created")
      }
    case DropSchemaRe() =>
      GraftStatementCommand.status("DROP SCHEMA",
        Seq("schema", "n_tables", "status")) { _ =>
        val n = graft.sources.DurableCatalog.dropSchema()
        Seq("graft_catalog", n.toString,
          if (n > 0) "dropped" else "absent")
      }
    case SetConfRe(key, value) =>
      GraftStatementCommand.status("SET",
        Seq("key", "value", "status")) { s =>
        s.conf.set(key, value)
        Seq(key, value, "set")
      }
    case ShowConfRe() =>
      val s = spark()
      import org.apache.spark.sql.functions.{array, explode, lit, struct}
      // the knob surface a graft user actually tunes: every
      // spark.graft.* setting plus the scale-relevant engine confs
      val engineKeys = Seq(
        "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
        "spark.sql.session.timeZone",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.files.maxPartitionBytes")
      val graftKeys = s.conf.getAll.keys
        .filter(_.startsWith("spark.graft.")).toSeq.sorted
      val rows = (graftKeys ++ engineKeys).distinct.map { k =>
        struct(lit(k).as("key"),
          lit(s.conf.getOption(k).getOrElse("")).as("value"))
      }
      s.range(1).select(explode(array(rows: _*)).as("c"))
        .select("c.*").queryExecution.logical
    case ListModelsRe() =>
      val s = spark()
      import org.apache.spark.sql.functions.{array, explode_outer, lit}
      val models = s.catalog.listTables().collect()
        .map(_.name).filter(_.startsWith("graft_model_"))
        .map(_.stripPrefix("graft_model_")).sorted.toSeq
      s.range(1).select(explode_outer(
        array(models.map(lit): _*)).as("model"))
        .queryExecution.logical
    case ListLocRe() =>
      val s = spark()
      import org.apache.spark.sql.functions.explode_outer
      import org.apache.spark.sql.functions.lit
      import org.apache.spark.sql.functions.array
      val names = graft.sources.ExternalLocations.names
      s.range(1).select(explode_outer(
        array(names.map(lit): _*)).as("location"))
        .queryExecution.logical

    case DmlBatchRe(blob) =>
      // quote-aware split on ';' (a literal ';' inside a string value
      // must not break the statement; doubled '' escapes keep the
      // scanner in-string across the pair)
      val parts = {
        val buf = Seq.newBuilder[String]
        val cur = new StringBuilder
        var inQ = false
        var i = 0
        while (i < blob.length) {
          blob.charAt(i) match {
            case '\'' if inQ && i + 1 < blob.length &&
                blob.charAt(i + 1) == '\'' =>
              cur += '\''; cur += '\''; i += 1
            case '\'' => inQ = !inQ; cur += '\''
            case ';' if !inQ => buf += cur.toString; cur.clear()
            case c => cur += c
          }
          i += 1
        }
        buf += cur.toString
        buf.result().map(_.trim).filter(_.nonEmpty)
      }
      require(parts.nonEmpty, "GRAFT BATCH: no statements")
      // pre-parse EVERY statement before applying ANY (SqlUpdateBatch
      // is one atomic unit — a malformed statement midway must not
      // leave the batch half-applied)
      val staged: Seq[(String, String, SparkSession => Unit)] =
        parts.map { p =>
          val stmt =
            if (p.toUpperCase.startsWith("GRAFT")) p else s"GRAFT $p"
          stmt match {
            case DeleteRe(t, c) =>
              ("delete", t, (s: SparkSession) => applyDelete(s, t, c))
            case UpdateRe(t, rest) =>
              val (sets, c) = splitUpdateParts(rest)
              ("update", t,
                (s: SparkSession) => applyUpdate(s, t, sets, c))
            case InsertRe(t, cols, src) =>
              ("insert", t,
                (s: SparkSession) => applyInsert(s, t, cols, src))
            case MergeRe(t, src, k) =>
              ("merge", t, (s: SparkSession) => applyMerge(s, t, src, k))
            case _ => throw new IllegalArgumentException(
              "GRAFT BATCH accepts only DML statements " +
                s"(DELETE/UPDATE/INSERT/MERGE), got: ${p.take(48)}")
          }
        }
      GraftStatementCommand.status("BATCH",
        Seq("n_statements", "status")) { s =>
        // runtime atomicity on top of the parse-time pre-validation:
        // an apply failure midway (bad SET expression, column-count
        // mismatch — only caught when the post-image is built)
        // re-registers every target's pre-image, so the batch leaves
        // no partial effects
        val snaps = staged.map(_._2).distinct.map(t => t -> s.table(t))
        try staged.foreach(_._3(s))
        catch {
          case scala.util.control.NonFatal(e) =>
            snaps.foreach { case (t, df) =>
              df.createOrReplaceTempView(t)
            }
            throw e
        }
        Seq(staged.size.toString, "executed")
      }

    case DeleteRe(table, cond) =>
      GraftStatementCommand.status("DELETE",
        Seq("table", "operation", "status")) { s =>
        applyDelete(s, table, cond)
        Seq(table, "delete", "applied")
      }
    case UpdateRe(table, rest) =>
      val (setList, cond) = splitUpdateParts(rest)
      GraftStatementCommand.status("UPDATE",
        Seq("table", "operation", "status")) { s =>
        applyUpdate(s, table, setList, cond)
        Seq(table, "update", "applied")
      }
    case InsertRe(table, colList, source) =>
      GraftStatementCommand.status("INSERT",
        Seq("table", "operation", "status")) { s =>
        applyInsert(s, table, colList, source)
        Seq(table, "insert", "applied")
      }

    case MergeRe(target, source, key) =>
      GraftStatementCommand.status("MERGE",
        Seq("table", "operation", "status")) { s =>
        applyMerge(s, target, source, key)
        Seq(target, "merge", "applied")
      }

    case PlotHeatRe(table, x, xBins, y, yBins, render, title) =>
      val s = spark()
      import org.apache.spark.sql.functions.lit
      val binned = graft.operators.PlotOps.binHeatmap(
        s.table(table), x, xBins.toInt, y, yBins.toInt)
      if (render == null) binned.queryExecution.logical
      else {
        val svg = graft.operators.PlotOps.renderHeatmapSvg(
          binned, Option(title).getOrElse(s"$y by $x"))
        s.range(1).select(lit(svg).as("svg")).queryExecution.logical
      }
    case PlotTickerRe(table, tc, o, h, l, c, limitS, render, title) =>
      val s = spark()
      import org.apache.spark.sql.functions.{col, lit}
      val lim = Option(limitS).map(_.toInt).getOrElse(256)
      val frame = s.table(table).select(
          col(tc).as("t"), col(o).cast("double").as("o"),
          col(h).cast("double").as("h"),
          col(l).cast("double").as("l"),
          col(c).cast("double").as("c"))
        .orderBy(col("t")).limit(lim)
      if (render == null) frame.queryExecution.logical
      else {
        val svg = graft.operators.PlotOps.renderTickerSvg(
          frame, Option(title).getOrElse(s"$o/$h/$l/$c by $tc"))
        s.range(1).select(lit(svg).as("svg")).queryExecution.logical
      }
    case PlotSegRe(table, x, xend, y, yend, arrow, limitS,
        render, title) =>
      val s = spark()
      import org.apache.spark.sql.functions.{col, lit}
      val lim = Option(limitS).map(_.toInt).getOrElse(256)
      val frame = s.table(table).select(
          col(x).cast("double").as("x"),
          col(xend).cast("double").as("xend"),
          col(y).cast("double").as("y"),
          col(yend).cast("double").as("yend"))
        .orderBy(col("x"), col("y"), col("xend"), col("yend"))
        .limit(lim)
      if (render == null) frame.queryExecution.logical
      else {
        val svg = graft.operators.PlotOps.renderSegmentsSvg(
          frame, arrow != null,
          Option(title).getOrElse(s"segments $y..$yend by $x"))
        s.range(1).select(lit(svg).as("svg")).queryExecution.logical
      }
    case PlotTextRe(table, label, x, y, limitS, render, title) =>
      val s = spark()
      import org.apache.spark.sql.functions.{col, lit}
      val lim = Option(limitS).map(_.toInt).getOrElse(256)
      val frame = s.table(table).select(
          col(label).cast("string").as("label"),
          col(x).cast("double").as("x"),
          col(y).cast("double").as("y"))
        .orderBy(col("x"), col("y"), col("label"))
        .limit(lim)
      if (render == null) frame.queryExecution.logical
      else {
        val svg = graft.operators.PlotOps.renderTextSvg(
          frame, Option(title).getOrElse(s"$label at ($x, $y)"))
        s.range(1).select(lit(svg).as("svg")).queryExecution.logical
      }
    case PlotBlankRe(table, x, y, render, title) =>
      val s = spark()
      import org.apache.spark.sql.functions.lit
      val frame = graft.operators.PlotOps.blankFrame(s.table(table), x, y)
      if (render == null) frame.queryExecution.logical
      else {
        val svg = graft.operators.PlotOps.renderBlankSvg(
          frame, Option(title).getOrElse(s"$y by $x"))
        s.range(1).select(lit(svg).as("svg")).queryExecution.logical
      }
    case PlotPointRangeRe(table, x, y, yMin, yMax, limitS,
        render, title) =>
      val s = spark()
      import org.apache.spark.sql.functions.lit
      val frame = graft.operators.PlotOps.pointRangeFrame(
        s.table(table), x, y, yMin, yMax,
        Option(limitS).map(_.toInt).getOrElse(256))
      if (render == null) frame.queryExecution.logical
      else {
        val svg = graft.operators.PlotOps.renderPointRangeSvg(
          frame, Option(title).getOrElse(s"$y [$yMin,$yMax] by $x"))
        s.range(1).select(lit(svg).as("svg")).queryExecution.logical
      }
    case PlotRangeXRe(table, y, xMin, xMax, limitS, render, title) =>
      val s = spark()
      import org.apache.spark.sql.functions.lit
      val frame = graft.operators.PlotOps.rangeXFrame(
        s.table(table), y, xMin, xMax,
        Option(limitS).map(_.toInt).getOrElse(256))
      if (render == null) frame.queryExecution.logical
      else {
        val svg = graft.operators.PlotOps.renderRangeXSvg(
          frame, Option(title).getOrElse(s"[$xMin,$xMax] at $y"))
        s.range(1).select(lit(svg).as("svg")).queryExecution.logical
      }
    case PlotRangeYRe(table, x, yMin, yMax, limitS, render, title) =>
      val s = spark()
      import org.apache.spark.sql.functions.lit
      val frame = graft.operators.PlotOps.rangeYFrame(
        s.table(table), x, yMin, yMax,
        Option(limitS).map(_.toInt).getOrElse(256))
      if (render == null) frame.queryExecution.logical
      else {
        val svg = graft.operators.PlotOps.renderRangeYSvg(
          frame, Option(title).getOrElse(s"[$yMin,$yMax] at $x"))
        s.range(1).select(lit(svg).as("svg")).queryExecution.logical
      }
    case PlotGeoRe(table, lat, lon, binsS, lat0S, lon0S, render,
        title) =>
      val s = spark()
      import org.apache.spark.sql.functions.lit
      val lonBins = Option(binsS).map(_.toInt).getOrElse(24)
      if (lat0S == null) {
        val frame = graft.operators.PlotOps.binGeo(
          s.table(table), lat, lon, lonBins)
        if (render == null) frame.queryExecution.logical
        else {
          val svg = graft.operators.PlotOps.renderGeoSvg(
            frame, lonBins, Option(title).getOrElse(s"map of $lat/$lon"))
          s.range(1).select(lit(svg).as("svg")).queryExecution.logical
        }
      } else {
        val frame = graft.operators.PlotOps.binGeoOrtho(
          s.table(table), lat, lon, lonBins,
          lat0S.toDouble, lon0S.toDouble)
        if (render == null) frame.queryExecution.logical
        else {
          val svg = graft.operators.PlotOps.renderGeoOrthoSvg(frame,
            Option(title).getOrElse(s"ortho map of $lat/$lon"))
          s.range(1).select(lit(svg).as("svg")).queryExecution.logical
        }
      }
    case PlotVlinesRe(table, x, limitS, render, title) =>
      val s = spark()
      import org.apache.spark.sql.functions.lit
      val frame = graft.operators.PlotOps.vlinesFrame(
        s.table(table), x, Option(limitS).map(_.toInt).getOrElse(256))
      if (render == null) frame.queryExecution.logical
      else {
        val svg = graft.operators.PlotOps.renderVlinesSvg(
          frame, Option(title).getOrElse(s"vlines at $x"))
        s.range(1).select(lit(svg).as("svg")).queryExecution.logical
      }
    case PlotAblinesRe(table, slope, icept, xFrom, xTo, limitS,
        render, title) =>
      val s = spark()
      import org.apache.spark.sql.functions.lit
      val frame = graft.operators.PlotOps.ablinesFrame(
        s.table(table), slope, icept,
        Option(limitS).map(_.toInt).getOrElse(256))
      if (render == null) frame.queryExecution.logical
      else {
        val lo = Option(xFrom).map(_.toDouble).getOrElse(0.0)
        val hi = Option(xTo).map(_.toDouble).getOrElse(1.0)
        val svg = graft.operators.PlotOps.renderAblinesSvg(
          frame, lo, hi,
          Option(title).getOrElse(s"ablines $slope/$icept"))
        s.range(1).select(lit(svg).as("svg")).queryExecution.logical
      }
    case PlotRegionsRe(table, loC, hiC, axis, limitS, render, title) =>
      val s = spark()
      import org.apache.spark.sql.functions.lit
      val frame = graft.operators.PlotOps.regionsFrame(
        s.table(table), loC, hiC,
        Option(limitS).map(_.toInt).getOrElse(256))
      if (render == null) frame.queryExecution.logical
      else {
        val axisX = Option(axis).forall(_.equalsIgnoreCase("X"))
        val svg = graft.operators.PlotOps.renderRegionsSvg(
          frame, axisX,
          Option(title).getOrElse(s"regions $loC..$hiC"))
        s.range(1).select(lit(svg).as("svg")).queryExecution.logical
      }
    case PlotAesRe(table, x, xFrom, xTo, bins, agg, y, series,
        sizeCol, alphaCol, render, title) =>
      val s = spark()
      import org.apache.spark.sql.functions.lit
      val xRange = Option(xFrom).map(lo => (lo.toDouble, xTo.toDouble))
      val aes = Seq("size" -> sizeCol) ++
        Option(alphaCol).map("alpha" -> _)
      val binned = graft.operators.PlotOps.binSeriesAes(
        s.table(table), x, bins.toInt, agg, y, Option(series), aes,
        xRange)
      if (render == null) binned.queryExecution.logical
      else {
        val svg = graft.operators.PlotOps.renderSvgAes(binned,
          Option(title).getOrElse(s"$agg($y) by $x"))
        s.range(1).select(lit(svg).as("svg")).queryExecution.logical
      }

    case PlotSmoothRe(table, x, xFrom, xTo, bins, agg, y, series,
        bwS, render, title) =>
      val s = spark()
      import org.apache.spark.sql.functions.lit
      val xRange = Option(xFrom).map(lo => (lo.toDouble, xTo.toDouble))
      // Cleveland's canonical default span
      val bw = Option(bwS).map(_.toDouble).getOrElse(0.75)
      val binned = graft.operators.PlotOps.binSeries(
        s.table(table), x, bins.toInt, agg, y, Option(series), xRange)
      val smoothed = graft.operators.PlotOps.loessSmooth(binned, bw)
      if (render == null) smoothed.queryExecution.logical
      else {
        val svg = graft.operators.PlotOps.renderSvgSmooth(smoothed,
          Option(title).getOrElse(s"$agg($y) by $x (loess)"))
        s.range(1).select(lit(svg).as("svg")).queryExecution.logical
      }

    case plotStmt if PlotRe.pattern.matcher(plotStmt).matches() =>
      // 23 capture groups exceed Scala's 22-arg unapply limit, so the
      // groups bind through an ANCHORED matcher (same predicate as
      // the guard — cannot diverge; thread-safe, unlike caching the
      // guard's matcher in a field)
      val m = PlotRe.pattern.matcher(plotStmt)
      require(m.matches(), "unreachable: guard matched")
      val table = m.group(1); val x = m.group(2)
      val xFrom = m.group(3); val xTo = m.group(4)
      val bins = m.group(5); val agg = m.group(6); val y = m.group(7)
      val layersSeg = m.group(8); val series = m.group(9)
      val facet = m.group(10); val geom = m.group(11)
      val position = m.group(12); val scaleLog = m.group(13)
      val vlineS = m.group(14); val hlineS = m.group(15)
      val rxLo = m.group(16); val rxHi = m.group(17)
      val ryLo = m.group(18); val ryHi = m.group(19)
      val abM = m.group(20); val abB = m.group(21)
      val render = m.group(22); val title = m.group(23)
      val s = spark()
      import org.apache.spark.sql.functions.lit
      val extraLayers = PlotLayerRe
        .findAllMatchIn(Option(layersSeg).getOrElse(""))
        .map(m => (m.group(1), m.group(2))).toSeq
      val xRange = Option(xFrom).map(lo => (lo.toDouble, xTo.toDouble))
      val logY = scaleLog != null
      def nums(sOpt: String): Seq[Double] = Option(sOpt).toSeq
        .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty)
          .map(_.toDouble))
      val vlines = nums(vlineS); val hlines = nums(hlineS)
      val regionsX = Option(rxLo).map(l => (l.toDouble, rxHi.toDouble)).toSeq
      val regionsY = Option(ryLo).map(l => (l.toDouble, ryHi.toDouble)).toSeq
      val ablines = Option(abM).map(m => (m.toDouble, abB.toDouble)).toSeq
      def withAnnotations(svg: String,
          binned: org.apache.spark.sql.DataFrame): String =
        graft.operators.PlotOps.annotate(svg, binned, vlines, hlines,
          regionsX, regionsY, ablines, logY)
      val aggU = agg.toUpperCase
      if (aggU == "BOX" || aggU == "BAND") {
        // distribution geoms plan their own bounded frames: BOX the
        // per-bin 5-number summary (Geom.scala:907), BAND the
        // min/avg/max ribbon (Geom.scala:599)
        require(extraLayers.isEmpty && facet == null && position == null,
          s"PLOT: Y $aggU does not compose with LAYER/FACET/POSITION")
        val binned =
          if (aggU == "BOX") graft.operators.PlotOps.binBoxStats(
            s.table(table), x, bins.toInt, y, Option(series), xRange)
          else graft.operators.PlotOps.binRibbon(
            s.table(table), x, bins.toInt, y, Option(series), xRange)
        if (render == null) binned.queryExecution.logical
        else {
          val g = Option(geom).map(_.toLowerCase)
            .getOrElse(if (aggU == "BOX") "box" else "ribbon")
          val svg = withAnnotations(graft.operators.PlotOps.renderSvgGeom(
            binned, g, Option(title).getOrElse(s"$aggU($y) by $x"),
            logY = logY), binned)
          s.range(1).select(lit(svg).as("svg")).queryExecution.logical
        }
      } else if (extraLayers.isEmpty && facet == null) {
        // single-layer, unfaceted: the original q197 planning shape
        val pos = Option(position).map(_.toLowerCase).getOrElse("dodge")
        val geomL = Option(geom).map(_.toLowerCase)
        require(pos match {
          case "dodge" => true
          case "stack" => geomL.forall(_ == "bar")
          case _ => geomL.contains("point") // jitter
        }, "PLOT: POSITION STACK applies to GEOM BAR only, " +
          "POSITION JITTER to GEOM POINT only")
        val binned = graft.operators.PlotOps.binSeries(
          s.table(table), x, bins.toInt, agg, y, Option(series), xRange)
        if (render == null) binned.queryExecution.logical
        else {
          val svg = withAnnotations(
            geomL match {
              case None | Some("bar") => graft.operators.PlotOps.renderSvg(
                binned, Option(title).getOrElse(s"$agg($y) by $x"),
                logY = logY, position = pos)
              case Some(g) => graft.operators.PlotOps.renderSvgGeom(
                binned, g, Option(title).getOrElse(s"$agg($y) by $x"),
                logY = logY, jitter = pos == "jitter")
            }, binned)
          s.range(1).select(lit(svg).as("svg")).queryExecution.logical
        }
      } else {
        require(vlines.isEmpty && hlines.isEmpty && regionsX.isEmpty &&
          regionsY.isEmpty && ablines.isEmpty && position == null,
          "PLOT: annotations/POSITION do not compose with LAYER/FACET " +
            "yet")
        val layers = (agg, y) +: extraLayers
        val binned = graft.operators.PlotOps.binLayers(
          s.table(table), x, bins.toInt, layers,
          Option(series), Option(facet), xRange)
        if (render == null) binned.queryExecution.logical
        else {
          val svg = graft.operators.PlotOps.renderSvgLayers(
            binned, Option(title).getOrElse(s"$agg($y) by $x"),
            logY = logY)
          s.range(1).select(lit(svg).as("svg")).queryExecution.logical
        }
      }

    case SplitRe(table, lo, hi, outLo, outHi, partCol) =>
      graft.operators.ExtendedOps
        .disjointIntervals(spark().table(table), partCol, lo, hi)
        .withColumnRenamed("out_lo", outLo)
        .withColumnRenamed("out_hi", outHi)
        .queryExecution.logical

    case SimJoinRe(table, id, text, num, den) =>
      graft.operators.DedupOps.prefixJaccardJoin(
        spark().table(table), id, text, num.toInt, den.toInt)
        .queryExecution.logical

    case ContainRe(table, id, text, num, den) =>
      graft.operators.DedupOps.containmentJoin(
        spark().table(table), id, text, num.toInt, den.toInt)
        .queryExecution.logical

    case PerplexityRe(table, id, text) =>
      graft.operators.LmOps.perplexityBuckets(spark().table(table), id, text)
        .queryExecution.logical

    case OverlapRe(lTable, lLo, lHi, rTable, rLo, rHi, keys, width) =>
      val s = spark()
      val l = s.table(lTable); val r = s.table(rTable)
      // WIDTH omitted -> cost-based derivation from a BOUNDED sample
      // (never a plan-time full scan of either side)
      val w = Option(width).map(_.toDouble).getOrElse(
        graft.operators.ExtendedOps.deriveOverlapWidth(
          l, r, lLo, lHi, rLo, rHi))
      graft.operators.ExtendedOps.intervalOverlapJoin(
        l, r,
        Option(keys).toSeq.flatMap(
          _.split(",").map(_.trim).filter(_.nonEmpty)),
        lLo, lHi, rLo, rHi, w)
        .queryExecution.logical

    case TopKRe(table, key, score, id, k) =>
      import org.apache.spark.sql.functions.{col, expr, posexplode, round}
      spark().table(table)
        .groupBy(col(key))
        .agg(expr(
          s"graft_topk_by(CAST($score AS DOUBLE), $id, $id, $k)")
          .as("top"))
        .select(col(key), posexplode(col("top")))
        .select(col(key), col("col.tie").as(id),
          round(col("col.score"), 6).as("score"),
          (col("pos") + 1).cast("int").as("rk"))
        .queryExecution.logical

    case ReachRe(table, key, seg, k) =>
      graft.operators.ReachOps
        .reach(spark().table(table), key, seg,
          Option(k).map(_.toInt).getOrElse(65536))
        .queryExecution.logical

    case DriftRe(table, valueCol, groupCol, bins) =>
      graft.operators.DriftOps
        .ksDrift(spark().table(table), valueCol, groupCol, bins.toInt)
        .queryExecution.logical

    case SmoothRe(table, timeCol, valueCol, q, r) =>
      graft.operators.SmoothOps
        .kalman(spark().table(table), timeCol, valueCol,
          q.toDouble, r.toDouble)
        .queryExecution.logical

    case SmoothHoltRe(table, timeCol, valueCol, a, b) =>
      graft.operators.SmoothOps
        .holt(spark().table(table), timeCol, valueCol,
          a.toDouble, b.toDouble)
        .queryExecution.logical

    case SmoothHwRe(table, timeCol, valueCol, m, a, b, g) =>
      graft.operators.SmoothOps
        .holtWinters(spark().table(table), timeCol, valueCol,
          m.toInt, a.toDouble, b.toDouble, g.toDouble)
        .queryExecution.logical

    case SmoothEwmaRe(table, timeCol, valueCol, lam, lw) =>
      graft.operators.SmoothOps
        .ewma(spark().table(table), timeCol, valueCol,
          lam.toDouble, lw.toDouble)
        .queryExecution.logical

    case ManifestBuildRe(path, key) =>
      GraftStatementCommand.status("MANIFEST BUILD",
        Seq("manifest", "n_files")) { s =>
        val mDir = graft.sources.FileManifest.build(s, path, key)
        Seq(mDir, graft.sources.FileManifest.fileCount(s, mDir).toString)
      }

    case ManifestBloomRe(path, key) =>
      GraftStatementCommand.status("MANIFEST BLOOM",
        Seq("manifest", "n_files")) { s =>
        val mDir = graft.sources.FileManifest.buildBloom(s, path, key)
        Seq(mDir, graft.sources.FileManifest.fileCount(s, mDir).toString)
      }

    case ManifestLookupRe(path, key, v) =>
      graft.sources.FileManifest
        .bloomLookup(spark(), path, key, v.toLong)
        .queryExecution.logical

    case ManifestScanRe(path, key, from, to) =>
      // FROM/TO arrive as string literals; the binary comparisons
      // inside prunedRead cast them to the key column's type
      // (timestamp/date/numeric) under Spark's implicit rules
      graft.sources.FileManifest.prunedRead(spark(), path, key, from, to)
        .queryExecution.logical

    case TrendRe(table, keyCol, timeCol, valueCol, method) =>
      val in = spark().table(table)
      val out = method.toUpperCase match {
        case "THEILSEN" =>
          graft.operators.TrendOps.theilSen(in, keyCol, timeCol, valueCol)
        case _ =>
          graft.operators.TrendOps.mannKendall(in, keyCol, timeCol, valueCol)
      }
      out.queryExecution.logical

    case SaveCatalogRe() =>
      GraftStatementCommand.status("SAVE CATALOG",
        Seq("catalog", "n_locations", "n_views", "n_models",
          "n_indexes", "n_tabledefs")) { s =>
        val n = graft.sources.DurableCatalog.save()
        // non-TEMP views, named ML models, index metadata, and
        // declared-schema table defs persist with the catalog (sclera
        // parity: session-temporary objects are never durable; trained
        // models, index locations, and table key metadata are —
        // reference Processor.createIndex -> schema.addIndexLocation)
        val nv = graft.sources.DurableCatalog.saveViews(
          graft.sources.SessionViews.listViews(s))
        val nm = graft.sources.DurableCatalog.saveModels(s)
        val ni = graft.sources.DurableCatalog.saveIndexes(
          graft.sources.IndexRegistry.list(s))
        val nt = graft.sources.DurableCatalog.saveTableDefs(
          graft.sources.TableMeta.list(s))
        Seq("saved", n.toString, nv.toString, nm.toString, ni.toString,
          nt.toString)
      }
    case LoadCatalogRe() =>
      GraftStatementCommand.status("LOAD CATALOG",
        Seq("catalog", "n_locations", "n_views", "n_failed_views",
          "failed_views", "n_models", "n_indexes", "n_tabledefs")) { s =>
      val n = graft.sources.DurableCatalog.load()
      // Durable views may reference each other, and loadViews returns
      // them in name order, not dependency order — register with
      // retry-until-fixpoint: a view whose dependency hasn't landed
      // yet fails analysis this pass and is re-attempted after the
      // rest load. Views that never resolve (dangling reference,
      // dropped source) are reported, not fatal: one broken view must
      // not abort the whole catalog load.
      var pending = graft.sources.DurableCatalog.loadViews()
      var loaded = 0
      var progressed = true
      while (pending.nonEmpty && progressed) {
        progressed = false
        pending = pending.filter { v =>
          try {
            org.apache.spark.sql.GraftBridge
              .ofRows(s, parsePlan(v.definition))
              .createOrReplaceTempView(v.name)
            graft.sources.SessionViews.putView(s, v)
            loaded += 1
            progressed = true
            false
          } catch { case scala.util.control.NonFatal(_) => true }
        }
      }
      val nm = graft.sources.DurableCatalog.loadModels(s)
      val idxs = graft.sources.DurableCatalog.loadIndexes()
      idxs.foreach(graft.sources.IndexRegistry.put(s, _))
      // declared-schema tables: re-register the key metadata, and —
      // where the content parquet survived as a location — the table
      // view itself, so DESCRIBE TABLE and reads work post-restart
      val tdefs = graft.sources.DurableCatalog.loadTableDefs()
      tdefs.foreach { d =>
        graft.sources.TableMeta.put(s, d)
        graft.sources.ExternalLocations.get(d.name).foreach { loc =>
          try loc.read(s).createOrReplaceTempView(d.name)
          catch { case scala.util.control.NonFatal(_) => () }
        }
      }
      Seq("loaded", n.toString, loaded.toString,
        pending.size.toString, pending.map(_.name).mkString(","),
        nm.toString, idxs.size.toString, tdefs.size.toString)
      }

    case SnapshotRe(view, root) =>
      GraftStatementCommand.status("SNAPSHOT",
        Seq("root", "version", "n_rows")) { s =>
        val v = graft.sources.VersionedTable.commit(root, s.table(view))
        val n = graft.sources.VersionedTable.read(s, root, v).count()
        Seq(root, v.toString, n.toString)
      }
    case VersionsRe(root) =>
      graft.sources.VersionedTable.history(spark(), root)
        .queryExecution.logical
    case ReadVersionRe(root, v) =>
      graft.sources.VersionedTable.read(spark(), root, v.toInt)
        .queryExecution.logical
    case VersionDiffRe(root, key, fromV, toV) =>
      graft.sources.VersionedTable
        .diff(spark(), root, key, fromV.toInt, toV.toInt)
        .queryExecution.logical

    case VacuumRe(root, keep) =>
      GraftStatementCommand.status("VACUUM",
        Seq("root", "kept", "n_deleted", "deleted")) { s =>
        val deleted =
          graft.sources.VersionedTable.vacuum(s, root, keep.toInt)
        Seq(root, keep, deleted.length.toString, deleted.mkString(","))
      }

    case ExportRe(view, path, fmt) =>
      GraftStatementCommand.status("EXPORT",
        Seq("view", "path", "format", "status")) { s =>
        val f = fmt.toLowerCase(java.util.Locale.ROOT)
        val w = s.table(view).write.mode("overwrite")
        f match {
          case "csv" => w.option("header", "true").csv(path)
          case "json" => w.json(path)
          case _ => w.parquet(path)
        }
        Seq(view, path, f, "exported")
      }

    case LinkRe(dTable, dCol, cTable, cCol, pct) =>
      graft.operators.LinkOps.phoneticLink(
        spark().table(dTable), dCol, spark().table(cTable), cCol,
        pct.toInt / 100.0)
        .queryExecution.logical

    case SampleRe(table, keyCol, pct) =>
      import org.apache.spark.sql.functions.{expr, lit, pmod}
      spark().table(table)
        .where(pmod(
          expr(s"graft_fingerprint(CAST($keyCol AS STRING))"),
          lit(100L)) < lit(pct.toLong))
        .queryExecution.logical

    case TextTaskRe(task, inCol, table) =>
      import org.apache.spark.sql.functions.col
      val t = graft.spi.ProviderRegistry.nlpTasks.getOrElse(
        task.toUpperCase,
        throw new IllegalArgumentException(
          s"GRAFT TEXT TASK: no nlp task '$task' — available: " +
            graft.spi.ProviderRegistry.nlpTasks.keys.toSeq.sorted
              .mkString(", ")))
      t.outputs(col(inCol))
        .foldLeft(spark().table(table)) { case (d, (name, c)) =>
          d.withColumn(name, c)
        }.queryExecution.logical

    case ListTasksRe() =>
      val s = spark()
      import s.implicits._
      graft.spi.ProviderRegistry.nlpTasks.values.toSeq
        .map(t => (t.name, t.description))
        .sortBy(_._1)
        .toDF("task", "description")
        .queryExecution.logical

    case TextParseRe(regex, inCol, toCols, table) =>
      import org.apache.spark.sql.functions.{col, regexp_extract}
      val cols = toCols.split(",").map(_.trim).filter(_.nonEmpty)
      cols.zipWithIndex.foldLeft(spark().table(table)) {
        case (d, (c, i)) =>
          d.withColumn(c, regexp_extract(col(inCol), regex, i + 1))
      }.queryExecution.logical

    case other =>
      // EXTERNAL(name) anywhere in an ordinary statement: bind each
      // registered location as a temp view and splice the view name
      // into the text — the reference's virtual-external-table FROM
      // production, composing with the full Spark SQL surface
      // QUALIFY first: project the window predicate as a hidden
      // column, filter on it outside, drop it via * EXCEPT — the
      // standard lowering (window functions cannot sit in WHERE)
      val withQualify = rewriteQualify(other)
      // the regex rewrites below touch only text OUTSIDE string
      // literals — a literal mentioning FETCH/SEQUENCE/EXTERNAL is
      // data, not dialect
      val rewritten = outsideLiterals(withQualify) { raw =>
        val withPagination = OffsetRowsRef.replaceAllIn(
          FetchOnlyRef.replaceAllIn(
            FetchOffsetRef.replaceAllIn(raw, m =>
              s"LIMIT ${m.group(2)} OFFSET ${m.group(1)}"),
            m => s"LIMIT ${m.group(1)}"),
          m => s"OFFSET ${m.group(1)}")
        val withSeq = SeqRef.replaceAllIn(withPagination, m => {
          val n = m.group(2).toLong
          val view = s"graft_seq_$n"
          spark().range(1, n + 1)
            .select(org.apache.spark.sql.functions.col("id").as("n"))
            .createOrReplaceTempView(view)
          m.group(1) + " " + view
        })
        ExternalRef.replaceAllIn(withSeq, m =>
          graft.sources.ExternalLocations.get(m.group(1)) match {
            case Some(_) =>
              val view = s"graft_ext_${m.group(1)}"
              graft.sources.ExternalLocations.table(spark(), m.group(1))
                .createOrReplaceTempView(view)
              view
            case None =>
              java.util.regex.Matcher.quoteReplacement(m.group(0))
          })
      }
      paramCtx match {
        case Some(ctx) => delegate.parsePlanWithParameters(rewritten, ctx)
        case None => delegate.parsePlan(rewritten)
      }
  }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
}
