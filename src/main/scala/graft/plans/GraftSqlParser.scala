package graft.plans

import java.util.Locale
import java.util.regex.Pattern

import org.apache.spark.sql.{DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference,
  Expression}
import org.apache.spark.sql.catalyst.parser.{ParameterContext, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType,
  LongType, NullType, StringType, StructType}

import graft.functions.ExternalFunctions
import graft.operators._
import graft.sources._
import graft.spi.ProviderRegistry

/** SQL-dialect extension (reference: sql/parser/SqlQueryParser.scala —
  * sclera's parser owns custom productions like MATCH and DISTINCT ON;
  * Spark's is extended, not replaced, via injectParser).
  *
  * Text that starts with GRAFT is one statement of
  * [[GraftSqlParser.statements]], the dialect's one syntax reference:
  * the keyword after GRAFT picks that keyword's entries, and the first
  * whose shape matches lowers the statement. Any other text gets the
  * ordinary-statement rewrites below (QUALIFY, ANSI pagination,
  * FROM SEQUENCE(n), EXTERNAL(name)) and goes to Spark's parser.
  *
  * A read-only statement lowers to its operator's plan: MATCH to the
  * SeqMatchOp mapPartitions plan, DISTINCT ON to the DistinctOnPlan
  * node the injected RewriteDistinctOn rule lowers, ASOF to the
  * AsOfJoinPlan node the injected AsOfJoinStrategy plans — the same
  * front-door/back-door split as the reference (the parser produces
  * algebra nodes, the planner lowers them). A statement with an effect
  * lowers to a [[GraftStatementCommand]] that runs the effect at
  * execution, never while parsing (sclera's SqlStatement / Processor
  * split).
  */
class GraftSqlParser(spark: () => SparkSession, delegate: ParserInterface)
    extends ParserInterface {
  import GraftSqlParser._

  override def parsePlan(sqlText: String): LogicalPlan =
    parseWithCtx(sqlText, None)

  /** Spark 4 binds :name / ? parameter markers at PARSE time through
    * this entry point (SparkSession.sql(text, args) no longer wraps
    * the plan itself unless the legacy conf is on) — the interface
    * default would silently drop the bindings, so forward the context
    * to the delegate for ordinary statements. Graft-dialect
    * statements carry no parameter markers; they parse as before. */
  override def parsePlanWithParameters(sqlText: String,
      paramCtx: ParameterContext): LogicalPlan =
    parseWithCtx(sqlText, Some(paramCtx))

  private def parseWithCtx(sqlText: String,
      paramCtx: Option[ParameterContext]): LogicalPlan =
    keywordOf(sqlText) match {
      case Some(kw) => lower(spark(), sqlText, kw)
      case None =>
        val rewritten = rewriteOrdinary(sqlText)
        paramCtx match {
          case Some(ctx) => delegate.parsePlanWithParameters(rewritten, ctx)
          case None => delegate.parsePlan(rewritten)
        }
    }

  /** The dialect inside ordinary statements. QUALIFY first: project the
    * window predicate as a hidden column, filter on it outside, drop it
    * via * EXCEPT — the standard lowering (window functions cannot sit
    * in WHERE). The regex rewrites after it touch only text OUTSIDE
    * string literals — a literal mentioning FETCH/SEQUENCE/EXTERNAL is
    * data, not dialect. */
  private def rewriteOrdinary(sql: String): String =
    outsideLiterals(rewriteQualify(sql)) { raw =>
      val withPagination = OffsetRowsRef.replaceAllIn(
        FetchOnlyRef.replaceAllIn(
          FetchOffsetRef.replaceAllIn(raw, m =>
            s"LIMIT ${m.group(2)} OFFSET ${m.group(1)}"),
          m => s"LIMIT ${m.group(1)}"),
        m => s"OFFSET ${m.group(1)}")
      // an inline relation, so parsing registers nothing and a user
      // alias after SEQUENCE(n) names the subquery
      val withSeq = SeqRef.replaceAllIn(withPagination, m =>
        s"${m.group(1)} (SELECT id AS n FROM range(1, " +
          s"${m.group(2).toLong + 1}))")
      // EXTERNAL(name): bind the registered location as a temp view and
      // splice the view name into the text — the reference's
      // virtual-external-table FROM production, composing with the full
      // Spark SQL surface
      ExternalRef.replaceAllIn(withSeq, m =>
        ExternalLocations.get(m.group(1)) match {
          case Some(_) =>
            val view = s"graft_ext_${m.group(1)}"
            ExternalLocations.table(spark(), m.group(1))
              .createOrReplaceTempView(view)
            view
          case None =>
            java.util.regex.Matcher.quoteReplacement(m.group(0))
        })
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

object GraftSqlParser {

  /** One GRAFT statement: the keyword after GRAFT, the rest of its
    * shape as a regex, and the handler that lowers it. The handler
    * gets the session and the shape's groups (an optional group that
    * did not take part is null). */
  final class Statement(val keyword: String, shape: String,
      handler: (SparkSession, Seq[String]) => LogicalPlan) {
    private val regex =
      Pattern.compile(s"(?is)\\s*GRAFT\\s+$keyword\\s+$shape")

    def groups(text: String): Option[Seq[String]] = {
      val m = regex.matcher(text)
      if (m.matches()) Some((1 to m.groupCount).map(m.group)) else None
    }

    def lower(s: SparkSession, groups: Seq[String]): LogicalPlan =
      handler(s, groups)

    /** The shape for an error message: plain spaces, placeholder
      * names for the common groups, the rest of the regex verbatim. */
    def form: String = s"GRAFT $keyword " + shape
      .replace("""'([^']+)'""", "'<text>'")
      .replace("""(\w+)""", "<name>")
      .replace("""(\d+)""", "<n>")
      .replaceAll("""\\s[*+]""", " ")
      .replaceAll(" +", " ").trim
  }

  /** A statement that lowers to its DataFrame's plan. */
  private def frame(keyword: String, shape: String)(
      handler: (SparkSession, Seq[String]) => DataFrame): Statement =
    new Statement(keyword, shape,
      (s, g) => handler(s, g).queryExecution.logical)

  /** A statement that lowers to a plan node, most often a command. */
  private def plan(keyword: String, shape: String)(
      handler: (SparkSession, Seq[String]) => LogicalPlan): Statement =
    new Statement(keyword, shape, handler)

  private val GraftHead = """(?is)\s*GRAFT(?:\s+(\w+))?\b""".r

  /** The upper-cased keyword after a leading `GRAFT` ("" if none), or
    * None for text that does not start with `GRAFT`. */
  private def keywordOf(text: String): Option[String] =
    GraftHead.findPrefixMatchOf(text).map(m =>
      Option(m.group(1)).getOrElse("").toUpperCase(Locale.ROOT))

  /** Lower one GRAFT statement: only its keyword's entries are tried,
    * in table order. */
  private def lower(s: SparkSession, text: String, kw: String): LogicalPlan =
    find(kw, text) match {
      case Some((st, g)) => st.lower(s, g)
      case None => throw new IllegalArgumentException(
        byKeyword.get(kw) match {
          case Some(entries) =>
            s"GRAFT $kw: expected ${entries.map(_.form).mkString(" | ")}"
          case None =>
            s"unknown GRAFT statement '$kw' (statements: " +
              s"${keywords.sorted.mkString(", ")})"
        })
    }

  private def find(kw: String, text: String)
      : Option[(Statement, Seq[String])] =
    byKeyword.getOrElse(kw, Nil).iterator
      .flatMap(st => st.groups(text).map(st -> _)).nextOption()

  /** Parse nested statement text with the session's own parser. */
  private def parse(s: SparkSession, text: String): LogicalPlan =
    s.sessionState.sqlParser.parsePlan(text)

  /** A literal relation — the listing and status outputs: `cols`
    * names and types the columns, `data` holds one Seq per row; a
    * column is nullable only if it holds a null. */
  private def rows(cols: Seq[(String, DataType)],
      data: Seq[Seq[Any]]): LogicalPlan =
    LocalRelation.fromExternalRows(
      cols.zipWithIndex.map { case ((n, t), i) =>
        AttributeReference(n, t, nullable = data.exists(_(i) == null))()
      },
      data.map(Row.fromSeq))

  private def strings(cols: String*)(data: Seq[Seq[String]]): LogicalPlan =
    rows(cols.map(_ -> StringType), data)

  /** One named column of values; an empty list is one NULL row of an
    * untyped column (the explode_outer shape these listings keep). */
  private def column(name: String, values: Seq[String]): LogicalPlan =
    if (values.isEmpty) rows(Seq(name -> NullType), Seq(Seq(null)))
    else rows(Seq(name -> StringType), values.map(Seq(_)))

  private def csv(list: String): Seq[String] =
    list.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  // ---- PLOT ----

  /** PLOT's RENDER tail: `(RENDER)` and an optional quoted title. */
  private val RenderTail = """(?:\s+(RENDER)(?:\s+'([^']*)')?)?\s*"""
  /** A binned plot's x axis: column, optional fixed domain, bins. */
  private val BinnedX =
    """\s+X\s+(\w+)(?:\s+FROM\s+(-?[\d.]+)\s+TO\s+(-?[\d.]+))?""" +
      """\s+BINS\s+(\d+)"""

  /** Without RENDER a PLOT is its planning frame; with it, a command
    * whose run draws the SVG, so the frame is collected at execution,
    * never while parsing. */
  private def plotOut(frame: DataFrame, render: String)(
      draw: DataFrame => String): LogicalPlan =
    if (render == null) frame.queryExecution.logical
    else GraftStatementCommand("PLOT RENDER", Seq("svg" -> StringType),
      _ => Seq(Row(draw(frame))))

  private def limitOr256(limit: String): Int =
    Option(limit).map(_.toInt).getOrElse(256)

  /** Every GRAFT statement. Entries of one keyword are tried in the
    * order listed here (SEARCH INDEX before SEARCH, CREATE TABLE with
    * column definitions before CREATE TABLE ... AS). */
  val statements: Seq[Statement] = Seq(
    // MATCH labels from a column (reference analytics/sequence/labeler/
    // rowlabeler/ColumnRowLabeler.scala:29-44): LABEL BY maps the
    // column's values to pattern labels, ELSE labels unmapped values,
    // and ALSO attaches a wildcard label to EVERY row — multi-label
    // rows stepping the same MATCH kernel. ALL matching WHEN arms
    // contribute (the same value may map to several labels); ELSE
    // applies only when NO arm matched; with no mapping at all the
    // column value itself is the label.
    frame("MATCH", """'([^']+)'\s+ON\s+(\w+)\s+KEY\s+(\w+)""" +
        """\s+ORDER\s+(\w+)\s+LABEL\s+BY\s+(\w+)""" +
        """((?:\s+WHEN\s+'[^']*'\s+THEN\s+\w+)*)""" +
        """(?:\s+ELSE\s+(\w+))?(?:\s+ALSO\s+(\w+))?\s*""") {
      case (s, Seq(pattern, table, key, ord, byCol, whensBlob, elseLabel,
          alsoLabel)) =>
        import org.apache.spark.sql.functions.{array, array_distinct,
          col, concat, filter, lit, size, when}
        val WhenArm = """(?is)WHEN\s+'([^']*)'\s+THEN\s+(\w+)""".r
        val c = col(byCol).cast("string")
        val pairs = WhenArm.findAllMatchIn(whensBlob)
          .map(m => (m.group(1), m.group(2))).toSeq
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
        val labels = array_distinct(filter(withAlso, v => v.isNotNull))
        SeqMatchOp.matchPatternMulti(
          s.table(table).withColumn("__labels", labels),
          key, ord, "__labels", pattern)
    },
    // optional PIVOT clause (reference: SqlQueryParser.scala:343-362):
    // "<fn> FOR (labels)" pivots a match aggregate to one column per
    // listed label, named after the label — planning stays the single
    // matchPattern pass (the per-label aggregates already ride each
    // match row; the pivot is pure projection)
    frame("MATCH", """'([^']+)'\s+ON\s+(\w+)\s+KEY\s+(\w+)""" +
        """\s+ORDER\s+(\w+)\s+LABEL\s+(\w+)(?:\s+VALUE\s+(\w+))?""" +
        """(?:\s+PIVOT\s+(COUNT|SUM|MIN|MAX|AVG)\s+FOR\s*""" +
        """\(([^)]+)\))?\s*""") {
      case (s, Seq(pattern, table, key, ord, label, value, pivotAgg,
          pivotLabels)) =>
        import org.apache.spark.sql.functions.{col, round}
        val df = s.table(table)
        if (pivotAgg == null)
          SeqMatchOp.matchPattern(df, key, ord, label, pattern, Option(value))
        else {
          require(value != null, "GRAFT MATCH PIVOT requires VALUE <col>")
          val aggU = pivotAgg.toUpperCase
          val rich = Set("MIN", "MAX", "AVG")(aggU)
          val inPattern = SeqMatchOp.labels(pattern).toSet
          val ls = csv(pivotLabels)
          ls.foreach(l => require(inPattern(l),
            s"GRAFT MATCH PIVOT: label '$l' not in pattern '$pattern'"))
          val m = SeqMatchOp.matchPattern(
            df, key, ord, label, pattern, Some(value), rich = rich)
          val pcols = ls.map { l =>
            aggU match {
              case "COUNT" => col(s"n_$l").as(l)
              case "SUM" => round(col(s"sum_$l"), 6).as(l)
              case other => round(col(s"${other.toLowerCase}_$l"), 6).as(l)
            }
          }
          m.select(Seq(col(key), col("match_id"), col("n_rows")) ++
              pcols: _*)
            .orderBy(col(key), col("match_id"))
        }
    },

    // unified index DDL (reference SqlStatement.scala:164-175): one
    // statement, two lowerings — '<path>' targets build the per-file
    // Bloom manifest, <catalog>.<table> targets run real vendor
    // CREATE/DROP INDEX through the GRAFT NATIVE connection lane
    plan("CREATE", """INDEX\s+(\w+)\s+ON\s+""" +
        """('[^']+'|\w+\.\w+)\s*\(\s*([\w,\s]+?)\s*\)\s*""") {
      case (_, Seq(name, target, keyCols)) =>
        CreateIndexCommand(name, target, csv(keyCols))
    },
    plan("DROP", """INDEX\s+(\w+)\s*""") {
      case (_, Seq(name)) => DropIndexCommand(name)
    },
    plan("LIST", """INDEXES\s*""") { case (s, _) =>
      strings("index_name", "kind", "target", "key")(
        IndexRegistry.list(s)
          .map(d => Seq(d.name, d.kind, d.target, d.keyCol)))
    },

    // signature-store maintenance: BUILD writes the old corpus's banded
    // signatures + token sets once; APPEND folds a newly cleaned shard
    // in with O(shard) work (parquet append — stored rows untouched)
    plan("DEDUP", """STORE\s+(BUILD|APPEND)\s+(\w+)""" +
        """\s+ID\s+(\w+)\s+TEXT\s+(\w+)\s+INTO\s+'([^']+)'\s*""") {
      case (_, Seq(mode, table, id, text, path)) =>
        GraftStatementCommand.status("DEDUP STORE",
          Seq("store", "table", "mode", "status")) { s =>
          val m = mode.toUpperCase
          if (m == "BUILD")
            DedupOps.buildSignatureStore(s.table(table), id, text, 32, path)
          else
            DedupOps.appendSignatureStore(s.table(table), id, text, 32, path)
          Seq(path, table, m.toLowerCase, "done")
        }
    },
    // cross-corpus near-dup (incremental ingestion: the new table
    // deduped AGAINST the existing corpus, pairs across sides only;
    // threshold as an exact rational like SIMJOIN). The AGAINST STORE
    // form reads the old side from the PERSISTED signature store — the
    // accumulated corpus is never re-scanned, per-shard cost is
    // O(shard + candidates).
    frame("DEDUP", """(\w+)\s+AGAINST\s+STORE\s+'([^']+)'""" +
        """\s+ID\s+(\w+)\s+TEXT\s+(\w+)""" +
        """\s+THRESHOLD\s+(\d+)\s*/\s*(\d+)\s*""") {
      case (s, Seq(newT, path, id, text, num, den)) =>
        import org.apache.spark.sql.functions.{col, round}
        DedupOps.crossDedupAgainstStore(s, s.table(newT), path, id, text,
            k = 32, bands = 8, num.toInt, den.toInt)
          .select(col("doc_new"), col("doc_old"),
            round(col("jaccard"), 6).as("jaccard"))
    },
    frame("DEDUP", """(\w+)\s+AGAINST\s+(\w+)\s+ID\s+(\w+)""" +
        """\s+TEXT\s+(\w+)\s+THRESHOLD\s+(\d+)\s*/\s*(\d+)\s*""") {
      case (s, Seq(newT, oldT, id, text, num, den)) =>
        import org.apache.spark.sql.functions.{col, round}
        val ops = DedupOps
        val newSigs = CacheScope.scoped(
          ops.minhashSignature(s.table(newT), text, k = 32))
        val oldSigs = CacheScope.scoped(
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
    },

    plan("COMPACT", """'([^']+)'\s+INTO\s+'([^']+)'\s+ROWS\s+(\d+)\s*""") {
      case (_, Seq(src, out, rows)) =>
        GraftStatementCommand("COMPACT",
          Seq("n_rows" -> LongType, "files_before" -> LongType,
            "files_after" -> LongType, "n_rows_after" -> LongType),
          s => LayoutOps.compact(s, src, out, rows.toLong).collect().toSeq)
    },
    frame("SEQPAT", """(\w+)\s+KEY\s+(\w+)\s+ORDER\s+(\w+)""" +
        """\s+LABEL\s+(\w+)\s*""") {
      case (s, Seq(table, key, ord, label)) =>
        SeqPatternOps.seqPatterns(s.table(table), key, ord, label)
    },
    plan("DISTINCT", """ON\s*\(([^)]+)\)\s+FROM\s+(\w+)""" +
        """\s+ORDER\s+BY\s+(.+?)\s*""") {
      case (s, Seq(keys, table, orderBy)) =>
        val order = csv(orderBy).map { spec =>
          val parts = spec.split("\\s+")
          val asc = parts.length < 2 || !parts(1).equalsIgnoreCase("DESC")
          (parts(0), asc)
        }
        DistinctOnPlan.resolved(
          s.table(table).queryExecution.analyzed, csv(keys), order)
    },
    frame("RANGE", """(\w+)\s+POINT\s+(\w+)\s+IN\s+(\w+)""" +
        """\s+LO\s+(\w+)\s+HI\s+(\w+)\s+WIDTH\s+([0-9.]+)\s*""") {
      case (s, Seq(points, pcol, intervals, lo, hi, width)) =>
        ExtendedOps.rangeJoin(
          s.table(points), s.table(intervals), pcol, lo, hi, width.toDouble)
    },
    frame("BAND", """(\w+)\s+POINT\s+(\w+)\s+IN\s+(\w+)""" +
        """\s+LO\s+(\w+)\s+HI\s+(\w+)\s+KEY\s+([\w,\s]+?)\s*""") {
      case (s, Seq(points, pcol, intervals, lo, hi, keys)) =>
        ExtendedOps.bandJoin(
          s.table(points), s.table(intervals), csv(keys), pcol, lo, hi)
    },
    frame("ASOF", """(\w+)\s+REF\s+(\w+)""" +
        """\s+KEY\s+([\w,\s]+?)\s+ORDER\s+(\w+)\s*""") {
      case (s, Seq(probe, ref, keys, ord)) =>
        ExtendedOps.asofJoinExec(s.table(probe), s.table(ref), csv(keys), ord)
    },
    // the reference's second ALIGN mode (ALIGN ... ON dist MARGIN n,
    // AlignTableResult.scala): banded dynamic-time-warping alignment of
    // two ordered streams per key
    frame("DTW", """(\w+)\s+WITH\s+(\w+)\s+KEY\s+(\w+)""" +
        """\s+ORDER\s+(\w+)\s+VALUE\s+(\w+)(?:\s+MARGIN\s+(\d+))?\s*""") {
      case (s, Seq(lTable, rTable, key, ord, value, margin)) =>
        DtwAlign.align(s.table(lTable), s.table(rTable), key, ord, value,
          Option(margin).map(_.toInt))
    },

    // inline-trained categorical lane (the reference imputer trains on
    // the table's OWN complete columns): add-1-smoothed naive Bayes
    // over the listed feature columns
    frame("IMPUTE", """(\w+)\s+SET\s+(\w+)\s+BAYES\s+ON\s+""" +
        """([\w,\s]+?)(?:\s+FLAG\s+(\w+))?\s*""") {
      case (s, Seq(table, colName, feats, flagCol)) =>
        MLOps.imputeBayes(s.table(table), colName, csv(feats), Option(flagCol))
    },
    // classifier-backed IMPUTED (reference analytics/ml/imputer:
    // ImputeResult scores a trained Classifier; ImputeSpec
    // .flagColRefOpt): fill NULLs in SET <col> by scoring the named
    // model; FLAG adds the imputed-row marker column. A LIST of specs
    // (reference rep1sep: IMPUTED WITH m1(c1) FLAG f1, m2(c2), ...)
    // fills several columns in ONE clause.
    frame("IMPUTE", """(\w+)\s+""" +
        """(SET\s+\w+\s+WITH\s+\w+(?:\s+FLAG\s+\w+)?""" +
        """(?:\s*,\s*SET\s+\w+\s+WITH\s+\w+(?:\s+FLAG\s+\w+)?)*)\s*""") {
      case (s, Seq(table, specsBlob)) =>
        val Spec = """(?is)SET\s+(\w+)\s+WITH\s+(\w+)(?:\s+FLAG\s+(\w+))?""".r
        Spec.findAllMatchIn(specsBlob)
          .map(m => (m.group(1), m.group(2), Option(m.group(3))))
          .foldLeft(s.table(table)) { case (df, (colName, model, flagCol)) =>
            MLOps.imputeWith(
              df, colName, s.table(s"graft_model_$model"), flagCol)
          }
    },
    frame("IMPUTE", """(\w+)\s+VALUE\s+(\w+)\s+KEY\s+([\w,\s]+?)\s*""") {
      case (s, Seq(table, value, keys)) =>
        MLOps.imputeMean(s.table(table), value, csv(keys))
    },
    frame("CLUSTER", """(\w+)\s+K\s+(\d+)\s+ITERS\s+(\d+)\s*""") {
      case (s, Seq(table, k, iters)) =>
        MLOps.kmeans(s.table(table), k.toInt, iters.toInt)
    },
    // TYPEINFER report plus the reference's ACTUAL apply semantics:
    // NULLS('NA', ...) marks custom null strings, LIMIT n bounds the
    // inference lookahead, APPLY returns the table with columns CAST
    // to the inferred types (sclera's TYPEINFER is the cast, not the
    // report — analytics/inferTypes/InferTypesTableResult.scala)
    frame("TYPEINFER", """(\w+)""" +
        """(?:\s+NULLS\s*\(([^)]*)\))?(?:\s+LIMIT\s+(\d+))?""" +
        """(\s+APPLY)?\s*""") {
      case (s, Seq(table, nullsBlob, limitStr, applyFlag)) =>
        val Quoted = """'([^']*)'""".r
        val nulls = Option(nullsBlob).toSeq.flatMap(b =>
          Quoted.findAllMatchIn(b).map(_.group(1)).toSeq)
        val lookAhead = Option(limitStr).map(_.toInt)
        val df = s.table(table)
        if (applyFlag != null)
          MLOps.castInferred(df, nulls, lookAhead)
        else {
          require(nulls.isEmpty && lookAhead.isEmpty,
            "GRAFT TYPEINFER: NULLS/LIMIT need APPLY " +
              "(the report ignores them)")
          MLOps.inferTypes(df)
        }
    },
    // single-pass whole-table profile (DESCRIBE PROFILE for any table)
    frame("PROFILE", """(\w+)\s*""") {
      case (s, Seq(table)) =>
        ProfileOps.profile(s.table(table))
    },
    // functional-dependency discovery over candidate pairs
    // (ProfileOps.fdViolations — TANE-style violation counting)
    frame("FDCHECK", """(\w+)\s*\(([^)]+)\)\s*""") {
      case (s, Seq(table, blob)) =>
        val Pair = """(\w+)\s*->\s*(\w+)""".r
        val cands = Pair.findAllMatchIn(blob)
          .map(m => m.group(1) -> m.group(2)).toSeq
        require(cands.nonEmpty,
          "GRAFT FDCHECK: need at least one 'lhs -> rhs' candidate")
        ProfileOps.fdViolations(s.table(table), cands)
    },
    // data-quality expectation suite (ProfileOps.checkRules): one scan
    // evaluates every rule as conditional aggregates
    frame("CHECK", """(\w+)\s+((?:RULE\s+'[^']+'\s*)+)""") {
      case (s, Seq(table, rulesBlob)) =>
        import org.apache.spark.sql.functions.expr
        val Rule = """(?is)RULE\s+'([^']+)'""".r
        val rules = Rule.findAllMatchIn(rulesBlob).map { m =>
          val spec = m.group(1)
          val (name, body) = spec.indexOf(':') match {
            case -1 => (spec.trim.replaceAll("\\W+", "_"), spec)
            case i => (spec.take(i).trim, spec.drop(i + 1))
          }
          name -> expr(body)
        }.toSeq
        ProfileOps.checkRules(s.table(table), rules)
    },
    // join-key skew diagnosis (ProfileOps.keySkew)
    frame("SKEW", """(\w+)\s+KEY\s+(\w+)\s*""") {
      case (s, Seq(table, key)) =>
        ProfileOps.keySkew(s.table(table), key)
    },
    // materialized inverted index: build once (postings partitioned by
    // term prefix + doc lengths + 1-row stats), search many — per-query
    // cost independent of corpus token count (TextSearchOps.buildIndex /
    // bm25Indexed)
    frame("SEARCH", """INDEX\s+'([^']+)'\s+ID\s+(\w+)""" +
        """\s+FOR\s+'([^']+)'\s+TOP\s+(\d+)\s*""") {
      case (s, Seq(dir, id, terms, n)) =>
        TextSearchOps.bm25Indexed(s, dir, id,
          terms.trim.split("\\s+").toSeq, n.toInt)
    },
    // ranked retrieval: Okapi BM25 by default, QL = query likelihood
    // with Dirichlet smoothing
    frame("SEARCH", """(\w+)\s+ID\s+(\w+)\s+TEXT\s+(\w+)""" +
        """\s+FOR\s+'([^']+)'\s+TOP\s+(\d+)""" +
        """(?:\s+METHOD\s+(BM25|QL))?\s*""") {
      case (s, Seq(table, id, text, terms, n, method)) =>
        val toks = terms.trim.split("\\s+").toSeq
        if (method != null && method.equalsIgnoreCase("QL"))
          TextSearchOps.queryLikelihood(s.table(table), id, text, toks, n.toInt)
        else
          TextSearchOps.bm25(s.table(table), id, text, toks, n.toInt)
    },
    plan("INDEX", """(\w+)\s+ID\s+(\w+)\s+TEXT\s+(\w+)""" +
        """\s+INTO\s+'([^']+)'\s*""") {
      case (_, Seq(table, id, text, dir)) =>
        GraftStatementCommand.status("INDEX BUILD",
          Seq("index", "table", "status")) { s =>
          TextSearchOps.buildIndex(s.table(table), id, text, dir)
          Seq(dir, table, "built")
        }
    },
    // EXPLAIN for any graft statement (reference PlanExplain / EXPLAIN
    // SCRIPT): the physical plan of the INNER statement as rows — works
    // for GRAFT productions Spark's own EXPLAIN can't see. SKIP-mode
    // explain: a side-effecting statement (GRAFT NATIVE, INDEX, ...) is
    // rendered, never executed.
    plan("EXPLAIN", """(.+)""") {
      case (s, Seq(inner)) =>
        val planText = GraftBridge.explainString(
          s, parse(s, inner), org.apache.spark.sql.execution.SimpleMode)
        rows(Seq("line_no" -> IntegerType, "plan_line" -> StringType),
          planText.split("\n").toSeq.zipWithIndex.map { case (l, i) =>
            Seq(i, l)
          })
    },
    // Z-order clustered write (LayoutOps): 2-D prunable physical layout
    plan("ZORDER", """(\w+)\s+BY\s*\(\s*(\w+)\s*,\s*(\w+)""" +
        """\s*\)\s+FILES\s+(\d+)\s+INTO\s+'([^']+)'\s*""") {
      case (_, Seq(table, xCol, yCol, files, path)) =>
        GraftStatementCommand("ZORDER",
          Seq("n_files" -> LongType, "n_rows" -> LongType), { s =>
          LayoutOps.writeZordered(s.table(table), xCol, yCol, files.toInt, path)
          import org.apache.spark.sql.functions.{col, countDistinct, count,
            input_file_name, lit}
          val r = s.read.parquet(path)
            .select(input_file_name().as("_f"))
            .agg(countDistinct(col("_f")).cast("long").as("n_files"),
              count(lit(1)).as("n_rows"))
            .head()
          Seq(Row(r.getLong(0), r.getLong(1)))
        })
    },

    // named ML model objects (reference: sql/parser/SqlCudParser.scala:
    // createMLObj CLASSIFIER/CLUSTERER productions, drop at :293-296;
    // analytics/ml/objects/MLObject.scala) — train once by name, score
    // many times with CLASSIFIED ... WITH
    plan("CREATE", """CLASSIFIER\s+(\w+)\s+TARGET\s+(\w+)""" +
        """\s+ON\s+(\w+)\s*""") {
      case (_, Seq(name, target, table)) =>
        GraftStatementCommand.status("CREATE CLASSIFIER",
          Seq("model", "kind", "status")) { s =>
          val model = MLOps.centroids(s.table(table), target).persist()
          model.count() // train NOW: scoring must not re-run training
          model.createOrReplaceTempView(s"graft_model_$name")
          ModelCache.put(s, name, model)
          Seq(name, "classifier", "trained")
        }
    },
    plan("CREATE", """CLUSTERER\s+(\w+)\s+K\s+(\d+)""" +
        """\s+ITERS\s+(\d+)\s+ON\s+(\w+)\s*""") {
      case (_, Seq(name, k, iters, table)) =>
        GraftStatementCommand.status("CREATE CLUSTERER",
          Seq("model", "kind", "status")) { s =>
          val model = MLOps.kmeansModel(s.table(table), k.toInt, iters.toInt)
          model.createOrReplaceTempView(s"graft_model_$name")
          ModelCache.put(s, name, model)
          Seq(name, "clusterer", "trained")
        }
    },
    // named ALS recommender objects: train the fixed-point rank-2
    // factorization once by name (AlsOps — ratings = COUNT per
    // (user, item) pair), score many times with GRAFT RECOMMEND
    // (exact integer micro^2 dot products).
    plan("CREATE", """RECOMMENDER\s+(\w+)\s+USER\s+(\w+)""" +
        """\s+ITEM\s+(\w+)\s+ITERS\s+(\d+)\s+ON\s+(\w+)\s*""") {
      case (_, Seq(name, userCol, itemCol, iters, table)) =>
        GraftStatementCommand.status("CREATE RECOMMENDER",
          Seq("model", "kind", "status")) { s =>
          import org.apache.spark.sql.functions.{col, lit, count => cnt}
          val ratings = s.table(table)
            .groupBy(col(userCol).as("u"), col(itemCol).as("i"))
            .agg(cnt(lit(1)).as("r"))
          val (userF, itemF) = AlsOps.alsBoth(ratings, "u", "i", iters.toInt)
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
          ModelCache.put(s, name, model)
          Seq(name, "recommender", "trained")
        }
    },
    frame("RECOMMEND", """(\w+)\s+USER\s+(\d+)\s+K\s+(\d+)\s*""") {
      case (s, Seq(name, userId, k)) =>
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
    },
    plan("DROP", """(?:CLASSIFIER|CLUSTERER|RECOMMENDER)\s+(\w+)\s*""") {
      case (_, Seq(name)) =>
        GraftStatementCommand.status("DROP MODEL",
          Seq("model", "status")) { s =>
          s.catalog.dropTempView(s"graft_model_$name")
          // release the model's cache entry with its catalog object
          ModelCache.drop(s, name)
          Seq(name, "dropped")
        }
    },
    frame("CLASSIFIED", """(\w+)\s+WITH\s+(\w+)\s*""") {
      case (s, Seq(table, name)) =>
        MLOps.assign(s.table(table), s.table(s"graft_model_$name"))
    },

    // external location admin (reference: sql/parser/SqlAdminParser.scala
    // ADD/REMOVE LOCATION; SqlQueryParser.scala:1055-1059 EXTERNAL in
    // FROM, handled by the ordinary-statement rewrite). The kind is any
    // identifier, resolved against the ServiceLoader SPI registry
    // (built-in CSV/JSON/PARQUET/TEXT plus provider jars;
    // spi/GraftProviders.scala).
    plan("ADD", """LOCATION\s+(\w+)\s+(\w+)\s+'([^']+)'""" +
        """(?:\s+SCHEMA\s+'([^']+)')?\s*""") {
      case (_, Seq(name, kind, path, schemaDdl)) =>
        GraftStatementCommand.status("ADD LOCATION",
          Seq("location", "kind", "path")) { _ =>
          val schema = Option(schemaDdl).map(StructType.fromDDL)
          val kinds = ProviderRegistry.sourceKinds
          val factory = kinds.getOrElse(kind.toUpperCase,
            throw new IllegalArgumentException(
              s"unknown location kind '$kind' " +
                s"(have: ${kinds.keys.toSeq.sorted.mkString(", ")})"))
          ExternalLocations.register(name, factory(path, schema))
          Seq(name, kind.toUpperCase, path)
        }
    },
    // ATTACH DERBY — whole-subplan pushdown federation (reference:
    // sql/mapper/SqlMapper.scala, sclera's ADD LOCATION over a live
    // RDBMS): registers the Derby db as a DSv2 JDBCTableCatalog with
    // aggregate/limit/join pushdown, so ordinary spark.sql over
    // <catalog>.APP.<table> executes pushable subtrees inside the
    // attached database
    plan("ATTACH", """DERBY\s+'([^']+)'\s+AS\s+(\w+)\s*""") {
      case (_, Seq(dbName, catalog)) =>
        GraftStatementCommand.status("ATTACH DERBY",
          Seq("catalog", "db", "status")) { s =>
          FederatedPushdown.attach(s, catalog, dbName)
          Seq(catalog, dbName, "attached")
        }
    },
    // ATTACH JDBC — the GENERIC federation lane: any vendor whose engine
    // profile is registered (built-ins: derby, duckdb, h2; third parties
    // through the graft.spi.GraftJdbcDialectProviderService SPI — the
    // reference's rdbms-location SPI, dbms/rdbms/location/
    // RdbmsLocation.scala, re-expressed over JDBCTableCatalog)
    plan("ATTACH", """JDBC\s+'([^']+)'\s+AS\s+(\w+)""" +
        """(?:\s+DRIVER\s+'([^']+)')?\s*""") {
      case (_, Seq(url, catalog, driver)) =>
        GraftStatementCommand.status("ATTACH JDBC",
          Seq("catalog", "url", "status")) { s =>
          FederatedPushdown.attachJdbc(s, catalog, url, Option(driver))
          Seq(catalog, url, "attached")
        }
    },
    // Raw NATIVE statement pass-through to an attached catalog
    // (reference: sql/parser/SqlCudParser.scala:304 SqlNativeStatement,
    // sclera's `@<location> '<stmt>'` — vendor DDL like CREATE INDEX
    // that no translated surface covers runs INSIDE the attached DB).
    // Doubled '' escapes a quote inside the statement.
    plan("NATIVE", """(\w+)\s+'((?:[^']|'')+)'\s*""") {
      case (_, Seq(catalog, stmtRaw)) =>
        NativeStatementCommand(catalog, stmtRaw.replace("''", "'"))
    },
    plan("REMOVE", """LOCATION\s+(\w+)\s*""") {
      case (_, Seq(name)) =>
        GraftStatementCommand.status("REMOVE LOCATION",
          Seq("location", "status")) { _ =>
          val removed = ExternalLocations.remove(name)
          Seq(name, if (removed) "removed" else "absent")
        }
    },
    // DESCRIBE = LIST in long format (reference SqlAdminParser
    // listOption LongFormat)
    plan("DESCRIBE", """LOCATION\s+(\w+)\s*""") {
      case (_, Seq(name)) =>
        ExternalLocations.get(name) match {
          case None => strings("location", "status")(Seq(Seq(name, "absent")))
          case Some(loc) =>
            val (kind, path, schema) = loc match {
              case CsvLocation(p, _, s) =>
                ("CSV", p, s.map(_.toDDL).getOrElse(""))
              case JsonLocation(p, s) =>
                ("JSON", p, s.map(_.toDDL).getOrElse(""))
              case TextLocation(p) => ("TEXT", p, "")
              case ParquetLocation(p) => ("PARQUET", p, "")
              case other => (other.getClass.getSimpleName, "", "")
            }
            strings("location", "kind", "path", "schema")(
              Seq(Seq(name, kind, path, schema)))
        }
    },
    // external scalar FUNCTION objects (reference:
    // external/objects/ExternalFunction.scala:26 — named SQL-callable
    // functions backed by an external provider; here a deterministic
    // expression-template catalog, spliced inline at call sites)
    plan("ADD", """FUNCTION\s+(\w+)\s+FROM\s+(\w+)\s*""") {
      case (_, Seq(name, provider)) =>
        GraftStatementCommand.status("ADD FUNCTION",
          Seq("function", "provider", "status")) { s =>
          ExternalFunctions.add(s, name, provider)
          Seq(name, provider, "added")
        }
    },
    plan("REMOVE", """FUNCTION\s+(\w+)\s*""") {
      case (_, Seq(name)) =>
        GraftStatementCommand.status("REMOVE FUNCTION",
          Seq("function", "status")) { s =>
          val removed = ExternalFunctions.remove(s, name)
          Seq(name, if (removed) "removed" else "absent")
        }
    },
    plan("LIST", """FUNCTIONS\s*""") { case (s, _) =>
      rows(Seq("function" -> StringType, "provider" -> StringType,
          "arity" -> IntegerType, "description" -> StringType),
        ExternalFunctions.list(s)
          .map { case (n, p, a, d) => Seq(n, p, a, d) })
    },

    // CREATE EXTERNAL <location> AS <stmt> (reference SqlCudParser
    // createExtTarget): materialize a result INTO a registered external
    // location — the write side of federation (parquet/CSV/JSON/text
    // files or a live JDBC table)
    plan("CREATE", """EXTERNAL\s+(\w+)\s+AS\s+(.+)""") {
      case (_, Seq(name, stmt)) =>
        GraftStatementCommand.status("CREATE EXTERNAL",
          Seq("location", "status", "columns")) { s =>
          val loc = ExternalLocations.get(name).getOrElse(
            throw new IllegalArgumentException(
              s"unknown external location '$name' (registered: " +
                s"${ExternalLocations.names.mkString(", ")})"))
          val df = s.sql(stmt.trim)
          loc.write(df)
          Seq(name, "created", df.columns.length.toString)
        }
    },
    // explicit CREATE TABLE DDL (reference SqlCudParser.scala:137-175
    // tableExplicitDef / tableKeys): column definitions with optional
    // PRIMARY KEY / REFERENCES constraints, table-level PRIMARY KEY
    // (a, b) and FOREIGN KEY (c) REFERENCES t(k) items, optional AS
    // <stmt> (CTAS cast to the declared schema). The body is scanned
    // with a paren-depth matcher, not a regex — DECIMAL(10,2) and the
    // key clauses both carry parens.
    plan("CREATE", """TABLE\s+(\w+)\s*\((.*)""") {
      case (_, Seq(name, rest)) =>
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
              s.createDataFrame(new java.util.ArrayList[Row](), schema)
                .repartition(1)
            case Some(stmt) =>
              // CTAS cast POSITIONALLY to the declared schema (the SQL
              // column-list convention)
              val src = GraftBridge.ofRows(s, parse(s, stmt))
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
            s.sessionState.conf.warehousePath, s"graft_tables/$name").toString
          df.write.mode("overwrite").parquet(root)
          s.read.parquet(root).createOrReplaceTempView(name)
          ExternalLocations.register(name, ParquetLocation(root))
          TableMeta.put(s, TableMeta.TableDef(name, defs))
          Seq(name, defs.size.toString, "created")
        }
    },
    // declared tables render their key metadata (reference
    // DescribeObject over Table keys); undeclared ones fall back to the
    // live schema with no key roles
    plan("DESCRIBE", """TABLE\s+(\w+)\s*""") {
      case (s, Seq(name)) =>
        val cols = TableMeta.get(s, name)
          .map(_.columns)
          .getOrElse(s.table(name).schema.fields.toSeq.map(f =>
            TableMeta.ColumnDef(f.name, f.dataType.sql, "")))
        strings("column", "type", "key")(
          cols.map(c => Seq(c.name, c.typeDdl, c.key)))
    },
    // materialized tables (reference SqlCudParser.scala:130 createTable
    // — "TABLE <name> AS <expr>" materializes the result,
    // DbMaterialized at a location): non-TEMP writes parquet under the
    // session warehouse and registers BOTH a parquet-backed temp view
    // (plain FROM <name>) and an external location of the same name
    // (EXTERNAL(<name>), durable via SAVE CATALOG); TEMP persists the
    // frame in-session only
    plan("CREATE", """(TEMP\s+)?TABLE\s+(\w+)\s+AS\s+(.+)""") {
      case (_, Seq(tempKw, name, stmt)) =>
        if (tempKw != null)
          GraftStatementCommand.status("CREATE TEMP TABLE",
            Seq("table", "temp", "status")) { s =>
            val cached = GraftBridge.ofRows(s, parse(s, stmt.trim)).persist()
            cached.count()
            cached.createOrReplaceTempView(name)
            // a previous declared-schema table of this name is gone —
            // stale key metadata must not survive the replace
            TableMeta.drop(s, name)
            Seq(name, "true", "created")
          }
        else
          GraftStatementCommand.status("CREATE TABLE",
            Seq("table", "temp", "path", "status")) { s =>
            val df = GraftBridge.ofRows(s, parse(s, stmt.trim))
            val root = new org.apache.hadoop.fs.Path(
              s.sessionState.conf.warehousePath, s"graft_tables/$name").toString
            df.write.mode("overwrite").parquet(root)
            s.read.parquet(root).createOrReplaceTempView(name)
            // the same name as an external location: EXTERNAL(<name>)
            // reads it, and SAVE CATALOG persists the definition
            ExternalLocations.register(name, ParquetLocation(root))
            TableMeta.drop(s, name) // no stale key metadata
            Seq(name, "false", root, "created")
          }
    },
    plan("DROP", """TABLE\s+(\w+)\s*""") {
      case (_, Seq(name)) =>
        GraftStatementCommand.status("DROP TABLE",
          Seq("table", "status")) { s =>
          // kind guard: a GRAFT CREATE VIEW name is not a table —
          // dropping it here would orphan its SessionViews entry
          // (phantom in LIST VIEWS whose reads fail)
          val isView = SessionViews.listViews(s)
            .exists(_.name.equalsIgnoreCase(name))
          if (isView) Seq(name, "not_a_table")
          else {
            val hadView = s.catalog.tableExists(name)
            if (hadView) s.catalog.dropTempView(name)
            // a GRAFT ADD TABLE registration under this name must go
            // too, or LIST TABLES keeps a phantom row whose reads fail
            SessionViews.dropTable(s, name)
            // declared-schema metadata (CREATE TABLE with col defs)
            // goes with its table
            TableMeta.drop(s, name)
            ExternalLocations.get(name) match {
              case Some(ParquetLocation(p))
                  if p.contains("/graft_tables/") =>
                ExternalLocations.remove(name)
                CacheFs.delete(s, p)
              case _ => ()
            }
            Seq(name, if (hadView) "dropped" else "absent")
          }
        }
    },
    // unified object listing (reference SqlAdminParser listOption
    // SqlListObjects: LIST with no kind = every catalog object)
    plan("LIST", """OBJECTS(?:\s+(\w+))?\s*""") {
      case (s, Seq(prefix)) =>
        val pre = Option(prefix).map(_.toLowerCase).getOrElse("")
        // a declared table's content parquet registers under the
        // table's own name (durability); that location is a storage
        // detail, not a separate object — suppress it from the listing
        val declaredNames = TableMeta.list(s)
          .map(_.name.toLowerCase).toSet
        val objs: Seq[(String, String)] =
          ExternalLocations.names.sorted
            .filterNot(n => declaredNames.contains(n.toLowerCase))
            .map("location" -> _) ++
          SessionViews.listViews(s)
            .map(v => "view" -> v.name) ++
          SessionViews.listTables(s)
            .map(t => "table" -> t.name) ++
          // explicitly declared tables (CREATE TABLE with col defs)
          TableMeta.list(s)
            .map(t => "table" -> t.name) ++
          s.catalog.listTables().collect().map(_.name)
            .filter(_.startsWith("graft_model_"))
            .map(n => "model" -> n.stripPrefix("graft_model_")).sorted ++
          ExternalFunctions.list(s)
            .map(f => "function" -> f._1) ++
          IndexRegistry.list(s)
            .map(d => "index" -> d.name)
        strings("kind", "name")(objs.distinct
          .filter { case (_, n) => n.toLowerCase.startsWith(pre) }
          .sortBy(o => (o._1, o._2))
          .map { case (k, n) => Seq(k, n) })
    },
    // view objects (reference SqlCudParser.scala:106 "VIEW" ~> ident ~
    // createView; ViewId): the definition is ANY graft-dialect
    // statement — views compose over the extended operators, not just
    // plain SQL. The optional column list (reference createView
    // viewColDef) renames the output positionally.
    plan("CREATE", """(TEMP\s+)?VIEW\s+(\w+)\s*""" +
        """(?:\(([\w,\s]+)\)\s*)?AS\s+(.+)""") {
      case (_, Seq(tempKw, name, colList, stmt)) =>
        val temp = tempKw != null
        GraftStatementCommand.status("CREATE VIEW",
          Seq("view", "temp", "status")) { s =>
          val listed = Option(colList).toSeq.flatMap(csv)
          // the rename is folded into the DEFINITION text (subquery
          // alias with a column list), so execution and the stored
          // definition LOAD CATALOG re-parses are one and the same; the
          // col-list form therefore requires a SQL definition, like the
          // reference's viewColDef over relExpr
          val storedDef =
            if (listed.isEmpty) stmt.trim
            else {
              val up = stmt.trim.toUpperCase(Locale.ROOT)
              require(up.startsWith("SELECT") || up.startsWith("WITH") ||
                up.startsWith("VALUES"),
                s"GRAFT CREATE VIEW $name: a column list requires a " +
                  "SQL definition (SELECT/WITH/VALUES)")
              s"SELECT * FROM (${stmt.trim}) AS " +
                s"graft_vdef(${listed.mkString(", ")})"
            }
          GraftBridge
            .ofRows(s, parse(s, storedDef))
            .createOrReplaceTempView(name)
          SessionViews.putView(s, SessionViews.ViewDef(name, storedDef, temp))
          TableMeta.drop(s, name) // no stale key metadata
          Seq(name, temp.toString, "created")
        }
    },
    plan("DROP", """VIEW\s+(\w+)\s*""") {
      case (_, Seq(name)) =>
        GraftStatementCommand.status("DROP VIEW", Seq("view", "status")) { s =>
          // kind guard (mirror of DROP TABLE): CTAS tables and ADD
          // TABLE registrations are not views
          val isTable = SessionViews.listTables(s)
            .exists(_.name.equalsIgnoreCase(name)) ||
            ExternalLocations.get(name).exists {
              case ParquetLocation(p) =>
                p.contains("/graft_tables/")
              case _ => false
            }
          if (isTable) Seq(name, "not_a_view")
          else {
            val known = SessionViews.dropView(s, name)
            if (known) s.catalog.dropTempView(name)
            Seq(name, if (known) "dropped" else "absent")
          }
        }
    },
    // DESCRIBE = the long format, with the defining statement
    plan("LIST", """VIEWS\s*""") { case (s, _) => listViews(s, false) },
    plan("DESCRIBE", """VIEWS\s*""") { case (s, _) => listViews(s, true) },
    // per-catalog table registration (reference SqlAdminParser.scala:62
    // addTable / removeTable / SqlListAddedTables /
    // SqlListRemainingTables): ADD TABLE registers a remote table of an
    // ATTACHed catalog under a local name — the temp view wraps the
    // DSv2 relation, so the pushdown lanes survive
    plan("ADD", """TABLE\s+(\w+)\s*\.\s*(\w+)(?:\s+AS\s+(\w+))?\s*""") {
      case (_, Seq(catalog, table, asName)) =>
        val name = Option(asName).getOrElse(table).toLowerCase
        GraftStatementCommand.status("ADD TABLE",
          Seq("table", "catalog", "remote", "status")) { s =>
          FederatedPushdown.table(s, catalog, table)
            .createOrReplaceTempView(name)
          SessionViews.putTable(s,
            SessionViews.AddedTable(name, catalog,
              table.toUpperCase))
          TableMeta.drop(s, name) // no stale key metadata
          Seq(name, catalog, table.toUpperCase, "added")
        }
    },
    plan("REMOVE", """TABLE\s+(\w+)\s*""") {
      case (_, Seq(name)) =>
        GraftStatementCommand.status("REMOVE TABLE",
          Seq("table", "status")) { s =>
          val known = SessionViews.dropTable(s, name)
          if (known) s.catalog.dropTempView(name)
          Seq(name, if (known) "removed" else "absent")
        }
    },
    plan("LIST", """TABLES\s*""") { case (s, _) => listTables(s, false) },
    plan("DESCRIBE", """TABLES\s*""") { case (s, _) => listTables(s, true) },
    // REMAINING is the discovery diff: remote tables not yet added
    plan("LIST", """REMAINING\s+(\w+)\s*""") {
      case (s, Seq(catalog)) => listRemaining(s, catalog)
    },
    plan("DESCRIBE", """REMAINING\s+(\w+)\s*""") {
      case (s, Seq(catalog)) => listRemaining(s, catalog)
    },
    // <param> LOCATION = <loc> (reference SqlStatement.scala:206
    // SqlConfigLocation / SqlAdminParser.scala:90): bind a registered
    // external location as a named parameter's default target
    plan("SET", """([\w.]+)\s+LOCATION\s*=\s*(\w+)\s*""") {
      case (_, Seq(param, locName)) =>
        GraftStatementCommand.status("SET LOCATION",
          Seq("param", "location", "status")) { s =>
          require(ExternalLocations.get(locName).isDefined,
            s"GRAFT SET $param LOCATION: unknown location '$locName' " +
              "(register it with GRAFT ADD LOCATION first)")
          s.conf.set(s"spark.graft.location.$param", locName)
          Seq(param, locName, "set")
        }
    },
    // metadata-store schema lifecycle (reference SqlStatement.scala
    // :46,183-185 CREATE/DROP SCHEMA)
    plan("CREATE", """SCHEMA\s*""") { case (_, _) =>
      GraftStatementCommand.status("CREATE SCHEMA",
        Seq("schema", "n_tables", "status")) { _ =>
        val n = DurableCatalog.initSchema()
        Seq("graft_catalog", n.toString, "created")
      }
    },
    plan("DROP", """SCHEMA\s*""") { case (_, _) =>
      GraftStatementCommand.status("DROP SCHEMA",
        Seq("schema", "n_tables", "status")) { _ =>
        val n = DurableCatalog.dropSchema()
        Seq("graft_catalog", n.toString, if (n > 0) "dropped" else "absent")
      }
    },
    // config admin (reference SqlAdminParser: SET <param> = <value>,
    // SHOW CONFIG) — session-scoped Spark conf, the knob surface the
    // opt-in optimizer rules (bandJoin/rangeJoin) read
    plan("SET", """([\w.]+)\s*=\s*(\S+)\s*""") {
      case (_, Seq(key, value)) =>
        GraftStatementCommand.status("SET",
          Seq("key", "value", "status")) { s =>
          s.conf.set(key, value)
          Seq(key, value, "set")
        }
    },
    // SHOW OPTIONS is the reference's sibling admin query
    // (SqlStatement.scala SqlShowOptions) — same relation here: every
    // spark.graft.* setting plus the scale-relevant engine confs
    plan("SHOW", """(?:CONFIG|OPTIONS)\s*""") { case (s, _) =>
      val engineKeys = Seq(
        "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
        "spark.sql.session.timeZone", "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.files.maxPartitionBytes")
      val graftKeys = s.conf.getAll.keys
        .filter(_.startsWith("spark.graft.")).toSeq.sorted
      strings("key", "value")((graftKeys ++ engineKeys).distinct
        .map(k => Seq(k, s.conf.getOption(k).getOrElse(""))))
    },
    // the models list mirrors LIST CLASSIFIERS/CLUSTERERS
    plan("LIST", """(?:MODELS|CLASSIFIERS|CLUSTERERS)\s*""") { case (s, _) =>
      column("model", s.catalog.listTables().collect()
        .map(_.name).filter(_.startsWith("graft_model_"))
        .map(_.stripPrefix("graft_model_")).sorted.toSeq)
    },
    plan("LIST", """LOCATIONS\s*""") { case (_, _) =>
      column("location", ExternalLocations.names)
    },

    // DML batch (reference SqlStatement.scala:158 SqlUpdateBatch — a
    // list of update statements executed as one): semicolon-separated
    // DELETE/UPDATE/INSERT/MERGE statements, each lowered through its
    // own table entry and applied in order
    plan("BATCH", """(.+)\s*""") {
      case (s, Seq(blob)) =>
        // pre-parse EVERY statement before applying ANY (SqlUpdateBatch
        // is one atomic unit — a malformed statement midway must not
        // leave the batch half-applied); each DML shape captures its
        // target table first
        val staged = splitStatements(blob).map { p =>
          val stmt =
            if (p.toUpperCase(Locale.ROOT).startsWith("GRAFT")) p
            else s"GRAFT $p"
          keywordOf(stmt).filter(DmlKeywords).flatMap(find(_, stmt))
            .map { case (st, g) => g.head -> st.lower(s, g) }
            .collect { case (t, c: GraftStatementCommand) => t -> c }
            .getOrElse(throw new IllegalArgumentException(
              "GRAFT BATCH accepts only DML statements " +
                s"(DELETE/UPDATE/INSERT/MERGE), got: ${p.take(48)}"))
        }
        require(staged.nonEmpty, "GRAFT BATCH: no statements")
        GraftStatementCommand.status("BATCH",
          Seq("n_statements", "status")) { s =>
          // runtime atomicity on top of the parse-time pre-validation:
          // an apply failure midway (bad SET expression, column-count
          // mismatch — only caught when the post-image is built)
          // re-registers every target's pre-image, so the batch leaves
          // no partial effects
          val snaps = staged.map(_._1).distinct.map(t => t -> s.table(t))
          try staged.foreach(_._2.run(s))
          catch {
            case scala.util.control.NonFatal(e) =>
              snaps.foreach { case (t, df) => df.createOrReplaceTempView(t) }
              throw e
          }
          Seq(staged.size.toString, "executed")
        }
    },

    // DML front doors (reference: sql/parser/SqlCudParser.scala:42-47)
    // lowering to copy-on-write relational algebra: DELETE = filter,
    // UPDATE = conditional projection, INSERT = union, MERGE = anti
    // join + union — the statement re-registers the view with the
    // post-image. WHERE is optional (reference updatePredicate: no
    // WHERE = every row).
    plan("DELETE", """FROM\s+(\w+)(?:\s+WHERE\s+(.+?))?\s*""") {
      case (_, Seq(table, cond)) =>
        dmlCommand("DELETE", table) { s => applyDelete(s, table, cond) }
    },
    // a multi-assignment SET list (reference rep1(setExpr)); the SET
    // list and the optional WHERE are split by a depth-aware scan
    // (topLevelIndex), not the regex — a lazy regex split would break
    // on a WHERE inside a parenthesized subexpression of the SET list
    plan("UPDATE", """(\w+)\s+SET\s+(.+?)\s*""") {
      case (_, Seq(table, rest)) =>
        val (setList, cond) = splitUpdateParts(rest)
        dmlCommand("UPDATE", table) { s =>
          applyUpdate(s, table, setList, cond)
        }
    },
    // an optional column list and either VALUES or a query (reference
    // insert: tableId ~ opt(colRefListPar) ~ relExpr)
    plan("INSERT", """INTO\s+(\w+)\s*(?:\(([\w,\s]+)\)\s*)?""" +
        """(VALUES\s+.+?|(?:SELECT|WITH)\b.+?)\s*""") {
      case (_, Seq(table, colList, source)) =>
        dmlCommand("INSERT", table) { s =>
          applyInsert(s, table, colList, source)
        }
    },
    // MERGE = the upsert statement (WHEN MATCHED UPDATE SET * / WHEN NOT
    // MATCHED INSERT *, the Delta/SQL:2003 shape): source rows win on key
    // match, unmatched target rows survive. Post-image = source UNION
    // (target ANTI-JOIN source ON key) — the anti join is a key-only
    // shuffle (or a broadcast when the delta is small, the common case).
    plan("MERGE", """INTO\s+(\w+)\s+USING\s+(\w+)\s+ON\s+(\w+)\s*""") {
      case (_, Seq(target, source, key)) =>
        dmlCommand("MERGE", target) { s =>
          applyMerge(s, target, source, key)
        }
    },

    // PLOT data planning (reference: modules/visual PlotPlanner +
    // model/spec/PlotSpec.scala — layered/faceted plot specs): each
    // form plans a bounded frame, and RENDER draws it as one svg row.
    // RECT/heatmap geom (reference Geom.scala:822 Rect): the 2D
    // equi-width histogram — bounded |xBins| x |yBins| tiles
    plan("PLOT", """(\w+)\s+HEATMAP\s+X\s+(\w+)""" +
        """\s+BINS\s+(\d+)\s+Y\s+(\w+)\s+BINS\s+(\d+)""" + RenderTail) {
      case (s, Seq(table, x, xBins, y, yBins, render, title)) =>
        plotOut(PlotOps.binHeatmap(
            s.table(table), x, xBins.toInt, y, yBins.toInt), render) { f =>
          PlotOps.renderHeatmapSvg(f, Option(title).getOrElse(s"$y by $x"))
        }
    },
    // TICKER/candlestick geom (reference Geom.scala:961 Ticker): one
    // candle per OHLC row. This and the other ROW geoms (reference
    // model/plot/Geom.scala:727 Segment, 1049 Text, 433 PointRangeY,
    // 547 RangeX, 495 RangeY) draw one mark per input row, so their
    // planning frames are ordered and bounded by LIMIT (default 256).
    plan("PLOT", """(\w+)\s+TICKER\s+TIME\s+(\w+)""" +
        """\s+OPEN\s+(\w+)\s+HIGH\s+(\w+)\s+LOW\s+(\w+)""" +
        """\s+CLOSE\s+(\w+)(?:\s+LIMIT\s+(\d+))?""" + RenderTail) {
      case (s, Seq(table, tc, o, h, l, c, limitS, render, title)) =>
        import org.apache.spark.sql.functions.col
        val frame = s.table(table).select(
            col(tc).as("t"), col(o).cast("double").as("o"),
            col(h).cast("double").as("h"), col(l).cast("double").as("l"),
            col(c).cast("double").as("c"))
          .orderBy(col("t")).limit(limitOr256(limitS))
        plotOut(frame, render) { f =>
          PlotOps.renderTickerSvg(
            f, Option(title).getOrElse(s"$o/$h/$l/$c by $tc"))
        }
    },
    plan("PLOT", """(\w+)\s+SEGMENTS\s+X\s+(\w+)""" +
        """\s+XEND\s+(\w+)\s+Y\s+(\w+)\s+YEND\s+(\w+)(\s+ARROW)?""" +
        """(?:\s+LIMIT\s+(\d+))?""" + RenderTail) {
      case (s, Seq(table, x, xend, y, yend, arrow, limitS, render, title)) =>
        import org.apache.spark.sql.functions.col
        val frame = s.table(table).select(
            col(x).cast("double").as("x"),
            col(xend).cast("double").as("xend"),
            col(y).cast("double").as("y"),
            col(yend).cast("double").as("yend"))
          .orderBy(col("x"), col("y"), col("xend"), col("yend"))
          .limit(limitOr256(limitS))
        plotOut(frame, render) { f =>
          PlotOps.renderSegmentsSvg(f, arrow != null,
            Option(title).getOrElse(s"segments $y..$yend by $x"))
        }
    },
    plan("PLOT", """(\w+)\s+LABELS\s+(\w+)\s+X\s+(\w+)""" +
        """\s+Y\s+(\w+)(?:\s+LIMIT\s+(\d+))?""" + RenderTail) {
      case (s, Seq(table, label, x, y, limitS, render, title)) =>
        import org.apache.spark.sql.functions.col
        val frame = s.table(table).select(
            col(label).cast("string").as("label"),
            col(x).cast("double").as("x"), col(y).cast("double").as("y"))
          .orderBy(col("x"), col("y"), col("label"))
          .limit(limitOr256(limitS))
        plotOut(frame, render) { f =>
          PlotOps.renderTextSvg(
            f, Option(title).getOrElse(s"$label at ($x, $y)"))
        }
    },
    // BLANK geom (reference Geom.scala:304): no marks, scales only
    plan("PLOT", """(\w+)\s+BLANK\s+X\s+(\w+)\s+Y\s+(\w+)""" + RenderTail) {
      case (s, Seq(table, x, y, render, title)) =>
        plotOut(PlotOps.blankFrame(s.table(table), x, y), render) { f =>
          PlotOps.renderBlankSvg(f, Option(title).getOrElse(s"$y by $x"))
        }
    },
    plan("PLOT", """(\w+)\s+POINTRANGE\s+X\s+(\w+)""" +
        """\s+Y\s+(\w+)\s+YMIN\s+(\w+)\s+YMAX\s+(\w+)""" +
        """(?:\s+LIMIT\s+(\d+))?""" + RenderTail) {
      case (s, Seq(table, x, y, yMin, yMax, limitS, render, title)) =>
        plotOut(PlotOps.pointRangeFrame(
            s.table(table), x, y, yMin, yMax, limitOr256(limitS)),
            render) { f =>
          PlotOps.renderPointRangeSvg(
            f, Option(title).getOrElse(s"$y [$yMin,$yMax] by $x"))
        }
    },
    plan("PLOT", """(\w+)\s+RANGEX\s+Y\s+(\w+)""" +
        """\s+XMIN\s+(\w+)\s+XMAX\s+(\w+)(?:\s+LIMIT\s+(\d+))?""" +
        RenderTail) {
      case (s, Seq(table, y, xMin, xMax, limitS, render, title)) =>
        plotOut(PlotOps.rangeXFrame(
            s.table(table), y, xMin, xMax, limitOr256(limitS)), render) { f =>
          PlotOps.renderRangeXSvg(
            f, Option(title).getOrElse(s"[$xMin,$xMax] at $y"))
        }
    },
    // the bare vertical interval at x — POINTRANGE minus the point mark
    plan("PLOT", """(\w+)\s+RANGEY\s+X\s+(\w+)""" +
        """\s+YMIN\s+(\w+)\s+YMAX\s+(\w+)(?:\s+LIMIT\s+(\d+))?""" +
        RenderTail) {
      case (s, Seq(table, x, yMin, yMax, limitS, render, title)) =>
        plotOut(PlotOps.rangeYFrame(
            s.table(table), x, yMin, yMax, limitOr256(limitS)), render) { f =>
          PlotOps.renderRangeYSvg(
            f, Option(title).getOrElse(s"[$yMin,$yMax] at $x"))
        }
    },
    // GEOMAP-lite (reference Geom.scala:1029 GeoMap): lat/lon-binned
    // tile map on the literal world grid, equirectangular projection;
    // PROJECT ORTHO (reference model/plot/Coordinates.scala CoordMap)
    // projects the tile centers orthographically around a given center
    // point, pure per-tile trig over the same bounded frame
    plan("PLOT", """(\w+)\s+GEOMAP\s+LAT\s+(\w+)""" +
        """\s+LON\s+(\w+)(?:\s+BINS\s+(\d+))?""" +
        """(?:\s+PROJECT\s+ORTHO\s+LAT0\s+(-?[\d.]+)""" +
        """\s+LON0\s+(-?[\d.]+))?""" + RenderTail) {
      case (s, Seq(table, lat, lon, binsS, lat0S, lon0S, render, title)) =>
        val lonBins = Option(binsS).map(_.toInt).getOrElse(24)
        if (lat0S == null)
          plotOut(PlotOps.binGeo(
              s.table(table), lat, lon, lonBins), render) { f =>
            PlotOps.renderGeoSvg(
              f, lonBins, Option(title).getOrElse(s"map of $lat/$lon"))
          }
        else
          plotOut(PlotOps.binGeoOrtho(s.table(table), lat, lon, lonBins,
              lat0S.toDouble, lon0S.toDouble), render) { f =>
            PlotOps.renderGeoOrthoSvg(f,
              Option(title).getOrElse(s"ortho map of $lat/$lon"))
          }
    },
    // annotation geoms planned from rows (reference Geom.scala VLine,
    // ABLine, RegionX/RegionY): bounded row frames
    plan("PLOT", """(\w+)\s+VLINES\s+X\s+(\w+)""" +
        """(?:\s+LIMIT\s+(\d+))?""" + RenderTail) {
      case (s, Seq(table, x, limitS, render, title)) =>
        plotOut(PlotOps.vlinesFrame(
            s.table(table), x, limitOr256(limitS)), render) { f =>
          PlotOps.renderVlinesSvg(f, Option(title).getOrElse(s"vlines at $x"))
        }
    },
    plan("PLOT", """(\w+)\s+ABLINES\s+SLOPE\s+(\w+)""" +
        """\s+INTERCEPT\s+(\w+)""" +
        """(?:\s+FROM\s+(-?[\d.]+)\s+TO\s+(-?[\d.]+))?""" +
        """(?:\s+LIMIT\s+(\d+))?""" + RenderTail) {
      case (s, Seq(table, slope, icept, xFrom, xTo, limitS, render, title)) =>
        plotOut(PlotOps.ablinesFrame(
            s.table(table), slope, icept, limitOr256(limitS)), render) { f =>
          PlotOps.renderAblinesSvg(f,
            Option(xFrom).map(_.toDouble).getOrElse(0.0),
            Option(xTo).map(_.toDouble).getOrElse(1.0),
            Option(title).getOrElse(s"ablines $slope/$icept"))
        }
    },
    plan("PLOT", """(\w+)\s+REGIONS\s+LO\s+(\w+)""" +
        """\s+HI\s+(\w+)(?:\s+AXIS\s+(X|Y))?(?:\s+LIMIT\s+(\d+))?""" +
        RenderTail) {
      case (s, Seq(table, loC, hiC, axis, limitS, render, title)) =>
        plotOut(PlotOps.regionsFrame(
            s.table(table), loC, hiC, limitOr256(limitS)), render) { f =>
          PlotOps.renderRegionsSvg(f,
            Option(axis).forall(_.equalsIgnoreCase("X")),
            Option(title).getOrElse(s"regions $loC..$hiC"))
        }
    },
    // column-bound aesthetic mappings (reference PlotParser.scala:332 +
    // model/plot/Aes.scala — SIZE/ALPHA each bindable to a column with
    // its own scale): point marks whose radius/opacity encode extra
    // per-bin aggregates; the planning frame gains one decimal-exact
    // AVG per bound column, still ONE scan + ONE aggregate
    plan("PLOT", """(\w+)""" + BinnedX +
        """\s+Y\s+(COUNT|SUM|AVG|MIN|MAX)\s+(\w+)""" +
        """(?:\s+SERIES\s+(\w+))?\s+GEOM\s+POINT""" +
        """\s+SIZE\s+(\w+)(?:\s+ALPHA\s+(\w+))?""" + RenderTail) {
      case (s, Seq(table, x, xFrom, xTo, bins, agg, y, series, sizeCol,
          alphaCol, render, title)) =>
        val xRange = Option(xFrom).map(lo => (lo.toDouble, xTo.toDouble))
        val aes = Seq("size" -> sizeCol) ++
          Option(alphaCol).map("alpha" -> _)
        plotOut(PlotOps.binSeriesAes(
            s.table(table), x, bins.toInt, agg, y, Option(series), aes,
            xRange), render) { f =>
          PlotOps.renderSvgAes(f, Option(title).getOrElse(s"$agg($y) by $x"))
        }
    },
    // STAT LOESS smoothing layer (reference model/plot/Stat.scala:481
    // LoessSmooth; parser/PlotParser.scala:289 STAT clause): the binned
    // planning frame plus a per-series local-regression overlay — the
    // fit is driver-side over the bounded |series| x |bins| frame;
    // BANDWIDTH defaults to Cleveland's canonical span 0.75
    plan("PLOT", """(\w+)""" + BinnedX +
        """\s+Y\s+(COUNT|SUM|AVG|MIN|MAX)\s+(\w+)""" +
        """(?:\s+SERIES\s+(\w+))?""" +
        """\s+SMOOTH\s+LOESS(?:\s+BANDWIDTH\s+([\d.]+))?""" + RenderTail) {
      case (s, Seq(table, x, xFrom, xTo, bins, agg, y, series, bwS, render,
          title)) =>
        val xRange = Option(xFrom).map(lo => (lo.toDouble, xTo.toDouble))
        val binned = PlotOps.binSeries(
          s.table(table), x, bins.toInt, agg, y, Option(series), xRange)
        plotOut(PlotOps.loessSmooth(binned,
            Option(bwS).map(_.toDouble).getOrElse(0.75)), render) { f =>
          PlotOps.renderSvgSmooth(f,
            Option(title).getOrElse(s"$agg($y) by $x (loess)"))
        }
    },
    // the binned plot: equi-width x bins + per-series aggregate,
    // optional extra LAYERs sharing the same x binning and an optional
    // FACET column (small multiples, same global bin grid across
    // panels) — the renderer gets a bounded |facets| x |series| x
    // |layers| x |bins| frame. POSITION (reference Position.scala:114
    // PositionDodge, :179 PositionStack, :264 PositionJitter) keeps the
    // same frame — composition is render-time (stack = cumulative
    // fold, jitter = deterministic hash offsets). The annotation
    // OVERLAYS (reference Geom.scala ABLine:642 VLine:683 HLine:663
    // RegionX:883 RegionY:895) are RENDER-only decoration.
    plan("PLOT", """(\w+)""" + BinnedX +
        """\s+Y\s+(COUNT|SUM|AVG|MIN|MAX|BOX|BAND)\s+(\w+)""" +
        """((?:\s+LAYER\s+(?:COUNT|SUM|AVG|MIN|MAX)\s+\w+)*)""" +
        """(?:\s+SERIES\s+(\w+))?(?:\s+FACET\s+(\w+))?""" +
        """(?:\s+GEOM\s+(POINT|LINE|RIBBON|BOX|BAR))?""" +
        """(?:\s+POSITION\s+(STACK|DODGE|JITTER))?""" +
        """(?:\s+SCALE\s+(LOG))?""" +
        """((?:\s+VLINE\s+[\-\d.,]+)?(?:\s+HLINE\s+[\-\d.,]+)?""" +
        """(?:\s+REGIONX\s+-?[\d.]+\s+-?[\d.]+)?""" +
        """(?:\s+REGIONY\s+-?[\d.]+\s+-?[\d.]+)?""" +
        """(?:\s+ABLINE\s+-?[\d.]+\s+-?[\d.]+)?)""" + RenderTail) {
      case (s, Seq(table, x, xFrom, xTo, bins, agg, y, layersSeg, series,
          facet, geom, position, scaleLog, annotSeg, render, title)) =>
        val Layer = """(?is)LAYER\s+(COUNT|SUM|AVG|MIN|MAX)\s+(\w+)""".r
        val extraLayers = Layer.findAllMatchIn(layersSeg)
          .map(m => (m.group(1), m.group(2))).toSeq
        // each annotation clause: its keyword, then a number list
        // (VLINE/HLINE) or a number pair (REGIONX/REGIONY/ABLINE)
        val Annotation =
          """(?is)(\w+)\s+([\-\d.,]+)(?:\s+(-?[\d.]+))?""".r
        val annotations = Annotation.findAllMatchIn(annotSeg)
          .map(m => m.group(1).toUpperCase -> m).toMap
        def nums(kw: String): Seq[Double] = annotations.get(kw).toSeq
          .flatMap(m => csv(m.group(2))).map(_.toDouble)
        def pair(kw: String): Seq[(Double, Double)] = annotations.get(kw)
          .map(m => (m.group(2).toDouble, m.group(3).toDouble)).toSeq
        val vlines = nums("VLINE"); val hlines = nums("HLINE")
        val regionsX = pair("REGIONX"); val regionsY = pair("REGIONY")
        val ablines = pair("ABLINE")
        val xRange = Option(xFrom).map(lo => (lo.toDouble, xTo.toDouble))
        val logY = scaleLog != null
        def withAnnotations(svg: String, binned: DataFrame): String =
          PlotOps.annotate(svg, binned, vlines, hlines,
            regionsX, regionsY, ablines, logY)
        val aggU = agg.toUpperCase
        val defaultTitle = s"$agg($y) by $x"
        if (aggU == "BOX" || aggU == "BAND") {
          // distribution geoms plan their own bounded frames: BOX the
          // per-bin 5-number summary (Geom.scala:907), BAND the
          // min/avg/max ribbon (Geom.scala:599)
          require(extraLayers.isEmpty && facet == null && position == null,
            s"PLOT: Y $aggU does not compose with LAYER/FACET/POSITION")
          val binned =
            if (aggU == "BOX") PlotOps.binBoxStats(
              s.table(table), x, bins.toInt, y, Option(series), xRange)
            else PlotOps.binRibbon(
              s.table(table), x, bins.toInt, y, Option(series), xRange)
          plotOut(binned, render) { f =>
            val g = Option(geom).map(_.toLowerCase)
              .getOrElse(if (aggU == "BOX") "box" else "ribbon")
            withAnnotations(PlotOps.renderSvgGeom(
              f, g, Option(title).getOrElse(s"$aggU($y) by $x"),
              logY = logY), f)
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
          plotOut(PlotOps.binSeries(
              s.table(table), x, bins.toInt, agg, y, Option(series), xRange),
              render) { f =>
            withAnnotations(geomL match {
              case None | Some("bar") => PlotOps.renderSvg(
                f, Option(title).getOrElse(defaultTitle),
                logY = logY, position = pos)
              case Some(g) => PlotOps.renderSvgGeom(
                f, g, Option(title).getOrElse(defaultTitle),
                logY = logY, jitter = pos == "jitter")
            }, f)
          }
        } else {
          require(vlines.isEmpty && hlines.isEmpty && regionsX.isEmpty &&
            regionsY.isEmpty && ablines.isEmpty && position == null,
            "PLOT: annotations/POSITION do not compose with LAYER/FACET " +
              "yet")
          plotOut(PlotOps.binLayers(
              s.table(table), x, bins.toInt, (agg, y) +: extraLayers,
              Option(series), Option(facet), xRange), render) { f =>
            PlotOps.renderSvgLayers(
              f, Option(title).getOrElse(defaultTitle), logY = logY)
          }
        }
    },

    // SPLIT -> DisjointInterval (reference: SqlQueryParser.scala:366-375
    // splitOp — "SPLIT (lo, hi) INTO (out_lo, out_hi)" with partition
    // columns), the SQL front door for ExtendedOps.disjointIntervals
    frame("SPLIT", """(\w+)\s*\(\s*(\w+)\s*,\s*(\w+)\s*\)""" +
        """\s+INTO\s*\(\s*(\w+)\s*,\s*(\w+)\s*\)\s+PARTITION\s+(\w+)\s*""") {
      case (s, Seq(table, lo, hi, outLo, outHi, partCol)) =>
        ExtendedOps
          .disjointIntervals(s.table(table), partCol, lo, hi)
          .withColumnRenamed("out_lo", outLo)
          .withColumnRenamed("out_hi", outHi)
    },
    // SIMJOIN -> prefix-filtered EXACT similarity self-join
    // (DedupOps.prefixJaccardJoin); the threshold is a rational so the
    // prefix-length arithmetic stays exact integer math
    frame("SIMJOIN", """(\w+)\s+ID\s+(\w+)\s+TEXT\s+(\w+)""" +
        """\s+THRESHOLD\s+(\d+)\s*/\s*(\d+)\s*""") {
      case (s, Seq(table, id, text, num, den)) =>
        DedupOps.prefixJaccardJoin(
          s.table(table), id, text, num.toInt, den.toInt)
    },
    // CONTAINMENT -> asymmetric prefix-filtered containment self-join
    // (DedupOps.containmentJoin); rational threshold keeps the prefix
    // arithmetic and the θ test exact integer math
    frame("CONTAINMENT", """(\w+)\s+ID\s+(\w+)\s+TEXT\s+(\w+)""" +
        """\s+THRESHOLD\s+(\d+)\s*/\s*(\d+)\s*""") {
      case (s, Seq(table, id, text, num, den)) =>
        DedupOps.containmentJoin(s.table(table), id, text, num.toInt, den.toInt)
    },
    // PERPLEXITY -> corpus bigram-LM scoring + head/middle/tail tercile
    // buckets (LmOps.perplexityBuckets)
    frame("PERPLEXITY", """(\w+)\s+ID\s+(\w+)\s+TEXT\s+(\w+)\s*""") {
      case (s, Seq(table, id, text)) =>
        LmOps.perplexityBuckets(s.table(table), id, text)
    },
    // OVERLAP -> grid-binned interval-overlap join
    // (ExtendedOps.intervalOverlapJoin); WIDTH omitted = cost-based:
    // the mean interval span across both sides, derived from a BOUNDED
    // sample (never a plan-time full scan of either side) — replication
    // stays O(1) per row while cells stay selective
    frame("OVERLAP", """(\w+)\s*\(\s*(\w+)\s*,\s*(\w+)\s*\)""" +
        """\s+WITH\s+(\w+)\s*\(\s*(\w+)\s*,\s*(\w+)\s*\)""" +
        """(?:\s+KEY\s+([\w,\s]+?))?(?:\s+WIDTH\s+([0-9.]+))?\s*""") {
      case (s, Seq(lTable, lLo, lHi, rTable, rLo, rHi, keys, width)) =>
        val l = s.table(lTable); val r = s.table(rTable)
        val w = Option(width).map(_.toDouble).getOrElse(
          ExtendedOps.deriveOverlapWidth(l, r, lLo, lHi, rLo, rHi))
        ExtendedOps.intervalOverlapJoin(
          l, r, Option(keys).toSeq.flatMap(csv), lLo, lHi, rLo, rHi, w)
    },
    // Bounded top-k-per-group as a statement: the scale-safe QUALIFY
    // alternative. Lowers to the graft_topk_by TypedImperativeAggregate
    // (k rows of state per group, map-side combined) instead of the
    // row_number window that shuffles EVERY candidate into one task
    // per group. ID must be a unique bigint within each group — the
    // determinism contract (score desc, id asc).
    frame("TOPK", """(\w+)\s+KEY\s+(\w+)\s+SCORE\s+(\w+)""" +
        """\s+ID\s+(\w+)\s+K\s+(\d+)\s*""") {
      case (s, Seq(table, key, score, id, k)) =>
        import org.apache.spark.sql.functions.{col, expr, posexplode, round}
        s.table(table)
          .groupBy(col(key))
          .agg(expr(s"graft_topk_by(CAST($score AS DOUBLE), $id, $id, $k)")
            .as("top"))
          .select(col(key), posexplode(col("top")))
          .select(col(key), col("col.tie").as(id),
            round(col("col.score"), 6).as("score"),
            (col("pos") + 1).cast("int").as("rk"))
    },
    // Audience reach & pairwise overlap via theta sketches as a
    // statement (ReachOps): one scan to |segments| k-bounded sketches,
    // then union/intersect/difference as sketch algebra on the bounded
    // frame — exact while segments stay under k distinct keys.
    frame("REACH", """(\w+)\s+KEY\s+(\w+)\s+BY\s+(\w+)""" +
        """(?:\s+K\s+(\d+))?\s*""") {
      case (s, Seq(table, key, seg, k)) =>
        ReachOps.reach(s.table(table), key, seg,
          Option(k).map(_.toInt).getOrElse(65536))
    },
    // KS distribution-drift monitor as a statement: each group's
    // numeric distribution vs the rest of the table on an equi-width
    // bin grid (DriftOps.ksDrift — the binning keeps it one fact
    // aggregate at 100 TB).
    frame("DRIFT", """(\w+)\s+VALUE\s+(\w+)""" +
        """\s+GROUP\s+(\w+)\s+BINS\s+(\d+)\s*""") {
      case (s, Seq(table, valueCol, groupCol, bins)) =>
        DriftOps.ksDrift(s.table(table), valueCol, groupCol, bins.toInt)
    },
    // series smoothing as a statement family over an already-bounded
    // (time, value) series relation (SmoothOps — the fold runs inside
    // one aggregate row): local-level Kalman filter, Holt double
    // smoothing, additive Holt-Winters with season length m (which
    // generates the slot expressions) — one-step forecasts per row —
    // or the EWMA control chart with time-varying L-sigma limits
    frame("SMOOTH", """(\w+)\s+TIME\s+(\w+)\s+VALUE\s+(\w+)""" +
        """\s+KALMAN\s+([0-9.]+)\s+([0-9.]+)\s*""") {
      case (s, Seq(table, timeCol, valueCol, q, r)) =>
        SmoothOps.kalman(s.table(table), timeCol, valueCol,
          q.toDouble, r.toDouble)
    },
    frame("SMOOTH", """(\w+)\s+TIME\s+(\w+)\s+VALUE\s+(\w+)""" +
        """\s+HOLT\s+([0-9.]+)\s+([0-9.]+)\s*""") {
      case (s, Seq(table, timeCol, valueCol, a, b)) =>
        SmoothOps.holt(s.table(table), timeCol, valueCol,
          a.toDouble, b.toDouble)
    },
    frame("SMOOTH", """(\w+)\s+TIME\s+(\w+)\s+VALUE\s+(\w+)""" +
        """\s+HOLTWINTERS\s+(\d+)\s+([0-9.]+)\s+([0-9.]+)\s+([0-9.]+)\s*""") {
      case (s, Seq(table, timeCol, valueCol, m, a, b, g)) =>
        SmoothOps.holtWinters(s.table(table), timeCol,
          valueCol, m.toInt, a.toDouble, b.toDouble, g.toDouble)
    },
    frame("SMOOTH", """(\w+)\s+TIME\s+(\w+)\s+VALUE\s+(\w+)""" +
        """\s+EWMA\s+([0-9.]+)\s+([0-9.]+)\s*""") {
      case (s, Seq(table, timeCol, valueCol, lam, lw)) =>
        SmoothOps.ewma(s.table(table), timeCol, valueCol,
          lam.toDouble, lw.toDouble)
    },
    // File-level min/max manifest over a clustered layout
    // (sources/FileManifest): BUILD stages the per-file envelope rows,
    // SCAN reads through the manifest with the file list pruned
    // driver-side before Spark lists/schedules anything (Delta/Iceberg
    // data skipping). The per-file Bloom manifest (BLOOM, LOOKUP)
    // skips files for point lookups where min/max envelopes cannot
    // prune — high-cardinality keys in hash-clustered layouts.
    plan("MANIFEST", """BUILD\s+'([^']+)'\s+KEY\s+(\w+)\s*""") {
      case (_, Seq(path, key)) =>
        GraftStatementCommand.status("MANIFEST BUILD",
          Seq("manifest", "n_files")) { s =>
          val mDir = FileManifest.build(s, path, key)
          Seq(mDir, FileManifest.fileCount(s, mDir).toString)
        }
    },
    plan("MANIFEST", """BLOOM\s+'([^']+)'\s+KEY\s+(\w+)\s*""") {
      case (_, Seq(path, key)) =>
        GraftStatementCommand.status("MANIFEST BLOOM",
          Seq("manifest", "n_files")) { s =>
          val mDir = FileManifest.buildBloom(s, path, key)
          Seq(mDir, FileManifest.fileCount(s, mDir).toString)
        }
    },
    frame("MANIFEST", """LOOKUP\s+'([^']+)'\s+KEY\s+(\w+)""" +
        """\s+EQ\s+(\d+)\s*""") {
      case (s, Seq(path, key, v)) =>
        FileManifest.bloomLookup(s, path, key, v.toLong)
    },
    // FROM/TO arrive as string literals; the binary comparisons inside
    // prunedRead cast them to the key column's type
    // (timestamp/date/numeric) under Spark's implicit rules
    frame("MANIFEST", """SCAN\s+'([^']+)'\s+KEY\s+(\w+)""" +
        """\s+FROM\s+'([^']+)'\s+TO\s+'([^']+)'\s*""") {
      case (s, Seq(path, key, from, to)) =>
        FileManifest.prunedRead(s, path, key, from, to)
    },
    // Robust monotone-trend estimation/testing over a keyed bounded
    // series relation (TrendOps — Theil-Sen median slope/intercept, or
    // the Mann-Kendall test with tie-corrected variance, Z and tau-b;
    // the same bodies the q311/q312 gate queries run through)
    frame("TREND", """(\w+)\s+KEY\s+(\w+)\s+TIME\s+(\w+)""" +
        """\s+VALUE\s+(\w+)\s+METHOD\s+(THEILSEN|MANNKENDALL)\s*""") {
      case (s, Seq(table, keyCol, timeCol, valueCol, method)) =>
        val in = s.table(table)
        if (method.equalsIgnoreCase("THEILSEN"))
          TrendOps.theilSen(in, keyCol, timeCol, valueCol)
        else
          TrendOps.mannKendall(in, keyCol, timeCol, valueCol)
    },
    // durable catalog (reference: sclera's embedded metadata store —
    // every ADD LOCATION survives the session): SAVE writes the
    // location registry into embedded Derby, LOAD rebuilds it
    plan("SAVE", """CATALOG\s*""") { case (_, _) =>
      GraftStatementCommand.status("SAVE CATALOG",
        Seq("catalog", "n_locations", "n_views", "n_models",
          "n_indexes", "n_tabledefs")) { s =>
        val n = DurableCatalog.save()
        // non-TEMP views, named ML models, index metadata, and
        // declared-schema table defs persist with the catalog (sclera
        // parity: session-temporary objects are never durable; trained
        // models, index locations, and table key metadata are —
        // reference Processor.createIndex -> schema.addIndexLocation)
        val nv = DurableCatalog.saveViews(SessionViews.listViews(s))
        val nm = DurableCatalog.saveModels(s)
        val ni = DurableCatalog.saveIndexes(IndexRegistry.list(s))
        val nt = DurableCatalog.saveTableDefs(TableMeta.list(s))
        Seq("saved", n.toString, nv.toString, nm.toString, ni.toString,
          nt.toString)
      }
    },
    plan("LOAD", """CATALOG\s*""") { case (_, _) =>
      GraftStatementCommand.status("LOAD CATALOG",
        Seq("catalog", "n_locations", "n_views", "n_failed_views",
          "failed_views", "n_models", "n_indexes", "n_tabledefs")) { s =>
        val n = DurableCatalog.load()
        // Durable views may reference each other, and loadViews returns
        // them in name order, not dependency order — register with
        // retry-until-fixpoint: a view whose dependency hasn't landed
        // yet fails analysis this pass and is re-attempted after the
        // rest load. Views that never resolve (dangling reference,
        // dropped source) are reported, not fatal: one broken view must
        // not abort the whole catalog load.
        var pending = DurableCatalog.loadViews()
        var loaded = 0
        var progressed = true
        while (pending.nonEmpty && progressed) {
          progressed = false
          pending = pending.filter { v =>
            try {
              GraftBridge
                .ofRows(s, parse(s, v.definition))
                .createOrReplaceTempView(v.name)
              SessionViews.putView(s, v)
              loaded += 1
              progressed = true
              false
            } catch { case scala.util.control.NonFatal(_) => true }
          }
        }
        val nm = DurableCatalog.loadModels(s)
        val idxs = DurableCatalog.loadIndexes()
        idxs.foreach(IndexRegistry.put(s, _))
        // declared-schema tables: re-register the key metadata, and —
        // where the content parquet survived as a location — the table
        // view itself, so DESCRIBE TABLE and reads work post-restart
        val tdefs = DurableCatalog.loadTableDefs()
        tdefs.foreach { d =>
          TableMeta.put(s, d)
          ExternalLocations.get(d.name).foreach { loc =>
            try loc.read(s).createOrReplaceTempView(d.name)
            catch { case scala.util.control.NonFatal(_) => () }
          }
        }
        Seq("loaded", n.toString, loaded.toString,
          pending.size.toString, pending.map(_.name).mkString(","),
          nm.toString, idxs.size.toString, tdefs.size.toString)
      }
    },
    // Versioned-table statements (sources/VersionedTable — the
    // Delta/Iceberg commit discipline): SNAPSHOT commits the view's
    // current state as the next immutable parquet version; VERSIONS
    // lists the log; READ ... VERSION pins a snapshot; DIFF is the
    // one-join row-level audit between two versions; VACUUM bounds the
    // time-travel horizon (old versions deleted, numbers never reused)
    plan("SNAPSHOT", """(\w+)\s+INTO\s+'([^']+)'\s*""") {
      case (_, Seq(view, root)) =>
        GraftStatementCommand.status("SNAPSHOT",
          Seq("root", "version", "n_rows")) { s =>
          val v = VersionedTable.commit(root, s.table(view))
          val n = VersionedTable.read(s, root, v).count()
          Seq(root, v.toString, n.toString)
        }
    },
    frame("VERSIONS", """'([^']+)'\s*""") {
      case (s, Seq(root)) => VersionedTable.history(s, root)
    },
    frame("READ", """'([^']+)'\s+VERSION\s+(\d+)\s*""") {
      case (s, Seq(root, v)) =>
        VersionedTable.read(s, root, v.toInt)
    },
    frame("DIFF", """'([^']+)'\s+KEY\s+(\w+)""" +
        """\s+FROM\s+(\d+)\s+TO\s+(\d+)\s*""") {
      case (s, Seq(root, key, fromV, toV)) =>
        VersionedTable.diff(s, root, key, fromV.toInt, toV.toInt)
    },
    plan("VACUUM", """'([^']+)'\s+KEEP\s+(\d+)\s*""") {
      case (_, Seq(root, keep)) =>
        GraftStatementCommand.status("VACUUM",
          Seq("root", "kept", "n_deleted", "deleted")) { s =>
          val deleted =
            VersionedTable.vacuum(s, root, keep.toInt)
          Seq(root, keep, deleted.length.toString, deleted.mkString(","))
        }
    },
    // materialize a view to an external format target
    plan("EXPORT", """(\w+)\s+INTO\s+'([^']+)'""" +
        """\s+FORMAT\s+(CSV|JSON|PARQUET)\s*""") {
      case (_, Seq(view, path, fmt)) =>
        GraftStatementCommand.status("EXPORT",
          Seq("view", "path", "format", "status")) { s =>
          val f = fmt.toLowerCase(Locale.ROOT)
          val w = s.table(view).write.mode("overwrite")
          f match {
            case "csv" => w.option("header", "true").csv(path)
            case "json" => w.json(path)
            case _ => w.parquet(path)
          }
          Seq(view, path, f, "exported")
        }
    },
    // Phonetic-blocked record linkage as a statement: best clean match
    // per distinct dirty value (soundex blocks, Jaro-Winkler score,
    // MIN = the integer-percent score floor). Dictionary-scale by
    // construction (LinkOps distincts both sides first).
    frame("LINK", """(\w+)\s+COL\s+(\w+)\s+WITH\s+(\w+)""" +
        """\s+COL\s+(\w+)\s+MIN\s+(\d{1,2})\s*""") {
      case (s, Seq(dTable, dCol, cTable, cCol, pct)) =>
        LinkOps.phoneticLink(
          s.table(dTable), dCol, s.table(cTable), cCol, pct.toInt / 100.0)
    },
    // Deterministic hash sampling as a statement (the TABLESAMPLE the
    // reference lacks but every lineage-disciplined pipeline wants):
    // membership = portable fingerprint bucket of a key column, so the
    // sample is REPRODUCIBLE across engines/runs/partitionings — never
    // rand(). Pure filter: pushes down to the scan, zero shuffle.
    frame("SAMPLE", """(\w+)\s+BY\s+(\w+)\s+PCT\s+(\d{1,2})\s*""") {
      case (s, Seq(table, keyCol, pct)) =>
        import org.apache.spark.sql.functions.{expr, lit, pmod}
        s.table(table).where(pmod(
          expr(s"graft_fingerprint(CAST($keyCol AS STRING))"),
          lit(100L)) < lit(pct.toLong))
    },
    // TEXT TASK = a ServiceLoader-discovered NLP task applied by name
    // (reference: SqlQueryParser TEXT <task> production +
    // analytics/nlp/service/NlpService.scala — tasks are runtime
    // services, so third-party taggers plug in without core changes)
    frame("TEXT", """TASK\s+(\w+)\s+IN\s+(\w+)\s+FROM\s+(\w+)\s*""") {
      case (s, Seq(task, inCol, table)) =>
        import org.apache.spark.sql.functions.col
        val t = ProviderRegistry.nlpTasks.getOrElse(
          task.toUpperCase,
          throw new IllegalArgumentException(
            s"GRAFT TEXT TASK: no nlp task '$task' — available: " +
              ProviderRegistry.nlpTasks.keys.toSeq.sorted.mkString(", ")))
        t.outputs(col(inCol)).foldLeft(s.table(table)) {
          case (d, (name, c)) => d.withColumn(name, c)
        }
    },
    plan("LIST", """TASKS\s*""") { case (_, _) =>
      strings("task", "description")(
        ProviderRegistry.nlpTasks.values.toSeq
          .map(t => Seq(t.name, t.description)).sortBy(_.head))
    },
    // TEXT PARSE relational op (reference: SqlQueryParser.scala:1032-1039
    // TEXT <task> IN <col> TO <cols>; analytics/nlp/objects/
    // ParseTask.scala:31-66 — regex match groups projected to columns)
    frame("TEXT", """PARSE\s+'([^']+)'\s+IN\s+(\w+)""" +
        """\s+TO\s+([\w,\s]+?)\s+FROM\s+(\w+)\s*""") {
      case (s, Seq(regex, inCol, toCols, table)) =>
        import org.apache.spark.sql.functions.{col, regexp_extract}
        csv(toCols).zipWithIndex.foldLeft(s.table(table)) {
          case (d, (c, i)) =>
            d.withColumn(c, regexp_extract(col(inCol), regex, i + 1))
        }
    }
  )

  private val byKeyword: Map[String, Seq[Statement]] =
    statements.groupBy(_.keyword)

  /** Every statement keyword, in table order. */
  val keywords: Seq[String] = statements.map(_.keyword).distinct

  private val DmlKeywords = Set("DELETE", "UPDATE", "INSERT", "MERGE")

  // ---- listings ----

  private def listViews(s: SparkSession, long: Boolean): LogicalPlan = {
    val vs = SessionViews.listViews(s)
    if (long)
      rows(Seq("view" -> StringType, "temp" -> BooleanType,
        "definition" -> StringType),
        vs.map(v => Seq(v.name, v.temp, v.definition)))
    else
      rows(Seq("view" -> StringType, "temp" -> BooleanType),
        vs.map(v => Seq(v.name, v.temp)))
  }

  private def listTables(s: SparkSession, long: Boolean): LogicalPlan = {
    val ts = SessionViews.listTables(s)
    if (long)
      strings("table", "catalog", "remote")(
        ts.map(t => Seq(t.name, t.catalog, t.remote)))
    else strings("table", "catalog")(ts.map(t => Seq(t.name, t.catalog)))
  }

  private def listRemaining(s: SparkSession, catalog: String): LogicalPlan = {
    val addedRemote = SessionViews.listTables(s)
      .filter(_.catalog == catalog).map(_.remote.toLowerCase).toSet
    column("remaining", FederatedPushdown
      .remoteTables(s, catalog)
      .filterNot(t => addedRemote.contains(t.toLowerCase)))
  }

  // ---- DML ----

  private def dmlCommand(op: String, table: String)(
      apply: SparkSession => Unit): GraftStatementCommand =
    GraftStatementCommand.status(op, Seq("table", "operation", "status")) { s =>
      apply(s)
      Seq(table, op.toLowerCase(Locale.ROOT), "applied")
    }

  /** Split a BATCH body on ';' — quote-aware (a literal ';' inside a
    * string value must not break the statement; doubled '' escapes
    * keep the scanner in-string across the pair). */
  private def splitStatements(blob: String): Seq[String] = {
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
    require(assigns.nonEmpty, s"GRAFT UPDATE $table: empty SET list")
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
    val listed = Option(colList).toSeq.flatMap(csv)
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

  // ---- CREATE TABLE column definitions ----

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

  /** Column/constraint items -> typed column defs with key roles
    * (reference tableKeys: column-level PRIMARY KEY / REFERENCES,
    * table-level PRIMARY KEY (a, b) / FOREIGN KEY (c) REFERENCES). */
  private def parseColumnDefs(items: Seq[String])
      : Seq[TableMeta.ColumnDef] = {
    import TableMeta.ColumnDef
    val colsB = Seq.newBuilder[ColumnDef]
    var pkCols = Set.empty[String]
    var fks = Map.empty[String, String]
    items.foreach {
      case TableLevelPkRe(cols) =>
        pkCols ++= csv(cols).map(_.toLowerCase)
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

  // ---- ordinary-statement rewrites ----

  private val ExternalRef = """(?i)EXTERNAL\s*\(\s*(\w+)\s*\)""".r
  // virtual sequence source (reference: SqlQueryParser.scala:1060-1062
  // SequenceSource) — FROM SEQUENCE(n) = the integers 1..n, generated
  // executor-side by range. Anchored on FROM/JOIN so the
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

  /** Index of `keyword` at parenthesis depth 0 outside literals, or -1.
    * QUALIFY and UPDATE's WHERE are located with it, NOT a regex: the
    * window predicate itself contains ORDER BY inside OVER(...), which
    * any non-greedy pattern mis-splits on. */
  private def topLevelIndex(s: String, keyword: String, from: Int = 0): Int = {
    val upper = s.toUpperCase(Locale.ROOT)
    val kw = keyword.toUpperCase(Locale.ROOT)
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

  /** QUALIFY (Teradata/DuckDB/Snowflake window-predicate clause) in an
    * ordinary top-level SELECT: lowered to project-the-predicate +
    * outer filter, the standard rewrite. Supported shape: one
    * top-level SELECT ... FROM ... [WHERE ...] QUALIFY <pred>
    * [ORDER BY ...] [LIMIT n] (no top-level GROUP BY between FROM and
    * QUALIFY; subquery QUALIFYs are not rewritten). */
  private def rewriteQualify(sql: String): String = {
    val q = topLevelIndex(sql, "QUALIFY")
    if (q < 0 ||
      !sql.stripLeading.toUpperCase(Locale.ROOT).startsWith("SELECT"))
      return sql
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
}
