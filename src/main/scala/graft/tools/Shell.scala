package graft.tools

import java.io.{BufferedReader, PrintWriter}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

import graft.service.{StatementError, StatementRunner}

/** Interactive shell (reference: modules/interfaces/shell — Repl.scala,
  * ReplCommand.scala: SQL statements + meta commands over a line
  * reader). Spark-first re-expression: every statement — the full
  * Spark SQL surface plus the GRAFT dialect — goes through
  * [[graft.service.StatementRunner]], so the shell is a thin loop that
  * formats results, not an engine. Meta commands mirror the reference's:
  *
  *   \q                      quit
  *   \d | \tables            list temp views / tables
  *   \timer on|off           print per-statement wall time
  *   \format table|csv       result rendering
  *   \source <file>          execute statements from a file
  *   \explain <stmt>         formatted physical plan
  *
  * Statements may span lines and end with `;`. The core loop is a
  * pure function over (reader, writer) so ShellSpec drives it without
  * a TTY; `main` wires stdin/stdout and a session with graft
  * extensions + the testdata tables registered.
  */
object Shell {

  private val MaxRows = 50

  /** Run the REPL loop until EOF or \q. Returns statements executed. */
  def run(spark: SparkSession, in: BufferedReader, out: PrintWriter): Int = {
    var timer = false
    var csv = false
    // EXPLAIN SCRIPT mode (reference SqlAdminParser.scala:153
    // SqlExplainScript): while ON, every executed statement echoes
    // its plan before the result rows
    var explainScript = false
    var executed = 0
    val buf = new StringBuilder

    def renderResult(r: StatementRunner.Result): Unit = {
      val rows = r.rows.toArray
      val names = r.schema.fieldNames.toSeq
      val cells = rows.take(MaxRows).map(_.toSeq.map(v =>
        if (v != null) v.toString else if (csv) "" else "NULL"))
      if (csv) (names +: cells).foreach(c => out.println(c.mkString(",")))
      else {
        val widths = names.indices.map(i =>
          (names(i).length +: cells.map(_(i).length)).max)
        def line(vals: Seq[String]) = out.println(
          vals.zip(widths).map { case (v, w) => v.padTo(w, ' ') }
            .mkString(" | "))
        line(names)
        out.println(widths.map("-" * _).mkString("-+-"))
        cells.foreach(line)
      }
      out.println(
        s"(${cells.length}${if (rows.length > MaxRows) "+" else ""} rows)")
    }

    // the statement-level toggle (sclera: EXPLAIN SCRIPT [ON|OFF])
    val ExplainScriptRe =
      """(?is)\s*(?:GRAFT\s+)?EXPLAIN\s+SCRIPT(?:\s+(ON|OFF))?\s*""".r

    def exec(stmt: String): Unit = stmt match {
      case ExplainScriptRe(mode) =>
        explainScript = mode == null || mode.equalsIgnoreCase("ON")
        out.println(s"explain script ${if (explainScript) "on" else "off"}")
        executed += 1
      case _ => try {
        val r = StatementRunner.run(spark, stmt, Some(MaxRows + 1))
        if (explainScript) out.println(
          r.queryExecution.explainString(ExplainMode.fromString("simple")))
        renderResult(r)
        executed += 1
        if (timer) out.println(f"time: ${r.elapsedMs / 1e3}%.3fs")
      } catch {
        case e: StatementError => out.println(s"error: ${e.getMessage}")
      }
    }

    def meta(cmd: String): Boolean = { // true = keep looping
      val parts = cmd.split("\\s+").toSeq
      parts.head match {
        case "\\q" => return false
        case "\\d" | "\\tables" =>
          StatementRunner.run(spark, "SHOW TABLES").rows
            .map(_.getAs[String]("tableName")).toSeq.sorted
            .foreach(out.println)
        case "\\timer" => timer = parts.lift(1).contains("on")
        case "\\format" => csv = parts.lift(1).contains("csv")
        case "\\explain" =>
          try out.println(spark.sql(cmd.stripPrefix("\\explain").trim)
            .queryExecution.explainString(ExplainMode.fromString("formatted")))
          catch { case e: Exception =>
            out.println(s"error: ${StatementRunner.message(e)}") }
        case "\\source" => parts.lift(1) match {
          case Some(f) if java.nio.file.Files.exists(
              java.nio.file.Paths.get(f)) =>
            val r = java.nio.file.Files.newBufferedReader(
              java.nio.file.Paths.get(f))
            try run(spark, r, out) finally r.close()
          case other =>
            out.println(s"error: cannot read ${other.getOrElse("<missing>")}")
        }
        case other => out.println(s"error: unknown command $other")
      }
      true
    }

    var looping = true
    while (looping) {
      val lineRead = in.readLine()
      if (lineRead == null) looping = false
      else {
        val line = lineRead.trim
        if (buf.isEmpty && line.startsWith("\\"))
          looping = meta(line)
        else if (line.nonEmpty) {
          buf.append(line).append(' ')
          if (line.endsWith(";")) {
            val stmt = buf.toString.trim.stripSuffix(";")
            buf.clear()
            if (stmt.nonEmpty) exec(stmt)
          }
        }
      }
      out.flush()
    }
    executed
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Engine.session()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    graft.Tables(spark, dir).registerAll()
    val out = new PrintWriter(System.out)
    out.println(s"graft shell — tables from $dir; \\q to quit")
    out.flush()
    run(spark,
      new BufferedReader(new java.io.InputStreamReader(System.in)), out)
    spark.stop()
  }
}
