package graft.service

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.{Row, SparkSession}

/** HTTP query service (reference: modules/service — sclera's web
  * service executes statements over HTTP for non-JVM clients), on the
  * JDK's built-in httpserver (zero deps):
  *
  *   GET  /health        -> {"status":"ok"}
  *   POST /sql  (body = statement text)
  *       -> {"columns":[...], "rows":[[...], ...], "n":N}
  *
  * Statements run through [[StatementRunner]], capped at `maxRows` (a
  * service returns pages, not corpora — large extracts belong in a sink
  * write). A failed one answers {"error": ...}: 400 when the statement
  * is at fault, 500 when the engine is. JSON strings escape every
  * control char, as Verify's oracle_sql.json does.
  */
class HttpService(spark: SparkSession, port: Int, maxRows: Int = 1000) {

  private val server = HttpServer.create(new InetSocketAddress(port), 0)

  /** Bound port (useful when constructed with port 0 = ephemeral). */
  def boundPort: Int = server.getAddress.getPort

  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def jval(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case n: Byte => n.toString
    case n: Short => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case n: Float => if (n.isNaN || n.isInfinite) jstr(n.toString)
      else n.toString
    case n: Double => if (n.isNaN || n.isInfinite) jstr(n.toString)
      else n.toString
    case n: java.math.BigDecimal => n.toPlainString
    case other => jstr(other.toString)
  }

  private def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")

  private val Json = "application/json"
  private val Html = "text/html; charset=utf-8"

  private def respond(ex: HttpExchange, code: Int, contentType: String,
      body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  /** The statement of a request: the POST body, or GET's `?q=`. */
  private def statement(ex: HttpExchange): String = (
    if (ex.getRequestMethod == "POST")
      new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    else Option(ex.getRequestURI.getRawQuery).toSeq.flatMap(_.split("&"))
      .collectFirst { case p if p.startsWith("q=") =>
        java.net.URLDecoder.decode(p.drop(2), "UTF-8") }.getOrElse("")
  ).trim

  /** Answer with `ok` of the statement's columns and first `maxRows`
    * rows, or with `err` of the runner's message. */
  private def serve(ex: HttpExchange, contentType: String, stmt: String)(
      ok: (Seq[String], Vector[Row]) => String,
      err: String => String): Unit = {
    val (code, body) = try {
      val r = StatementRunner.run(spark, stmt, Some(maxRows))
      (200, ok(r.schema.fieldNames.toSeq, r.rows.toVector))
    } catch {
      case e: StatementError =>
        (if (e.kind == StatementError.User) 400 else 500, err(e.getMessage))
    }
    respond(ex, code, contentType, body)
  }

  server.createContext("/health", (ex: HttpExchange) =>
    respond(ex, 200, Json, """{"status":"ok"}"""))

  server.createContext("/sql", (ex: HttpExchange) =>
    if (ex.getRequestMethod != "POST")
      respond(ex, 405, Json, """{"error":"POST a statement to /sql"}""")
    else serve(ex, Json, statement(ex))((cols, rows) =>
      s"""{"columns":${arr(cols.map(jstr))},"rows":""" +
        arr(rows.map(r => arr(r.toSeq.map(jval)))) +
        s""","n":${rows.length}}""",
      msg => s"""{"error":${jstr(msg)}}"""))

  // ---- web display client (reference: modules/interfaces/display
  // Display.scala — sclera renders results to a browser). GET
  // /display?q=<urlencoded statement> (or POST the statement) returns
  // an HTML page: result rows as a styled table, or — when the
  // statement is a GRAFT PLOT ... RENDER returning the 1-row svg
  // relation — the chart embedded inline.

  private def hesc(s: String): String = s.flatMap {
    case '&' => "&amp;"
    case '<' => "&lt;"
    case '>' => "&gt;"
    case '"' => "&quot;"
    case '\'' => "&#39;"
    case c => c.toString
  }

  private def htmlPage(title: String, body: String): String =
    "<!DOCTYPE html><html><head><meta charset=\"utf-8\"/>" +
      s"<title>${hesc(title)}</title><style>" +
      "body{font-family:sans-serif;margin:16px}" +
      "table{border-collapse:collapse}" +
      "th,td{border:1px solid #999;padding:3px 8px;font-size:13px}" +
      "th{background:#eee}caption{text-align:left;padding:4px 0;" +
      "font-weight:bold}</style></head><body>" + body + "</body></html>"

  server.createContext("/display", (ex: HttpExchange) => {
    val stmt = statement(ex)
    if (stmt.isEmpty) respond(ex, 400, Html, htmlPage("graft",
      "<p>pass a statement: GET /display?q=... or POST it</p>"))
    else serve(ex, Html, stmt)((cols, rows) => htmlPage("graft display",
      if (cols == Seq("svg") && rows.length == 1)
        // a GRAFT PLOT ... RENDER relation: embed the chart
        String.valueOf(rows.head.get(0))
      else {
        val head = cols.map(c => s"<th>${hesc(c)}</th>").mkString
        val data = rows.map(_.toSeq
          .map(v => s"<td>${hesc(String.valueOf(v))}</td>")
          .mkString("<tr>", "", "</tr>")).mkString
        s"<table><caption>${hesc(stmt)} — ${rows.length} " +
          s"row(s)</caption><tr>$head</tr>$data</table>"
      }), msg => htmlPage("graft error", s"<p>error: ${hesc(msg)}</p>"))
  })

  // ---- streaming / animated plot display (reference: modules/visual
  // model/plot/Transition.scala — sclera animates a plot over a
  // streaming query). GET /plot/<display> serves the LATEST frame the
  // StreamingPlot registry holds for that display — each browser poll
  // sees the newest micro-batch's complete SVG; ?frames=1 lists the
  // retained history (batch ids) instead.
  server.createContext("/plot", (ex: HttpExchange) => {
    val name = ex.getRequestURI.getPath.stripPrefix("/plot")
      .stripPrefix("/")
    val wantList = Option(ex.getRequestURI.getRawQuery)
      .exists(_.contains("frames=1"))
    graft.streaming.StreamingPlot.display(name) match {
      case None => respond(ex, 404, Html, htmlPage("graft plot",
        s"<p>no streaming display named '${hesc(name)}'</p>"))
      case Some(d) if wantList =>
        val items = d.frames
          .map { case (id, _) => s"<li>batch $id</li>" }.mkString
        respond(ex, 200, Html, htmlPage(s"frames: $name",
          s"<ul>$items</ul>"))
      case Some(d) => d.latest match {
        case Some(svg) =>
          respond(ex, 200, Html, htmlPage(s"plot: $name", svg))
        case None => respond(ex, 404, Html, htmlPage("graft plot",
          s"<p>display '${hesc(name)}' has no frames yet</p>"))
      }
    }
  })

  def start(): HttpService = { server.start(); this }
  def stop(): Unit = server.stop(0)
}

object HttpService {
  /** Session + tables + server in one call (the service main). */
  def main(args: Array[String]): Unit = {
    val spark = graft.Engine.session()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    graft.Tables(spark, dir).registerAll()
    val port = args.lift(1).map(_.toInt).getOrElse(8080)
    val svc = new HttpService(spark, port).start()
    println(s"graft http service on port ${svc.boundPort} " +
      s"(tables from $dir); POST /sql")
  }
}
