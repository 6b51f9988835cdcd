package graft

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

import org.scalatest.funsuite.AnyFunSuite

/** The HTTP query service, driven through a real socket: health,
  * SQL + GRAFT statements as JSON, and error reporting. */
class HttpServiceSpec extends AnyFunSuite {
  import TestSession._

  private def http(port: Int, path: String, body: Option[String])
      : (Int, String) = {
    val conn = new URI(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    body match {
      case Some(b) =>
        conn.setRequestMethod("POST")
        conn.setDoOutput(true)
        val os = conn.getOutputStream
        try os.write(b.getBytes(StandardCharsets.UTF_8))
        finally os.close()
      case None => conn.setRequestMethod("GET")
    }
    val code = conn.getResponseCode
    val is = if (code < 400) conn.getInputStream else conn.getErrorStream
    val out = new String(is.readAllBytes(), StandardCharsets.UTF_8)
    is.close()
    (code, out)
  }

  test("health, query, graft dialect, and error paths") {
    Tables(spark, sfDir).registerAll()
    val svc = new graft.service.HttpService(spark, 0).start()
    val port = svc.boundPort
    try {
      assert(http(port, "/health", None) == (200, """{"status":"ok"}"""))

      val (c1, ok) = http(port, "/sql",
        Some("SELECT r_regionkey, r_name FROM region ORDER BY 1 LIMIT 2"))
      assert(c1 == 200)
      assert(ok.contains(""""columns":["r_regionkey","r_name"]"""))
      assert(ok.contains("""[0,"AFRICA"]""") && ok.contains(""""n":2"""))

      val (c2, skew) = http(port, "/sql",
        Some("GRAFT SKEW lineitem KEY l_orderkey"))
      assert(c2 == 200 && skew.contains("skew_factor"))

      val (c3, err) = http(port, "/sql", Some("SELECT * FROM nope"))
      assert(c3 == 400 && err.contains(""""error":"""))

      // a task failure Spark names no error condition for is the
      // engine's fault, not the statement's
      val (c5, fault) = http(port, "/sql", Some("SELECT reflect(" +
        "'java.lang.Integer', 'parseInt', concat('x', id)) FROM range(3)"))
      assert(c5 == 500 && fault.contains(""""error":"""), fault)

      val (c4, _) = http(port, "/sql", None)
      assert(c4 == 405)
    } finally svc.stop()
  }

  test("web display client renders tables and embeds PLOT RENDER svg") {
    Tables(spark, sfDir).registerAll()
    val svc = new graft.service.HttpService(spark, 0).start()
    val port = svc.boundPort
    try {
      // GET with an url-encoded statement -> styled HTML table
      val q = java.net.URLEncoder.encode(
        "SELECT r_regionkey, r_name FROM region ORDER BY 1 LIMIT 2",
        "UTF-8")
      val (c1, html) = http(port, s"/display?q=$q", None)
      assert(c1 == 200)
      assert(html.startsWith("<!DOCTYPE html>"))
      assert(html.contains("<th>r_regionkey</th>")
        && html.contains("<td>AFRICA</td>") && html.contains("2 row(s)"))

      // POST works too, and values are HTML-escaped
      val (c2, esc) = http(port, "/display",
        Some("SELECT '<b>&amp;</b>' AS x"))
      assert(c2 == 200 && esc.contains("&lt;b&gt;&amp;amp;&lt;/b&gt;"))

      // a PLOT ... RENDER statement embeds the chart inline
      val (c3, chart) = http(port, "/display", Some(
        "GRAFT PLOT orders X o_totalprice BINS 5 Y COUNT o_totalprice " +
          "FACET o_orderstatus RENDER 'by status'"))
      assert(c3 == 200 && chart.contains("<svg ")
        && chart.contains("</svg>"))

      // errors come back as readable HTML, statement escaped
      val (c4, err) = http(port, "/display", Some("SELECT * FROM nope"))
      assert(c4 == 400 && err.contains("error:"))

      val (c5, hint) = http(port, "/display", None)
      assert(c5 == 400 && hint.contains("/display?q="))
    } finally svc.stop()
  }

  test("/plot serves the latest streaming frame and its history") {
    val svc = new graft.service.HttpService(spark, 0).start()
    val port = svc.boundPort
    try {
      // unknown display -> 404
      val (c0, miss) = http(port, "/plot/nope", None)
      assert(c0 == 404 && miss.contains("no streaming display"))

      // drive a real AvailableNow animation over the events corpus
      val d = java.nio.file.Files.createTempDirectory("graft_httpplot")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sfDir/events.parquet"),
        d.resolve("events.parquet"))
      val stream = graft.streaming.EventStreams
        .readEvents(spark, d.toString)
      val (q, name) =
        graft.streaming.StreamingPlot.hourlyCounts(stream, "event_type")
      try q.processAllAvailable() finally q.stop()

      val (c1, page) = http(port, s"/plot/$name", None)
      assert(c1 == 200 && page.contains("<svg ")
        && page.contains("</svg>"))
      val (c2, hist) = http(port, s"/plot/$name?frames=1", None)
      assert(c2 == 200 && hist.contains("batch 0"))
    } finally svc.stop()
  }
}
