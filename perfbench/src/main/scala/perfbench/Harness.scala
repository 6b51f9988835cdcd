package perfbench

import java.io.{BufferedReader, File, InputStreamReader}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.streaming.{EventStreams, StreamMatchOut, StreamingMatch}

/** The JVM side of the benchmark. It drives graft only through its
  * public entry points and talks to the runner (run.py) by lines:
  * events go out on stdout as `@@<event> <json>`, commands come in on
  * stdin, one per line. Every file it writes lands under `--work`.
  *
  *   java ... perfbench.Harness --workload <name> --work <dir>
  *     --data <tables dir> --nproc <n> [workload options]
  */
object Harness {
  def emit(event: String, fields: (String, Any)*): Unit = {
    println(s"@@$event ${Json.obj(fields: _*)}")
    System.out.flush()
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val nproc = opts("nproc").toInt
    val wl: Workload = opts("workload") match {
      case "interactive_sql" => new Interactive(opts, nproc)
      case "analytics_batch" => new Batch(opts, nproc)
      case "stream_match" => new Stream(opts, nproc)
    }
    emit("env", "java" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION, "nproc" -> nproc)
    // One cold set-up, then the warm-up; the runner times both from the
    // start of this process to `ready`.
    val t0 = System.nanoTime()
    wl.setup()
    val t1 = System.nanoTime()
    wl.warmup()
    emit("ready", (Seq("session_s" -> (t1 - t0) / 1e9,
      "warmup_s" -> secondsSince(t1)) ++ wl.readyInfo): _*)
    val in = new BufferedReader(new InputStreamReader(System.in))
    var line = in.readLine()
    while (line != null && line.trim != "exit") {
      val cmd = line.trim.split(" ", 2)
      val out = cmd(0) match {
        case "trace_on" => wl.traceOn(); Seq.empty
        case "trace_off" => wl.traceOff(); Seq.empty
        case c => wl.command(c, cmd.lift(1).getOrElse(""))
      }
      emit("done", (("cmd" -> cmd(0)) +: out): _*)
      line = in.readLine()
    }
    // the oracles are written last, so loading them is not set-up time
    opts.get("oracles").foreach { keys =>
      val oracle = graft.SparkEntry.oracleSql
      Files.writeString(Paths.get(s"${opts("work")}/oracles.json"),
        Json(keys.split(",").map(k => k -> oracle.get(k)).toMap))
    }
    wl.teardown()
  }
}

/** What every workload shares: a session built with Engine.session at
  * this machine's core count, and the tracer toggled by the runner. */
abstract class Workload(opts: Map[String, String], nproc: Int) {
  val work: String = opts("work")
  val data: String = opts("data")
  var spark: SparkSession = _
  private var tracer: Tracer = _

  def newSession(): SparkSession = {
    val s = graft.Engine.session(
      master = s"local[$nproc]", shufflePartitions = nproc)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def setup(): Unit
  def warmup(): Unit = ()
  def readyInfo: Seq[(String, Any)] = Seq.empty
  def command(cmd: String, arg: String): Seq[(String, Any)]
  def teardown(): Unit = if (spark != null) { spark.stop(); spark = null }

  def traceOn(): Unit = { tracer = new Tracer(spark); tracer.attach() }
  def traceOff(): Unit = {
    tracer.detach(nproc)
    afterTrace(tracer)
    tracer.write(s"$work/spans.jsonl")
    tracer = null
  }
  /** Extra spans a workload records once the traced window closed. */
  def afterTrace(t: Tracer): Unit = ()
}

/** `interactive_sql`: HttpService over the sf0.01 tables, with a Derby
  * catalog attached for the federated family. The load itself comes
  * from the separate load-generator process. */
final class Interactive(opts: Map[String, String], nproc: Int)
    extends Workload(opts, nproc) {
  // id, family, statement
  private val stmts: Seq[(String, String, String)] =
    Files.readAllLines(Paths.get(opts("stmts"))).asScala.toSeq
      .filter(_.nonEmpty).map { l =>
        val p = l.split("\t", 3); (p(0), p(1), p(2))
      }
  private var svc: graft.service.HttpService = _

  def setup(): Unit = {
    spark = newSession()
    val tables = graft.Tables(spark, data)
    tables.registerAll()
    graft.sources.FederatedPushdown.seedOnce(spark, "perfbench_fed",
      "CUSTOMER_FED", tables.customer
        .withColumn("c_acctbal", col("c_acctbal").cast("decimal(12,2)")))
    spark.sql("GRAFT ATTACH DERBY 'perfbench_fed' AS fedcat").collect()
    svc = new graft.service.HttpService(spark, 0).start()
  }

  /** Every distinct statement once through the service; the answers
    * are kept for the correctness check. */
  override def warmup(): Unit = {
    val client = HttpClient.newHttpClient()
    Files.createDirectories(Paths.get(s"$work/responses"))
    stmts.foreach { case (id, _, sql) =>
      val req = HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${svc.boundPort}/sql"))
        .POST(HttpRequest.BodyPublishers.ofString(sql)).build()
      Files.write(Paths.get(s"$work/responses/$id.json"),
        client.send(req, HttpResponse.BodyHandlers.ofByteArray()).body())
    }
  }

  override def readyInfo: Seq[(String, Any)] = Seq("port" -> svc.boundPort)

  override def teardown(): Unit = {
    if (svc != null) { svc.stop(); svc = null }
    super.teardown()
  }

  def command(cmd: String, arg: String): Seq[(String, Any)] =
    throw new IllegalArgumentException(s"unknown command $cmd")

  /** Catalyst phases per family, replayed in-process after the traced
    * window: the service wraps each statement in `limit(..).collect()`,
    * whose QueryExecution no longer carries the parse phase. */
  override def afterTrace(t: Tracer): Unit =
    for ((id, family, sql) <- stmts; rep <- 1 to 3) {
      val t0 = System.currentTimeMillis().toDouble
      val df = spark.sql(sql)
      df.queryExecution.executedPlan
      var span = Tracer.planSpan(df.queryExecution, s"replay-$id-$rep",
        family, t0, System.currentTimeMillis().toDouble)
      if (family == "fed" && rep == 1) {
        val n = df.collect().length
        span = span.copy(attrs = span.attrs ++ t.jdbcRows(df.queryExecution)
          + ("result_rows" -> n))
      }
      t.add(span.copy(kind = "replay"))
    }
}

/** `analytics_batch`: heavy registry jobs run back to back through
  * SparkEntry.queries. */
final class Batch(opts: Map[String, String], nproc: Int)
    extends Workload(opts, nproc) {
  private val jobs: Seq[String] = opts("jobs").split(",").toSeq
  private val results =
    scala.collection.mutable.Map.empty[String, (Array[Row], StructType)]
  private var smallTimes: Map[String, Map[String, Any]] = Map.empty

  def setup(): Unit = {
    spark = newSession()
    graft.Tables(spark, data).registerAll()
  }

  private def cacheEntries: Set[String] =
    Option(new File(spark.conf.get("spark.graft.cacheRoot")).list())
      .map(_.toSet).getOrElse(Set.empty)

  /** Each job once over the small tables at `--small`, results kept for
    * the correctness check; then the main tables are registered again. */
  override def warmup(): Unit = {
    smallTimes = jobs.map { j =>
      val t0 = System.nanoTime()
      val err = try {
        graft.SparkEntry.queries(j)(spark, opts("small")).coalesce(1).write
          .mode("overwrite").parquet(s"$work/check/small/$j")
        ""
      } catch { case e: Exception => String.valueOf(e.getMessage) }
      j -> Map("s" -> Harness.secondsSince(t0), "error" -> err)
    }.toMap
    graft.Tables(spark, data).registerAll()
  }

  override def readyInfo: Seq[(String, Any)] = Seq("jobs" -> smallTimes)

  def command(cmd: String, arg: String): Seq[(String, Any)] = cmd match {
    // `pass <jobs>`: the jobs over the main tables in the given order
    case "pass" =>
      val times = arg.split(",").toSeq.map { j =>
        val before = cacheEntries
        val t0 = System.nanoTime()
        val err = try {
          val df = graft.SparkEntry.queries(j)(spark, data)
          results(j) = (df.collect(), df.schema)
          ""
        } catch { case e: Exception => String.valueOf(e.getMessage) }
        j -> Map("s" -> Harness.secondsSince(t0), "error" -> err,
          "cache_built" -> (cacheEntries -- before).size)
      }
      Seq("jobs" -> times.toMap)
    // `check <jobs>`: the kept results of the last pass to parquet
    case "check" =>
      arg.split(",").filter(results.contains).foreach { j =>
        val (rows, schema) = results(j)
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$work/check/main/$j")
      }
      Seq.empty
  }
}

/** `stream_match`: EventStreams.readEvents over the directory the
  * open-loop generator fills, into StreamingMatch.matches and a
  * foreachBatch sink that stamps each match with its arrival time. */
final class Stream(opts: Map[String, String], nproc: Int)
    extends Workload(opts, nproc) {
  private var query: StreamingQuery = _
  // user_id, match_id, n_rows, first_ord, last_ord, path, received ms
  private val received = ArrayBuffer.empty[(StreamMatchOut, Long)]

  def setup(): Unit = {
    spark = newSession()
    val sink: (Dataset[StreamMatchOut], Long) => Unit = (ds, _) => {
      val rows = ds.collect()
      val now = System.currentTimeMillis()
      received.synchronized(rows.foreach(r => received += (r -> now)))
    }
    query = StreamingMatch.matches(EventStreams.readEvents(spark, data),
        "click view* purchase")
      .writeStream.foreachBatch(sink)
      .option("checkpointLocation", s"$work/stream/checkpoint")
      .start()
    query.processAllAvailable()
  }

  override def teardown(): Unit = {
    if (query != null) { query.stop(); query = null }
    super.teardown()
  }

  def command(cmd: String, arg: String): Seq[(String, Any)] = cmd match {
    // `idle`: process every file written so far
    case "idle" =>
      query.processAllAvailable()
      Seq.empty
    // `drain`: process every file written so far, then dump the sink,
    // the batch progress and the matches for the check
    case "drain" =>
      query.processAllAvailable()
      val progress = query.recentProgress.map { p =>
        Json.obj("start" -> java.time.Instant.parse(p.timestamp)
            .toEpochMilli,
          "batch" -> p.batchId, "rows" -> p.numInputRows,
          "duration_ms" -> p.durationMs.asScala.map {
            case (k, v) => k -> v.longValue }.toMap)
      }
      Files.write(Paths.get(s"$work/progress.jsonl"), progress.toSeq.asJava)
      val got = received.synchronized(received.toVector)
      Files.write(Paths.get(s"$work/sink.jsonl"), got.map { case (m, t) =>
        Json.obj("last_ms" -> m.last_ord.getTime, "recv_ms" -> t)
      }.asJava)
      val session = spark
      import session.implicits._
      got.map(_._1).toDS().select(col("user_id"), col("match_id"),
          col("n_rows"), col("first_ord"), col("last_ord"), col("path"))
        .coalesce(1).write.mode("overwrite").parquet(s"$work/check/stream")
      Seq("matches" -> got.length, "batches" -> progress.length)
  }
}
