package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileAlreadyExistsException,
  Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileContextBasedCheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SeqMatchOp
import graft.streaming.{SchemeCheckpointFileManager, StreamingMatch}

/** The local disk under a second scheme, so the manager's non-`file:`
  * branch runs without a cluster. */
class OtherSchemeFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftother:///")
  override def getScheme: String = "graftother"
}

/** FileContext binding of [[OtherSchemeFs]]: with it, Spark's default
  * for the scheme is the FileContext-based manager. */
class OtherSchemeAfs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new OtherSchemeFs, conf,
      "graftother", false)

class CheckpointFileManagerSpec extends AnyFunSuite {
  import TestSession._

  private def tempDir(prefix: String): JPath =
    Files.createTempDirectory(prefix)

  private def read(p: JPath): String = new String(Files.readAllBytes(p), UTF_8)

  private def manager(dir: JPath): CheckpointFileManager =
    CheckpointFileManager.create(new Path(dir.toUri),
      spark.sessionState.newHadoopConf())

  private def write(out: java.io.OutputStream, text: String): Unit =
    out.write(text.getBytes(UTF_8))

  test("file: gets the FileSystem manager, other schemes Spark's default") {
    val dir = tempDir("graft_ckpt_scheme")
    val conf = spark.sessionState.newHadoopConf()
    conf.set("fs.graftother.impl", classOf[OtherSchemeFs].getName)
    conf.set("fs.AbstractFileSystem.graftother.impl",
      classOf[OtherSchemeAfs].getName)
    val local = CheckpointFileManager.create(new Path(dir.toUri), conf)
    val other = CheckpointFileManager.create(
      new Path(s"graftother://$dir"), conf)
    (local, other) match {
      case (l: SchemeCheckpointFileManager, o: SchemeCheckpointFileManager) =>
        assert(l.delegate.isInstanceOf[FileSystemBasedCheckpointFileManager])
        assert(l.isLocal)
        assert(o.delegate.isInstanceOf[FileContextBasedCheckpointFileManager])
      case got => fail(s"session does not use the graft manager: $got")
    }
  }

  test("createAtomic without overwrite fails on an existing file and " +
      "keeps its bytes") {
    val dir = tempDir("graft_ckpt_nooverwrite")
    val file = dir.resolve("0")
    Files.write(file, "old".getBytes(UTF_8))
    val out = manager(dir).createAtomic(new Path(file.toUri), false)
    write(out, "new")
    intercept[FileAlreadyExistsException](out.close())
    assert(read(file) == "old")
  }

  test("createAtomic overwrite replaces the file; cancel leaves nothing") {
    val dir = tempDir("graft_ckpt_overwrite")
    val file = dir.resolve("1")
    Files.write(file, "old".getBytes(UTF_8))
    val fm = manager(dir)
    val out = fm.createAtomic(new Path(file.toUri), true)
    write(out, "new")
    out.close()
    assert(read(file) == "new")

    val cancelled = dir.resolve("2")
    val out2 = fm.createAtomic(new Path(cancelled.toUri), true)
    write(out2, "partial")
    out2.cancel()
    assert(Files.list(dir).iterator.asScala.map(_.getFileName.toString)
      .toSeq == Seq("1"))
  }

  test("MATCH stopped mid-stream and restarted from its checkpoint " +
      "equals batch MATCH") {
    val pattern = "click view* purchase"
    val dir = tempDir("graft_ckpt_restart")
    val ev = Tables(spark, sfDir).events.orderBy(col("ts"), col("event_id"))
    val firstHalf = ev.limit((ev.count() / 2).toInt)
    val halves = Seq(firstHalf, ev.exceptAll(firstHalf))
    halves.zipWithIndex.foreach { case (h, i) =>
      h.coalesce(1).write.parquet(dir.resolve(s"stage/h$i").toString)
    }
    val src = Files.createDirectories(dir.resolve("src"))
    def release(i: Int): Unit = {
      val part = Files.list(dir.resolve(s"stage/h$i")).iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, src.resolve(s"h$i.parquet"))
    }
    val out = dir.resolve("out").toString
    def run(): Unit = {
      val q = StreamingMatch.matches(
          spark.readStream.schema(ev.schema).parquet(src.toString), pattern)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", dir.resolve("checkpoint").toString)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    release(0)
    run()
    release(1)
    run()

    val cols = Seq("user_id", "match_id", "n_rows", "first_ord",
      "last_ord", "path").map(col)
    val streamed = spark.read.parquet(out).select(cols: _*)
    val batch = SeqMatchOp.matchPattern(
      Tables(spark, sfDir).events, "user_id", "ts", "event_type", pattern)
      .select(cols: _*)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty)
  }

  test("registry drains checkpoint under the CacheFs root and delete it") {
    val roots = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // onQueryStarted runs before start() returns, while the query is
    // registered as active
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        spark.streams.get(e.id) match {
          case w: StreamingQueryWrapper =>
            roots.add(w.streamingQuery.resolvedCheckpointRoot)
          case _ =>
        }
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    // a fresh root, so the session-timer drain of q405 is not served
    // from an earlier run's cache
    val cacheRoot = tempDir("graft_ckpt_drains").toUri.toString
    spark.conf.set("spark.graft.cacheRoot", cacheRoot)
    spark.streams.addListener(listener)
    try {
      Seq("q396_stream_match_final", "q405_stream_sessions_final")
        .foreach(q => SparkEntry.queries(q)(spark, sfDir).collect())
    } finally {
      spark.streams.removeListener(listener)
      spark.conf.unset("spark.graft.cacheRoot")
    }
    val root = new Path(cacheRoot)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val qualified = fs.makeQualified(root).toString
    assert(roots.size == 2, roots)
    roots.asScala.foreach { r =>
      assert(r.startsWith(qualified), s"$r is outside $qualified")
      assert(!fs.exists(new Path(r)), s"$r was left behind")
    }
  }
}
