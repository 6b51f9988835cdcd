package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.CacheFs

/** The cluster-portable cache layer: root resolution from
  * `spark.graft.cacheRoot` (any Hadoop scheme), Hadoop-FileSystem
  * fingerprinting, and stage+rename publication with honest failure
  * reporting. This is the path-scheme abstraction the materialized
  * edge list / inverted index ride on — at local[32] the scheme is
  * `file:`, on a real cluster the SAME code paths address HDFS/S3. */
class CacheFsSpec extends AnyFunSuite {
  import TestSession._

  private def withRoot[A](rootUri: String)(f: => A): A = {
    spark.conf.set("spark.graft.cacheRoot", rootUri)
    try f finally spark.conf.unset("spark.graft.cacheRoot")
  }

  test("root honors spark.graft.cacheRoot with an explicit scheme") {
    val d = java.nio.file.Files.createTempDirectory("graft_cachefs_root")
    // scheme-qualified URI — the form an HDFS/S3 deployment passes
    withRoot(s"file://$d/sub") {
      val r = CacheFs.root(spark)
      assert(r.toUri.getScheme == "file", s"scheme lost: $r")
      assert(r.toUri.getPath == s"$d/sub")
    }
  }

  test("default root lands under the warehouse dir, not java.io.tmpdir") {
    val r = CacheFs.root(spark)
    val wh = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    assert(r.toUri.getPath.startsWith(
      wh.getFileSystem(spark.sessionState.newHadoopConf())
        .makeQualified(wh).toUri.getPath))
  }

  test("getOrBuild publishes under a scheme-qualified root and is " +
      "idempotent") {
    val d = java.nio.file.Files.createTempDirectory("graft_cachefs_gb")
    withRoot(s"file://$d") {
      var builds = 0
      def build(stage: String): Unit = {
        builds += 1
        spark.range(5).toDF("v").write.parquet(stage)
      }
      val p1 = CacheFs.getOrBuild(spark, "t1")(build)
      val p2 = CacheFs.getOrBuild(spark, "t1")(build)
      assert(p1 == p2 && builds == 1, "second call rebuilt")
      assert(spark.read.parquet(p1).count() == 5)
      assert(CacheFs.complete(spark, p1))
      // no leftover stage directories
      val fs = CacheFs.fs(spark, new Path(p1))
      val leftovers = fs.listStatus(CacheFs.root(spark))
        .map(_.getPath.getName).filter(_.contains(".stage-"))
      assert(leftovers.isEmpty, leftovers.mkString(","))
    }
  }

  test("a lost race reads the winner's copy; a real failure surfaces") {
    val d = java.nio.file.Files.createTempDirectory("graft_cachefs_race")
    withRoot(s"file://$d") {
      // seed the winner
      CacheFs.getOrBuild(spark, "raced") { stage =>
        spark.range(3).toDF("v").write.parquet(stage)
      }
      // loser: simulate by building against an already-complete
      // target — getOrBuild short-circuits without calling build
      var called = false
      CacheFs.getOrBuild(spark, "raced") { _ => called = true }
      assert(!called)
      // real failure: builder leaves no artifact, target never
      // completes -> the error surfaces instead of a misleading
      // path-not-found later
      val e = intercept[Exception] {
        CacheFs.getOrBuild(spark, "broken") { _ => () } // writes nothing
      }
      assert(e.getMessage.contains("publish") ||
        e.getMessage.contains("rename"), e.getMessage)
    }
  }

  test("fingerprint tracks content through the Hadoop FileSystem") {
    val d = java.nio.file.Files.createTempDirectory("graft_cachefs_fp")
    spark.range(10).toDF("v").write.mode("overwrite")
      .parquet(s"$d/corpus")
    val f1 = CacheFs.fingerprint(spark, s"$d/corpus")
    val f1b = CacheFs.fingerprint(spark, s"$d/corpus")
    assert(f1 == f1b, "fingerprint not deterministic")
    spark.range(20).toDF("v").write.mode("overwrite")
      .parquet(s"$d/corpus")
    val f2 = CacheFs.fingerprint(spark, s"$d/corpus")
    assert(f1 != f2, "rewrite did not change the fingerprint")
    // scheme-qualified and bare spellings agree (same files listed)
    assert(CacheFs.fingerprint(spark, s"file://$d/corpus") == f2)
    // absent dirs fingerprint deterministically (keyed by path)
    assert(CacheFs.fingerprint(spark, s"$d/nope") ==
      CacheFs.fingerprint(spark, s"$d/nope"))
  }

  test("materializedCosinePairs honors the conf root end to end") {
    val d = java.nio.file.Files.createTempDirectory("graft_cachefs_e2e")
    withRoot(s"file://$d") {
      val cached = graft.operators.DedupOps
        .materializedCosinePairs(spark, sfDir, 4, 0.3)
        .collect().map(_.toString).sorted
      val fresh = graft.operators.DedupOps.cosineCandidatePairs(
          Tables(spark, sfDir).embeddings, 4, 0.3)
        .collect().map(_.toString).sorted
      assert(cached.sameElements(fresh))
      // the artifact physically lives under the conf root, salted
      // with the algorithm version
      val fs = CacheFs.fs(spark, CacheFs.root(spark))
      val names = fs.listStatus(CacheFs.root(spark)).map(_.getPath.getName)
      assert(names.exists(_.startsWith(s"edges_${CacheFs.AlgoVersion}_")),
        names.mkString(","))
    }
  }

  test("touch writes a marker through the FileSystem API") {
    val d = java.nio.file.Files.createTempDirectory("graft_cachefs_touch")
    val dir = s"file://$d/marked"
    CacheFs.fs(spark, new Path(dir)).mkdirs(new Path(dir))
    assert(!CacheFs.complete(spark, dir))
    CacheFs.touch(spark, dir)
    assert(CacheFs.complete(spark, dir))
  }

  test("content fingerprint sees a same-size same-mtime rewrite") {
    val d = java.nio.file.Files.createTempDirectory("graft_cachefs_cnt")
    val f = d.resolve("data.bin")
    java.nio.file.Files.write(f, "aaaaaaaa".getBytes)
    val mtime = java.nio.file.Files.getLastModifiedTime(f)
    val dir = s"file://$d"
    val metaBefore = CacheFs.fingerprint(spark, dir)
    spark.conf.set("spark.graft.cacheFingerprint", "content")
    try {
      val contentBefore = CacheFs.fingerprint(spark, dir)
      // rsync-style restore: same length, mtime forced back
      java.nio.file.Files.write(f, "bbbbbbbb".getBytes)
      java.nio.file.Files.setLastModifiedTime(f, mtime)
      val contentAfter = CacheFs.fingerprint(spark, dir)
      assert(contentBefore != contentAfter,
        "content lane missed a byte rewrite")
      // the metadata lane cannot see it — the documented trade-off
      spark.conf.unset("spark.graft.cacheFingerprint")
      assert(CacheFs.fingerprint(spark, dir) == metaBefore,
        "metadata lane unexpectedly changed")
    } finally spark.conf.unset("spark.graft.cacheFingerprint")
  }

  test("materialized state goes through CacheFs, not local-file APIs") {
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"run from the project root: $root")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap { f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    val sources = Seq("sources", "streaming", "operators", "plans", "queries")
      .flatMap(p => files(new java.io.File(root, p)))
      .map { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try root.toPath.relativize(f.toPath).toString -> src.mkString
        finally src.close()
      }
    def hits(pattern: scala.util.matching.Regex): Seq[String] =
      sources.collect {
        case (name, src) if pattern.findFirstIn(src).nonEmpty => name
      }.sorted
    val localFile =
      """java\.io\.(File\b|\{[^}]*\bFile\b)|java\.nio\.file""".r
    // the one exception: Derby's home is a JVM property, not graft state
    assert(hits(localFile) == Seq("sources/ExternalLocation.scala"),
      hits(localFile).mkString(","))
    // driver-local roots: only Derby's home and the model home, which
    // sits beside the Derby catalog that records its paths
    val tmpdir = "\"java\\.io\\.tmpdir\"".r
    assert(hits(tmpdir) == Seq("sources/DurableCatalog.scala",
      "sources/ExternalLocation.scala"), hits(tmpdir).mkString(","))
  }
}
