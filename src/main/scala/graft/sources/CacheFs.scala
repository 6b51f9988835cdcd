package graft.sources

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Cluster-portable filesystem layer for graft's materialized state.
  *
  * Every graft-materialized artifact — build-once caches (the
  * near-dup edge list, external-format stages), inverted indexes,
  * versioned tables, streaming layouts and the persisted model home —
  * routes its path resolution, listing, publication and deletion
  * through here, all on the Hadoop `FileSystem` API, so the SAME code
  * works when the state lives on HDFS/S3/ABFS instead of the driver's
  * local disk, and a scheme-qualified root (`file:///...`) means what
  * it says instead of a relative path under the JVM's working
  * directory. (The reference keeps comparable durable state in
  * per-location schema stores: modules/core/src/main/scala/dbms/
  * rdbms/location/RdbmsLocation.scala; our equivalent must be
  * scheme-agnostic because Spark's storage is.)
  *
  * Root resolution: `spark.graft.cacheRoot` conf if set (any Hadoop
  * scheme), else `<spark.sql.warehouse.dir>/graft_cache` — the
  * warehouse dir is the one location every Spark deployment already
  * agrees is shared, durable, and writable, which is exactly the
  * contract a cross-query cache needs. A `java.io.tmpdir` root (the
  * old scheme) is driver-local: executors writing `file:/tmp/...`
  * paths scatter task outputs across node-local disks on a real
  * cluster, silently breaking publication.
  *
  * Publication is stage + rename with a lost-race fallback: writers
  * build under `<tag>.stage-<uuid>`, rename to `<tag>`, and a loser
  * (rename refused because the winner's target exists) deletes its
  * stage and reads the published copy. `_SUCCESS` (written last by
  * every Spark committer) is the completeness marker; if the rename
  * fails AND no complete target exists, the original failure is a
  * real error and surfaces — it is never misreported as a lost race
  * (a genuine permission/filesystem fault previously died later with
  * a misleading path-not-found).
  */
object CacheFs {

  /** Version salt mixed into every cache tag. Bump when any
    * pair-generation / index-layout algorithm changes so caches
    * persisted by an older build are never served for the new
    * semantics — the corpus fingerprint alone cannot see code
    * changes. */
  val AlgoVersion = "a2"

  private def hadoopConf(spark: SparkSession): Configuration =
    spark.sessionState.newHadoopConf()

  /** The cache root as a qualified Hadoop path. */
  def root(spark: SparkSession): Path = {
    val raw = spark.conf.getOption("spark.graft.cacheRoot").getOrElse(
      spark.conf.get("spark.sql.warehouse.dir") + "/graft_cache")
    val p = new Path(raw)
    p.getFileSystem(hadoopConf(spark)).makeQualified(p)
  }

  def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(hadoopConf(spark))

  /** True iff a COMPLETE artifact (its committer `_SUCCESS`, or the
    * named marker) exists under `dir`. */
  def complete(spark: SparkSession, dir: String,
      name: String = "_SUCCESS"): Boolean = {
    val p = new Path(dir, name)
    fs(spark, p).exists(p)
  }

  /** Create an empty `_SUCCESS`-style marker under `dir` through the
    * Hadoop FileSystem (a local-file create can't address a
    * scheme-qualified path). */
  def touch(spark: SparkSession, dir: String,
      name: String = "_SUCCESS"): Unit = {
    val p = new Path(dir, name)
    fs(spark, p).create(p, true).close()
  }

  /** Recursively delete `dir` (a no-op when absent). */
  def delete(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    fs(spark, p).delete(p, true)
    ()
  }

  /** Idempotent commit of one at-least-once batch into the append-only
    * layout under `dir` (streaming foreachBatch replays a batch after
    * a crash). `write` fills a stage dir `_stage_<tag>`; every part
    * file in it then moves to the mirrored directory under `dir` as
    * `b<tag>_p<i>.parquet` (i in part-name order per directory), and
    * the `marker` file is written last. A replay of a committed batch
    * is a no-op; a replay of a torn one first clears every
    * `b<tag>_p*` file the torn attempt moved, then re-moves the full
    * deterministic set — so the layout never holds a batch twice.
    * The stage and the marker start with '_', so layout readers skip
    * them. */
  def commitBatch(spark: SparkSession, dir: String, tag: String,
      marker: String)(write: String => Unit): Unit = {
    val root = new Path(dir)
    val filesystem = fs(spark, root)
    filesystem.mkdirs(root)
    if (filesystem.exists(new Path(root, marker))) return
    val stage = new Path(root, s"_stage_$tag")
    write(stage.toString)
    val torn = scala.collection.mutable.ArrayBuffer.empty[Path]
    val it = filesystem.listFiles(root, true)
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName.startsWith(s"b${tag}_p")) torn += p
    }
    torn.foreach(filesystem.delete(_, false))
    def hidden(p: Path) =
      p.getName.startsWith("_") || p.getName.startsWith(".")
    def moveTree(from: Path, to: Path): Unit = {
      filesystem.mkdirs(to)
      val (dirs, files) = filesystem.listStatus(from)
        .filterNot(st => hidden(st.getPath)).partition(_.isDirectory)
      files.map(_.getPath).filter(_.getName.endsWith(".parquet"))
        .sortBy(_.getName).zipWithIndex.foreach { case (p, i) =>
          val dst = new Path(to, s"b${tag}_p$i.parquet")
          if (!filesystem.rename(p, dst))
            throw new java.io.IOException(s"could not move $p to $dst")
        }
      dirs.foreach(d =>
        moveTree(d.getPath, new Path(to, d.getPath.getName)))
    }
    moveTree(stage, root)
    filesystem.delete(stage, true)
    touch(spark, dir, marker)
  }

  /** Content fingerprint of a corpus directory: SHA-1 over the sorted
    * (relative path, length, mtime) triples of every file under it,
    * listed through the Hadoop `FileSystem` so it sees HDFS/S3
    * corpora the driver's local `Files.walk` cannot. Cache keys
    * derived from this invalidate automatically when the corpus is
    * regenerated in place.
    *
    * Known trade-off: (length, mtime) is metadata, not bytes — an
    * in-place rewrite that preserves both (an rsync-style restore of
    * a same-size corpus) would serve stale caches. For corpora where
    * that is plausible, set `spark.graft.cacheFingerprint=content`:
    * the fingerprint then hashes the FIRST 64 KiB + LAST 64 KiB of
    * every file's bytes alongside (path, length) — full-content
    * hashing of a 100 TB corpus per cache probe would cost more than
    * the caches save, and parquet's footer (schema + column stats +
    * row-group offsets, inside the tail block) plus the head block
    * change under any real rewrite. */
  def fingerprint(spark: SparkSession, dir: String): String = {
    val byContent = spark.conf
      .getOption("spark.graft.cacheFingerprint").contains("content")
    val p = new Path(dir)
    val filesystem = fs(spark, p)
    val md = java.security.MessageDigest.getInstance("SHA-1")
    val entries: Seq[String] =
      if (!filesystem.exists(p)) Seq(s"absent:$dir")
      else {
        val base = filesystem.makeQualified(p).toUri
        val it = filesystem.listFiles(p, true)
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) {
          val st = it.next()
          if (st.isFile) {
            val rel = base.relativize(st.getPath.toUri).getPath
            buf +=
              (if (byContent)
                s"$rel|${st.getLen}|${edgeHash(filesystem, st.getPath,
                  st.getLen)}"
              else s"$rel|${st.getLen}|${st.getModificationTime}")
          }
        }
        buf.toSeq.sorted
      }
    entries.foreach(e => md.update(e.getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** SHA-1 of a file's first and last 64 KiB (whole file when
    * smaller) — the content lane's per-file digest. */
  private def edgeHash(filesystem: FileSystem, p: Path,
      len: Long): String = {
    val block = 65536
    val md = java.security.MessageDigest.getInstance("SHA-1")
    val in = filesystem.open(p)
    try {
      val head = new Array[Byte](math.min(block.toLong, len).toInt)
      in.readFully(0L, head)
      md.update(head)
      if (len > block) {
        val tailLen = math.min(block.toLong, len - block).toInt
        val tail = new Array[Byte](tailLen)
        in.readFully(len - tailLen, tail)
        md.update(tail)
      }
    } finally in.close()
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** Resolve (building if absent) the cache entry `tag` under the
    * root. `build` receives a stage path and must leave a complete
    * Spark-committed artifact (with `_SUCCESS`) there; publication is
    * rename-with-lost-race-fallback as documented above. Returns the
    * published path. */
  def getOrBuild(spark: SparkSession, tag: String)(
      build: String => Unit): String = {
    val r = root(spark)
    val filesystem = fs(spark, r)
    val target = new Path(r, tag)
    val marker = new Path(target, "_SUCCESS")
    if (!filesystem.exists(marker)) {
      filesystem.mkdirs(r)
      val stage = new Path(r, s"$tag.stage-${UUID.randomUUID}")
      build(stage.toString)
      val won =
        if (filesystem.exists(target)) false // lost the race outright
        else
          try filesystem.rename(stage, target)
          catch { case _: java.io.IOException => false }
      if (!won) {
        filesystem.delete(stage, true)
        if (!filesystem.exists(marker))
          throw new IllegalStateException(
            s"CacheFs: publish of $target failed and no concurrent " +
              "builder completed it — check filesystem permissions " +
              s"and that ${r} is writable")
      }
    }
    target.toString
  }
}
