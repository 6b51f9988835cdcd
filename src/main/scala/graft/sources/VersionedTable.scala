package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Minimal versioned-table layer: immutable parquet snapshots
  * `v0, v1, ...` under one root, giving copy-on-write DML (q129) a
  * history — time-travel reads, version log, and version diff. This
  * is the table-format commit discipline (Delta/Iceberg-style
  * snapshot isolation, reduced to its Spark-native core: every commit
  * is an append-only directory, readers pin a version, nothing is
  * ever rewritten in place). The reference has no versioning surface;
  * at 100 TB it is what makes concurrent readers + curation rewrites
  * safe, so graft treats it as first-class.
  *
  * Layout: `<root>/v<N>/` parquet per version; a version exists iff
  * its `_SUCCESS` marker does (Spark's own atomic-ish commit marker),
  * so a killed writer never exposes a half-written snapshot. The root
  * is any Hadoop path (bare, `file:` or a cluster scheme); every
  * listing, rename and delete goes through [[CacheFs.fs]].
  */
object VersionedTable {

  private def vdir(root: String, v: Int): Path = new Path(root, s"v$v")

  /** All committed versions in order (gaps allowed after VACUUM). */
  def versions(spark: SparkSession, root: String): Seq[Int] = {
    val d = new Path(root)
    val filesystem = CacheFs.fs(spark, d)
    if (!filesystem.exists(d)) Nil
    else filesystem.listStatus(d).map(_.getPath.getName)
      .collect {
        case n if n.matches("v\\d+") &&
          filesystem.exists(new Path(new Path(d, n), "_SUCCESS")) =>
          n.drop(1).toInt
      }.sorted.toSeq
  }

  /** Highest committed version, or -1 if none. */
  def latestVersion(spark: SparkSession, root: String): Int =
    versions(spark, root).lastOption.getOrElse(-1)

  /** Commit `df` as the next version; returns its version number.
    * Writers racing on the same root serialize on the JVM lock (the
    * cluster story is the usual table-format conditional commit). */
  def commit(root: String, df: DataFrame): Int = synchronized {
    val v = latestVersion(df.sparkSession, root) + 1
    df.write.mode("overwrite").parquet(vdir(root, v).toString)
    v
  }

  /** Idempotent commit for at-least-once writers (streaming
    * foreachBatch): if a committed version already carries `tag`,
    * return it instead of committing again. The snapshot is staged
    * (with the tag file INSIDE) and renamed into place, so version
    * visibility and the tag are one atomic event — there is no crash
    * window where the data committed but the tag did not. */
  def commitTagged(root: String, df: DataFrame, tag: String): Int =
    synchronized {
      val spark = df.sparkSession
      taggedVersion(spark, root, tag).getOrElse {
        val filesystem = CacheFs.fs(spark, new Path(root))
        val v = latestVersion(spark, root) + 1
        val stage = new Path(root, s"_staging_v$v")
        df.write.mode("overwrite").parquet(stage.toString)
        val out = filesystem.create(new Path(stage, "_tag"), true)
        try out.write(tag.getBytes(UTF_8)) finally out.close()
        // an uncommitted v<N> (a killed `commit`) is garbage: clear it
        // so the rename places the stage AT v<N>, not inside it
        filesystem.delete(vdir(root, v), true)
        if (!filesystem.rename(stage, vdir(root, v)))
          throw new java.io.IOException(
            s"could not move $stage to ${vdir(root, v)}")
        v
      }
    }

  /** The committed version carrying `tag`, if any. */
  def taggedVersion(spark: SparkSession, root: String,
      tag: String): Option[Int] = {
    val filesystem = CacheFs.fs(spark, new Path(root))
    versions(spark, root).find { v =>
      val f = new Path(vdir(root, v), "_tag")
      filesystem.exists(f) && {
        val in = filesystem.open(f)
        try new String(in.readAllBytes(), UTF_8) == tag finally in.close()
      }
    }
  }

  /** Time-travel read of a pinned version. */
  def read(spark: SparkSession, root: String, version: Int): DataFrame = {
    require(CacheFs.complete(spark, vdir(root, version).toString),
      s"version $version does not exist under $root")
    spark.read.parquet(vdir(root, version).toString)
  }

  /** Version log: (version, n_rows) for every committed snapshot
    * still present (vacuumed versions drop out of the log); empty,
    * with the same schema, when nothing is committed yet. */
  def history(spark: SparkSession, root: String): DataFrame =
    versions(spark, root).map { v =>
      read(spark, root, v)
        .agg(lit(v).as("version"), count(lit(1)).as("n_rows"))
    }.reduceOption(_ unionByName _).getOrElse(
      spark.range(0).select(lit(0).as("version"), lit(0L).as("n_rows")))

  /** Delete every version older than the newest `keep` (the Delta
    * VACUUM discipline: time travel keeps a bounded horizon, storage
    * is reclaimed; the version counter keeps advancing — vacuumed
    * numbers are never reused). Returns the deleted versions. */
  def vacuum(spark: SparkSession, root: String, keep: Int): Seq[Int] =
    synchronized {
      require(keep >= 1, s"keep $keep must be >= 1")
      val victims = versions(spark, root).dropRight(keep)
      victims.foreach(v => CacheFs.delete(spark, vdir(root, v).toString))
      victims
    }

  /** Row-level diff between two versions on a key column: one full
    * outer join -> added / removed / changed / unchanged status per
    * key (changed = any non-key column differs, compared through a
    * canonical string form). */
  def diff(spark: SparkSession, root: String, keyCol: String,
      fromV: Int, toV: Int): DataFrame = {
    val a = read(spark, root, fromV)
    val b = read(spark, root, toV)
    val cols = a.columns.filter(_ != keyCol).sorted
    def fp(df: DataFrame) = df.select(col(keyCol).as("k"),
      concat_ws("", cols.map(c => col(c).cast("string")): _*)
        .as("fp"))
    fp(a).withColumnRenamed("fp", "fp_a")
      .join(fp(b).withColumnRenamed("fp", "fp_b"), Seq("k"), "full_outer")
      .select(col("k"),
        when(col("fp_a").isNull, "added")
          .when(col("fp_b").isNull, "removed")
          .when(col("fp_a") =!= col("fp_b"), "changed")
          .otherwise("unchanged").as("status"))
  }
}
