package graft

import org.apache.spark.sql.DataFrame
import graft.operators.SourceQueries
import graft.sources.KvSource

/** Scratch-table fixtures the commit-log specs share: a temp table
  * directory, one-file appends, a data file staged outside any
  * manifest, and the latest-snapshot read. */
object KvFixture {
  import SparkTestSession.spark

  /** A fresh temp directory whose name starts `graft-<tag>`. */
  def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$tag").toString

  /** Delete a directory tree. */
  def rm(dir: String): Unit = SourceQueries.deleteRecursively(new java.io.File(dir))

  /** The latest snapshot of the table at `dir`. */
  def readAll(dir: String): DataFrame = KvSource.read(spark, dir)

  /** Append `df` to the table at `dir` as one file in one version. */
  def save(df: DataFrame, dir: String): Unit = KvSource.append(df.repartition(1), dir)

  /** Append keys [lo, hi) with val 'x' as one file in one version. */
  def append(dir: String, lo: Long, hi: Long): Unit =
    save(spark.range(lo, hi).selectExpr("id AS key", "'x' AS val"), dir)

  /** Write the one-row data file `name` ("key,x") into `dir` without
    * committing it to any version. */
  def stage(dir: String, name: String, key: Long): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, name),
      s"$key,x\n".getBytes("UTF-8"))
}
