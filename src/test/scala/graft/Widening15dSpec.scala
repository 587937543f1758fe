package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.KvSource
import graft.operators.SourceQueries

/** Round-15 batch-9: the admin/audit verbs — DESCRIBE HISTORY over
  * `#op:` commit info (with the structural fallback), DESCRIBE
  * DETAIL, and VACUUM DRY RUN.
  */
class Widening15dSpec extends AnyFunSuite {
  import SparkTestSession._

  private def append(dir: String, lo: Long, hi: Long): Unit =
    spark.range(lo, hi).selectExpr("id AS key", "'x' AS val").repartition(1)
      .write.format(classOf[KvSource].getName)
      .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()

  test("describeHistory names every verb; legacy versions classify structurally") {
    val dir = java.nio.file.Files.createTempDirectory("graft-kv-hist").toString
    append(dir, 0, 100)                                     // v1 WRITE
    KvSource.deleteWhere(spark, dir, "key < 10")            // v2 DELETE
    KvSource.mergeUpsert(spark, dir,
      spark.range(50, 60).selectExpr("id AS key", "'m' AS val")) // v3 MERGE
    KvSource.optimizeCompact(spark, dir)                    // v4 OPTIMIZE
    KvSource.restore(dir, 3L)                               // v5 RESTORE
    KvSource.upgradeProtocol(dir, 2, 2)                     // v6 UPGRADE
    val ops = KvSource.describeHistory(dir).map(h => h._1 -> h._2).toMap
    assert(ops == Map(1L -> "WRITE", 2L -> "DELETE", 3L -> "MERGE",
      4L -> "OPTIMIZE", 5L -> "RESTORE", 6L -> "UPGRADE PROTOCOL"), ops.toString)
    // streaming epochs self-describe too
    val sinkDir = java.nio.file.Files.createTempDirectory("graft-kv-hist-sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-kv-hist-ckpt").toString
    val q = spark.readStream.format(classOf[KvSource].getName)
      .option("path", dir).load()
      .writeStream.format(classOf[KvSource].getName)
      .option("path", sinkDir).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(KvSource.describeHistory(sinkDir).map(_._2).distinct ==
      Seq("STREAMING UPDATE"))
    // a CLONE's v1 carries its op; a legacy header-less version infers
    val cl = java.nio.file.Files.createTempDirectory("graft-kv-hist-cl").toString
    SourceQueries.deleteRecursively(new java.io.File(cl))
    KvSource.cloneShallow(sinkDir, cl)
    assert(KvSource.describeHistory(cl).head._2 == "CLONE")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-legacy.dat"), "1,x\n".getBytes("UTF-8"))
    assert(KvSource.publishCas(dir, 7L, "part-legacy.dat"))
    assert(KvSource.describeHistory(dir).last._2 == "WRITE")
    // checkpoint flag: grow to v10 and check the marker rides along
    (0 until 3).foreach(i => append(dir, 200L + i * 10, 210L + i * 10)) // v8..v10
    val h10 = KvSource.describeHistory(dir).find(_._1 == 10L).get
    assert(h10._6 == 1L && h10._2 == "WRITE")
    Seq(dir, sinkDir, ckpt, cl).foreach(d =>
      SourceQueries.deleteRecursively(new java.io.File(d)))
  }

  test("describeDetail reports the snapshot's structural facts") {
    val dir = java.nio.file.Files.createTempDirectory("graft-kv-detail").toString
    append(dir, 0, 50); append(dir, 50, 100)
    KvSource.deleteWhere(spark, dir, "key < 5")
    KvSource.upgradeProtocol(dir, 2, 2)
    val d = KvSource.describeDetail(dir).toMap
    assert(d("num_files") == 2L && d("num_dv_files") == 1L &&
      d("num_files_with_stats") == 2L &&
      d("min_reader_version") == 2L && d("min_writer_version") == 2L &&
      d("latest_version") == 4L && d("fold_base") == 1L &&
      d("num_manifests") == 4L, d.toString)
    SourceQueries.deleteRecursively(new java.io.File(dir))
  }

  test("vacuum dry run reclaims nothing and predicts the real vacuum exactly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-kv-vacdry").toString
    (0 until 12).foreach(i => append(dir, i * 10L, i * 10L + 10L))
    val stray = new java.io.File(dir, "part-orphan.dat")
    java.nio.file.Files.write(stray.toPath, "1,x\n".getBytes("UTF-8"))
    stray.setLastModified(System.currentTimeMillis() - 3600L * 1000)
    val manifestsBefore = KvSource.logDir(dir).list().sorted.toSeq
    val dry = KvSource.vacuum(dir, retainLast = 3, dryRun = true)
    assert(dry == ((9L, 1L, 10L)), dry.toString)
    assert(KvSource.logDir(dir).list().sorted.toSeq == manifestsBefore,
      "dry run must not touch the manifest chain")
    assert(stray.exists(), "dry run must not delete strays")
    val real = KvSource.vacuum(dir, retainLast = 3)
    assert(real == dry, s"real $real must equal dry-run $dry")
    assert(!stray.exists())
    assert(KvSource.versions(dir) == (10L to 12L))
    SourceQueries.deleteRecursively(new java.io.File(dir))
  }
}
