package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.KvSource
import graft.operators.SourceQueries

/** Round-15 batch-8: protocol versioning (reader/writer gates, the
  * Delta minReaderVersion/minWriterVersion contract), the CDF read
  * mode (batch `readChangeFeed` + the streaming CDF source).
  */
class Widening15cSpec extends AnyFunSuite {
  import SparkTestSession._

  private def readAll(dir: String) =
    spark.read.format(classOf[KvSource].getName).option("path", dir).load()

  private def append(dir: String, lo: Long, hi: Long): Unit =
    spark.range(lo, hi).selectExpr("id AS key", "'x' AS val").repartition(1)
      .write.format(classOf[KvSource].getName)
      .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()

  test("protocol: default 1:1, upgrade gates, future versions refuse, checkpoint re-lists") {
    val dir = java.nio.file.Files.createTempDirectory("graft-kv-proto").toString
    append(dir, 0, 10)
    assert(KvSource.protocolAt(dir) == ((1, 1)))
    // upgrade within support: reads and writes keep working
    assert(KvSource.upgradeProtocol(dir, 2, 2) == 2L)
    assert(KvSource.protocolAt(dir) == ((2, 2)))
    append(dir, 10, 20)
    assert(readAll(dir).count() == 20L)
    // downgrade and beyond-support upgrades refuse (engine support is
    // 5:5 since r17 batch 5 — column DROP)
    intercept[IllegalArgumentException](KvSource.upgradeProtocol(dir, 1, 1))
    intercept[IllegalArgumentException](KvSource.upgradeProtocol(dir, 6, 6))
    // the checkpoint re-lists the protocol: grow past v10, vacuum away
    // the pre-checkpoint manifests, the fold still sees 2:2
    (0 until 9).foreach(i => append(dir, 100L + i * 10, 110L + i * 10)) // ..v12
    KvSource.vacuum(dir, retainLast = 2)
    assert(KvSource.protocolAt(dir) == ((2, 2)),
      "protocol must survive manifest retention via the checkpoint re-list")
    assert(KvSource.committedState(dir).protocol == ((2, 2)))
    // a FUTURE reader protocol refuses reads AND writes, clearly
    val v = KvSource.latestVersion(dir).get
    assert(KvSource.publishCas(dir, v + 1, "#protocol:9:9"))
    val er = intercept[IllegalStateException](readAll(dir).count())
    assert(er.getMessage.contains("requires protocol"), er.getMessage)
    val ew = intercept[IllegalStateException](append(dir, 0, 1))
    assert(ew.getMessage.contains("requires protocol"), ew.getMessage)
    // the gate is PER-SNAPSHOT: time travel below the future version
    // still reads under the old protocol
    assert(spark.read.format(classOf[KvSource].getName).option("path", dir)
      .option("versionAsOf", v.toString).load().count() == 110L)
    SourceQueries.deleteRecursively(new java.io.File(dir))
    // reader-compatible but WRITER-future: readable, not writable
    val d2 = java.nio.file.Files.createTempDirectory("graft-kv-proto2").toString
    append(d2, 0, 10)
    assert(KvSource.publishCas(d2, 2L, "#protocol:2:9"))
    assert(readAll(d2).count() == 10L, "reader=2 must stay readable")
    val e2 = intercept[IllegalStateException](append(d2, 10, 20))
    assert(e2.getMessage.contains("writer=9"), e2.getMessage)
    SourceQueries.deleteRecursively(new java.io.File(d2))
  }

  test("batch readChangeFeed equals changeFeed; startingVersion is required") {
    val dir = java.nio.file.Files.createTempDirectory("graft-kv-cdfbatch").toString
    append(dir, 0, 50)                                  // v1
    KvSource.deleteWhere(spark, dir, "key % 10 = 0")    // v2
    KvSource.mergeUpsert(spark, dir,
      spark.range(40, 60).selectExpr("id AS key", "'m' AS val")) // v3
    val direct = spark.read.format(classOf[KvSource].getName)
      .option("path", dir).option("readChangeFeed", "true")
      .option("startingVersion", "1").load()
    assert(direct.columns.toSeq ==
      Seq("key", "val", "change_type", "commit_version"))
    val a = direct.groupBy("commit_version", "change_type").count()
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val b = KvSource.changeFeed(spark, dir, 0L, 3L)
      .groupBy("commit_version", "change_type").count()
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(a == b && a.nonEmpty, s"direct=$a wrapper=$b")
    // delete rows are materialized in the READER (include set), values intact
    val dels = direct.filter(col("change_type") === "delete" &&
      col("commit_version") === 2L).collect()
    assert(dels.length == 5 && dels.forall(_.getString(1) == "x"))
    val e = intercept[Exception] {
      spark.read.format(classOf[KvSource].getName)
        .option("path", dir).option("readChangeFeed", "true").load().count()
    }
    assert(e.getMessage != null && e.getMessage.contains("startingVersion"),
      e.getMessage)
    SourceQueries.deleteRecursively(new java.io.File(dir))
  }

  test("streaming CDF source: typed deltas per version, resume delivers only new changes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-kv-cdfstr").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-kv-cdfstr-ckpt").toString
    val sinkDir = java.nio.file.Files.createTempDirectory("graft-kv-cdfstr-sink").toString
    append(dir, 0, 30)                                 // v1
    KvSource.deleteWhere(spark, dir, "key < 5")        // v2
    // sink = a second kv table (recoverable, unlike the memory sink);
    // type and version ride the val column
    def run(): Unit = {
      val q = spark.readStream.format(classOf[KvSource].getName)
        .option("path", dir).option("readChangeFeed", "true").load()
        .selectExpr("key", "concat(change_type, ':', commit_version) AS val")
        .writeStream.format(classOf[KvSource].getName)
        .option("path", sinkDir).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    run()
    def delivered: Set[(String, Long)] =
      readAll(sinkDir).groupBy("val").count()
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val got1 = delivered
    assert(got1 == Set(("insert:1", 30L), ("delete:2", 5L)), got1.toString)
    // resume: ONLY the new merge version arrives (offset checkpointed)
    KvSource.mergeUpsert(spark, dir,
      spark.range(10, 15).selectExpr("id AS key", "'m' AS val")) // v3
    run()
    val got2 = delivered
    assert(got2 == got1 ++ Set(("delete:3", 5L), ("insert:3", 5L)),
      got2.toString)
    Seq(ckpt, dir, sinkDir).foreach(d =>
      SourceQueries.deleteRecursively(new java.io.File(d)))
  }
}
