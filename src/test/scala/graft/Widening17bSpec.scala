package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.KvSource

/** Round-17 batch-5: ALTER TABLE DROP COLUMN — the last verb of the
  * schema-evolution safe set (ADD + RENAME + DROP, the Delta
  * column-mapping surface). Drop is metadata-only: `#coldrop:<pos>`
  * hides the position, data files keep their positional bytes, the
  * read/write exposure layer skips the slot, and the table protocol
  * gates to 5:5 (a version-4 engine would keep exposing the column
  * and write misaligned extras — it must refuse). These tests cover
  * what the `load_drop_column` gate op can't: refusal edges, the
  * vacuumed-fold re-list, zone-prune position remapping, rename/drop
  * interplay, rewrites over dropped slots, and the streaming source
  * at a post-drop schema. */
class Widening17bSpec extends AnyFunSuite {
  import SparkTestSession._
  import KvFixture._

  /** v1 narrow [0,50); v2 +a; v3 wide [50,100) a="a<k%3>"; v4 +b;
    * v5 wide [100,150) with a and b="b<k%3>". */
  private def twoCol(tag: String): String = {
    val dir = tmp(s"drop-$tag")
    save(spark.range(0, 50).selectExpr("id AS key", "concat('n', id) AS val"), dir)
    assert(KvSource.alterAddColumn(dir, "a") == 2L)
    save(spark.range(50, 100).selectExpr("id AS key", "concat('w', id) AS val",
      "concat('a', id % 3) AS a"), dir)
    assert(KvSource.alterAddColumn(dir, "b") == 4L)
    save(spark.range(100, 150).selectExpr("id AS key", "concat('x', id) AS val",
      "concat('a', id % 3) AS a", "concat('b', id % 3) AS b"), dir)
    dir
  }

  test("drop refuses structural columns, unknown names, and double drops") {
    val dir = twoCol("refuse")
    intercept[IllegalArgumentException](KvSource.dropColumn(dir, "key"))
    intercept[IllegalArgumentException](KvSource.dropColumn(dir, "val"))
    intercept[IllegalArgumentException](KvSource.dropColumn(dir, "nope"))
    assert(KvSource.dropColumn(dir, "a") == 6L)
    // already dropped: the name no longer resolves
    intercept[IllegalArgumentException](KvSource.dropColumn(dir, "a"))
    assert(readAll(dir).schema.fieldNames.toSeq == Seq("key", "val", "b"))
    assert(KvSource.protocolAt(dir) == ((5, 5)))
    rm(dir)
  }

  test("dropped column values are hidden but the live column keeps its data") {
    val dir = twoCol("hide")
    KvSource.dropColumn(dir, "a")
    val rows = readAll(dir)
    assert(rows.count() == 150L)
    // b survives at its values — the exposure map skips the dropped
    // MIDDLE position, it does not shift data
    assert(rows.filter(col("b") === "b1").count() ===
      (100L until 150L).count(_ % 3 == 1).toLong)
    assert(rows.filter(col("b").isNull).count() == 100L)
    // time travel below the drop reads a back
    val atV5 = KvSource.read(spark, dir, Some(5L))
    assert(atV5.schema.fieldNames.toSeq == Seq("key", "val", "a", "b"))
    assert(atV5.filter(col("a") === "a0").count() ===
      (50L until 150L).count(_ % 3 == 0).toLong)
    rm(dir)
  }

  test("drop survives the checkpoint re-list and a vacuumed fold") {
    val dir = twoCol("vac")
    KvSource.dropColumn(dir, "a") // v6
    // push the chain past v20 so vacuum can move the fold base beyond
    // the drop version entirely
    (0 until 16).foreach { i =>
      save(spark.range(1000 + i * 10L, 1010 + i * 10L)
        .selectExpr("id AS key", "'t' AS val", "concat('b', id % 3) AS b"), dir)
    } // v7..v22
    val (droppedManifests, _, oldest) = KvSource.vacuum(dir, retainLast = 3)
    assert(droppedManifests > 0L && oldest > 6L)
    // the fold now starts at a checkpoint ABOVE the drop commit: the
    // re-listed #coldrop: is the only thing keeping the column hidden
    val rows = readAll(dir)
    assert(rows.schema.fieldNames.toSeq == Seq("key", "val", "b"))
    assert(rows.count() == 310L)
    assert(rows.filter(col("b").isNull).count() == 100L)
    rm(dir)
  }

  test("zone pruning on a live column remaps past the dropped position") {
    val dir = twoCol("prune")
    KvSource.dropColumn(dir, "a") // v6
    // three post-drop single-value files for b: clean zones at
    // physical position 3 while b's EXPOSED index is 2
    Seq("bx", "by", "bz").zipWithIndex.foreach { case (v, i) =>
      save(spark.range(200 + i * 10L, 210 + i * 10L)
        .selectExpr("id AS key", "'p' AS val", s"'$v' AS b"), dir)
    } // v7..v9
    val probe = readAll(dir).where(col("b") === "by")
    // planned: the 'by' file plus every file with no b-zone (narrow v1,
    // v3 — predates b, v5 — multi-value zone b0..b2 admits nothing?
    // no: v5's zone [b0,b2] CONTAINS 'by'? 'by' > 'b2' in byte order,
    // so v5 prunes too) => v1, v3 (no zone for b: v3 predates b) and
    // the by file. v5 HAS a b zone [b0,b2] which misses 'by'.
    assert(probe.rdd.getNumPartitions == 3,
      "expected narrow v1 + pre-b v3 (zone-less, never pruned) + the by file")
    assert(probe.count() == 10L)
    assert(probe.agg(sum("key")).head().getLong(0) == (210L until 220L).sum)
    rm(dir)
  }

  test("rename after drop and drop after rename") {
    val dir = twoCol("renames")
    KvSource.dropColumn(dir, "a")             // v6
    KvSource.renameColumn(dir, "b", "tag")    // v7
    assert(readAll(dir).schema.fieldNames.toSeq == Seq("key", "val", "tag"))
    // the dropped name is NOT addressable for rename
    intercept[IllegalArgumentException](KvSource.renameColumn(dir, "a", "z"))
    KvSource.dropColumn(dir, "tag")           // v8
    assert(readAll(dir).schema.fieldNames.toSeq == Seq("key", "val"))
    // re-ADD of a historical physical name mints a fresh position
    KvSource.alterAddColumn(dir, "a")         // v9
    save(spark.range(300, 303).selectExpr("id AS key", "'r' AS val", "'A2' AS a"), dir)
    val rows = readAll(dir)
    assert(rows.schema.fieldNames.toSeq == Seq("key", "val", "a"))
    assert(rows.filter(col("a") === "A2").count() == 3L)
    // old a values are NOT resurrected — new position, fresh data
    assert(rows.filter(col("a").isNotNull).count() == 3L)
    rm(dir)
  }

  test("OPTIMIZE binpack rewrites a dropped table without resurrecting the column") {
    val dir = twoCol("binpack")
    KvSource.dropColumn(dir, "a") // v6
    val (nFiles, v) = KvSource.optimizeBinPack(spark, dir, nFiles = 2)
    assert(v == 7L && nFiles >= 1L)
    val rows = readAll(dir)
    assert(rows.schema.fieldNames.toSeq == Seq("key", "val", "b"))
    assert(rows.count() == 150L)
    assert(rows.filter(col("b").isNull).count() == 100L)
    assert(rows.filter(col("b") === "b2").count() ===
      (100L until 150L).count(_ % 3 == 2).toLong)
    // time travel below the rewrite still reads the dropped column
    val atV5 = KvSource.read(spark, dir, Some(5L))
    assert(atV5.filter(col("a").isNotNull).count() == 100L)
    rm(dir)
  }

  test("batch CDF pinned entirely below a later drop still reads the LATEST schema") {
    // the Delta CDF rule: change rows render under the latest table
    // schema. A range that ends BEFORE the drop must still hide the
    // dropped position and keep live columns at their values — the
    // exposure map is the latest one, not the range-end one.
    val dir = twoCol("cdfdrop")
    KvSource.dropColumn(dir, "a") // v6
    val feed = KvSource.changeFeed(spark, dir, 0L, 5L) // range below the drop
    assert(feed.schema.fieldNames.toSeq ==
      Seq("key", "val", "b", "change_type", "commit_version"))
    val rows = feed.filter(col("change_type") === "insert")
    assert(rows.count() == 150L)
    // v5's wide rows carry b at its true values — a stale (range-end)
    // exposure map would misread physical position 2 (dropped a) as b
    assert(rows.filter(col("b") === "b0").count() ===
      (100L until 150L).count(_ % 3 == 0).toLong)
    assert(rows.filter(col("b").isNull).count() == 100L)
    rm(dir)
  }

  test("streaming source delivers the post-drop schema") {
    val dir = twoCol("stream")
    KvSource.dropColumn(dir, "a") // v6
    save(spark.range(500, 510).selectExpr("id AS key", "'s' AS val",
      "concat('b', id % 3) AS b"), dir) // v7
    val ckpt = tmp("drop-stream-ckpt")
    // stream the dropped table into a memory sink: snapshot and tail
    // partitions both plan through the exposure map
    val q = spark.readStream.format(classOf[KvSource].getName)
      .option("path", dir).load()
      .writeStream.format("memory").queryName("drop_stream_t")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("drop_stream_t")
    assert(got.schema.fieldNames.toSeq == Seq("key", "val", "b"))
    assert(got.count() == 160L)
    assert(got.filter(col("b") === "b0").count() ===
      ((100L until 150L) ++ (500L until 510L)).count(_ % 3 == 0).toLong)
    assert(got.filter(col("b").isNull).count() == 100L)
    rm(dir); rm(ckpt)
  }

  test("streaming write into a dropped SINK table renders the hidden slot") {
    val src = twoCol("sinksrc")
    KvSource.dropColumn(src, "a") // source: (key, val, b)
    // the sink went through its own evolution: +a, +b, drop a — its
    // live schema matches the source's but its PHYSICAL width is 4,
    // so every streamed epoch must render `\N` at the hidden slot
    val sink = tmp("drop-sink")
    save(spark.range(0, 5).selectExpr("id AS key", "'seed' AS val"), sink)
    KvSource.alterAddColumn(sink, "a")
    KvSource.alterAddColumn(sink, "b")
    KvSource.dropColumn(sink, "a")
    val ckpt = tmp("drop-sink-ckpt")
    val q = spark.readStream.format(classOf[KvSource].getName)
      .option("path", src).load()
      .writeStream.format(classOf[KvSource].getName)
      .option("path", sink).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = readAll(sink)
    assert(got.schema.fieldNames.toSeq == Seq("key", "val", "b"))
    assert(got.count() == 155L)
    assert(got.filter(col("b") === "b1").count() ===
      (100L until 150L).count(_ % 3 == 1).toLong)
    // time travel on the SINK below its drop shows a as all-null even
    // for streamed rows (they rendered `\N` at the hidden position)
    rm(src); rm(sink); rm(ckpt)
  }
}
