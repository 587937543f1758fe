package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.KvSource

/** Round-17 batch-1: the six evolved-table guards are GONE — every
  * rewrite verb (MERGE COW, MERGE MOR, UPDATE, OPTIMIZE, ZORDER,
  * binpack) and the change feed work on a schema-evolved table (the
  * r16 verdict's #1: a table that can never be compacted again after
  * its first ALTER is untenable at 100 TB; Delta rewrites after ADD
  * COLUMNS just work). Old narrow rows null-fill through every
  * rewrite; time travel below the ALTER still reads the narrow
  * schema even after the files above it were rewritten wide.
  */
class Widening17Spec extends AnyFunSuite {
  import SparkTestSession._
  import KvFixture._

  /** v1: narrow keys [0,100); v2: ALTER ADD segment; v3: wide keys
    * [100,200) with segment = "s<key%4>". Returns the dir. */
  private def evolved(tag: String): String = {
    val dir = tmp(s"evo-$tag")
    save(spark.range(0, 100).selectExpr("id AS key", "concat('n', id) AS val"), dir)
    assert(KvSource.alterAddColumn(dir, "segment") == 2L)
    save(spark.range(100, 200)
      .selectExpr("id AS key", "concat('w', id) AS val",
        "concat('s', id % 4) AS segment"), dir)
    dir
  }

  test("MERGE (COW) on an evolved table: wide rewrite, null-fill survivors") {
    val dir = evolved("cow")
    // replace 10 narrow rows + insert 5 brand-new wide rows
    val upd = spark.range(50, 60)
      .selectExpr("id AS key", "'M' AS val", "'MG' AS segment")
      .union(spark.range(500, 505)
        .selectExpr("id AS key", "'I' AS val", "'NEW' AS segment"))
    val (m, i, v) = KvSource.mergeUpsert(spark, dir, upd)
    assert((m, i, v) == (10L, 5L, 4L))
    val rows = readAll(dir)
    assert(rows.count() == 205L)
    assert(rows.filter(col("segment") === "MG").count() == 10L)
    assert(rows.filter(col("segment").isNull).count() == 90L)
    // the wide file was untouched (zones disjoint from update keys in
    // [50,60)? no — [100,200) misses them; [500,505) miss both): only
    // the narrow file rewrote; its survivors still null-fill
    assert(rows.filter(col("key") < 50 && col("segment").isNull).count() == 50L)
    // a merge missing the evolved column refuses (schema enforcement)
    intercept[org.apache.spark.sql.AnalysisException] {
      KvSource.mergeUpsert(spark, dir,
        spark.range(1).selectExpr("id AS key", "'x' AS val"))
    }
    rm(dir)
  }

  test("MERGE (MOR) on an evolved table: wide append + DV, zero rewrite") {
    val dir = evolved("mor")
    val filesBefore = KvSource.committedState(dir).files.toSet
    val upd = spark.range(10, 20)
      .selectExpr("id AS key", "'M' AS val", "'MOR' AS segment")
    val (m, i, v) = KvSource.mergeOnRead(spark, dir, upd)
    assert((m, i, v) == (10L, 0L, 4L))
    val st = KvSource.committedState(dir)
    // not a single pre-existing data file was rewritten
    assert(filesBefore.subsetOf(st.files.toSet))
    assert(st.dvFiles.size == 1)
    val rows = readAll(dir)
    assert(rows.count() == 200L)
    assert(rows.filter(col("segment") === "MOR").count() == 10L)
    assert(rows.filter(col("segment").isNull).count() == 90L)
    rm(dir)
  }

  test("UPDATE with predicate AND set expression over the evolved column") {
    val dir = evolved("upd")
    val (n, v) = KvSource.updateWhere(spark, dir,
      "segment = 's2'", "concat(val, ':', segment)")
    assert(n == 25L && v == 4L)
    val rows = readAll(dir)
    assert(rows.count() == 200L)
    assert(rows.filter(col("val").endsWith(":s2")).count() == 25L)
    // evolved column itself passes through the rewrite unchanged
    assert(rows.filter(col("segment") === "s2").count() == 25L)
    assert(rows.filter(col("segment").isNull).count() == 100L)
    rm(dir)
  }

  test("OPTIMIZE / ZORDER / binpack on an evolved table fold DVs and keep null-fill") {
    val dir = evolved("opt")
    val (nDel, _) = KvSource.deleteWhere(spark, dir, "key % 10 = 0") // v4
    assert(nDel == 20L)
    // binpack: 4 disjoint wide bins
    val (fb, v5) = KvSource.optimizeBinPack(spark, dir, 4)
    assert(fb == 2L && v5 == 5L)
    val st = KvSource.committedState(dir)
    assert(st.files.size == 4 && st.dvFiles.isEmpty)
    assert(st.schemaCols == Seq("key", "val", "segment"))
    val rows = readAll(dir)
    assert(rows.count() == 180L)
    assert(rows.filter(col("segment").isNull).count() == 90L)
    // key probe prunes to 1 of the 4 bins
    assert(readAll(dir).where("key < 40").rdd.getNumPartitions == 1)
    // zorder over the binned layout keeps rows + nulls exactly
    val (_, v6) = KvSource.optimizeZorder(spark, dir, 4)
    assert(v6 == 6L)
    val z = readAll(dir)
    assert(z.count() == 180L)
    assert(z.filter(col("segment").isNull).count() == 90L)
    // single-file compaction of the evolved table
    val (_, v7) = KvSource.optimizeCompact(spark, dir)
    assert(v7 == 7L)
    val c = readAll(dir)
    assert(KvSource.committedState(dir).files.size == 1)
    assert(c.count() == 180L && c.filter(col("segment").isNull).count() == 90L)
    // time travel BELOW the ALTER still reads the narrow schema even
    // though every live file above it is now wide
    val narrow = KvSource.read(spark, dir, Some(1L))
    assert(narrow.schema.fieldNames.toSeq == Seq("key", "val"))
    assert(narrow.count() == 100L)
    rm(dir)
  }

  test("maintenance planner fires AND executes on an evolved chain") {
    val dir = evolved("plan")
    (0 until 4).foreach { b =>
      save(spark.range(200 + b, 204).selectExpr("id AS key", "'t' AS val",
        "'tail' AS segment"), dir)
    }
    KvSource.deleteWhere(spark, dir, "key < 100 AND key % 2 = 0")
    val plan = KvSource.maintenancePlan(dir, retainLast = 50)
    assert(plan.exists(_._1 == "OPTIMIZE_COMPACT"))
    assert(plan.exists(_._1 == "OPTIMIZE_DV_FOLD"))
    val (_, _) = KvSource.optimizeBinPack(spark, dir, 4)
    assert(KvSource.maintenancePlan(dir, retainLast = 50).isEmpty)
    val rows = readAll(dir)
    assert(rows.count() == 160L)
    assert(rows.filter(col("segment").isNull).count() == 50L)
    rm(dir)
  }

  test("change feed across ALTER: wide schema, wide DELETE retractions, wide sidecars") {
    val dir = evolved("cdf")
    KvSource.deleteWhere(spark, dir, "key % 20 = 7")             // v4: 10 odd keys
    KvSource.mergeUpsert(spark, dir, spark.range(0, 5)
      .selectExpr("id AS key", "'M' AS val", "'MG' AS segment")) // v5
    val feed = KvSource.changeFeed(spark, dir, 0L, 5L)
    assert(feed.schema.fieldNames.toSeq ==
      Seq("key", "val", "segment", "change_type", "commit_version"))
    val by = feed.groupBy("commit_version", "change_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("segment").isNull, 1L).otherwise(0L)).as("nulls"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(by((1L, "insert")) == ((100L, 100L))) // narrow inserts null-fill
    assert(by((3L, "insert")) == ((100L, 0L)))   // wide inserts carry segment
    // DELETE retractions materialize from BOTH epochs' files: keys
    // %20=7 live in the narrow (7,27,..,87: 5 rows, null segment) and
    // wide (107..187: 5 rows, segment s3) files
    assert(by((4L, "delete")) == ((10L, 5L)))
    assert(by((5L, "delete")) == ((5L, 5L)))     // pre-images of narrow rows
    assert(by((5L, "insert")) == ((5L, 0L)))     // update rows carry 'MG'
    rm(dir)
  }

  test("STREAMING change feed delivers wide rows on an evolved table") {
    val dir = evolved("scdf")
    val outDir = tmp("evo-scdf-sink")
    val ckpt = tmp("evo-scdf-ckpt")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long)]()
    val q = spark.readStream.format(classOf[KvSource].getName)
      .option("path", dir).option("readChangeFeed", "true")
      .option("startingVersion", "1").load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.groupBy("commit_version", "change_type")
          .agg(sum(when(col("segment").isNull, 1L).otherwise(0L)).as("nulls"),
            count(lit(1)).as("n"))
          .collect().foreach(r => seen.add((r.getLong(0),
            r.getString(1) + ":" + r.getLong(3), r.getLong(2))))
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val rows = seen.toArray(Array.empty[(Long, String, Long)]).toSet
    assert(rows.contains((1L, "insert:100", 100L)))
    assert(rows.contains((3L, "insert:100", 0L)))
    rm(dir); rm(outDir); rm(ckpt)
  }

  test("#cstats: evolved-column zones prune; null-safe; survive rewrite and clone") {
    val dir = evolved("cstats")
    // wide file [100,200) has segment s0..s3; narrow file has NO
    // segment zone → always planned. Probe s2: plans 2 files (wide +
    // unprunable narrow), returns only the 25 s2 rows.
    val p = readAll(dir).where(col("segment") === "s2")
    assert(p.rdd.getNumPartitions == 2 && p.count() == 25L)
    // a probe OUTSIDE every zone plans only the narrow file
    val out = readAll(dir).where(col("segment") === "zz")
    assert(out.rdd.getNumPartitions == 1 && out.count() == 0L)
    // IS NULL is not an accepted pushdown shape: nothing is pruned
    val nulls = readAll(dir).where(col("segment").isNull)
    assert(nulls.rdd.getNumPartitions == 2 && nulls.count() == 100L)
    // per-segment rewrite: zorder mixes dims, so use per-segment MERGE
    // outputs instead — binpack into key bins, then probe again: the
    // rewrite CARRIES cstats (own zones recorded), rows exact
    KvSource.optimizeBinPack(spark, dir, 4)
    val st = KvSource.committedState(dir)
    // every bin holding wide rows records a segment zone at position 2
    assert(st.colStats.keys.exists(_._1 == 2))
    val p2 = readAll(dir).where(col("segment") === "s2")
    assert(p2.count() == 25L)
    // clone inherits the cstats
    val dst = tmp("evo-cstats-clone")
    KvSource.cloneShallow(dir, dst)
    assert(KvSource.committedState(dst).colStats.nonEmpty)
    assert(readAll(dst).where(col("segment") === "s2").count() == 25L)
    rm(dir); rm(dst)
  }

  test("overlap sweep: adjacent-but-disjoint zones read depth 1, no spurious ZORDER") {
    val dir = tmp("evo-sweep")
    append(dir, 0, 10); append(dir, 10, 20); append(dir, 20, 30) // zones [0,9],[10,19],[20,29]
    // a perfectly bin-packed layout must NOT fire OPTIMIZE_ZORDER even
    // at the tightest threshold (r16 advice: the opens-first sweep
    // read depth 2 here)
    val plan = KvSource.maintenancePlan(dir, maxLiveFiles = 50,
      maxOverlapDepth = 2, retainLast = 50)
    assert(!plan.exists(_._1 == "OPTIMIZE_ZORDER"), plan.toString)
    // truly TOUCHING zones ([20,29] vs [29,40]) still count
    append(dir, 29, 41)
    val plan2 = KvSource.maintenancePlan(dir, maxLiveFiles = 50,
      maxOverlapDepth = 2, retainLast = 50)
    assert(plan2.exists(_._1 == "OPTIMIZE_ZORDER"), plan2.toString)
    rm(dir)
  }

  test("MinMaxAccumulator folds correct extremes across many tasks") {
    val acc = new KvSource.MinMaxAccumulator
    spark.sparkContext.register(acc, "test_minmax")
    spark.sparkContext.parallelize(Seq(7L, -3L, 42L, 0L, 13L), 5)
      .foreach(acc.add)
    assert(acc.value == ((-3L, 42L)))
    // the DELETE that uses it still computes a correct OCC window:
    // an append provably BELOW the deleted domain rebases
    val dir = tmp("evo-dvwin")
    KvSource.append(spark.range(100, 200).selectExpr("id AS key", "'x' AS val")
      .repartition(4), dir)
    val (n, v) = KvSource.deleteWhere(spark, dir, "key >= 150")
    assert(n == 50L && v == 2L)
    assert(readAll(dir).count() == 50L)
    rm(dir)
  }

  test("RENAME COLUMN: metadata-only, protocol 4:4, time travel keeps the old name") {
    val dir = evolved("ren")
    val filesBefore = KvSource.committedState(dir).files.toSet
    assert(KvSource.renameColumn(dir, "segment", "seg2") == 4L)
    // not a byte of data moved
    assert(KvSource.committedState(dir).files.toSet == filesBefore)
    assert(KvSource.protocolAt(dir) == ((4, 4)))
    val wide = readAll(dir)
    assert(wide.schema.fieldNames.toSeq == Seq("key", "val", "seg2"))
    assert(wide.filter(col("seg2") === "s1").count() == 25L)
    // zone pruning survives the rename (cstats are position-keyed):
    // the wide file + the unprunable narrow file plan, nothing else
    assert(readAll(dir).where(col("seg2") === "s1").rdd.getNumPartitions == 2)
    // time travel below the rename reads the OLD name
    val atV3 = KvSource.read(spark, dir, Some(3L))
    assert(atV3.schema.fieldNames.toSeq == Seq("key", "val", "segment"))
    // guards: key is structural; collisions and unknown names refuse;
    // the change feed's metadata names are reserved (they would make
    // cdfSchemaFor ambiguous)
    intercept[IllegalArgumentException](KvSource.renameColumn(dir, "key", "id"))
    intercept[IllegalArgumentException](KvSource.renameColumn(dir, "seg2", "VAL"))
    intercept[IllegalArgumentException](KvSource.renameColumn(dir, "nope", "x"))
    intercept[IllegalArgumentException](
      KvSource.renameColumn(dir, "seg2", "commit_version"))
    intercept[IllegalArgumentException](
      KvSource.alterAddColumn(dir, "change_type"))
    // the payload column itself renames too, and UPDATE binds it
    assert(KvSource.renameColumn(dir, "val", "payload") == 5L)
    val (nUpd, _) = KvSource.updateWhere(spark, dir,
      "seg2 = 's1'", "concat(payload, '!')")
    assert(nUpd == 25L)
    val after = readAll(dir)
    assert(after.schema.fieldNames.toSeq == Seq("key", "payload", "seg2"))
    assert(after.filter(col("payload").endsWith("!")).count() == 25L)
    // val-zone pruning binds the renamed payload name (w-prefix probe
    // hits only the wide rows' zone after the narrow file rewrote)
    assert(after.where(col("payload").startsWith("w")).count() == 100L)
    // the mapping survives a checkpoint fold and a clone
    (0 until 7).foreach { i =>
      save(spark.range(1000 + i, 1001 + i)
        .selectExpr("id AS key", "'t' AS payload", "'z' AS seg2"), dir)
    }
    assert(KvSource.latestVersion(dir).get >= 10L)
    assert(readAll(dir).schema.fieldNames.toSeq == Seq("key", "payload", "seg2"))
    val dst = tmp("evo-ren-clone")
    KvSource.cloneShallow(dir, dst)
    assert(readAll(dst).schema.fieldNames.toSeq == Seq("key", "payload", "seg2"))
    rm(dir); rm(dst)
  }

  test("a bad versionAsOf fails at schema inference, not a silent base schema") {
    val dir = evolved("asof")
    val e = intercept[IllegalArgumentException] {
      KvSource.read(spark, dir, Some(99L)).schema
    }
    assert(e.getMessage.contains("versionAsOf=99"))
    rm(dir)
  }
}
