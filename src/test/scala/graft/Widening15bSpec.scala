package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.KvSource

/** Round-15 batch-7: touched-file pruning in the COW MERGE (the r15
  * merge entry's noted next step, closed), the UPDATE verb composed
  * on it, SHALLOW CLONE, and the CDF-sync theorem across a
  * checkpoint boundary.
  */
class Widening15bSpec extends AnyFunSuite {
  import SparkTestSession._
  import KvFixture._

  test("MERGE prunes untouched files via zone maps; the rewrite emits its own stats") {
    val dir = tmp("kv-mprune")
    // four contiguous slices, each with a #stats: zone
    (0 until 4).foreach(i => append(dir, i * 100L, i * 100L + 100L))
    val before = KvSource.committedFiles(dir).toSet
    assert(before.size == 4)
    // updates hit slices 0 and 1 only ([50, 150)), plus a fresh insert
    val updates = spark.range(50, 150).selectExpr("id AS key", "'u' AS val")
      .unionByName(spark.range(9000, 9010).selectExpr("id AS key", "'n' AS val"))
    val (matched, inserted, v) = KvSource.mergeUpsert(spark, dir, updates)
    assert(matched == 100L && inserted == 10L && v == 5L)
    val after = KvSource.committedFiles(dir).toSet
    // slices 2 and 3 provably hold no update key: SURVIVE BY NAME
    assert((before intersect after).size == 2,
      s"expected 2 untouched survivors, got ${(before intersect after).size}")
    // content is exact: all 400 base keys + 10 inserts, updates applied
    val now = readAll(dir)
    assert(now.count() == 410L)
    assert(now.filter(col("val") === "u").count() == 100L)
    assert(now.filter(col("val") === "n").count() == 10L)
    assert(now.agg(sum(col("key"))).head().getLong(0) ==
      (0L until 400L).sum + (9000L until 9010L).sum)
    // the rewrite recorded fresh stats: a SECOND merge whose keys live
    // only in an untouched ORIGINAL slice must not touch the rewritten
    // files (they'd be statless and force-touched otherwise)
    val st = KvSource.stateAt(dir, v)
    val rewritten = st.files.filterNot(before)
    assert(rewritten.nonEmpty && rewritten.forall(st.stats.contains),
      s"merge rewrite files must carry #stats zones: ${st.stats.keySet}")
    val files5 = KvSource.committedFiles(dir).toSet
    val (m2, _, _) = KvSource.mergeUpsert(spark, dir,
      spark.range(250, 260).selectExpr("id AS key", "'w' AS val"))
    assert(m2 == 10L)
    val files6 = KvSource.committedFiles(dir).toSet
    // only slice 2 ([200,300)) was rewritten; slice 3 AND every
    // first-merge rewrite file that misses [250,260) survive
    val survivors = files5 intersect files6
    assert(rewritten.count(f => !st.stats.get(f).exists {
      case (lo, hi) => hi >= 250L && lo <= 259L
    } && survivors(f)) ==
      rewritten.count(f => !st.stats.get(f).exists {
        case (lo, hi) => hi >= 250L && lo <= 259L
      }),
      "first-merge rewrite files outside the second merge's key range must survive")
    assert(readAll(dir).filter(col("val") === "w").count() == 10L)
    rm(dir)
  }

  test("pruned MERGE under a live DV: untouched files stay masked, update keys resurrect") {
    val dir = tmp("kv-mprunedv")
    (0 until 4).foreach(i => append(dir, i * 100L, i * 100L + 100L))
    // tombstone one key in slice 0 (will be resurrected by the merge)
    // and one in slice 3 (must STAY dead — its file is untouched)
    KvSource.deleteWhere(spark, dir, "key = 10 OR key = 310") // v5
    assert(readAll(dir).count() == 398L)
    // updates touch slice 0 only: key 10 resurrects, key 20 updates
    val (matched, inserted, v) = KvSource.mergeUpsert(spark, dir,
      spark.createDataFrame(Seq((10L, "back"), (20L, "u"))).toDF("key", "val"))
    assert(matched == 1L && inserted == 1L, s"got ($matched, $inserted)")
    val now = readAll(dir)
    assert(now.filter(col("key") === 10L).count() == 1L, "resurrected key visible")
    assert(now.filter(col("key") === 310L).count() == 0L,
      "untouched file's tombstone must survive the merge")
    assert(now.count() == 399L)
    // the DV file survives AS-IS: version scoping keeps it binding on
    // the older untouched files and inert on the newer merge result —
    // key 10 resurrects with zero DV bookkeeping (asserted above)
    val st = KvSource.stateAt(dir, v)
    assert(st.dvFiles.size == 1, s"expected the original DV kept, got ${st.dvFiles}")
    val dvKeys = scala.io.Source.fromFile(
      new java.io.File(dir, st.dvFiles.head), "UTF-8").getLines()
      .filter(_.nonEmpty).map(_.toLong).toSet
    assert(dvKeys == Set(10L, 310L), s"DV keys must be untouched: $dvKeys")
    // three untouched slices survive (zones starting at 100/200/300)
    assert(st.files.count(f => st.stats.get(f).exists(_._1 >= 100L)) >= 3)
    rm(dir)
  }

  test("UPDATE is per-row: matching copies update in place, non-matching survive") {
    val dir = tmp("kv-update")
    append(dir, 0, 50)
    append(dir, 10, 20) // keys 10..19 live twice
    val (n, v) = KvSource.updateWhere(spark, dir,
      "key >= 10 AND key < 15", "concat(val, '!')")
    assert(n == 10L && v == 3L, s"5 keys x 2 copies = 10 rows, got ($n, $v)")
    val now = readAll(dir)
    // BOTH copies of a matched key update in place — nothing collapses
    assert(now.filter(col("key") === 12L).count() == 2L)
    assert(now.filter(col("key") === 12L && col("val") === "x!").count() == 2L)
    assert(now.filter(col("val") === "x!").count() == 10L)
    assert(now.filter(col("key") === 17L).count() == 2L)
    assert(now.count() == 60L, "per-row UPDATE never changes the row count")
    // a predicate over VAL updates only the copy that matches it —
    // the other copy of the same key is preserved exactly (the r15
    // review found the merge-composed form collapsed it)
    import spark.implicits._
    val d2 = tmp("kv-update2")
    save(Seq((1L, "a"), (1L, "b")).toDF("key", "val"), d2)
    val (n2, _) = KvSource.updateWhere(spark, d2, "val = 'a'", "concat(val, '!')")
    assert(n2 == 1L)
    val rows2 = readAll(d2).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows2 == Set((1L, "a!"), (1L, "b")), rows2.toString)
    // a predicate matching nothing publishes NO version
    val (n0, v0) = KvSource.updateWhere(spark, dir, "key > 1000000", "val")
    assert(n0 == 0L && v0 == 3L)
    assert(KvSource.latestVersion(dir).contains(3L))
    Seq(dir, d2).foreach(rm)
  }

  test("SHALLOW CLONE: zero-copy fork, inherited DV + stats, independent divergence") {
    val src = tmp("kv-clsrc")
    val dst = tmp("kv-cldst")
    rm(dst)
    (0 until 3).foreach(i => append(src, i * 100L, i * 100L + 100L))
    KvSource.deleteWhere(spark, src, "key % 10 = 0") // v4: DV
    assert(KvSource.cloneShallow(src, dst) == 1L)
    // snapshot equality at the clone point, DV mask inherited
    assert(readAll(dst).count() == 270L)
    assert(readAll(dst).filter(col("key") % 10 === 0).count() == 0L)
    // zero copy: every clone data file is a hard link (nlink == 2)
    val st = KvSource.stateAt(dst, 1L)
    (st.files ++ st.dvFiles).foreach { f =>
      val nlink = java.nio.file.Files.getAttribute(
        java.nio.file.Paths.get(dst, f), "unix:nlink").asInstanceOf[Number].intValue()
      assert(nlink == 2, s"$f must be hard-linked into the clone, nlink=$nlink")
    }
    // stats inherited: a key-range probe on the clone prunes to 1 file
    val probe = readAll(dst).where("key >= 210 AND key < 250")
    assert(probe.rdd.getNumPartitions == 1 && probe.count() == 36L)
    // divergence: append to clone, delete from source — neither leaks
    append(dst, 5000, 5010)
    KvSource.deleteWhere(spark, src, "key >= 200")
    assert(readAll(dst).count() == 280L, "source delete must not reach the clone")
    assert(readAll(src).count() == 180L, "clone append must not reach the source")
    // vacuum on the SOURCE reclaims ITS link; the clone's survives
    (0 until 12).foreach(i => append(src, 10000L + i * 10, 10000L + i * 10 + 10))
    KvSource.vacuum(src, retainLast = 2, strayMinAgeMs = 0L)
    assert(readAll(dst).count() == 280L, "clone must survive source vacuum")
    // the replay ledger is NOT inherited: a batchId the source already
    // absorbed must still land on the clone (new table identity)
    val src2 = tmp("kv-clsrc2")
    val dst2 = tmp("kv-cldst2")
    rm(dst2)
    append(src2, 0, 10)
    KvSource.append(spark.range(100, 110).selectExpr("id AS key", "'b' AS val")
      .repartition(1), src2, batchId = Some(7L))
    KvSource.cloneShallow(src2, dst2)
    KvSource.append(spark.range(200, 210).selectExpr("id AS key", "'c' AS val")
      .repartition(1), dst2, batchId = Some(7L))
    assert(readAll(dst2).count() == 30L,
      "the clone must not absorb a replay key from source history")
    // a non-empty target refuses
    val e = intercept[IllegalArgumentException] {
      KvSource.cloneShallow(src2, dst2)
    }
    assert(e.getMessage.contains("already has a commit chain"))
    Seq(src, dst, src2, dst2).foreach(d =>
      rm(d))
  }

  test("CDF sync theorem holds across a checkpoint: feed net effect equals snapshot") {
    val dir = tmp("kv-cdfsync")
    // 12 versions crossing the v10 checkpoint, mixing every verb
    (0 until 8).foreach(i => append(dir, i * 10L, i * 10L + 10L)) // v1..v8
    KvSource.deleteWhere(spark, dir, "key % 9 = 0")               // v9
    append(dir, 80, 90)                                           // v10: checkpoint
    KvSource.mergeUpsert(spark, dir,
      spark.range(85, 95).selectExpr("id AS key", "'m' AS val"))  // v11
    append(dir, 100, 110)                                         // v12
    val v = KvSource.latestVersion(dir).get
    val feed = KvSource.changeFeed(spark, dir, 0L, v)
      .groupBy(col("val"))
      .agg(sum(when(col("change_type") === "insert", 1L).otherwise(-1L)).as("n"),
        sum(when(col("change_type") === "insert", col("key"))
          .otherwise(-col("key"))).as("ks"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      .filter { case (_, (n, ks)) => n != 0L || ks != 0L }
    val snap = readAll(dir).groupBy(col("val"))
      .agg(count(lit(1)).as("n"), sum(col("key")).as("ks"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(feed == snap, s"feed=$feed snap=$snap")
    rm(dir)
  }
}
