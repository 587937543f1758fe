package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.KvSource

/** Round-16 batch-1: OCC auto-retry on `expectedPrior` conflicts (the
  * Delta ConflictChecker retry). A pinned verb whose snapshot went
  * stale REBASES — re-pin and re-publish with no caller retry — when
  * every interleaved commit is provably compatible with its diff:
  * pure appends under [[KvSource.OccPolicy.AppendOk]]
  * (OPTIMIZE/UPDATE), zone-disjoint commits under
  * [[KvSource.OccPolicy.KeyDisjoint]] (MERGE/DELETE). True conflicts
  * (overlapping zones, interleaved DELETEs, removed files we also
  * remove, checkpoints) still surface as the concurrent-commit error.
  */
class Widening16Spec extends AnyFunSuite {
  import SparkTestSession._
  import KvFixture._

  test("two disjoint-key MERGEs both succeed, second rebases without caller retry") {
    val dir = tmp("occ-merge2")
    append(dir, 0, 100)    // v1: keys 0..99
    append(dir, 100, 200)  // v2: keys 100..199
    val v0 = KvSource.latestVersion(dir).get
    assert(v0 == 2L)
    // merge A (wins the race): touches ONLY the high file
    val (ma, ia, va) = KvSource.mergeUpsert(spark, dir,
      spark.range(150, 160).selectExpr("id AS key", "'A' AS val"))
    assert((ma, ia, va) == (10L, 0L, 3L))
    // merge B pinned at the PRE-A snapshot (the exact state a racing
    // committer holds when it loses): its keys live only in the low
    // file, A's rewrite outputs carry zones provably above them — the
    // commit must rebase onto v3 and publish v4, no exception, no
    // caller retry
    val (mb, ib, vb) = KvSource.mergeUpsert(spark, dir,
      spark.range(10, 20).selectExpr("id AS key", "'B' AS val"),
      pinnedVersion = Some(v0))
    assert((mb, ib, vb) == (10L, 0L, 4L))
    val rows = readAll(dir)
    assert(rows.count() == 200L)
    assert(rows.filter(col("val") === "A").count() == 10L)
    assert(rows.filter(col("val") === "B").count() == 10L)
    rm(dir)
  }

  test("overlapping-key MERGE with a stale pin is a TRUE conflict") {
    val dir = tmp("occ-mergeconf")
    append(dir, 0, 100)
    append(dir, 100, 200)
    val v0 = KvSource.latestVersion(dir).get
    KvSource.mergeUpsert(spark, dir,
      spark.range(150, 160).selectExpr("id AS key", "'A' AS val"))
    // same key range as A's rewrite outputs — the anti-join diff is
    // stale (it never saw A's replaced rows), rebase must refuse
    val e = intercept[IllegalStateException] {
      KvSource.mergeUpsert(spark, dir,
        spark.range(155, 165).selectExpr("id AS key", "'C' AS val"),
        pinnedVersion = Some(v0))
    }
    assert(e.getMessage.contains("concurrent commit"))
    rm(dir)
  }

  test("AppendOk rebases over a concurrent pure append; DELETE interleave conflicts") {
    val dir = tmp("occ-appendok")
    append(dir, 0, 100)           // v1
    append(dir, 100, 200)         // v2 — the "concurrent" append
    // a rewrite diffed at v1 (removes v1's file) pinned stale:
    // AppendOk rebases over v2's pure append
    val f1 = KvSource.committedFiles(dir, Some(1L))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-occrw.dat"), "0,rw\n".getBytes("UTF-8"))
    val v = KvSource.commitVersionKeyed(dir, Seq(KvSource.PartMeta("part-occrw.dat")), None,
      removeFiles = f1, expectedPrior = Some(1L),
      occ = KvSource.OccPolicy.AppendOk, op = Some("REWRITE"))
    assert(v == 3L)
    // an interleaved DELETE (a `#dv:` version) can never rebase: the
    // rewrite would silently undo it
    KvSource.deleteWhere(spark, dir, "key = 100")  // v4
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-occrw2.dat"), "0,rw2\n".getBytes("UTF-8"))
    val e = intercept[IllegalStateException] {
      KvSource.commitVersionKeyed(dir, Seq(KvSource.PartMeta("part-occrw2.dat")), None,
        removeFiles = Seq("part-occrw.dat"), expectedPrior = Some(3L),
        occ = KvSource.OccPolicy.AppendOk, op = Some("REWRITE"))
    }
    assert(e.getMessage.contains("concurrent commit"))
    rm(dir)
  }

  test("KeyDisjoint: zone-disjoint append rebases, stats-less or overlapping conflicts") {
    val dir = tmp("occ-keydisjoint")
    append(dir, 0, 100)    // v1
    append(dir, 500, 600)  // v2 — zones [500,599], disjoint from [0,99]
    // a DELETE-shaped commit (DV over keys 0..49) pinned at v1:
    // v2's zones provably miss the DV domain — rebase
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "dv-occ1.dat"),
      (0L until 50L).mkString("", "\n", "\n").getBytes("UTF-8"))
    val v = KvSource.commitVersionKeyed(dir, Seq.empty, None,
      dvFiles = Seq("dv-occ1.dat"), expectedPrior = Some(1L),
      occ = KvSource.OccPolicy.KeyDisjoint(0L, 49L), op = Some("DELETE"))
    assert(v == 3L)
    // overlapping zone: v2 covers [500,599]; a DV domain reaching into
    // it must conflict (the appended copies would be wrongly masked)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "dv-occ2.dat"),
      "550\n".getBytes("UTF-8"))
    val e1 = intercept[IllegalStateException] {
      KvSource.commitVersionKeyed(dir, Seq.empty, None,
        dvFiles = Seq("dv-occ2.dat"), expectedPrior = Some(1L),
        occ = KvSource.OccPolicy.KeyDisjoint(540L, 560L), op = Some("DELETE"))
    }
    assert(e1.getMessage.contains("concurrent commit"))
    // a stats-less interleaved add conservatively conflicts: no zone,
    // no proof (publish a raw manifest the way a legacy writer would)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-nostats.dat"), "7,x\n".getBytes("UTF-8"))
    assert(KvSource.publishCas(dir, 4L, "part-nostats.dat"))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "dv-occ3.dat"),
      "900\n".getBytes("UTF-8"))
    val e2 = intercept[IllegalStateException] {
      KvSource.commitVersionKeyed(dir, Seq.empty, None,
        dvFiles = Seq("dv-occ3.dat"), expectedPrior = Some(3L),
        occ = KvSource.OccPolicy.KeyDisjoint(900L, 900L), op = Some("DELETE"))
    }
    assert(e2.getMessage.contains("concurrent commit"))
    rm(dir)
  }

  test("RESTORE never rebases (coordination stays a caller decision)") {
    val dir = tmp("occ-restore")
    append(dir, 0, 100)   // v1
    append(dir, 100, 200) // v2
    // a concurrent append lands between RESTORE's diff and publish —
    // simulate by diffing by hand at v2, appending, then publishing
    // the restore diff pinned at v2 (no occ policy)
    val target = KvSource.committedFiles(dir, Some(1L))
    val cur = KvSource.committedFiles(dir, Some(2L))
    append(dir, 200, 300) // v3 interleaves
    val e = intercept[IllegalStateException] {
      KvSource.commitVersionKeyed(dir, Seq.empty, None,
        removeFiles = cur.filterNot(target.toSet),
        expectedPrior = Some(2L), op = Some("RESTORE"))
    }
    assert(e.getMessage.contains("concurrent commit"))
    rm(dir)
  }

  test("empty MERGE-ON-READ publishes nothing (no empty tombstone on the chain)") {
    val dir = tmp("occ-mor-empty")
    append(dir, 0, 100)
    val v0 = KvSource.latestVersion(dir).get
    val (m, i, v) = KvSource.mergeOnRead(spark, dir,
      spark.range(0, 0).selectExpr("id AS key", "'z' AS val"))
    assert((m, i, v) == (0L, 0L, v0))
    assert(KvSource.latestVersion(dir).get == v0)
    val st = KvSource.committedState(dir, Some(v0))
    assert(st.dvFiles.isEmpty)
    // no stray staged files either
    val strays = Option(new java.io.File(dir).list()).get
      .filter(n => n.startsWith("dv-mor-") || n.startsWith("part-mor-"))
    assert(strays.isEmpty, strays.mkString(","))
    rm(dir)
  }

  test("val zone maps prune equality/range/prefix probes; stats-free files always plan") {
    val dir = tmp("occ-vskip")
    def appendVals(vals: Seq[(Long, String)]): Unit = {
      import spark.implicits._
      save(vals.toDF("key", "val"), dir)
    }
    appendVals(Seq((1L, "apple"), (2L, "banana")))
    appendVals(Seq((3L, "melon"), (4L, "pear")))
    appendVals(Seq((5L, "tomato"), (6L, "zucchini")))
    val base = readAll(dir)
    assert(base.rdd.getNumPartitions == 3)
    assert(base.where(col("val") === "pear").rdd.getNumPartitions == 1)
    assert(base.where(col("val") === "pear").count() == 1L)
    assert(base.where(col("val") >= "b" && col("val") <= "n").rdd.getNumPartitions == 2)
    assert(base.where(col("val").startsWith("to")).rdd.getNumPartitions == 1)
    assert(base.where(col("val").startsWith("to")).count() == 1L)
    // a hand-published stats-free file can never be pruned
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "part-nozone.dat"),
      "9,quince\n".getBytes("UTF-8"))
    val v = KvSource.latestVersion(dir).get + 1
    assert(KvSource.publishCas(dir, v, "part-nozone.dat"))
    assert(base.where(col("val") === "pear").count() == 1L) // pinned scan unaffected
    val fresh = readAll(dir)
    assert(fresh.where(col("val") === "pear").rdd.getNumPartitions == 2)
    rm(dir)
  }

  test("val bounds truncate at 64 bytes and stay correct; rewrites re-record vstats") {
    val dir = tmp("occ-vtrunc")
    import spark.implicits._
    // values sharing a 70-byte prefix: the truncated-and-incremented
    // upper bound must still admit every stored value
    val long1 = "x" * 70 + "aaa"
    val long2 = "x" * 70 + "zzz"
    save(Seq((1L, long1), (2L, long2)).toDF("key", "val"), dir)
    save(Seq((3L, "short")).toDF("key", "val"), dir)
    val base = readAll(dir)
    // the truncated zone still admits the long values (no false prune)
    assert(base.where(col("val") === long2).count() == 1L)
    assert(base.where(col("val") === long2).rdd.getNumPartitions == 1)
    // and an UPDATE rewrite records fresh vstats on its outputs
    KvSource.updateWhere(spark, dir, "key = 3", "'rewritten'")
    val fresh = readAll(dir)
    assert(fresh.where(col("val") === "rewritten").rdd.getNumPartitions == 1)
    assert(fresh.where(col("val") === "rewritten").count() == 1L)
    rm(dir)
  }

  test("OPTIMIZE ZORDER tightens both zone maps and folds DVs atomically") {
    val dir = tmp("occ-zorder")
    import spark.implicits._
    // 4 mod-sliced files: every key zone spans [b, ~396+b], every file
    // holds both val groups — zone maps prune nothing
    val rows = (0L until 400L).map(k =>
      (k, if ((k / 4) % 2 == 0) "alpha" else "omega"))
    (0 until 4).foreach { b =>
      save(rows.filter(_._1 % 4 == b).toDF("key", "val"), dir)
    }
    KvSource.deleteWhere(spark, dir, "key >= 390") // a DV to fold away
    def reload() = readAll(dir)
    assert(reload().where(col("key") < 100).rdd.getNumPartitions == 4)
    assert(reload().where(col("val") === "alpha").rdd.getNumPartitions == 4)
    val (before, v) = KvSource.optimizeZorder(spark, dir, 4)
    assert(before == 4L)
    val st = KvSource.committedState(dir)
    assert(st.dvFiles.isEmpty, "ZORDER must fold DVs like OPTIMIZE")
    assert(st.files.size == 4)
    // both probes now prune: keys<100 → cell<16384 → top-2 Morton bits
    // (k15,v15) = (0,*) → 2 buckets; val=alpha → v15=0 → 2 buckets
    assert(reload().where(col("key") < 100).rdd.getNumPartitions == 2)
    assert(reload().where(col("val") === "alpha").rdd.getNumPartitions == 2)
    assert(reload().count() == 390L)
    assert(reload().where(col("val") === "alpha").count() ==
      rows.count(r => r._1 < 390 && r._2 == "alpha").toLong)
    // time travel below the rewrite still reads the old layout
    assert(KvSource.read(spark, dir, Some(4L)).count() == 400L)
    rm(dir)
  }

  test("ALTER TABLE ADD COLUMN: null-fill, per-snapshot schema, round-trip, guards") {
    val dir = tmp("occ-schema")
    import spark.implicits._
    append(dir, 0, 10) // v1: 2-col
    val v2 = KvSource.alterAddColumn(dir, "score")
    assert(v2 == 2L)
    assert(KvSource.protocolAt(dir) == ((3, 3)))
    // 3-col append, including a null and a comma-bearing VAL (legal —
    // only EVOLVED columns must stay comma-free)
    KvSource.append(Seq((100L, "with,comma", "9"), (101L, "plain", null))
      .toDF("key", "val", "score"), dir) // v3
    val wide = readAll(dir)
    assert(wide.schema.fieldNames.toSeq == Seq("key", "val", "score"))
    assert(wide.count() == 12L)
    assert(wide.filter(col("score").isNull).count() == 11L)
    assert(wide.filter(col("score") === "9").select("val").head().getString(0)
      == "with,comma")
    // time travel below the ALTER reads the narrow schema
    val narrow = KvSource.read(spark, dir, Some(1L))
    assert(narrow.schema.fieldNames.toSeq == Seq("key", "val"))
    assert(narrow.count() == 10L)
    // duplicate / invalid column names refuse
    intercept[IllegalArgumentException](KvSource.alterAddColumn(dir, "score"))
    intercept[IllegalArgumentException](KvSource.alterAddColumn(dir, "bad name"))
    // rewrite verbs WORK on the evolved table now (r17 — the six
    // "follow-up surface" guards are gone): a merge missing the
    // evolved column still refuses with the analyzer's clear error…
    intercept[org.apache.spark.sql.AnalysisException](
      KvSource.mergeUpsert(spark, dir,
        spark.range(1).selectExpr("id AS key", "'x' AS val")))
    // …a full-width merge lands (deep coverage in Widening17Spec), and
    // the change feed reads wide: pre-ALTER inserts null-fill `score`
    val cdf = KvSource.changeFeed(spark, dir, 0L, 3L)
    assert(cdf.schema.fieldNames.toSeq ==
      Seq("key", "val", "score", "change_type", "commit_version"))
    assert(cdf.count() == 12L)
    assert(cdf.filter(col("score").isNull).count() == 11L)
    // DELETE (key-scoped MOR) still works on an evolved table
    val (nDel, _) = KvSource.deleteWhere(spark, dir, "key = 100")
    assert(nDel == 1L)
    assert(readAll(dir).count() == 11L)
    // evolved-column values enforce the comma-free contract
    val e = intercept[Exception] {
      KvSource.append(Seq((200L, "v", "bad,score")).toDF("key", "val", "score"), dir)
    }
    assert(e.getMessage != null)
    rm(dir)
  }

  test("evolved schema survives checkpoints, vacuum, and clone") {
    val dir = tmp("occ-schema-ckpt")
    import spark.implicits._
    append(dir, 0, 10)                      // v1
    KvSource.alterAddColumn(dir, "tag")     // v2
    (0 until 10).foreach(i =>               // v3..v12, crossing v10
      KvSource.append(Seq((100L + i, s"r$i", s"t$i")).toDF("key", "val", "tag"), dir))
    KvSource.vacuum(dir, retainLast = 2)
    // the checkpoint re-listed #schema: — the fold from v10 sees it
    assert(KvSource.schemaColsAt(dir) == Seq("key", "val", "tag"))
    val all = readAll(dir)
    assert(all.count() == 20L)
    assert(all.filter(col("tag").isNotNull).count() == 10L)
    // a clone inherits the evolved schema and protocol
    val cl = tmp("occ-schema-clone")
    rm(cl)
    KvSource.cloneShallow(dir, cl)
    assert(KvSource.schemaColsAt(cl) == Seq("key", "val", "tag"))
    assert(KvSource.protocolAt(cl) == ((3, 3)))
    assert(readAll(cl).filter(col("tag").isNotNull).count() == 10L)
    Seq(dir, cl).foreach(rm)
  }

  test("binpack: disjoint bins, DV fold, planner settles to zero jobs") {
    val dir = tmp("occ-binpack")
    (0 until 5).foreach(i => append(dir, i * 100L, i * 100L + 100L))
    KvSource.deleteWhere(spark, dir, "key % 4 = 0") // 125 dead of 500
    val planned = KvSource.maintenancePlan(dir, retainLast = 50)
    assert(planned.map(_._1).toSet ==
      Set("OPTIMIZE_COMPACT", "OPTIMIZE_DV_FOLD"), planned.toString)
    val (before, v) = KvSource.optimizeBinPack(spark, dir, 4)
    assert(before == 5L && v == 7L)
    val st = KvSource.committedState(dir)
    assert(st.files.size == 4 && st.dvFiles.isEmpty)
    // bins are key-disjoint: zones never overlap
    val zones = st.files.flatMap(st.stats.get).sortBy(_._1)
    zones.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) => assert(hi1 < lo2, zones.toString)
      case _ => ()
    }
    assert(KvSource.maintenancePlan(dir, retainLast = 50).isEmpty)
    val rows = readAll(dir)
    assert(rows.count() == 375L)
    // a narrow key probe plans one bin
    assert(rows.where(col("key") >= 150 && col("key") < 160)
      .rdd.getNumPartitions == 1)
    rm(dir)
  }

  test("empty-string vals round-trip: the `#vstats:f::` manifest line parses") {
    val dir = tmp("occ-emptyval")
    import spark.implicits._
    // an empty val is legal (only null/newline are rejected) — its
    // zone bounds base64-encode to empty strings and the manifest
    // carries `#vstats:<file>::`, which the parser must survive
    // (r16 review: the default split() dropped the trailing empties
    // and one such write bricked the table on its next read)
    save(Seq((1L, ""), (2L, "x")).toDF("key", "val"), dir)
    val rows = readAll(dir)
    assert(rows.count() == 2L)
    assert(rows.where(col("val") === "").count() == 1L)
    // the zone still prunes: a probe above "x" misses the only file
    assert(rows.where(col("val") === "zzz").rdd.getNumPartitions == 0)
    // and the table keeps accepting writes (the fold parses)
    save(Seq((3L, "y")).toDF("key", "val"), dir)
    assert(readAll(dir).count() == 3L)
    rm(dir)
  }

  test("ALTER ADD COLUMN refuses case-colliding names (analyzer is case-insensitive)") {
    val dir = tmp("occ-schema-case")
    append(dir, 0, 5)
    intercept[IllegalArgumentException](KvSource.alterAddColumn(dir, "Val"))
    intercept[IllegalArgumentException](KvSource.alterAddColumn(dir, "KEY"))
    rm(dir)
  }

  test("small DELETE's change feed plans only zone-admitting files") {
    val dir = tmp("occ-cdfprune")
    // 4 zone-disjoint files
    (0 until 4).foreach(i => append(dir, i * 100L, i * 100L + 100L))
    val (n, v) = KvSource.deleteWhere(spark, dir, "key >= 250 AND key < 260")
    assert(n == 10L)
    // only the [200,299] file admits a doomed key — the DELETE change
    // rows must plan exactly ONE partition, not four
    val parts = KvSource.cdfPartitions(dir, v - 1, v, 2)
    assert(parts.length == 1, s"planned ${parts.length} partitions")
    val feed = KvSource.changeFeed(spark, dir, v - 1, v)
    assert(feed.filter(col("change_type") === "delete").count() == 10L)
    rm(dir)
  }
}
