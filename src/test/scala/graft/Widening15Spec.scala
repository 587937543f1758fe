package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.KvSource
import graft.operators.SourceQueries

/** Round-15 batch-1: commit-log protocol fidelity — the `_log/`
  * manifest subdirectory (listing O(manifests), legacy migration),
  * the protocol-honest streaming source (SupportsTriggerAvailableNow,
  * vacuumed-chain initial snapshot, startingVersion, legacy-chain
  * single-delivery), RESTORE, merge-on-read DELETE on the real read
  * path, and checkpoint replay-ledger retention.
  */
class Widening15Spec extends AnyFunSuite {
  import SparkTestSession._
  import KvFixture._

  test("manifests live in _log/: the root listing is data-only at any chain length") {
    val dir = tmp("kv-logdir")
    (0 until 12).foreach(i => append(dir, i * 10L, i * 10L + 10L))
    val rootNames = new java.io.File(dir).list().toSeq
    assert(!rootNames.exists(_.startsWith("_manifest")),
      s"manifest leaked into the data directory: $rootNames")
    // versions() lists _log/ — exactly the manifests, zero data files
    assert(KvSource.logDir(dir).list().count(_.startsWith("_manifest")) == 12)
    assert(KvSource.logDir(dir).list().length == 12,
      "non-manifest entries in _log/ — the listing is no longer O(manifests)")
    assert(KvSource.versions(dir) == (1L to 12L))
    assert(readAll(dir).count() == 120)
    rm(dir)
  }

  test("a legacy co-located chain reads as-is and migrates atomically on the first write verb") {
    val dir = tmp("kv-legacy")
    new java.io.File(dir).mkdirs()
    // hand-build an r13/r14-layout chain: manifests at the ROOT
    (1 to 3).foreach { v =>
      stage(dir, s"part-legacy-$v.dat", v.toLong)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, s"_manifest.v$v"),
        s"part-legacy-$v.dat".getBytes("UTF-8"))
    }
    // read-only access works against the legacy layout (no migration)
    assert(KvSource.versions(dir) == (1L to 3L))
    assert(readAll(dir).count() == 3)
    assert(!KvSource.logDir(dir).isDirectory, "a read must not mutate the layout")
    // first WRITE verb migrates: all versions land in _log/, root
    // copies are gone, every snapshot still resolves
    append(dir, 100L, 110L) // v4
    assert(KvSource.logDir(dir).isDirectory)
    assert(KvSource.logDir(dir).list().count(_.startsWith("_manifest")) == 4)
    assert(!new java.io.File(dir).list().exists(_.startsWith("_manifest")),
      "legacy root manifests must be cleaned up after migration")
    assert(KvSource.versions(dir) == (1L to 4L))
    (1L to 3L).foreach(v => assert(KvSource.committedFiles(dir, Some(v)).size == v))
    assert(readAll(dir).count() == 13)
    rm(dir)
  }

  test("AvailableNow pins its end offset: versions appended after prepare wait for the next run") {
    val dir = tmp("kv-an")
    append(dir, 0, 10); append(dir, 10, 20)
    val stream = new graft.sources.KvMicroBatchStream(dir)
    // the protocol: prepare pins, the admission-control latestOffset
    // serves the pin, reportLatestOffset tells the truth
    assert(stream.isInstanceOf[
      org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow])
    stream.prepareForTriggerAvailableNow()
    append(dir, 20, 30) // v3 lands AFTER the trigger fired
    val end = stream.latestOffset(stream.deserializeOffset("0"),
      stream.getDefaultReadLimit)
    assert(end.json() == "2", s"AvailableNow must stop at the pinned v2, got ${end.json()}")
    assert(stream.reportLatestOffset().json() == "3")
    // an un-prepared stream (ProcessingTime trigger) reads to the tip
    val live = new graft.sources.KvMicroBatchStream(dir)
    assert(live.latestOffset(live.deserializeOffset("0"), live.getDefaultReadLimit)
      .json() == "3")
    rm(dir)
  }

  test("fresh readStream over a vacuumed chain: initial snapshot at the earliest retained version") {
    val dir = tmp("kv-vacstream")
    val ckpt = tmp("kv-vacstream-ckpt")
    val sinkDir = tmp("kv-vacstream-sink")
    (0 until 12).foreach(i => append(dir, i * 10L, i * 10L + 10L))
    val (dropped, _, oldest) = KvSource.vacuum(dir, retainLast = 3)
    assert(dropped == 9L && oldest == 10L)
    // pre-r15 this crashed: initialOffset=0 walked dropped manifests
    val q = spark.readStream.format(classOf[KvSource].getName)
      .option("path", dir).load()
      .writeStream.format(classOf[KvSource].getName)
      .option("path", sinkDir).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = readAll(sinkDir)
    assert(got.count() == 120,
      "initial snapshot + deltas must deliver every retained row exactly once")
    assert(got.agg(sum(col("key"))).head().getLong(0) == (0L until 120L).sum)
    // a CHECKPOINTED offset below the horizon fails with the clear
    // retention error, never a raw FileNotFoundException
    val stream = new graft.sources.KvMicroBatchStream(dir)
    val e = intercept[IllegalArgumentException] {
      stream.planInputPartitions(stream.deserializeOffset("5"),
        stream.deserializeOffset("12"))
    }
    assert(e.getMessage.contains("retention"), e.getMessage)
    rm(dir)
    rm(sinkDir)
    rm(ckpt)
  }

  test("startingVersion tails from a pinned version; legacy full manifests deliver once") {
    val dir = tmp("kv-startv")
    append(dir, 0, 10); append(dir, 10, 20); append(dir, 20, 25) // v1..v3
    val pinned = new graft.sources.KvMicroBatchStream(dir, Some(3L))
    assert(pinned.initialOffset().json() == "2")
    val parts = pinned.planInputPartitions(pinned.initialOffset(),
      pinned.deserializeOffset("3"))
    assert(parts.length == 1, "startingVersion=3 must plan exactly v3's file")
    // legacy r13 chains list the FULL set in every manifest: the
    // running-state diff must deliver each file once, not once per
    // version (the r14 double-delivery advice item)
    val leg = tmp("kv-legstream")
    new java.io.File(leg).mkdirs()
    (1 to 3).foreach { v =>
      stage(leg, s"part-leg-$v.dat", v.toLong)
      java.nio.file.Files.write(java.nio.file.Paths.get(leg, s"_manifest.v$v"),
        (1 to v).map(i => s"part-leg-$i.dat").mkString("\n").getBytes("UTF-8"))
    }
    val ls = new graft.sources.KvMicroBatchStream(leg)
    val all = ls.planInputPartitions(ls.initialOffset(), ls.deserializeOffset("3"))
    assert(all.length == 3,
      s"legacy full manifests must deliver 3 files once each, got ${all.length}")
    rm(dir)
    rm(leg)
  }

  test("DELETE is merge-on-read: dv masks at read, time travel pre-dates it, OPTIMIZE folds it") {
    val dir = tmp("kv-dv")
    append(dir, 0, 100) // v1
    val (n1, v1) = KvSource.deleteWhere(spark, dir, "key % 10 = 0")
    assert(n1 == 10L && v1 == 2L)
    assert(readAll(dir).count() == 90, "dv not applied by the scan")
    assert(!readAll(dir).where("key % 10 = 0").take(1).nonEmpty)
    // a second delete sees only LIVE rows (already-deleted keys are
    // never re-listed) and stacks on the first
    val (n2, _) = KvSource.deleteWhere(spark, dir, "key % 10 <= 1")
    assert(n2 == 10L, s"second dv must list only the %10=1 keys, got $n2")
    assert(readAll(dir).count() == 80)
    // no-match predicate publishes nothing
    val before = KvSource.latestVersion(dir).get
    assert(KvSource.deleteWhere(spark, dir, "key < 0") == ((0L, before)))
    assert(KvSource.latestVersion(dir).get == before)
    // time travel pre-dates the deletes
    def rowsAt(v: Long): Long = KvSource.read(spark, dir, Some(v)).count()
    assert(rowsAt(1L) == 100L && rowsAt(2L) == 90L && rowsAt(3L) == 80L)
    // the streaming source skips DV versions (deletes are not
    // re-delivered — the Delta ignoreDeletes contract, structural here)
    val st = new graft.sources.KvMicroBatchStream(dir)
    assert(st.planInputPartitions(st.deserializeOffset("1"),
      st.deserializeOffset("3")).isEmpty, "a DV commit delivered rows")
    // OPTIMIZE folds the DVs: one live-only file, dv set empty
    val (_, vOpt) = KvSource.optimizeCompact(spark, dir)
    val stAfter = KvSource.committedState(dir)
    assert(stAfter.files.size == 1 && stAfter.dvFiles.isEmpty)
    assert(readAll(dir).count() == 80)
    assert(readAll(dir).agg(sum(col("key"))).head().getLong(0) ==
      (0L until 100L).filter(k => k % 10 > 1).sum)
    assert(rowsAt(3L) == 80L, "pre-optimize snapshot must still apply its dv")
    // grow past the next checkpoint so vacuum can advance, then a
    // tight retention reclaims the replaced base files AND dv files
    (0 until 10 - vOpt.toInt).foreach(i => append(dir, 1000L + i * 10, 1000L + i * 10 + 10))
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".dat"))
      .foreach(_.setLastModified(System.currentTimeMillis() - 3600000))
    val (_, strays, _) = KvSource.vacuum(dir, retainLast = 1)
    assert(strays >= 3L, s"replaced base + dv files must be reclaimed, got $strays")
    assert(new java.io.File(dir).list().count(_.startsWith("dv-")) == 0)
    rm(dir)
  }

  test("RESTORE rolls the state back as a NEW version; time travel works both directions") {
    val dir = tmp("kv-restorespec")
    append(dir, 0, 10)   // v1
    append(dir, 10, 20)  // v2
    KvSource.optimizeCompact(spark, dir) // v3: one compacted file
    val v = KvSource.restore(dir, 1L)    // v4: state == v1
    assert(v == 4L)
    def rowsAt(v: Option[Long]): Long = KvSource.read(spark, dir, v).count()
    assert(rowsAt(None) == 10L, "latest must equal the v1 snapshot")
    assert(rowsAt(Some(3L)) == 20L, "forward time travel must survive the restore")
    assert(rowsAt(Some(2L)) == 20L && rowsAt(Some(1L)) == 10L)
    // restore is a CHANGE version: a streaming consumer resumes past
    // it without re-delivery (same structural skip as OPTIMIZE)
    val st = new graft.sources.KvMicroBatchStream(dir)
    assert(st.planInputPartitions(st.deserializeOffset("2"),
      st.deserializeOffset("4")).isEmpty)
    // restore of a DV state: delete, then roll the delete back
    append(dir, 20, 30) // v5
    KvSource.deleteWhere(spark, dir, "key >= 5") // v6: only 0..4 live
    assert(rowsAt(None) == 5L)
    KvSource.restore(dir, 5L) // v7: un-delete
    assert(rowsAt(None) == 20L, "restore must roll the dv set back too")
    rm(dir)
  }

  test("checkpoint retains the replay ledger as max-per-app; old epochs still absorb") {
    val dir = tmp("kv-txnmax")
    (0L until 12L).foreach { b =>
      stage(dir, s"part-app-$b.dat", b)
      KvSource.commitVersionKeyed(dir, Seq(KvSource.PartMeta(s"part-app-$b.dat")), Some(s"appA:$b"))
    }
    // v10 is a checkpoint: its ledger must be ONE line for appA
    val v10 = scala.io.Source.fromFile(KvSource.manifestFile(dir, 10L), "UTF-8")
    val txnLines = try v10.getLines().filter(_.startsWith("#txn:")).toList
                   finally v10.close()
    assert(txnLines == List("#txn:appA:9"),
      s"checkpoint must retain max-per-app, got $txnLines")
    // an epoch at or below the retained max absorbs even though its
    // individual key aged out of the ledger
    stage(dir, "part-app-replay.dat", 3L)
    KvSource.commitVersionKeyed(dir, Seq(KvSource.PartMeta("part-app-replay.dat")), Some("appA:3"))
    assert(KvSource.versions(dir).last == 12L, "replayed epoch 3 published a version")
    assert(!new java.io.File(dir, "part-app-replay.dat").exists())
    // the NEXT epoch (12) appends normally
    stage(dir, "part-app-12.dat", 12L)
    KvSource.commitVersionKeyed(dir, Seq(KvSource.PartMeta("part-app-12.dat")), Some("appA:12"))
    assert(KvSource.versions(dir).last == 13L)
    assert(KvSource.committedFiles(dir).size == 13)
    rm(dir)
  }

  test("ann_bucketed_serve: bucket-pruned scan, broadcast probe, equals the ivf probe") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // structural claims on an AQE-off session so exchange nodes are
    // real (the bucketed-join spec convention)
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val df = graft.sim.Ann.bucketedServe(s, sf)
    val plan = df.queryExecution.executedPlan
    assert(plan.toString.contains("SelectedBucketsCount"),
      "serving scan must bucket-prune to the probed cells")
    // the INDEX side never shuffles: no exchange anywhere below the
    // broadcast probe join — the assignment shuffle was paid at write
    val joins = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(joins.nonEmpty, "probe must broadcast-join onto the bucketed scan")
    val belowJoin = joins.head.collect { case e: ShuffleExchangeExec => e }
    assert(belowJoin.isEmpty,
      s"index side shuffled before the probe join: ${belowJoin.mkString("; ")}")
    // above the join only candidate-sized movement: the rank window +
    // the presentation sort
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size <= 2,
      s"serve plan must shuffle at most the rank window + output sort, " +
        s"got ${exchanges.size}")
    // result identity: the bucketed serve IS the ivf probe restricted
    // to queries 8-10 — the layout is a plan property, not a result
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val want = graft.sim.Ann.ivfTopk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter(_._1 < 11).toSeq
    assert(got.nonEmpty && got == want,
      s"bucketed serve diverged from the ivf probe:\ngot  $got\nwant $want")
    Caches.clearAll()
  }

  test("layout_prune_from_stats: catalog-only prune decisions re-derive from the data") {
    import graft.operators.Analytics
    val rows = Analytics.layoutPruneFromStats(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(rows.size == 7)
    // per-month ground truth, straight off the fact table
    val stats = Tables.lineitem(spark, sf)
      .selectExpr("CAST(date_format(l_shipdate, 'yyyyMM') AS BIGINT) AS m",
        "CAST(l_quantity AS BIGINT) AS q")
      .groupBy("m")
      .agg(min(col("q")).as("qmin"), max(col("q")).as("qmax"),
        count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val preds = Seq(
      (1L, "part_month", 199701L, 210001L), (2L, "part_month", 0L, 199306L),
      (3L, "part_month", 199401L, 199501L), (4L, "part_month", 199809L, 210001L),
      (5L, "l_quantity", 1L, 10L), (6L, "l_quantity", 45L, 51L),
      (7L, "l_quantity", 51L, 1000L))
    preds.foreach { case (id, dim, lo, hi) =>
      def skip(s: (Long, Long, Long, Long)): Boolean =
        if (dim == "part_month") s._1 < lo || s._1 >= hi
        else s._3 < lo || s._2 >= hi
      val skipped = stats.count(skip).toLong
      val scanned = stats.filterNot(skip).map(_._4).sum
      assert(rows(id) == ((dim, stats.length.toLong, skipped, scanned)),
        s"pred $id: got ${rows(id)} want ($dim, ${stats.length}, $skipped, $scanned)")
    }
    // the vacuous q > 50 probe is proved empty from stats alone
    assert(rows(7L)._3 == stats.length.toLong && rows(7L)._4 == 0L)
    Caches.clearAll()
  }

  test("change feed: inserts once each across a checkpoint, deletes carry values, rewrites silent") {
    val dir = tmp("kv-cdfspec")
    // 12 appends cross the v10 checkpoint — the checkpoint RE-LISTS
    // old files, and the feed must not re-emit them as inserts
    (0 until 12).foreach(i => append(dir, i * 10L, i * 10L + 10L))
    val ins = KvSource.changeFeed(spark, dir, 0L, 12L)
    assert(ins.count() == 120L, "every appended row exactly once")
    assert(ins.filter(col("change_type") =!= "insert").count() == 0L)
    assert(ins.groupBy("commit_version").count().count() == 12L)
    // DELETE: emitted rows carry their VALUES from the pre-delete state
    KvSource.deleteWhere(spark, dir, "key < 5") // v13
    val del = KvSource.changeFeed(spark, dir, 12L, 13L).collect()
    assert(del.length == 5 && del.forall(_.getString(2) == "delete"))
    assert(del.map(_.getLong(0)).sorted.toSeq == (0L until 5L) &&
      del.forall(_.getString(1) == "x"), "delete rows must carry values")
    // OPTIMIZE: a rewrite is NOT a logical change
    KvSource.optimizeCompact(spark, dir) // v14
    assert(KvSource.changeFeed(spark, dir, 13L, 14L).count() == 0L)
    // a vacuumed range fails with the clear retention error
    KvSource.vacuum(dir, retainLast = 3)
    val e = intercept[IllegalArgumentException] {
      KvSource.changeFeed(spark, dir, 0L, 14L).count()
    }
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
    rm(dir)
  }

  test("maxVersionsPerTrigger: admission clamps each batch; AvailableNow drains in bounded steps") {
    val dir = tmp("kv-ratespec")
    (0 until 5).foreach(i => append(dir, i * 10L, i * 10L + 10L))
    // unit contract: the admission-control offset clamps to start + N,
    // and composes with the AvailableNow pin
    val st = new graft.sources.KvMicroBatchStream(dir, None, Some(2L))
    assert(st.latestOffset(st.deserializeOffset("0"), st.getDefaultReadLimit).json() == "2")
    assert(st.latestOffset(st.deserializeOffset("4"), st.getDefaultReadLimit).json() == "5")
    st.prepareForTriggerAvailableNow()
    append(dir, 900L, 910L) // lands after the pin
    assert(st.latestOffset(st.deserializeOffset("4"), st.getDefaultReadLimit).json() == "5",
      "rate limit must clamp to the AvailableNow pin, not the new tip")
    // end-to-end: a rate-limited AvailableNow drain is complete and
    // exactly-once, in one-version micro-batches (one sink epoch each)
    val ckpt = tmp("kv-ratespec-ckpt")
    val sinkDir = tmp("kv-ratespec-sink")
    val q = spark.readStream.format(classOf[KvSource].getName)
      .option("path", dir).option("maxVersionsPerTrigger", "1").load()
      .writeStream.format(classOf[KvSource].getName)
      .option("path", sinkDir).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val sunk = readAll(sinkDir)
    assert(sunk.count() == 60L, "drain must deliver all 6 versions' rows")
    val nonEmpty = KvSource.versions(sinkDir)
      .count(v => KvSource.readManifest(sinkDir, v).adds.nonEmpty)
    assert(nonEmpty == 6,
      s"expected 6 one-version micro-batches, saw $nonEmpty non-empty epochs")
    rm(dir)
    rm(sinkDir)
    rm(ckpt)
  }

  test("a plain append on a CHECKPOINT version with a live DV is not mistaken for a change") {
    // r15 review fix: checkpoints re-list the accumulated DV set; when
    // that rode the same '#dv:' header as a real DELETE, a plain
    // append landing on a checkpoint version (v10 here, DV live since
    // v8) classified as a CHANGE and its rows silently vanished from
    // the stream and the change feed
    val dir = tmp("kv-dvckpt")
    (0 until 7).foreach(i => append(dir, i * 10L, i * 10L + 10L)) // v1..v7
    KvSource.deleteWhere(spark, dir, "key < 3")                   // v8: DV live
    append(dir, 100, 110) // v9
    append(dir, 110, 120) // v10 — the checkpoint version, a PLAIN append
    append(dir, 120, 130) // v11
    assert(readAll(dir).count() == 97L) // 70 appended − 3 deleted + 30
    val st = new graft.sources.KvMicroBatchStream(dir)
    val parts = st.planInputPartitions(st.deserializeOffset("0"),
      st.deserializeOffset("11"))
    assert(parts.length == 10,
      s"each append's one file exactly once (v10's included), got ${parts.length}")
    val cdf = KvSource.changeFeed(spark, dir, 0L, 11L)
    assert(cdf.filter(col("change_type") === "insert").count() == 100L,
      "every appended row must appear as an insert exactly once")
    assert(cdf.filter(col("change_type") === "insert" &&
      col("commit_version") === 10L).count() == 10L,
      "the checkpoint-version append's rows must reach the feed")
    assert(cdf.filter(col("change_type") === "delete").count() == 3L)
    rm(dir)
  }

  test("expectedPrior pins a publish to its diffed snapshot: concurrent commits conflict") {
    val dir = tmp("kv-pin")
    append(dir, 0, 10); append(dir, 10, 20) // v1, v2
    // the diff was computed at v1, but v2 landed since: conflict
    val e = intercept[IllegalStateException] {
      KvSource.commitVersionKeyed(dir, Seq.empty, None, expectedPrior = Some(1L))
    }
    assert(e.getMessage.contains("concurrent commit"), e.getMessage)
    // a pin matching the true latest publishes
    assert(KvSource.commitVersionKeyed(dir, Seq.empty, None,
      expectedPrior = Some(2L)) == 3L)
    rm(dir)
  }

  test("MERGE is copy-on-write: updates replace, inserts land, DELETED keys resurrect") {
    val dir = tmp("kv-mergespec")
    append(dir, 0, 100)                            // v1
    KvSource.deleteWhere(spark, dir, "key < 10")   // v2: 0..9 tombstoned (90 live)
    val updates = spark.range(5, 15).selectExpr("id AS key", "'u' AS val")
    val (matched, inserted, v) = KvSource.mergeUpsert(spark, dir, updates)
    // 10..14 are live matches; 5..9 are tombstoned → INSERTS (the
    // resurrect case a DV-based merge cannot express)
    assert(matched == 5L && inserted == 5L && v == 3L,
      s"got matched=$matched inserted=$inserted v=$v")
    val now = readAll(dir)
    assert(now.count() == 95L)
    assert(now.filter(col("val") === "u").count() == 10L, "all 10 update rows visible")
    assert(now.filter(col("key") < 5).count() == 0L, "non-resurrected deletes stay dead")
    assert(now.filter(col("key") === 5L).count() == 1L, "no duplicate for a resurrected key")
    assert(now.filter(col("key") === 12L && col("val") === "u").count() == 1L)
    // merge folded the DV set away (COW) and time travel pre-dates it
    assert(KvSource.committedState(dir).dvFiles.isEmpty)
    def rowsAt(x: Long) = KvSource.read(spark, dir, Some(x)).count()
    assert(rowsAt(2L) == 90L && rowsAt(1L) == 100L)
    // CDF sidecars: 5 pre-image deletes (the replaced live rows, val
    // from BEFORE the merge) + 10 inserts
    val cdf = KvSource.changeFeed(spark, dir, 2L, 3L).collect()
    val del = cdf.filter(_.getString(2) == "delete")
    assert(del.length == 5 && del.forall(_.getString(1) == "x"),
      "deletes must carry pre-image values")
    assert(del.map(_.getLong(0)).sorted.toSeq == (10L until 15L))
    assert(cdf.count(_.getString(2) == "insert") == 10)
    // the streaming source treats the merge as a CHANGE: no re-delivery
    val st = new graft.sources.KvMicroBatchStream(dir)
    assert(st.planInputPartitions(st.deserializeOffset("2"),
      st.deserializeOffset("3")).isEmpty)
    rm(dir)
    // duplicate live rows for one key (an append log has no key
    // uniqueness): ALL copies are replaced and each appears as a CDF
    // pre-image delete, but the KEY counts once — matched is key-level
    val dup = tmp("kv-mergedup")
    append(dup, 0, 10); append(dup, 5, 10) // keys 5..9 live TWICE
    val (m2, i2, _) = KvSource.mergeUpsert(spark, dup,
      spark.range(5, 6).selectExpr("id AS key", "'z' AS val"))
    assert(m2 == 1L && i2 == 0L, s"key-level counts: got ($m2, $i2)")
    assert(readAll(dup).where("key = 5").count() == 1L, "one row survives the upsert")
    assert(KvSource.changeFeed(spark, dup, 2L, 3L)
      .filter(col("change_type") === "delete").count() == 2L,
      "both pre-image copies appear in the feed")
    rm(dup)
  }

  test("pushdown file skipping: key ranges prune on #stats zones, residuals stay exact") {
    val dir = tmp("kv-skipspec")
    append(dir, 0, 10); append(dir, 10, 20); append(dir, 20, 30); append(dir, 30, 40)
    val probe = readAll(dir).where("key >= 25 AND key < 32")
    assert(probe.rdd.getNumPartitions == 2,
      s"range [25,32) must plan files 3+4 only, got ${probe.rdd.getNumPartitions}")
    assert(probe.count() == 7L)
    assert(probe.agg(sum(col("key"))).head().getLong(0) == (25L until 32L).sum)
    assert(probe.queryExecution.executedPlan.toString.contains("keyBounds=[25,31]"),
      "explain must show the pushed key window")
    // equality probes plan ONE file; non-key filters prune nothing
    val one = readAll(dir).where("key = 15")
    assert(one.rdd.getNumPartitions == 1 && one.count() == 1L)
    val vprobe = readAll(dir).where(col("val") === "x")
    assert(vprobe.rdd.getNumPartitions == 4 && vprobe.count() == 40L)
    // a rewrite's output records FRESH stats (r17: the compaction
    // writer went through the shared PartMeta path) → still exact
    KvSource.optimizeCompact(spark, dir) // v5: one compacted file [0,39]
    val after = readAll(dir).where("key >= 25 AND key < 32")
    assert(after.rdd.getNumPartitions == 1 && after.count() == 7L)
    // stats SURVIVE the checkpoint fold: grow to v11 (v10 re-lists the
    // live stats map); a tight probe must prune to exactly the ONE
    // covering file — the compacted file's own zone [0,39] now prunes
    (0 until 6).foreach(i => append(dir, 40L + i * 10, 50L + i * 10)) // v6..v11
    val late = readAll(dir).where("key >= 95")
    assert(late.rdd.getNumPartitions == 1,
      s"post-checkpoint probe must plan only the matching file, got ${late.rdd.getNumPartitions}")
    assert(late.count() == 5L)
    rm(dir)
  }

  test("load_restore / load_delete_verb ledgers match the protocol constants") {
    val rRows = SourceQueries.restoreOp(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val n = Tables.customer(spark, sf).count()
    val n0 = Tables.customer(spark, sf).filter(col("c_custkey") % 3 === 0).count()
    assert(rRows(("01_before", "rows_at_v1")) == n0)
    assert(rRows(("02_restore", "version_published")) == 4L)
    assert(rRows(("03_after", "rows_latest")) == n0)
    assert(rRows(("03_after", "rows_at_v3_forward")) == n)
    val dRows = SourceQueries.deleteVerbOp(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val nd = Tables.customer(spark, sf).filter(col("c_custkey") % 7 === 0).count()
    assert(dRows(("02_delete", "keys_deleted")) == nd)
    assert(dRows(("03_after_delete", "rows_readable")) == n - nd)
    assert(dRows(("03_after_delete", "rows_at_v1")) == n)
    assert(dRows(("04_optimize", "rows_readable")) == n - nd)
    assert(dRows(("04_optimize", "files")) == 1L)
    assert(dRows(("04_optimize", "dv_files")) == 0L)
  }
}
