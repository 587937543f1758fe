package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.KvSource
import graft.operators.SourceQueries

/** Round-14 batch-1: commit-log checkpoint + retention (the Delta
  * checkpoint/VACUUM pattern on the KvSource manifest chain) and the
  * TRUE streaming DSv2 write path (STREAMING_WRITE epochs through the
  * same CAS, replay-absorbed).
  */
class Widening14Spec extends AnyFunSuite {
  import SparkTestSession._
  import KvFixture._

  test("a 200-commit chain resolves from the checkpoint, not the full walk") {
    val dir = tmp("kv-200")
    (1 to 200).foreach { i =>
      val name = s"part-long-$i.dat"
      stage(dir, name, i.toLong)
      KvSource.commitVersion(dir, Seq(name), batchId = None)
    }
    assert(KvSource.foldBase(200L) == 200L, "v200 is itself a checkpoint")
    // the proof that resolution never walks the chain: delete EVERY
    // manifest below the checkpoint — latest must stay fully readable
    (1L to 199L).foreach(v => KvSource.manifestFile(dir, v).delete())
    assert(KvSource.committedFiles(dir).size == 200,
      "latest state must resolve from the v200 checkpoint alone")
    assert(readAll(dir).count() == 200)
    // a version whose fold base was dropped fails with a clear error,
    // naming the missing manifest — the retention contract
    stage(dir, "part-long-201.dat", 201L)
    KvSource.commitVersion(dir, Seq("part-long-201.dat"), batchId = None)
    KvSource.manifestFile(dir, 200L).delete()
    val e = intercept[IllegalArgumentException] { KvSource.committedFiles(dir) }
    assert(e.getMessage.contains("v200"), s"error must name the fold base: ${e.getMessage}")
    rm(dir)
  }

  test("vacuum drops below-base manifests and strays, keeps the horizon readable") {
    val dir = tmp("kv-vac")
    (1 to 23).foreach { i =>
      val name = s"part-vac-$i.dat"
      stage(dir, name, i.toLong)
      KvSource.commitVersion(dir, Seq(name), batchId = None)
    }
    stage(dir, "part-stray-never-committed.dat", 999L)
    new java.io.File(dir, "part-stray-never-committed.dat")
      .setLastModified(System.currentTimeMillis() - 60L * 60 * 1000)
    // an IN-FLIGHT unreferenced file (fresh mtime = a commit that may
    // be about to publish its manifest) must survive the sweep
    stage(dir, "part-stray-inflight.dat", 998L)
    // retainLast=4 → horizon v20, fold base 20 → v1..v19 dropped
    val (dropped, strays, oldest) = KvSource.vacuum(dir, retainLast = 4)
    assert(dropped == 19L && strays == 1L && oldest == 20L, s"($dropped,$strays,$oldest)")
    assert(new java.io.File(dir, "part-stray-inflight.dat").exists(),
      "vacuum deleted a fresh unreferenced file — in-flight commits are not safe")
    assert(!new java.io.File(dir, "part-stray-never-committed.dat").exists())
    assert(KvSource.versions(dir) == (20L to 23L))
    // everything at or above the fold base stays time-travelable
    (20L to 23L).foreach { v =>
      assert(KvSource.committedFiles(dir, Some(v)).size == v,
        s"v$v must still resolve after vacuum")
    }
    assert(readAll(dir).count() == 23, "no referenced data file was deleted")
    // below the horizon: clear error, not a silent wrong answer
    val e = intercept[IllegalArgumentException] {
      KvSource.committedFiles(dir, Some(15L))
    }
    assert(e.getMessage.contains("versionAsOf=15"))
    // idempotent: a second vacuum finds nothing to do
    assert(KvSource.vacuum(dir, retainLast = 4) == ((0L, 0L, 20L)))
    rm(dir)
  }

  test("writeStream commits epochs through the CAS chain; a forced epoch replay adds zero rows") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tmp("kv-sw")
    val ckpt = tmp("kv-sw-ckpt")
    val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    def stopped(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      q.stop()
      // stop() can return a beat before the manager releases the
      // checkpoint-path registration — wait it out before a restart
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (spark.streams.active.exists(_.id == q.id) && System.nanoTime() < deadline)
        Thread.sleep(50)
    }
    def start() = src.toDS().selectExpr("value AS key", "CAST(value % 3 AS STRING) AS val")
      .writeStream.format(classOf[KvSource].getName)
      .option("path", dir).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q = start()
    src.addData(1L to 10L: _*); q.processAllAvailable()
    src.addData(11L to 20L: _*); q.processAllAvailable()
    stopped(q)
    assert(readAll(dir).count() == 20)
    val keySum = readAll(dir).agg(sum(col("key"))).head().getLong(0)
    // force a replay: drop the newest engine-side commit marker — on
    // restart Spark re-runs that micro-batch with the SAME epoch id,
    // and the sink must absorb it (its #batch: entry is already in
    // the manifest chain)
    val commitsDir = new java.io.File(ckpt, "commits")
    val last = commitsDir.listFiles().map(_.getName).filter(_.forall(_.isDigit)).map(_.toLong).max
    assert(new java.io.File(commitsDir, last.toString).delete())
    new java.io.File(commitsDir, s".$last.crc").delete() // hadoop checksum sidecar
    val q2 = start()
    q2.processAllAvailable(); stopped(q2)
    assert(readAll(dir).count() == 20, "replayed epoch added rows")
    assert(readAll(dir).agg(sum(col("key"))).head().getLong(0) == keySum)
    // the stream is still live after the replay: new data appends
    val q3 = start()
    src.addData(21L to 25L: _*); q3.processAllAvailable(); stopped(q3)
    assert(readAll(dir).count() == 25)
    rm(dir)
    rm(ckpt)
  }

  test("layout_stats_sweep: per-table row counts pinned; no Expand in the plan") {
    import graft.operators.Analytics
    val df = Analytics.layoutStatsSweep(spark, sf)
    // Expand-free across ALL four branches: a multi-countDistinct
    // rewrite would replicate every scan
    val expands = df.queryExecution.optimizedPlan.collect {
      case e: org.apache.spark.sql.catalyst.plans.logical.Expand => e
    }
    assert(expands.isEmpty, "ANALYZE sweep must not Expand-replicate any scan")
    val rows = df.collect()
    val byTable = rows.groupBy(_.getString(0)).view.mapValues(_.length).toMap
    // partitions × tracked columns per table, recomputed from the data
    val oMonths = Tables.orders(spark, sf)
      .selectExpr("date_format(o_orderdate, 'yyyyMM')").distinct().count()
    val lMonths = Tables.lineitem(spark, sf)
      .selectExpr("date_format(l_shipdate, 'yyyyMM')").distinct().count()
    val dSources = Tables.documents(spark, sf).select("source").distinct().count()
    assert(byTable("orders") == oMonths * 4, s"orders: ${byTable("orders")}")
    assert(byTable("lineitem") == lMonths * 4, s"lineitem: ${byTable("lineitem")}")
    assert(byTable("customer") == 3L)
    assert(byTable("documents") == dSources * 3, s"documents: ${byTable("documents")}")
    // spot-check one cell against a direct aggregate: customer ndv of
    // mktsegment and the lineitem quantity min/max
    val seg = rows.find(r => r.getString(0) == "customer" && r.getString(2) == "c_mktsegment").get
    assert(seg.getLong(5) ==
      Tables.customer(spark, sf).select("c_mktsegment").distinct().count())
    assert(seg.getLong(6) == 0L)
  }

  test("layout_stats_sweep_approx: all contract bits 1, cell parity with exact, no Expand") {
    import graft.operators.Analytics
    val df = Analytics.layoutStatsSweepApprox(spark, sf)
    val expands = df.queryExecution.optimizedPlan.collect {
      case e: org.apache.spark.sql.catalyst.plans.logical.Expand => e
    }
    assert(expands.isEmpty, "sketch sweep must stay Expand-free")
    val rows = df.collect()
    assert(rows.length == Analytics.layoutStatsSweep(spark, sf).count(),
      "sketch sweep must cover exactly the exact sweep's cells")
    assert(rows.forall(_.getLong(4) == 1L),
      "every HLL estimate must sit inside the 3-sigma contract band")
  }

  test("ann_incremental_assign: batch routes via the broadcast codebook, never a corpus rejoin") {
    import graft.sim.Ann
    val df = Ann.incrementalAssign(spark, sf)
    // structural proof of "never rescans the corpus": since r18 the
    // codebook is driver-collected and the assignment argmin is a
    // map-side scalar over literal centroids, so the plan's ONLY join
    // is the k-row cell-ledger full outer — not even the former two
    // k-row codebook cross joins remain, and no join keys fact rows
    // against fact rows
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.size == 1, s"expected only the ledger full-outer merge, got ${joins.size}")
    assert(joins.count(_.joinType == org.apache.spark.sql.catalyst.plans.FullOuter) == 1)
    val rows = df.collect()
    assert(rows.length == 8)
    val e = Tables.embeddings(spark, sf)
    assert(rows.map(_.getLong(3)).sum == e.count(), "n_after covers the whole corpus")
    assert(rows.map(_.getLong(2)).sum ==
      e.filter(col("vec_id") % 10 === 9).count(), "n_new is exactly the batch")
    // internal consistency of the ledger math
    val totBase = rows.map(_.getLong(1)).sum
    val totAfter = rows.map(_.getLong(3)).sum
    rows.foreach { r =>
      val before = r.getLong(1) * 10000 / totBase
      val after = r.getLong(3) * 10000 / totAfter
      assert(r.getLong(4) == before && r.getLong(5) == after)
      assert(r.getLong(6) == math.abs(before - after))
      assert(r.getLong(7) == (if (math.abs(before - after) >= 50) 1L else 0L))
    }
  }

  test("text_bpe_train_iter matches a driver-side fold; learned merges COMPOSE") {
    import graft.text.TextOps
    val got = TextOps.bpeTrainIter(spark, sf).collect()
    assert(got.length == 10)
    // driver re-derivation: same recurrence over the collected vocab
    // (Java String.replace is literal left-to-right non-overlapping —
    // the same semantics as SQL replace on both engines)
    val vocab0: Map[String, Long] = Tables.documents(spark, sf)
      .select("text").collect().iterator
      .flatMap(r => Option(r.getString(0)).getOrElse("").split(" "))
      .filter(_.matches("^[a-z]+$"))
      .toSeq.groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    var vocab: Map[String, Long] =
      vocab0.map { case (w, n) => (" " + w.map(c => s"$c ").mkString) -> n }
    (0 until 10).foreach { r =>
      val weights = scala.collection.mutable.Map.empty[String, Long]
      vocab.foreach { case (toks, n) =>
        val t = toks.trim.split(" ")
        t.sliding(2).filter(_.length == 2).foreach { p =>
          val key = p.mkString(" ")
          weights(key) = weights.getOrElse(key, 0L) + n
        }
      }
      val (pair, w) = weights.toSeq.minBy { case (p, wt) => (-wt, p) }
      val merged = pair.replace(" ", "")
      vocab = vocab.groupBy { case (toks, _) =>
        toks.replace(s" $pair ", s" $merged ").replace(s" $pair ", s" $merged ")
      }.map { case (toks, g) => toks -> g.values.sum }
      val tokensAfter = vocab.iterator
        .map { case (toks, n) => n * toks.trim.split(" ").length }.sum
      val row = got(r)
      assert(row.getString(1) == pair && row.getString(2) == merged,
        s"round ${r + 1}: got (${row.getString(1)}) want ($pair)")
      assert(row.getLong(3) == w && row.getLong(4) == tokensAfter,
        s"round ${r + 1}: weight/tokens diverge")
    }
    // the whole point of iterating: at least one merge consumes a
    // previously LEARNED token (merged length > 2)
    assert(got.exists(_.getString(2).length > 2),
      "no composing merge in 10 rounds — single-level behavior")
  }

  test("load_deletion_vectors: mask totals re-derive from the delete rule") {
    val rows = SourceQueries.deletionVectors(spark, sf).collect()
    val o = Tables.orders(spark, sf)
    assert(rows.map(_.getLong(1)).sum == o.count())
    assert(rows.map(_.getLong(3)).sum ==
      o.filter(col("o_orderkey") % 13 === 0).count())
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3), "live + deleted = rows")
      assert(r.getLong(5) == (if (r.getLong(4) >= 2000) 1L else 0L))
    }
  }

  test("ingest_load_order: the discovered-FK topology orders parents before children") {
    val rows = SourceQueries.loadOrderPlan(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(rows == Map(
      "nation" -> ((0L, 0L, "")),
      "customer" -> ((1L, 1L, "nation")),
      "supplier" -> ((1L, 1L, "nation")),
      "orders" -> ((2L, 1L, "customer")),
      "lineitem" -> ((3L, 1L, "orders"))),
      s"unexpected load order: $rows")
  }

  test("embed_kmeanspp_seed: separations non-increasing and spread beats the naive seed") {
    import graft.sim.Ann
    val rows = Ann.kmeansppSeed(spark, sf).collect()
    assert(rows.length == 8 && rows.head.getLong(1) == 0L)
    val seps = rows.drop(1).map(_.getLong(2))
    assert(seps.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)),
      "farthest-point separations must be non-increasing")
    // spread = min pairwise squared distance among the seed set
    val emb = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "transform(CAST(embedding AS ARRAY<DOUBLE>), x -> CAST(FLOOR(x * 1000000) AS BIGINT)) AS xq")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    def spread(ids: Seq[Long]): Long =
      ids.combinations(2).map { case Seq(a, b) =>
        emb(a).zip(emb(b)).map { case (x, y) => (x - y) * (x - y) }.sum
      }.min
    val kpp = spread(rows.map(_.getLong(1)).toSeq)
    val naive = spread(0L to 7L)
    assert(kpp > naive,
      s"farthest-point spread $kpp must beat the first-8 seed spread $naive")
  }

  test("dlp_transformation_summary: the audit re-derives per transform") {
    import graft.operators.DlpQueries
    val rows = DlpQueries.dlpTransformationSummary(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    val nCust = Tables.customer(spark, sf).count()
    val nOrd = Tables.orders(spark, sf).count()
    // deterministic token: every non-null cell changes; output is
    // always 'TOK_' + 32 hex = 36 bytes
    val (nc, ch, _, ba) = rows(("customer", "c_name"))
    assert(nc == nCust && ch == nCust && ba == nCust * 36)
    // date shift: context keys with o_custkey % 61 == 30 shift by ZERO
    // — the audit must count them as unchanged
    val zeroShift = Tables.orders(spark, sf)
      .filter(col("o_custkey") % 61 === 30).count()
    val (no, cho, bb, bao) = rows(("orders", "o_orderdate"))
    assert(no == nOrd && cho == nOrd - zeroShift,
      s"date-shift changed $cho, want ${nOrd - zeroShift}")
    assert(bb == bao, "a pure date shift never changes the byte length")
    assert(rows.contains(("customer", "c_acctbal")) && rows.size == 3)
  }

  test("replay ledger is scoped per writer: same batch number from another app appends") {
    val dir = tmp("kv-txn")
    def commit(name: String, key: String): Long = {
      stage(dir, name, 1L)
      KvSource.commitVersionKeyed(dir, Seq(KvSource.PartMeta(name)), Some(key))
    }
    commit("part-a0.dat", "appA:0")
    commit("part-b0.dat", "appB:0") // a DIFFERENT writer's batch 0: must land
    assert(KvSource.committedFiles(dir).size == 2,
      "another app's batch 0 was falsely absorbed as a replay")
    // the same writer re-offering ITS batch 0 is absorbed
    stage(dir, "part-a0-replay.dat", 1L)
    KvSource.commitVersionKeyed(dir, Seq(KvSource.PartMeta("part-a0-replay.dat")), Some("appA:0"))
    assert(KvSource.committedFiles(dir).size == 2, "same-app replay added rows")
    assert(!new java.io.File(dir, "part-a0-replay.dat").exists())
    // legacy r13 '#batch:<n>' headers parse into the empty-app space:
    // a bare batchId commit dedupes against them
    java.nio.file.Files.write(
      new java.io.File(KvSource.logDir(dir), "_manifest.v3").toPath,
      "#batch:7\npart-legacy.dat".getBytes("UTF-8"))
    stage(dir, "part-legacy.dat", 7L)
    stage(dir, "part-legacy-replay.dat", 7L)
    KvSource.commitVersion(dir, Seq("part-legacy-replay.dat"), Some(7L))
    assert(KvSource.committedFiles(dir).size == 3, "legacy batch 7 replay added rows")
    rm(dir)
  }

  test("OPTIMIZE is atomic: no version double-counts; conflicts and vacuum behave") {
    val dir = tmp("kv-opt")
    (0 until 6).foreach(i => append(dir, i * 10L, i * 10L + 10L))
    val oldFiles = KvSource.committedFiles(dir)
    assert(oldFiles.size == 6)
    val (removed, v) = KvSource.optimizeCompact(spark, dir)
    assert(removed == 6L && v == 7L)
    // EVERY version reads its exact historical row count — the
    // compaction version shows the full set ONCE, never doubled
    (1L to 6L).foreach { i =>
      assert(KvSource.committedFiles(dir, Some(i)).size == i)
    }
    assert(KvSource.committedFiles(dir, Some(7L)) ==
      KvSource.committedFiles(dir))
    assert(KvSource.committedFiles(dir).size == 1)
    def rows(asOf: Option[Long]): Long = KvSource.read(spark, dir, asOf).count()
    assert(rows(None) == 60L && rows(Some(6L)) == 60L && rows(Some(3L)) == 30L)
    // a second commit that tries to remove the ALREADY-REPLACED files
    // is a conflict, not a silent no-op
    val e = intercept[IllegalStateException] {
      KvSource.commitVersionKeyed(dir, Seq.empty, None, removeFiles = oldFiles)
    }
    assert(e.getMessage.contains("not in the current state"))
    // vacuum with the retained horizon covering pre-compaction
    // versions keeps the replaced files (those snapshots still read
    // them) — the union-referenced rule, not latest-only
    oldFiles.foreach(f =>
      new java.io.File(dir, f).setLastModified(System.currentTimeMillis() - 3600000))
    val (_, strays0, _) = KvSource.vacuum(dir, retainLast = 7)
    assert(strays0 == 0L, "vacuum deleted files still referenced by retained versions")
    assert(rows(Some(6L)) == 60L)
    // grow the chain past the next checkpoint (v10) so the horizon can
    // actually advance, then a tight retention reclaims the replaced
    // files; latest stays fully readable
    (6 until 9).foreach(i => append(dir, i * 10L, i * 10L + 10L)) // v8..v10
    assert(KvSource.versions(dir).last == 10L)
    val (droppedM, strays1, oldest) = KvSource.vacuum(dir, retainLast = 1)
    assert(oldest == 10L && droppedM == 9L)
    assert(strays1 == 6L, s"expected the 6 replaced files reclaimed, got $strays1")
    assert(rows(None) == 90L)
    rm(dir)
  }

  test("readStream tails the commit log: resume delivers only NEW versions; rewrites skipped") {
    val dir = tmp("kv-tailspec")
    val ckpt = tmp("kv-tailspec-ckpt")
    // sink = a SECOND kv table: the memory sink can't recover from a
    // checkpoint, and piping kv → kv exercises BOTH streaming halves
    // (micro-batch source + epoch-committing sink) end to end
    val sinkDir = tmp("kv-tailsink")
    def runOnce(): Unit = {
      val q = spark.readStream.format(classOf[KvSource].getName)
        .option("path", dir).load()
        .writeStream.format(classOf[KvSource].getName)
        .option("path", sinkDir)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def sinkRows() = readAll(sinkDir)
    append(dir, 0, 10); append(dir, 10, 20)
    runOnce()
    assert(sinkRows().count() == 20)
    // between runs: an OPTIMIZE (must deliver NOTHING) + a real append
    KvSource.optimizeCompact(spark, dir)
    append(dir, 20, 25)
    runOnce()
    // resume from the checkpoint: exactly the 5 new rows, no
    // re-delivery of the first 20 and none of the rewrite's copies
    assert(sinkRows().count() == 25,
      s"expected 25 rows after resume, got ${sinkRows().count()}")
    assert(sinkRows().agg(sum(col("key"))).head().getLong(0) == (0L until 25L).sum)
    rm(dir)
    rm(sinkDir)
    rm(ckpt)
  }

  test("load_manifest_compaction ledger matches the protocol constants") {
    val rows = SourceQueries.manifestCompaction(spark, sf).collect()
    val byKey = rows.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val custRows = Tables.customer(spark, sf).count()
    assert(byKey(("01_before", "versions")) == 12L)
    assert(byKey(("01_before", "manifests_read_for_latest")) == 3L)
    assert(byKey(("01_before", "rows_readable")) == custRows)
    assert(byKey(("02_vacuum", "manifests_dropped")) == 9L)
    assert(byKey(("02_vacuum", "strays_removed")) == 1L)
    assert(byKey(("02_vacuum", "oldest_readable")) == 10L)
    assert(byKey(("03_after", "versions")) == 3L)
    assert(byKey(("03_after", "rows_readable")) == custRows)
    assert(rows.length == 8)
  }
}
