package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.KvSource
import graft.operators.SourceQueries

/** MODEL-BASED verification of the whole commit-log verb set: a
  * seeded pseudo-random sequence of verbs (append / DELETE / MERGE /
  * UPDATE / OPTIMIZE / RESTORE / vacuum / protocol upgrade) is applied
  * to BOTH the real KvSource table and a driver-side reference model
  * (a row multiset — the log is an append log, duplicate (key, val)
  * rows are legal). After every verb:
  *   - the table's readable rows must equal the model exactly;
  * and at the end of each run:
  *   - every still-retained version must time-travel to the model
  *     snapshot recorded when it was published;
  *   - the change feed's NET effect per (key, val) over the whole
  *     retained range must equal the final model minus the earliest
  *     retained snapshot (the IVM theorem, at multiset grain).
  *
  * This is the cross-verb interaction coverage the per-verb specs
  * can't give: a MERGE after a DELETE after an OPTIMIZE under a
  * checkpoint boundary, in whatever order the seed dictates.
  */
class KvLogModelSpec extends AnyFunSuite {
  import SparkTestSession._

  private type Model = Map[(Long, String), Int] // row multiset

  private def readRows(dir: String, asOf: Option[Long] = None): Model = {
    val r = spark.read.format(classOf[KvSource].getName).option("path", dir)
    asOf.foreach(v => r.option("versionAsOf", v.toString))
    r.load().collect()
      .groupBy(x => (x.getLong(0), x.getString(1))).map { case (k, v) => k -> v.length }
  }

  private def plus(m: Model, rows: Seq[(Long, String)]): Model =
    rows.foldLeft(m)((acc, r) => acc.updated(r, acc.getOrElse(r, 0) + 1))

  test("a row appended after its key was deleted is visible (version-scoped DVs)") {
    // the bug the model runs found (seed 99): a DV used to be a GLOBAL
    // key tombstone that silently swallowed later appends of the key
    val dir = java.nio.file.Files.createTempDirectory("graft-kv-vdv").toString
    spark.range(0, 10).selectExpr("id AS key", "'old' AS val").repartition(1)
      .write.format(classOf[KvSource].getName)
      .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
    KvSource.deleteWhere(spark, dir, "key = 3")
    spark.range(3, 4).selectExpr("id AS key", "'new' AS val").repartition(1)
      .write.format(classOf[KvSource].getName)
      .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
    val rows = readRows(dir)
    assert(rows.getOrElse((3L, "new"), 0) == 1, s"appended row lost: $rows")
    assert(rows.getOrElse((3L, "old"), 0) == 0, "the deleted copy must stay dead")
    assert(rows.values.sum == 10)
    // the delete's CDF retraction is the OLD copy only, exactly once
    val cdf = KvSource.changeFeed(spark, dir, 1L, 3L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(cdf.toSet == Set((3L, "old", "delete"), (3L, "new", "insert")), cdf.toSeq.toString)
    // a second delete of the key retracts the NEW copy, not the dead one
    KvSource.deleteWhere(spark, dir, "key = 3")
    val cdf2 = KvSource.changeFeed(spark, dir, 3L, 4L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(cdf2.toSeq == Seq((3L, "new", "delete")), cdf2.toSeq.toString)
    assert(readRows(dir).values.sum == 9)
    SourceQueries.deleteRecursively(new java.io.File(dir))
  }

  test("merge-on-read: zero rewrite, tombstones mask old copies, resurrect works") {
    val dir = java.nio.file.Files.createTempDirectory("graft-kv-mor").toString
    spark.range(0, 100).selectExpr("id AS key", "'x' AS val").repartition(2)
      .write.format(classOf[KvSource].getName)
      .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save() // v1
    KvSource.deleteWhere(spark, dir, "key < 10") // v2: 0..9 tombstoned
    val filesBefore = KvSource.committedFiles(dir).toSet
    val updates = spark.range(5, 15).selectExpr("id AS key", "'u' AS val")
    val (matched, inserted, v) = KvSource.mergeOnRead(spark, dir, updates)
    // 10..14 live -> matched; 5..9 dead -> inserts (resurrect)
    assert(matched == 5L && inserted == 5L && v == 3L,
      s"got ($matched, $inserted, $v)")
    // ZERO data-file rewrite: every pre-merge file survives by name
    val after = KvSource.committedFiles(dir).toSet
    assert((filesBefore -- after).isEmpty, "MOR must rewrite nothing")
    assert((after -- filesBefore).nonEmpty, "the update file must land")
    val m = readRows(dir)
    assert(m.values.sum == 95)
    assert((5L to 14L).forall(k => m.getOrElse((k, "u"), 0) == 1))
    assert((0L until 5L).forall(k => m.getOrElse((k, "x"), 0) == 0))
    assert(m.getOrElse((20L, "x"), 0) == 1, "non-update keys untouched")
    // time travel pre-dates the merge; the streaming source skips the
    // MOR version structurally (it carries a #dv: header)
    assert(readRows(dir, Some(2L)).values.sum == 90)
    val stream = new graft.sources.KvMicroBatchStream(dir)
    assert(stream.planInputPartitions(stream.deserializeOffset("2"),
      stream.deserializeOffset("3")).isEmpty)
    // the change feed sees the same logical changes as a COW merge
    val cdf = KvSource.changeFeed(spark, dir, 2L, 3L)
      .groupBy("change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cdf == Map("delete" -> 5L, "insert" -> 10L), cdf.toString)
    // OPTIMIZE folds the tombstones into a clean rewrite
    KvSource.optimizeCompact(spark, dir)
    assert(KvSource.committedState(dir).dvFiles.isEmpty)
    assert(readRows(dir).values.sum == 95)
    SourceQueries.deleteRecursively(new java.io.File(dir))
  }

  test("clone preserves version-scoped DV ordering: re-appended keys stay visible") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft-kv-clvdv").toString
    val dst = java.nio.file.Files.createTempDirectory("graft-kv-clvdv-d").toString
    SourceQueries.deleteRecursively(new java.io.File(dst))
    def append(dir: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("key", "val").repartition(1)
        .write.format(classOf[KvSource].getName)
        .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
    append(src, (0L until 10L).map(k => (k, "old")))  // v1
    KvSource.deleteWhere(spark, src, "key = 3")       // v2: dv
    append(src, Seq((3L, "new")))                     // v3: resurrected by append
    assert(readRows(src).getOrElse((3L, "new"), 0) == 1)
    KvSource.cloneShallow(src, dst)
    // the inherited DV must keep masking the OLD copy and stay inert
    // on the NEWER re-append — the negative-shift remap preserves the
    // source's relative order
    val cl = readRows(dst)
    assert(cl.getOrElse((3L, "new"), 0) == 1, s"clone lost the re-appended row: $cl")
    assert(cl.getOrElse((3L, "old"), 0) == 0, "clone must keep the old copy dead")
    assert(cl.values.sum == 10)
    // post-clone verbs are NEWER than everything inherited: a clone
    // delete masks inherited rows; a clone append resurrects again
    KvSource.deleteWhere(spark, dst, "key = 5")
    append(dst, Seq((5L, "again")))
    val cl2 = readRows(dst)
    assert(cl2.getOrElse((5L, "old"), 0) == 0 &&
      cl2.getOrElse((5L, "again"), 0) == 1, cl2.toString)
    Seq(src, dst).foreach(d => SourceQueries.deleteRecursively(new java.io.File(d)))
  }

  test("RESTORE re-adds files with the target's zones and row counts") {
    val dir = java.nio.file.Files.createTempDirectory("graft-kv-restore-meta").toString
    (0 until 2).foreach { i =>
      spark.range(i * 100L, i * 100L + 100L)
        .selectExpr("id AS key", "concat('v', id % 7) AS val").repartition(1)
        .write.format(classOf[KvSource].getName)
        .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
    }                                                  // v1, v2
    KvSource.deleteWhere(spark, dir, "key % 4 = 0")    // v3: 25% dead rows
    def meta(st: KvSource.LogState) = st.files.sorted.map { f =>
      (f, st.stats.get(f), st.valStats.get(f).map { case (lo, hi) => (lo.toSeq, hi.toSeq) },
        st.colStats.collect { case ((i, g), (lo, hi)) if g == f => (i, lo.toSeq, hi.toSeq) }.toSet,
        st.rowCounts.get(f))
    }
    def optimizeJobs = KvSource.maintenancePlan(dir).filter(_._1.startsWith("OPTIMIZE_"))
    val target = meta(KvSource.committedState(dir, Some(3L)))
    val targetPlan = optimizeJobs
    assert(target.forall { case (_, k, v, _, r) => k.nonEmpty && v.nonEmpty && r.nonEmpty })
    assert(targetPlan.map(_._1) == Seq("OPTIMIZE_DV_FOLD"), targetPlan.toString)
    KvSource.optimizeBinPack(spark, dir, 2)            // v4
    KvSource.restore(dir, 3L)                          // v5
    assert(meta(KvSource.committedState(dir)) == target)
    assert(optimizeJobs == targetPlan)
    SourceQueries.deleteRecursively(new java.io.File(dir))
  }

  test("random verb sequences: table == model after every verb; time travel and CDF net hold") {
    var layouts = Set.empty[String]
    for (seed <- Seq(7L, 23L, 41L, 99L)) {
      val rnd = new scala.util.Random(seed)
      val dir = java.nio.file.Files.createTempDirectory(s"graft-kv-model$seed").toString
      var model: Model = Map.empty
      // model snapshot per published version (for time travel + CDF)
      var snaps: Map[Long, Model] = Map(0L -> Map.empty)
      def record(): Unit =
        KvSource.latestVersion(dir).foreach { v =>
          snaps = snaps.updated(v, model)
        }

      def doAppend(): Unit = {
        val rows = Seq.fill(1 + rnd.nextInt(20))(
          (rnd.nextInt(60).toLong, s"v${rnd.nextInt(5)}"))
        import spark.implicits._
        rows.toDF("key", "val").repartition(1 + rnd.nextInt(3))
          .write.format(classOf[KvSource].getName)
          .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
        model = plus(model, rows)
      }
      def doDelete(): Unit = {
        val m = 2 + rnd.nextInt(5)
        val r = rnd.nextInt(m)
        KvSource.deleteWhere(spark, dir, s"key % $m = $r")
        model = model.filter { case ((k, _), _) => k % m != r }
      }
      def doMerge(): Unit = {
        val keys = Seq.fill(1 + rnd.nextInt(8))(rnd.nextInt(70).toLong).distinct
        val ups = keys.map(k => (k, s"m${rnd.nextInt(3)}"))
        import spark.implicits._
        // both merge strategies implement ONE model rule — interleave
        // them randomly (COW rewrite vs MOR tombstone+append)
        if (rnd.nextBoolean()) KvSource.mergeUpsert(spark, dir, ups.toDF("key", "val"))
        else KvSource.mergeOnRead(spark, dir, ups.toDF("key", "val"))
        model = plus(model.filter { case ((k, _), _) => !keys.contains(k) }, ups)
      }
      def doUpdate(): Unit = {
        val m = 2 + rnd.nextInt(4)
        val r = rnd.nextInt(m)
        KvSource.updateWhere(spark, dir, s"key % $m = $r", "concat(val, '!')")
        // per-ROW semantics: every matching copy updates in place
        val (hit, keep) = model.partition { case ((k, _), _) => k % m == r }
        model = hit.foldLeft(keep) { case (acc, ((k, v), c)) =>
          val nk = (k, v + "!")
          acc.updated(nk, acc.getOrElse(nk, 0) + c)
        }
      }
      // every OPTIMIZE layout goes through the model, picked by the seed
      def doOptimize(): Unit =
        if (model.nonEmpty) {
          rnd.nextInt(3) match {
            case 0 => KvSource.optimizeCompact(spark, dir); layouts += "compact"
            case 1 => KvSource.optimizeBinPack(spark, dir, 1 + rnd.nextInt(3)); layouts += "binpack"
            case _ => KvSource.optimizeZorder(spark, dir, 2 << rnd.nextInt(2)); layouts += "zorder"
          }
        }
      var restoreVersions = List.empty[Long]
      def doRestore(): Unit = {
        val vs = KvSource.versions(dir)
        if (vs.size >= 2) {
          val target = vs(rnd.nextInt(vs.size))
          restoreVersions ::= KvSource.restore(dir, target)
          model = snaps(target)
        }
      }
      def doVacuum(): Unit =
        if (KvSource.versions(dir).size > 4) {
          KvSource.vacuum(dir, retainLast = 4, strayMinAgeMs = 0L)
          snaps = snaps.filter { case (v, _) =>
            v == 0L || KvSource.manifestFile(dir, v).exists()
          }
        }
      def doUpgrade(): Unit =
        if (KvSource.protocolAt(dir) == ((1, 1)) && rnd.nextBoolean())
          { KvSource.upgradeProtocol(dir, 2, 2); () }

      doAppend(); record()
      val verbs: Seq[() => Unit] = Seq(
        doAppend _, doAppend _, doDelete _, doMerge _, doUpdate _,
        doOptimize _, doRestore _, doVacuum _, doUpgrade _)
      (1 to 16).foreach { step =>
        verbs(rnd.nextInt(verbs.size))()
        record()
        val got = readRows(dir)
        assert(got == model,
          s"seed=$seed step=$step: table ${got.toSeq.sorted} != model ${model.toSeq.sorted}")
      }
      // time travel: every retained version reads its recorded snapshot
      KvSource.versions(dir).foreach { v =>
        snaps.get(v).foreach { snap =>
          assert(readRows(dir, Some(v)) == snap, s"seed=$seed time travel v$v")
        }
      }
      // CDF net over the retained range equals final minus earliest
      // (insert adds a row copy, delete retracts one — multiset grain).
      // A RESTORE inside the range breaks the theorem BY DESIGN (a
      // rewrite emits no logical changes yet moves state — the
      // documented Delta CDF limitation), so such ranges are skipped.
      val earliest = KvSource.versions(dir).head
      snaps.get(earliest).foreach { base =>
        val latest = KvSource.latestVersion(dir).get
        if (latest > earliest && !restoreVersions.exists(_ > earliest)) {
          val net = KvSource.changeFeed(spark, dir, earliest, latest)
            .collect()
            .foldLeft(Map.empty[(Long, String), Int]) { (acc, r) =>
              val k = (r.getLong(0), r.getString(1))
              val d = if (r.getString(2) == "insert") 1 else -1
              acc.updated(k, acc.getOrElse(k, 0) + d)
            }.filter(_._2 != 0)
          val want = (model.keySet ++ base.keySet).flatMap { k =>
            val d = model.getOrElse(k, 0) - base.getOrElse(k, 0)
            if (d != 0) Some(k -> d) else None
          }.toMap
          assert(net == want,
            s"seed=$seed CDF net ${net.toSeq.sorted} != snapshot diff ${want.toSeq.sorted}")
        }
      }
      SourceQueries.deleteRecursively(new java.io.File(dir))
    }
    assert(layouts == Set("compact", "binpack", "zorder"), s"layouts run: $layouts")
  }
}
