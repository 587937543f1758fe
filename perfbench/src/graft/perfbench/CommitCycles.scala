package graft.perfbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.Tables
import graft.etl.{DlpConfig, Ingest}
import graft.sources.KvSource

/** Re-import cycles against a commit-log table seeded with the
  * de-identified `events`, one cycle per iteration. Every cycle runs the
  * same verbs: it merges about 2% updates and 0.5% new keys, half of
  * them copy-on-write and half merge-on-read, deletes by predicate, runs
  * the maintenance planner and a bin-packing OPTIMIZE, and reads a
  * snapshot. The keys are chosen by the seed. The snapshot is checked
  * against a model of the cycles kept by the benchmark. */
final class CommitCycles extends Workload {
  import CommitCycles._

  private var path: String = _
  private var seedRows: Map[Long, String] = Map.empty
  private val model = mutable.HashMap.empty[Long, String]
  private var nextKey = 0L
  private var cycle = 0

  override def layers: Seq[String] =
    Seq("merge_cow", "merge_mor", "delete", "maint_plan", "optimize", "scan").map(v => s"kv.${v}_s")

  private def read(ctx: Ctx): DataFrame =
    ctx.spark.read.format(classOf[KvSource].getName).option("path", path).load()

  /** The seed rows: ok events, de-identified, as (key, val). */
  private def seedFrame(ctx: Ctx): DataFrame = {
    val events = Tables.events(ctx.spark, ctx.dataDir)
    val okIds = Ingest.deadLetterRoute(events).filter(col("status") === "ok").select("event_id")
    val cfg = DlpConfig.parse(SeedConfig).headOption
    DlpConfig.applyTable(events.join(okIds, "event_id"), cfg)
      .select(col("event_id").as("key"),
        to_json(struct(col("user_id"), col("event_type"), col("value"), col("ts"))).as("val"))
  }

  override def prepare(ctx: Ctx): Unit = {
    seedRows = seedFrame(ctx).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
  }

  override def setup(ctx: Ctx, rep: Int): Unit = {
    path = new File(ctx.work, s"kv/seed$rep").getAbsolutePath
    seedFrame(ctx).write.format(classOf[KvSource].getName)
      .option("path", path).mode(SaveMode.Append).save()
    model.clear()
    model ++= seedRows
    nextKey = seedRows.keys.max + 1
  }

  override def iteration(ctx: Ctx): Iter = {
    val spark = ctx.spark
    import spark.implicits._
    cycle += 1
    val traced = ctx.traced
    val rng = new Random(ctx.seed * 1000003L + cycle)
    val live = model.keys.toArray.sorted
    val nUpd = math.max(2, live.length / 50)
    val nIns = math.max(2, live.length / 200)
    // partial Fisher-Yates: nUpd distinct live keys
    (0 until nUpd).foreach { i =>
      val j = i + rng.nextInt(live.length - i)
      val tmp = live(i); live(i) = live(j); live(j) = tmp
    }
    val updates = live.take(nUpd).toSeq.map(k => k -> s"""{"cycle":$cycle,"r":${rng.nextInt(1000000)}}""")
    val inserts = (0 until nIns).map(i => (nextKey + i) -> s"""{"cycle":$cycle,"new":$i}""")
    nextKey += nIns
    val deleteMod = rng.nextInt(DeleteModulus)
    val changedBytes = (updates ++ inserts).map { case (_, v) => 8L + v.length }.sum
    val problems = mutable.ArrayBuffer.empty[String]
    var rows = 0L
    val writes = mutable.ArrayBuffer.empty[Long]

    def verb[A](name: String)(body: => A): Option[A] = {
      val before = if (traced) Some(listing()) else None
      val r = ctx.step(s"kv.$name")(ctx.op("kv", name)(ctx.span(s"kv.$name")(body)))
      before.foreach { b =>
        val after = listing()
        writes += after.collect { case (f, n) if !b.contains(f) => n }.sum
      }
      if (Main.CommitVerbs.contains(name)) ctx.count("kv.commits", 1)
      r
    }

    def merge(name: String, upd: Seq[(Long, String)], ins: Seq[(Long, String)]): Unit = {
      val df = (upd ++ ins).toDF("key", "val")
      verb(name) {
        if (name == "merge_cow") KvSource.mergeUpsert(spark, path, df)
        else KvSource.mergeOnRead(spark, path, df)
      }.foreach { case (matched, inserted, _) =>
        if (matched != upd.size || inserted != ins.size)
          problems += s"cycle $cycle $name: matched $matched inserted $inserted, expected ${upd.size} and ${ins.size}"
        model ++= upd ++ ins
        rows += upd.size + ins.size
      }
    }

    val (cowUpd, morUpd) = updates.splitAt(nUpd / 2)
    val (cowIns, morIns) = inserts.splitAt(nIns / 2)
    merge("merge_cow", cowUpd, cowIns)
    merge("merge_mor", morUpd, morIns)
    val doomed = model.keys.filter(_ % DeleteModulus == deleteMod).toSeq
    verb("delete") { KvSource.deleteWhere(spark, path, s"key % $DeleteModulus = $deleteMod") }
      .foreach { case (deleted, _) =>
        if (deleted != doomed.size)
          problems += s"cycle $cycle delete: ${deleted} keys deleted, the model has ${doomed.size}"
        model --= doomed
        rows += deleted
      }
    verb("maint_plan") { KvSource.maintenancePlan(path) }
    verb("optimize") { KvSource.optimizeBinPack(spark, path, ctx.cores) }
    // read after OPTIMIZE, so the check also covers the compaction
    val snapshot = verb("scan") {
      read(ctx).agg(count(lit(1)), sum(xxhash64(col("key"), col("val")).cast("decimal(38,0)"))).head()
    }
    val changed = changedBytes + doomed.size * 8L

    Iter(rows, () => {
      snapshot.foreach { s =>
        val (n, digest) = modelDigest()
        val gotDigest = Option(s.getDecimal(1)).map(d => BigInt(d.toBigInteger)).getOrElse(BigInt(0))
        if (s.getLong(0) != n || gotDigest != digest)
          problems += s"cycle $cycle snapshot: ${s.getLong(0)} rows, digest $gotDigest; the model has $n rows, digest $digest"
      }
      if (traced) {
        val st = KvSource.committedState(path)
        ctx.gauge("kv.versions", KvSource.versions(path).size.toDouble)
        ctx.gauge("kv.live_files", st.files.size.toDouble)
        val liveBytes = model.iterator.map { case (_, v) => 8L + v.length }.sum
        ctx.gauge("kv.space_amp", Io.files(new File(path)).map(_.length()).sum.toDouble / liveBytes)
        ctx.count("kv.bytes_written", writes.sum.toDouble)
        ctx.count("kv.bytes_changed", changed.toDouble)
      }
      problems.toSeq
    })
  }

  /** Final check: the whole snapshot equals the model. */
  override def finish(ctx: Ctx): Seq[String] = {
    val got = read(ctx).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    if (got == model.toMap) Nil
    else {
      val missing = model.keySet.diff(got.keySet).size
      val extra = got.keySet.diff(model.keySet).size
      val wrong = got.count { case (k, v) => model.get(k).exists(_ != v) }
      Seq(s"final snapshot: $missing keys missing, $extra extra, $wrong with another value")
    }
  }

  private def listing(): Map[String, Long] =
    Io.files(new File(path)).map(f => f.getPath -> f.length()).toMap

  /** Row count and `sum(xxhash64(key, val))` of the model, as Spark
    * computes it for the snapshot. */
  private def modelDigest(): (Long, BigInt) = {
    var d = BigInt(0)
    model.foreach { case (k, v) =>
      val h = XxHash64Function.hash(k, LongType, 42L)
      d += XxHash64Function.hash(UTF8String.fromString(v), StringType, h)
    }
    (model.size.toLong, d)
  }
}

object CommitCycles {
  val DeleteModulus = 211

  val SeedConfig: String =
    """[{"tableName": "events", "batchSize": 1000, "transforms": [
      |  {"column": "user_id", "kind": "deterministic_token", "key": "det-key"},
      |  {"column": "value", "kind": "bucketize", "width": 10}]}]""".stripMargin
}
