package graft.perfbench

import java.io.File
import java.util.concurrent.atomic.AtomicLong

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.etl.{DlpConfig, Ingest, SchemaMapper}
import graft.sources.{Jdbc, ParquetWarehouseSink, WarehouseSink}

private[perfbench] object Io {
  private val obsIds = new AtomicLong()

  /** `df` with a row count riding its action. */
  def counted(df: DataFrame): (DataFrame, Observation) = {
    val o = new Observation(s"perfbench_${obsIds.incrementAndGet()}")
    (df.observe(o, count(lit(1)).as("n")), o)
  }

  def observedCount(o: Observation): Long = o.get("n").asInstanceOf[Long]

  /** Number and total size of the data files under `dir`. */
  def dataFiles(dir: File): (Long, Long) = {
    val fs = files(dir).filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    (fs.size.toLong, fs.map(_.length()).sum)
  }

  def files(dir: File): Seq[File] =
    Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil).flatMap { f =>
      if (f.isDirectory) files(f) else Seq(f)
    }

  def deleteAll(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteAll))
    f.delete()
  }

  def shuffled[T](xs: Seq[T], seed: Long): Seq[T] = new Random(seed).shuffle(xs)

  private val okCache = scala.collection.concurrent.TrieMap.empty[String, Set[Long]]

  /** Ids of the `events` rows in `dataDir` that are not dead letters
    * under the rule of `Ingest.deadLetterRoute` (`k` missing or ≥ 80),
    * recomputed by the benchmark from the raw `props` strings. */
  def okEvents(spark: org.apache.spark.sql.SparkSession, dataDir: String): Set[Long] =
    okCache.getOrElseUpdate(dataDir, {
      val K = "\"k\": ([0-9]+)".r.unanchored
      graft.Tables.events(spark, dataDir).select("event_id", "props").collect().toSeq.collect {
        case r if (Option(r.getString(1)) match {
          case Some(K(k)) => BigInt(k) < 80
          case _ => false
        }) => r.getLong(0)
      }.toSet
    })
}

/** The import program for one table once its extract is planned:
  * extract → de-identify → name/type map → dead-letter route → load.
  * Everything up to the load is lazy and runs fused in the load job. */
private[perfbench] object Pipeline {

  final case class Loaded(table: String, landed: Long, dead: Long)

  def load(ctx: Ctx, table: String, extractLayer: String, extract: DataFrame,
           cfg: Option[DlpConfig.TableConfig], sink: WarehouseSink, dataset: String): Loaded = {
    val deid = DlpConfig.applyTable(extract, cfg)
    ctx.count("deid.transforms", cfg.map(_.transforms.size).getOrElse(0).toDouble)
    val renames = deid.columns.toSeq.map(c => c -> SchemaMapper.sanitizeName(c.toLowerCase))
      .filter { case (a, b) => a != b }
    ctx.count("map.renamed_cols", renames.size.toDouble)
    val mapped = renames.foldLeft(deid) { case (d, (a, b)) => d.withColumnRenamed(a, b) }
    val stages = Seq(extractLayer -> extract, "deid" -> deid, "map" -> mapped)
    val r = if (table == "events") {
      // the routing shape of Migration.runImport: dead letters are
      // written first from the persisted routing, the rest joins back
      val routed = Ingest.deadLetterRoute(mapped).persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val (deadDf, deadObs) = Io.counted(routed.filter(col("status") === "dead").drop("status"))
        ctx.span("route") { sink.write(deadDf, dataset, s"${table}_dead_letter", "WRITE_TRUNCATE") }
        val dead = Io.observedCount(deadObs)
        val ok = mapped.join(routed.filter(col("status") === "ok").select("event_id"), "event_id")
        val (okDf, okObs) = Io.counted(ok)
        ctx.fused(stages :+ ("route" -> ok), "load") {
          sink.write(okDf, dataset, table, "WRITE_TRUNCATE")
        }
        ctx.count("route.rows", (Io.observedCount(okObs) + dead).toDouble)
        Loaded(table, Io.observedCount(okObs), dead)
      } finally routed.unpersist()
    } else {
      val (okDf, okObs) = Io.counted(mapped)
      ctx.fused(stages, "load") { sink.write(okDf, dataset, table, "WRITE_TRUNCATE") }
      Loaded(table, Io.observedCount(okObs), 0L)
    }
    ctx.count("route.dead_rows", r.dead.toDouble)
    ctx.count("load.rows", r.landed.toDouble)
    r
  }

  /** Output checks for loaded tables: landed = source − dead letters,
    * and dead letters = the recomputed rule; also counts the files. */
  def check(ctx: Ctx, loaded: Seq[Loaded], sourceRows: Map[String, Long],
            expectedDead: Long, outBase: File, dataset: String): Seq[String] =
    loaded.flatMap { l =>
      val (nFiles, nBytes) = Io.dataFiles(new File(outBase, s"$dataset/${l.table}"))
      ctx.count("load.files", nFiles.toDouble)
      ctx.count("load.bytes", nBytes.toDouble)
      val dead = if (l.table == "events") expectedDead else 0L
      val out = Seq.newBuilder[String]
      if (l.dead != dead) out += s"${l.table}: ${l.dead} dead letters, expected $dead"
      if (l.landed != sourceRows(l.table) - dead)
        out += s"${l.table}: ${l.landed} rows landed, expected ${sourceRows(l.table) - dead}"
      out.result()
    }
}

/** Live-JDBC import: every table but `embeddings` (excluded through the
  * reference's `-`-separated excluded-table list, as Derby has no array
  * type) is staged into an embedded Derby database during set-up; each
  * iteration imports all of them into a parquet warehouse. */
final class ImportJdbc extends Workload {
  private var url: String = _
  private var tables: Seq[String] = Nil
  private var ddl: Map[String, String] = Map.empty
  private var sourceRows: Map[String, Long] = Map.empty
  private var dead = 0L
  private var iter = 0
  private lazy val cfgs = DlpConfig.parse(DlpConfig.ExampleConfig).map(c => c.tableName -> c).toMap

  override def layers: Seq[String] = Seq("jdbc.catalog_s", "jdbc.plan_s", "jdbc.extract_s",
    "deid.s", "map.s", "route.s", "load.s", "trace.prefix_s")

  override def prepare(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val catalog = SchemaMapper.catalogExcluding(spark, ctx.dataDir, "embeddings").collect()
    tables = catalog.map(_.getString(0)).distinct.toSeq
    ddl = ctx.parallel(tables) { t =>
      val df = graft.Tables.load(spark, ctx.dataDir, t)
      val strLens = df.schema.fields.collect { case f if f.dataType == StringType =>
        f.name -> max(length(col(f.name)))
      }
      val stats = df.agg(count(lit(1)), countDistinct(col(df.columns.head)) +: strLens.map(_._2): _*).head()
      val maxLen = strLens.map(_._1).zipWithIndex.map { case (c, i) =>
        c -> math.max(1, Option(stats.get(2 + i)).map(_.toString.toInt).getOrElse(1))
      }.toMap
      synchronized { sourceRows += t -> stats.getLong(0) }
      // a primary key only where the data has one: the first column
      // when it is unique (lineitem's is not, so it is staged keyless)
      val unique = stats.getLong(0) == stats.getLong(1)
      val cols = df.schema.fields.zipWithIndex.map { case (f, i) =>
        val typ = f.dataType match {
          case LongType => "BIGINT"
          case IntegerType => "INT"
          case DoubleType => "DOUBLE"
          case StringType => s"VARCHAR(${maxLen(f.name)})"
          case TimestampType | TimestampNTZType => "TIMESTAMP"
          case other => throw new IllegalArgumentException(s"$t.${f.name}: no Derby type for $other")
        }
        val pk = if (i == 0 && unique) " NOT NULL PRIMARY KEY" else ""
        s"${f.name.toUpperCase} $typ$pk"
      }
      t -> s"CREATE TABLE ${t.toUpperCase} (${cols.mkString(", ")})"
    }.toMap
    dead = sourceRows("events") - Io.okEvents(spark, ctx.dataDir).size
  }

  /** Stages every table into a new embedded Derby database. */
  override def setup(ctx: Ctx, rep: Int): Unit = {
    url = Jdbc.derbyUrl(new File(ctx.work, s"derby/db$rep").getAbsolutePath)
    ctx.parallel(Io.shuffled(tables, ctx.seed + rep)) { t =>
      val df = graft.Tables.load(ctx.spark, ctx.dataDir, t)
      Jdbc.createAndLoad(df.toDF(df.columns.map(_.toUpperCase).toIndexedSeq: _*),
        url, t.toUpperCase, ddl(t))
    }
  }

  override def iteration(ctx: Ctx): Iter = {
    iter += 1
    val spark = ctx.spark
    val outBase = new File(ctx.work, "warehouse")
    val sink = new ParquetWarehouseSink(outBase.getAbsolutePath)
    val order = Io.shuffled(tables, ctx.seed * 7919 + iter)
    val upper = order.map(_.toUpperCase)
    val loaded = ctx.step("jdbc_import") {
      val catalog = ctx.span("jdbc.catalog") {
        Jdbc.pkCatalog(spark, url, upper).collect()
      }.map(r => r.getString(0) -> (r.getString(1).split(",").toSeq, r.getLong(2) == 1L)).toMap
      ctx.parallel(order) { t =>
        ctx.op("jdbc_import", t) {
          val T = t.toUpperCase
          val types = ctx.span("jdbc.catalog") { Jdbc.columnTypes(url, T) }.toMap
          val (keys, inferred) = catalog(T)
          val numericKey = !inferred && keys.size == 1 &&
            Set("BIGINT", "INTEGER", "SMALLINT").contains(types(keys.head))
          val extract = ctx.span("jdbc.plan") {
            if (numericKey) {
              val (lo, hi) = Jdbc.columnBounds(url, T, keys.head)
              Jdbc.readPartitioned(spark, url, T, keys.head, lo, hi + 1, ctx.cores)
            } else {
              Jdbc.readPartitionedByOrdering(spark, url, T, keys.head, ctx.cores)
            }
          }
          val extracted = if (ctx.traced) {
            val (df, o) = Io.counted(extract)
            (df, Some(o))
          } else (extract, None)
          val l = Pipeline.load(ctx, t, "jdbc.extract", extracted._1, cfgs.get(t), sink, "imported")
          extracted._2.foreach(o => ctx.count("jdbc.extract_rows", Io.observedCount(o).toDouble))
          l
        }
      }.flatten
    }
    Iter(loaded.map(l => l.landed + l.dead).sum,
      () => Pipeline.check(ctx, loaded, sourceRows, dead, outBase, "imported"))
  }

  override def finish(ctx: Ctx): Seq[String] = Nil
}
