package graft.etl

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

import scala.concurrent.{Await, ExecutionContext, Future, blocking}
import scala.concurrent.duration._
import scala.util.{Failure, Success}

/** The reference's whole program as one composed operation
  * (DBImportPipeline.java:69-165): enumerate tables, apply the
  * per-table DLP config, route invalid rows to a dead-letter sink,
  * write the de-identified tables to the warehouse layout, and return
  * the import manifest. Everything between the scan and the sink is
  * Catalyst expressions; each table is an independent job (the
  * natural unit of retry/parallelism on a cluster).
  */
object Migration {

  /** Run a full import pass into the local parquet warehouse layout.
    * Returns the manifest: (table_name, n_rows, deid_applied, n_dead). */
  def runImport(spark: SparkSession, dir: String, configJson: String,
                outBase: String, dataset: String = "imported"): DataFrame =
    runImport(spark, dir, configJson,
      new graft.sources.ParquetWarehouseSink(outBase), dataset)

  /** Sink-parameterized form: the import program is identical whether
    * the warehouse is the local parquet layout or a real BigQuery
    * adapter — only the [[graft.sources.WarehouseSink]] differs. */
  def runImport(spark: SparkSession, dir: String, configJson: String,
                sink: graft.sources.WarehouseSink, dataset: String): DataFrame = {
    import spark.implicits._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val cfgs = DlpConfig.parse(configJson).map(c => c.tableName -> c).toMap
    // Tables are independent import jobs: submit them concurrently
    // (Spark schedules stages from many threads; on a cluster this is
    // what keeps 1000 executors busy while one table's scan trickles).
    // Row counts ride the write itself via observe() — a second
    // count() action would recompute the whole de-id pipeline.
    val futures = Tables.all.map { t =>
      // blocking{}: each future parks on Spark actions (sink.write,
      // Observation.get), so tell the global pool to grow past its
      // core size rather than starve sibling table imports
      Future { blocking {
        val raw = Tables.load(spark, dir, t)
        val cfg = cfgs.get(t)
        // dead-letter validation applies to the event stream (the only
        // table with a validity rule — mirrors the reference routing
        // failed rows rather than failing the import)
        val (ok, nDead, cached) =
          if (t == "events") {
            val routed = Ingest.deadLetterRoute(raw)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            val deadObs = new Observation(s"mig_dead_$t${System.nanoTime()}")
            sink.write(
              routed.filter(col("status") === "dead").drop("status")
                .observe(deadObs, count(lit(1)).as("n")),
              dataset, s"${t}_dead_letter", "WRITE_TRUNCATE")
            val okIds = routed.filter(col("status") === "ok").select("event_id")
            (raw.join(okIds, "event_id"),
              deadObs.get("n").asInstanceOf[Long], Some(routed))
          } else (raw, 0L, None)
        val deid = DlpConfig.applyTable(ok, cfg)
        val obs = new Observation(s"mig_$t${System.nanoTime()}")
        sink.write(deid.observe(obs, count(lit(1)).as("n")),
          dataset, t, "WRITE_TRUNCATE")
        val n = obs.get("n").asInstanceOf[Long]
        cached.foreach(_.unpersist())
        (t, n, if (cfg.isDefined) 1L else 0L, nDead)
      } }
    }
    // finite timeout: a wedged table import must surface as a failed
    // import, not hang the driver forever (per-table writes at this
    // scale finish in minutes; 2h is generous headroom, not Inf).
    // Every table settles before the import fails: failing on the
    // first failed table would return while the others still write.
    val settled = Await.result(
      Future.sequence(futures.map(_.transform(Success(_)))), 2.hours)
    val failed = Tables.all.zip(settled).collect { case (t, Failure(e)) => t -> e }
    if (failed.nonEmpty) {
      val err = new RuntimeException("import failed for table(s) " +
        failed.map { case (t, e) => s"$t (${e.getClass.getSimpleName}: ${e.getMessage})" }
          .mkString(", "))
      failed.foreach { case (_, e) => err.addSuppressed(e) }
      throw err
    }
    settled.map(_.get).toDF("table_name", "n_rows", "deid_applied", "n_dead")
      .orderBy("table_name")
  }

  /** Queries-facing form: run the import into a fresh temp dir and
    * return the manifest (the driver checks it against per-table
    * count/validation oracles). The manifest is driver-side rows, so
    * the imported copy is deleted once it is built. */
  def manifest(spark: SparkSession, dir: String): DataFrame = {
    val out = java.nio.file.Files.createTempDirectory("graft-import").toString
    val rows = runImport(spark, dir, DlpConfig.ExampleConfig, out)
    graft.operators.SourceQueries.deleteRecursively(new java.io.File(out))
    rows
  }
}
