package graft.perfbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables
import graft.etl.{Dlp, DlpConfig, Reid}
import graft.sources.{FileMessageSink, ParquetWarehouseSink}

/** De-identify → re-identify round trip over the parquet source: a
  * heavy config using every transform kind, the token vault, then the
  * re-identification program (warehouse → vault join → header map →
  * signature grouping → JSON payloads → topic). */
final class DeidReid extends Workload {
  import DeidReid._

  private val tables = Seq("customer", "orders", "lineitem", "events")
  private lazy val cfgs = DlpConfig.parse(Config).map(c => c.tableName -> c).toMap
  private var sourceRows: Map[String, Long] = Map.empty
  private var dead = 0L
  private var okEvents: Set[Long] = Set.empty
  private var iter = 0
  private var lastLoaded: Seq[String] = Nil

  private def tokenCols(t: String): Seq[String] =
    cfgs(t).transforms.collect { case DlpConfig.DeterministicToken(c, _) => c }

  private def irreversibleCols(t: String): Seq[String] =
    cfgs(t).transforms.collect {
      case DlpConfig.MaskChars(c, _) => c
      case DlpConfig.Redact(c) => c
      case DlpConfig.ReplaceInfoType(c) => c
      case DlpConfig.CryptoHash(c, _) => c
      case DlpConfig.Bucketize(c, _) => c
    }

  /** The source table as the import reads it; customer carries contact
    * strings built like `DlpQueries.withContact`. */
  private def source(ctx: Ctx, t: String): DataFrame = {
    val df = Tables.load(ctx.spark, ctx.dataDir, t)
    if (t != "customer") df
    else {
      val k = col("c_custkey").cast("string")
      val phone = concat(lit("555-867-"), lpad((col("c_custkey") % 10000).cast("string"), 4, "0"))
      val email = concat(lit("user"), k, lit("@example.com"))
      df.withColumn("c_contact", concat(col("c_name"), lit(" <"), email, lit("> call "), phone))
        .withColumn("c_email", email)
        .withColumn("c_phone", phone)
    }
  }

  private def outBase(ctx: Ctx) = new File(ctx.work, "warehouse")
  private def vaultPath(ctx: Ctx, t: String, c: String) =
    new File(outBase(ctx), s"vault/${t}__$c").getAbsolutePath
  private def topicBase(ctx: Ctx, i: Int) = new File(ctx.work, s"topics/$i")

  override def layers: Seq[String] = Seq("source.read_s", "deid.s", "map.s", "load.s",
    "route.s", "reid.vault_s", "reid.join_s", "reid.group_s", "publish.s", "trace.prefix_s")

  override def prepare(ctx: Ctx): Unit = {
    sourceRows = ctx.parallel(tables)(t => t -> Tables.load(ctx.spark, ctx.dataDir, t).count()).toMap
    okEvents = Io.okEvents(ctx.spark, ctx.dataDir)
    dead = sourceRows("events") - okEvents.size
  }

  /** The parquet source needs no set-up. */
  override def setup(ctx: Ctx, rep: Int): Unit = ()

  override def iteration(ctx: Ctx): Iter = {
    iter += 1
    val spark = ctx.spark
    val sink = new ParquetWarehouseSink(outBase(ctx).getAbsolutePath)
    val topics = topicBase(ctx, iter)
    Io.deleteAll(topicBase(ctx, iter - 1))
    val order = Io.shuffled(tables, ctx.seed * 7919 + iter)
    val loaded = ctx.step("deid_import") {
      ctx.parallel(order) { t =>
        ctx.op("deid_import", t) {
          val src = source(ctx, t)
          val l = Pipeline.load(ctx, t, "source.read", src, cfgs.get(t), sink, "deid")
          tokenCols(t).foreach { c =>
            ctx.span("reid.vault") {
              sink.write(src.select(Dlp.deterministicToken(col(c), TokenKey).as("token"),
                col(c).cast("string").as("plaintext")).distinct(),
                "vault", s"${t}__$c", "WRITE_TRUNCATE")
            }
          }
          l
        }
      }.flatten
    }
    lastLoaded = loaded.map(_.table)
    val sinkOut = new FileMessageSink(topics.getAbsolutePath)
    val published = ctx.step("reid") {
      ctx.parallel(loaded.map(_.table)) { t =>
        ctx.op("reid", t) {
          val cols = tokenCols(t)
          val joined = cols.foldLeft(spark.read.parquet(new File(outBase(ctx), s"deid/$t").getAbsolutePath)) {
            (d, c) =>
              val v = spark.read.parquet(vaultPath(ctx, t, c))
                .select(col("token").as(c), col("plaintext").as(s"${c}__plain"))
              d.join(v, Seq(c), "left")
          }
          val missing = cols.map(c => when(col(s"${c}__plain").isNull, 1).otherwise(0))
            .foldLeft(lit(0))(_ + _)
          val recovered = cols.foldLeft(joined.withColumn("__missing", missing)) { (d, c) =>
            d.withColumn(c, col(s"${c}__plain")).drop(s"${c}__plain")
          }
          val headed = Reid.headerMap(recovered, ColumnMap)
          val payload = headed.select(
            to_json(struct(headed.columns.filterNot(_ == "__missing").map(col).toIndexedSeq: _*)).as("message"),
            col("__missing"))
          val obs = new org.apache.spark.sql.Observation(s"reid_${t}_${System.nanoTime()}")
          val observed = payload.observe(obs, count(lit(1)).as("n"), sum(col("__missing")).as("missing"))
            .select("message")
          ctx.fused(Seq("reid.join" -> recovered), "publish") {
            Reid.publish(observed, sinkOut, t)
          }
          val n = obs.get("n").asInstanceOf[Long]
          val miss = Option(obs.get("missing")).map(_.asInstanceOf[Long]).getOrElse(0L)
          ctx.count("publish.msgs", n.toDouble)
          ctx.count("reid.tokens", (n * cols.size).toDouble)
          ctx.count("reid.recovered", (n * cols.size - miss).toDouble)
          (t, n, miss, headed.drop("__missing"))
        }
      }.flatten
    }
    val groups = if (published.isEmpty) None else ctx.step("reid.group") {
      ctx.op("reid", "group_by_signature") {
        ctx.span("reid.group") { Reid.groupBySignature(published.map(_._4), 500).collect() }
      }
    }
    Iter(loaded.map(l => l.landed + l.dead).sum, () => {
      val out = Seq.newBuilder[String]
      out ++= Pipeline.check(ctx, loaded, sourceRows, dead, outBase(ctx), "deid")
      val landed = loaded.map(l => l.table -> l.landed).toMap
      published.foreach { case (t, n, miss, _) =>
        if (miss != 0) out += s"reid $t: $miss tokens not recovered"
        if (n != landed(t)) out += s"reid $t: published $n messages, $t landed ${landed(t)} rows"
      }
      groups.foreach { g =>
        val total = g.map(_.getAs[Long]("n_rows")).sum
        if (total != published.map(_._2).sum)
          out += s"signature groups hold $total rows, ${published.map(_._2).sum} published"
      }
      ctx.count("publish.bytes", Io.dataFiles(topics)._2.toDouble)
      out.result()
    })
  }

  /** Checks on the last iteration's outputs: every deterministic token
    * re-identifies to its plaintext (as a multiset, by count and digest),
    * and no irreversible column holds a plaintext value of its column. */
  override def finish(ctx: Ctx): Seq[String] = {
    val spark = ctx.spark
    import spark.implicits._
    val okIds = okEvents.toSeq.toDF("event_id")
    val names = Reid.parseColumnMap(ColumnMap)
    def digests(df: DataFrame, cols: Seq[String]): Seq[Any] =
      df.agg(count(lit(1)), cols.map(c => sum(xxhash64(col(c)).cast("decimal(38,0)"))): _*)
        .head().toSeq
    /** (column, value) pairs of `cols`, as strings. */
    def stacked(df: DataFrame, cols: Seq[String]): DataFrame =
      df.select(explode(array(cols.map(c => struct(lit(c).as("c"), col(c).cast("string").as("v"))): _*)).as("p"))
        .select("p.c", "p.v").distinct()
    ctx.parallel(lastLoaded) { t =>
      val src0 = source(ctx, t)
      val src = if (t == "events") src0.join(okIds, "event_id") else src0
      val tokens = tokenCols(t)
      val msgs = spark.read.schema("message STRING")
        .json(new File(topicBase(ctx, iter), t).getAbsolutePath)
      val got = digests(msgs.select(tokens.map(c =>
        get_json_object(col("message"), "$." + names.getOrElse(c, c)).as(c)): _*), tokens)
      val want = digests(src.select(tokens.map(c => col(c).cast("string").as(c)): _*), tokens)
      val roundTrip =
        if (got == want) Nil
        else Seq(s"reid $t: re-identified (rows, digests) $got, source $want")
      val irreversible = irreversibleCols(t)
      val wh = spark.read.parquet(new File(outBase(ctx), s"deid/$t").getAbsolutePath)
      val leaks = stacked(wh, irreversible).intersect(stacked(src, irreversible))
        .groupBy("c").count().collect()
        .map(r => s"deid $t.${r.getString(0)}: ${r.getLong(1)} de-identified values equal a plaintext value")
      roundTrip ++ leaks
    }.flatten
  }
}

object DeidReid {
  val TokenKey = "det-key"

  /** Re-identified headers, in the reference's column-map shape. */
  val ColumnMap: String =
    """{"c_name": "customer_name", "l_suppkey": "supplier_id", "user_id": "user", "o_custkey": "customer_id"}"""

  /** Every transform kind. `orders` pseudonymizes the customer before
    * shifting its dates per customer, the usual order. */
  val Config: String =
    """[{"tableName": "customer", "batchSize": 500, "transforms": [
      |  {"column": "c_name", "kind": "deterministic_token", "key": "det-key"},
      |  {"column": "c_contact", "kind": "replace_infotype"},
      |  {"column": "c_email", "kind": "redact"},
      |  {"column": "c_phone", "kind": "fpe_digits", "key": "fpe-key"},
      |  {"column": "c_acctbal", "kind": "bucketize", "width": 500},
      |  {"column": "c_mktsegment", "kind": "mask_chars", "keep": 3}]},
      | {"tableName": "orders", "batchSize": 1000, "transforms": [
      |  {"column": "o_custkey", "kind": "deterministic_token", "key": "det-key"},
      |  {"column": "o_orderdate", "kind": "date_shift", "contextKey": "o_custkey", "maxDays": 30},
      |  {"column": "o_totalprice", "kind": "bucketize", "width": 1000},
      |  {"column": "o_orderpriority", "kind": "crypto_hash", "key": "hash-key"}]},
      | {"tableName": "lineitem", "batchSize": 1000, "transforms": [
      |  {"column": "l_suppkey", "kind": "deterministic_token", "key": "det-key"},
      |  {"column": "l_partkey", "kind": "crypto_hash", "key": "hash-key"},
      |  {"column": "l_extendedprice", "kind": "bucketize", "width": 1000},
      |  {"column": "l_shipdate", "kind": "date_shift", "contextKey": "l_orderkey", "maxDays": 30},
      |  {"column": "l_orderkey", "kind": "fpe_digits", "key": "fpe-key"},
      |  {"column": "l_returnflag", "kind": "mask_chars", "keep": 0}]},
      | {"tableName": "events", "batchSize": 1000, "transforms": [
      |  {"column": "user_id", "kind": "deterministic_token", "key": "det-key"},
      |  {"column": "ts", "kind": "date_shift", "contextKey": "event_id", "maxDays": 30},
      |  {"column": "value", "kind": "bucketize", "width": 10},
      |  {"column": "event_type", "kind": "mask_chars", "keep": 2}]}
      |]""".stripMargin
}
