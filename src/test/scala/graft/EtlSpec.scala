package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.{Dlp, SchemaMapper}
import graft.sources.Sources

class EtlSpec extends AnyFunSuite {
  import SparkTestSession._

  test("maskChars keeps prefix, masks remainder, handles short strings") {
    import spark.implicits._
    val df = Seq("Customer#000000001", "abc", "").toDF("s")
      .select(Dlp.maskChars(col("s"), 9).as("m"))
    assert(df.collect().map(_.getString(0)).toSeq ==
      Seq("Customer##########", "abc", ""))
  }

  test("deterministic token round-trips through the vault") {
    val cust = Tables.customer(spark, sf)
    val recovered = graft.operators.DlpQueries.dlpReidentify(spark, sf)
    val joined = recovered.join(cust, "c_custkey")
      .filter(col("recovered") =!= col("c_name"))
    assert(joined.count() == 0, "reidentification must recover every name")
  }

  test("sanitizeName matches reference checkHeaderName behavior") {
    assert(SchemaMapper.sanitizeName("a col") == "a_col")
    assert(SchemaMapper.sanitizeName("it's/here") == "itshere")
    intercept[IllegalArgumentException](SchemaMapper.sanitizeName("9bad"))
  }

  test("bqType maps every testdata type") {
    assert(SchemaMapper.bqType(LongType) == "INTEGER")
    assert(SchemaMapper.bqType(DoubleType) == "FLOAT")
    assert(SchemaMapper.bqType(ArrayType(FloatType)) == "REPEATED FLOAT")
    assert(SchemaMapper.bqType(TimestampNTZType) == "TIMESTAMP")
    assert(SchemaMapper.bqType(BinaryType) == "BYTES")
  }

  test("config-driven fpe_digits transform preserves format through applyTable") {
    import spark.implicits._
    val cfg = graft.etl.DlpConfig.parse(
      """[{"tableName": "t", "transforms": [
        |  {"column": "phone", "kind": "fpe_digits", "key": "k1"}]}]""".stripMargin)
    val df = Seq(("555-867-0001", 1L), ("555-867-0002", 2L)).toDF("phone", "id")
    val out = graft.etl.DlpConfig.applyTable(df, cfg.headOption)
      .collect().map(_.getString(0))
    out.foreach { p =>
      assert(p.matches("[0-9]{3}-[0-9]{3}-[0-9]{4}"), s"format broken: $p")
      assert(p != "555-867-0001")
    }
  }

  test("csv and json round-trip preserves data") {
    val dir = java.nio.file.Files.createTempDirectory("graft-io").toString
    val nation = Tables.nation(spark, sf)
    Sources.writeCsv(nation, s"$dir/n_csv")
    Sources.writeJson(nation, s"$dir/n_json")
    val backCsv = Sources.readCsv(spark, s"$dir/n_csv", nation.schema)
    val backJson = Sources.readJson(spark, s"$dir/n_json", nation.schema)
    assert(backCsv.count() == nation.count())
    assert(backJson.count() == nation.count())
    assert(backCsv.orderBy("n_nationkey").collect().toSeq ==
      nation.orderBy("n_nationkey").collect().toSeq)
  }

  test("warehouse write sanitizes names and honors dispositions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wh").toString
    val df = Tables.region(spark, sf).withColumnRenamed("r_name", "r name")
    Sources.writeWarehouse(df, dir, "ds", "region", "WRITE_APPEND")
    val back = spark.read.parquet(s"$dir/ds/region")
    assert(back.columns.toSeq.contains("r_name"))
    Sources.writeWarehouse(df, dir, "ds", "region", "WRITE_APPEND")
    assert(spark.read.parquet(s"$dir/ds/region").count() == df.count() * 2)
    Sources.writeWarehouse(df, dir, "ds", "region", "WRITE_TRUNCATE")
    assert(spark.read.parquet(s"$dir/ds/region").count() == df.count())
    intercept[Exception] {
      Sources.writeWarehouse(df, dir, "ds", "region", "WRITE_EMPTY")
    }
  }

  test("DlpConfig parses, applies, and passes through unconfigured tables") {
    import graft.etl.DlpConfig
    val cfgs = DlpConfig.parse(DlpConfig.ExampleConfig)
    assert(cfgs.map(_.tableName) == Seq("customer", "orders"))
    assert(cfgs.head.transforms.size == 2)
    intercept[IllegalArgumentException] {
      DlpConfig.parse("""[{"tableName":"x","transforms":[{"column":"c","kind":"nope"}]}]""")
    }
    val all = DlpConfig.applyAll(spark, sf, DlpConfig.ExampleConfig,
      tables = Seq("customer", "nation"))
    // nation untouched; customer's c_name tokenized
    assert(all("nation").collect().toSeq == Tables.nation(spark, sf).collect().toSeq)
    assert(all("customer").select("c_name").head().getString(0).startsWith("TOK_"))
  }

  test("Migration.runImport writes deidentified tables + dead letters and reports a manifest") {
    val out = java.nio.file.Files.createTempDirectory("graft-mig").toString
    val manifest = graft.etl.Migration.runImport(spark, sf,
      graft.etl.DlpConfig.ExampleConfig, out).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(manifest.size == 10)
    assert(manifest("customer")._2 == 1L && manifest("orders")._2 == 1L)
    // written customer table is de-identified (tokens, not names)
    val written = spark.read.parquet(s"$out/imported/customer")
    assert(written.select("c_name").head().getString(0).startsWith("TOK_"))
    // events: ok rows + dead letters partition the table
    val okN = spark.read.parquet(s"$out/imported/events").count()
    val deadN = spark.read.parquet(s"$out/imported/events_dead_letter").count()
    assert(okN == manifest("events")._1)
    assert(deadN == manifest("events")._3)
    assert(okN + deadN == Tables.events(spark, sf).count())
  }

  test("Migration.runImport waits for every table before it reports a failed one") {
    // one table's write fails at once, the others finish later: the
    // import must not throw until every other write has finished, and
    // its error must name the failed table
    val done = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val sink = new graft.sources.WarehouseSink {
      def write(df: DataFrame, dataset: String, table: String,
                disposition: String, partitionBy: Seq[String]): Unit = {
        if (table == "region") throw new IllegalStateException("sink rejected region")
        Thread.sleep(1500)
        df.write.format("noop").mode("overwrite").save()
        done.add(table)
      }
    }
    val err = intercept[RuntimeException] {
      graft.etl.Migration.runImport(spark, sf, graft.etl.DlpConfig.ExampleConfig,
        sink, "imported")
    }
    val others = Tables.all.filterNot(_ == "region") :+ "events_dead_letter"
    assert(others.forall(done.contains), "writes still running at failure: " +
      others.filterNot(done.contains).mkString(", "))
    assert(err.getMessage.contains("region"), err.getMessage)
  }

  test("cosine_sim is callable from SQL after registration") {
    graft.functions.VectorExprs.register(spark)
    val r = spark.sql("SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c")
      .collect()(0).getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
    val mixed = spark.sql(
      "SELECT cosine_sim(array(1.0D, 2.0D), array(2.0D, 1.0D)) AS c").collect()(0).getDouble(0)
    assert(math.abs(mixed - 0.8) < 1e-12)
  }
}
