package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf = "/root/testdata/sf0.001"
}

class AnalyticsSpec extends AnyFunSuite {
  import SparkTestSession._

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every queries key runs and every oracleSql key exists in queries") {
    SparkEntry.oracleSql.keys.foreach { k =>
      assert(SparkEntry.queries.contains(k), s"oracleSql key $k missing from queries")
    }
    // and the reverse: NO query ships without an oracle (a rows-only
    // check is a weaker gate — full coverage is the contract)
    SparkEntry.queries.keys.foreach { k =>
      assert(SparkEntry.oracleSql.contains(k), s"query $k has no oracleSql entry")
    }
    // Silent-empty net: a refactor that turns a result empty would
    // still hash-match an empty oracle — every query must return rows
    // at sf0.001 except the one documented exception: q_spearman_rho's
    // 2-suppliers-per-nation floor drops every nation at sf0.001's
    // 10-supplier toy scale (Widening12kSpec pins BOTH the sf0.001
    // emptiness and the sf0.01 population, so a refactor that empties
    // it at real scale still fails loudly)
    val mayBeEmptyAtTinySf = Set("q_spearman_rho")
    val empties = SparkEntry.queries.flatMap { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, s"$name has no columns")
      if (df.count() == 0 && !mayBeEmptyAtTinySf(name)) Some(name) else None
    }
    assert(empties.isEmpty, s"unexpectedly empty at sf0.001: ${empties.mkString(", ")}")
  }

  test("no DECIMAL column crosses the compare boundary (money = long cents)") {
    // The driver's result hash treats DECIMAL reprs differently across
    // engines even when values match — every output column must be a
    // non-decimal type (BIGINT scaled units / string / timestamp).
    SparkEntry.oracleSql.keys.toSeq.sorted.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      df.schema.fields.foreach { f =>
        assert(!f.dataType.typeName.startsWith("decimal"),
          s"$name.${f.name} is ${f.dataType.typeName}: decimals must not cross the oracle boundary")
      }
    }
    val q1 = operators.Analytics.q1PricingSummary(spark, sf)
    assert(q1.schema("sum_qty").dataType.typeName == "long")
  }

  test("q6 filter is pushed to the parquet scan") {
    val plan = operators.Analytics.q6ForecastRevenue(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("l_shipdate"),
      "expected pushdown of l_shipdate filter into scan")
  }

  test("approx distinct within the 3-sigma band of exact") {
    val rows = operators.Analytics.qApproxDistinct(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(r.fieldIndex("within_band")) == 1L,
        s"HLL estimate off by more than 6% for ${r.getString(0)}")
    }
  }

  test("weighted sample over-represents long documents (PPS property)") {
    // priority = h/weight ranking must pull the sample's mean length
    // above the corpus mean — the property that makes it WEIGHTED
    // sampling rather than uniform; determinism is the oracle's job.
    val sampleMean = text.TextOps.sampleWeighted(spark, sf)
      .agg(avg(col("n_chars"))).head.getDouble(0)
    val corpusMean = Tables.documents(spark, sf)
      .agg(avg(col("n_chars"))).head.getDouble(0)
    assert(sampleMean > corpusMean,
      s"weighted sample mean $sampleMean not above corpus mean $corpusMean")
  }

  test("incremental agg merge equals full recompute (re-aggregability)") {
    val merged = operators.SourceQueries.aggUpsert(spark, sf)
    val full = Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum((col("value").cast("decimal(18,2)") * 100).cast("long")).as("total_cents"),
        max(col("ts")).as("last_ts"))
      .orderBy("event_type")
    assert(merged.collect().toSeq == full.collect().toSeq,
      "stored-state + batch merge diverged from the full recompute")
  }
}
