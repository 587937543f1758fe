package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Analytics, SourceQueries}
import graft.multimodal.Multimodal
import graft.streaming.Streams

/** Round-12 batch-10 operators: runs test, discount elasticity,
  * audio framing plan, watermark-delay sweep, key-space completeness.
  */
class Widening12gSpec extends AnyFunSuite {
  import SparkTestSession._

  test("runs test: observed and expected runs match a driver fold") {
    val daily = Tables.orders(spark, sf)
      .select(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000").as("dn"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("c"))
      .groupBy("dn").agg(sum("c").as("rev"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val n = daily.length
    val med = daily.map(t => (t._2, t._1)).sorted.apply(math.max((n + 1) / 2, 1) - 1)._1
    val signs = daily.map(t => if (t._2 > med) 1L else 0L)
    val runs = 1L + signs.sliding(2).count(w => w.length == 2 && w(0) != w(1))
    val nAbove = signs.sum
    val nBelow = n - nAbove
    val eRunsC = 100 + (200 * nAbove * nBelow) / n
    val r = Analytics.qRunsTest(spark, sf).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((n.toLong, nAbove, nBelow, runs)), "counts diverge from the driver fold")
    assert(r.getLong(4) == eRunsC && r.getLong(5) == runs * 100 - eRunsC)
    Caches.clearAll()
  }

  test("elasticity: every discount level re-derives from raw lines") {
    val lines = Tables.lineitem(spark, sf)
      .selectExpr("CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS d",
        "CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS q",
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS p")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byD = lines.groupBy(_._1).map { case (d, ls) =>
      d -> (ls.length.toLong, ls.map(_._2).sum, ls.map(t => t._3 * (100 - d) / 100).sum)
    }
    val tot = byD.values.map(_._3).sum
    val got = Analytics.qDiscountElasticity(spark, sf).collect()
    assert(got.length == byD.size)
    got.foreach { r =>
      val (nL, qty, rev) = byD(r.getLong(0))
      assert((r.getLong(1), r.getLong(2), r.getLong(4)) == ((nL, qty, rev)))
      assert(r.getLong(3) == qty / nL && r.getLong(5) == rev * 10000 / tot)
    }
    Caches.clearAll()
  }

  test("audio plan: frame fence-posts hold for every routed asset") {
    val bytesOf = Tables.documents(spark, sf)
      .selectExpr("doc_id", "CAST(octet_length(CAST(text AS BINARY)) AS BIGINT) AS nb")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = Multimodal.audioWindowPlan(spark, sf).collect()
    assert(rows.nonEmpty && rows.forall(_.getLong(0) % 3 == 2),
      "exactly the RIFF-routed third of the corpus")
    assert(rows.length == bytesOf.keys.count(_ % 3 == 2))
    rows.foreach { r =>
      val (id, db, dur, nf, nb) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(db == bytesOf(id), "data bytes must be payload minus the 4-byte magic")
      assert(dur == db / 32)
      assert(nf == (if (dur >= 25) 1 + (dur - 25) / 10 else 0L))
      // fence-post: the last frame must END inside the clip, and one
      // more hop must not fit
      if (nf > 0) {
        assert(25 + (nf - 1) * 10 <= dur && 25 + nf * 10 > dur)
      }
      assert(nb == (nf + 63) / 64)
    }
    Caches.clearAll()
  }

  test("late sweep: monotone in delay, 10-min row ties out to the audit") {
    val rows = Streams.lateSweepBatch(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows.keySet == Set(5L, 10L, 30L))
    assert(rows.values.map(_._1).toSet.size == 1, "one shared event total")
    assert(rows(5L)._2 >= rows(10L)._2 && rows(10L)._2 >= rows(30L)._2,
      "a longer watermark can only drop fewer events")
    // the 10-minute row must equal the single-tolerance audit's total
    val audit10 = Streams.lateAuditBatch(spark, sf).collect().map(_.getLong(2)).sum
    assert(rows(10L)._2 == audit10,
      "sweep@10min diverges from lateAuditBatch's n_late total")
    rows.foreach { case (_, (n, d, bp)) => assert(bp == d * 10000 / n) }
    Caches.clearAll()
  }

  test("pk completeness: dense corpus all-complete; a forged hole localizes") {
    val rows = SourceQueries.ingestPkCompleteness(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(6) == 1L && r.getLong(5) == 0L,
        s"dense orderkey bucket ${r.getLong(0)} must profile complete")
      assert(r.getLong(2) <= r.getLong(1))
    }
    // forge a failed page: remove keys 300..349 (inside bucket 0)
    val holed = Tables.orders(spark, sf).selectExpr("o_orderkey AS k")
      .filter(!col("k").between(300, 349))
    val ledger = SourceQueries.pkCompletenessOf(holed).collect()
      .map(r => r.getLong(0) -> (r.getLong(5), r.getLong(6))).toMap
    assert(ledger(0L) == ((50L, 0L)), "the hole must localize to bucket 0 with 50 missing")
    ledger.filterNot(_._1 == 0L).values.foreach { case (miss, comp) =>
      assert(miss == 0L && comp == 1L, "no other bucket may report a hole")
    }
    Caches.clearAll()
  }
}
