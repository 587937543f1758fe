package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Analytics
import graft.dedup.Dedup
import graft.sim.Ann

/** Round-12 widening operators: calendar-lag autocorrelation,
  * cohort LTV, inter-order cadence,
  * dedup method agreement, dedup token ledger, sample cell coverage.
  */
class Widening12Spec extends AnyFunSuite {
  import SparkTestSession._

  test("autocorr: 7 lags, Cauchy-Schwarz bound, pair counts match day adjacency") {
    val rows = Analytics.qAutocorr(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq == (1L to 7L))
    rows.foreach(r => assert(math.abs(r.getLong(2)) <= 10000,
      s"lag ${r.getLong(0)}: |ac_bp| must respect Cauchy-Schwarz"))
    // recount pairs independently: days present, lag-k day pairs
    val days = Tables.orders(spark, sf)
      .selectExpr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000 AS dn")
      .distinct().collect().map(_.getLong(0)).toSet
    rows.foreach { r =>
      val k = r.getLong(0)
      assert(r.getLong(1) == days.count(d => days.contains(d + k)),
        s"lag $k pair count")
    }
    Caches.clearAll()
  }

  test("cohort ltv: cumulative monotone per cohort, cohort sizes partition customers") {
    val rows = Analytics.qCohortLtv(spark, sf).collect()
    val byCohort = rows.groupBy(_.getString(0))
    byCohort.values.foreach { rs =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.head.getLong(1) == 0L, "every cohort starts at age 0")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getLong(4) == a.getLong(4) + b.getLong(3),
            "cum_rev must be the running sum of rev")
        case _ =>
      }
      assert(rs.map(_.getLong(2)).distinct.length == 1,
        "cohort size is constant within a cohort")
    }
    val nCust = Tables.orders(spark, sf).select("o_custkey").distinct().count()
    assert(byCohort.values.map(_.head.getLong(2)).sum == nCust,
      "cohort sizes must partition the ordering customers")
    Caches.clearAll()
  }

  test("interorder gap: histogram covers orders minus first orders, shares sum to ~10000") {
    val rows = Analytics.qInterorderGap(spark, sf).collect()
    val nOrders = Tables.orders(spark, sf).count()
    val nCust = Tables.orders(spark, sf).select("o_custkey").distinct().count()
    assert(rows.map(_.getLong(1)).sum == nOrders - nCust,
      "every non-first order contributes exactly one gap")
    val shareSum = rows.map(_.getLong(2)).sum
    assert(shareSum <= 10000 && shareSum > 10000 - rows.length,
      "floored shares must sum to 10000 minus at most one ulp per bucket")
    rows.foreach(r => assert(r.getLong(0) >= 0 && r.getLong(0) <= 12))
    Caches.clearAll()
  }

  test("method agreement: exact dups are always minhash-flagged, set algebra holds") {
    val rows = Dedup.methodAgreement(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(rows.keySet == Set(("exact", "minhash"), ("exact", "ngram"), ("minhash", "ngram")))
    rows.values.foreach { r =>
      val (na, nb, both, either) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(both <= math.min(na, nb) && either >= math.max(na, nb))
      assert(either == na + nb - both, "inclusion-exclusion")
      assert(r.getLong(6) == both * 10000 / math.max(either, 1L))
    }
    // identical text => identical signature => same band keys => jacc 1.0:
    // the exact flag set is a SUBSET of the minhash flag set
    val em = rows(("exact", "minhash"))
    assert(em.getLong(4) == em.getLong(2),
      "every exact-dup doc must be minhash-flagged (n_both == n_exact)")
    Caches.clearAll()
  }

  test("dedup token audit agrees with the survivor pipeline") {
    val rows = Dedup.dedupTokenAudit(spark, sf).collect()
    val nDocs = Tables.documents(spark, sf).count()
    val nSurv = Dedup.pipelineSurvivors(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == nDocs, "doc ledger covers the corpus")
    assert(rows.map(_.getLong(3)).sum == nSurv,
      "surviving docs must match pipelineSurvivors exactly")
    rows.foreach { r =>
      assert(r.getLong(4) <= r.getLong(2), "surviving tokens bounded by total")
      assert(r.getLong(5) >= 0 && r.getLong(5) <= 10000)
    }
    Caches.clearAll()
  }

  test("sample cell coverage conserves corpus and sample mass, deltas net to ~0") {
    val rows = Ann.sampleCellCoverage(spark, sf).collect()
    val nVecs = Tables.embeddings(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == nVecs, "cells partition the corpus")
    val keptTotal = Ann.classBalance(spark, sf).collect().map(_.getLong(2)).sum
    assert(rows.map(_.getLong(2)).sum == keptTotal,
      "sampled mass must equal the class-balanced keep set")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "sample within corpus per cell")
      assert(r.getLong(5) == r.getLong(4) - r.getLong(3), "delta is the bp difference")
    }
    // floored bp deltas net out to within one ulp per cell
    assert(math.abs(rows.map(_.getLong(5)).sum) <= rows.length)
    Caches.clearAll()
  }
}
