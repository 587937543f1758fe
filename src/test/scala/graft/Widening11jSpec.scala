package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Analytics

/** Round-11 batch-15 operators: DAU/MAU vs a brute-force trailing
  * window, label-precision accounting, day-of-week conservation.
  */
class Widening11jSpec extends AnyFunSuite {
  import SparkTestSession._

  test("dau/mau matches a brute-force trailing-28-day distinct") {
    val got = Analytics.qDauMau(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val ud = Tables.events(spark, sf)
      .filter(col("user_id").isNotNull)
      .selectExpr("user_id", "unix_micros(ts) DIV 86400000000 AS day")
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val days = ud.map(_._2).distinct.sorted
    assert(got.keySet == days.toSet, "one row per observed day")
    days.foreach { d =>
      val dau = ud.filter(_._2 == d).map(_._1).distinct.length.toLong
      val mau = ud.filter(u => u._2 <= d && u._2 > d - 28).map(_._1).distinct.length.toLong
      assert(got(d) == ((dau, mau, dau * 10000 / mau)), s"day $d")
      assert(dau <= mau)
    }
  }

  test("label precision covers the in-bucket pair list and re-derives per band") {
    val rows = graft.sim.Ann.labelPrecision(spark, sf).collect()
    // independent recount of the unthresholded in-bucket pair volume
    val eB = Tables.embeddings(spark, sf)
      .selectExpr("vec_id",
        "concat(" + (1 to 8).map(i =>
          s"CASE WHEN element_at(CAST(embedding AS ARRAY<DOUBLE>), $i) >= 0 THEN '1' ELSE '0' END")
          .mkString(", ") + ") AS bucket")
    val nPairs = eB.groupBy("bucket").count()
      .selectExpr("sum(count * (count - 1) DIV 2)").collect().head.getLong(0)
    assert(rows.map(_.getLong(1)).sum == nPairs, "bands must partition ALL in-bucket pairs")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      assert(r.getLong(3) == r.getLong(2) * 10000 / r.getLong(1))
    }
    // the calibration's reason to exist: same-label precision should
    // not DECREASE as the cosine band rises on this labeled corpus
    val byBand = rows.sortBy(_.getString(0)).map(_.getLong(3)).toSeq
    assert(byBand == byBand.sorted.reverse || byBand.length <= 1,
      s"precision not monotone across bands: $byBand")
  }

  test("dow profile conserves events and shares per type") {
    val rows = Analytics.qDowProfile(spark, sf).collect()
    val nEvents = Tables.events(spark, sf).count()
    assert(rows.map(_.getLong(2)).sum == nEvents)
    rows.groupBy(_.getString(0)).foreach { case (t, rs) =>
      val s = rs.map(_.getLong(3)).sum
      assert(s >= 10000 - 7 && s <= 10000, s"type $t share sum $s")
      assert(rs.forall(r => r.getLong(1) >= 0 && r.getLong(1) <= 6))
    }
  }
}
