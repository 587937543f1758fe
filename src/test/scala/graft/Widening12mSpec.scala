package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Analytics, DlpQueries}
import graft.sim.Ann
import graft.text.TextOps

/** Round-12 batch-16 operators: binned two-sample KS, Markov steady
  * state (quantized power iteration), 1-bit Hamming recall, Heaps
  * vocabulary growth curve, retention-policy sweep.
  */
class Widening12mSpec extends AnyFunSuite {
  import SparkTestSession._

  test("ks binned: D re-derives from raw binned ECDFs and lands on the smallest argmax bin") {
    val rows = Tables.orders(spark, sf)
      .filter(expr("year(o_orderdate) IN (1996, 1997)"))
      .selectExpr("CAST(year(o_orderdate) AS BIGINT) AS yr",
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) DIV 10000 AS bin")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val bins = rows.groupBy(_._2).map { case (b, rs) =>
      b -> (rs.count(_._1 == 1996L).toLong, rs.count(_._1 == 1997L).toLong)
    }.toSeq.sortBy(_._1)
    val (n1, n2) = (bins.map(_._2._1).sum, bins.map(_._2._2).sum)
    var (c1, c2) = (0L, 0L)
    val gaps = bins.map { case (b, (a, bb)) =>
      c1 += a; c2 += bb; (b, math.abs(c1 * n2 - c2 * n1))
    }
    val best = gaps.maxBy(g => (g._2, -g._1))
    val got = Analytics.qKsBinned(spark, sf).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1)) == ((n1, n2)))
    assert(r.getLong(2) == best._1, "argmax bin (ties to smallest)")
    assert(r.getLong(3) == (best._2 * 10000L) / (n1 * n2), "D_bp re-derives")
    assert(r.getLong(3) >= 0L && r.getLong(3) <= 10000L)
    Caches.clearAll()
  }

  test("hamming recall: hits re-derive from independent top-5 sets; bill is coherent") {
    val vecs = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS emb")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def pack(e: Array[Double]): Long =
      e.zipWithIndex.foldLeft(0L) { case (acc, (v, i)) =>
        if (v > 0) acc + (if (i == 63) Long.MinValue else 1L << i) else acc
      }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val packed = vecs.map { case (id, e) => id -> pack(e) }.toMap
    val byId = vecs.toMap
    val queries = vecs.map(_._1).filter(id => id >= 8 && id < 18)
    val expect = queries.map { q =>
      val ham5 = packed.toSeq.filter(_._1 != q)
        .map { case (id, b) => (java.lang.Long.bitCount(b ^ packed(q)).toLong, id) }
        .sorted.take(5).map(_._2).toSet
      val exact5 = vecs.filter(_._1 != q)
        .map { case (id, e) => (-cos(byId(q), e), id) }
        .sortBy(identity).take(5).map(_._2).toSet
      q -> (exact5, (exact5 & ham5).size.toLong)
    }.toMap
    val got = Ann.hammingRecall(spark, sf).collect()
    assert(got.length == queries.length)
    got.foreach { r =>
      val (_, hits) = expect(r.getLong(0))
      assert(r.getLong(1) == 5L, "ground truth is top-5")
      assert(r.getLong(2) == hits, s"query ${r.getLong(0)} hits re-derive")
      assert(r.getLong(3) == hits * 2000L, "recall_bp = hits/5 in bp")
    }
    Caches.clearAll()
  }

  test("heaps curve: conservation and first-occurrence attribution") {
    val docs = Tables.documents(spark, sf)
      .selectExpr("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val maxd = docs.map(_._1).max
    def bucket(id: Long): Long = (id * 20) / (maxd + 1)
    val firstDoc = docs.flatMap { case (id, t) => t.split(" ").map(_ -> id) }
      .groupBy(_._1).map { case (w, occ) => w -> occ.map(_._2).min }
    val newPerBucket = firstDoc.values.groupBy(bucket).map { case (b, v) => b -> v.size.toLong }
    val docsPerBucket = docs.map(_._1).groupBy(bucket).map { case (b, v) => b -> v.length.toLong }
    val got = TextOps.heapsCurve(spark, sf).collect()
    assert(got.map(_.getLong(0)).toSeq == got.map(_.getLong(0)).toSeq.sorted)
    got.foreach { r =>
      val b = r.getLong(0)
      assert(r.getLong(1) == docsPerBucket(b), s"bucket $b docs")
      assert(r.getLong(3) == newPerBucket.getOrElse(b, 0L), s"bucket $b new words")
    }
    // conservation: the last cumulative row covers the whole corpus
    assert(got.last.getLong(2) == docs.length.toLong, "cum_docs = corpus size")
    assert(got.last.getLong(4) == firstDoc.size.toLong, "cum_vocab = distinct words")
    // cumulative columns are non-decreasing by construction
    val cums = got.map(r => (r.getLong(2), r.getLong(4)))
    cums.zip(cums.tail).foreach { case ((d1, v1), (d2, v2)) =>
      assert(d1 <= d2 && v1 <= v2)
    }
    Caches.clearAll()
  }

  test("retention sweep: per-year split re-derives from the anchored cutoff") {
    val days = Tables.orders(spark, sf)
      .selectExpr("CAST(year(o_orderdate) AS BIGINT) AS yr",
        "unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000 AS dn")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val cutoff = days.map(_._2).max - 4L * 365
    val expect = days.groupBy(_._1).map { case (y, ds) =>
      y -> (ds.length.toLong, ds.count(_._2 < cutoff).toLong,
        ds.map(_._2).min, ds.map(_._2).max)
    }
    val got = DlpQueries.dlpRetentionSweep(spark, sf).collect()
    assert(got.length == expect.size && got.nonEmpty)
    got.foreach { r =>
      val (n, ex, lo, hi) = expect(r.getLong(0))
      assert((r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5)) ==
        ((n, ex, lo, hi)), s"year ${r.getLong(0)} re-derives")
      assert(r.getLong(3) == (ex * 10000L) / n)
    }
    // the boundary property a purge plan relies on: every year that
    // ENDS before the cutoff is fully expired; every year that STARTS
    // at/after it holds zero
    got.foreach { r =>
      if (r.getLong(5) < cutoff) assert(r.getLong(3) == 10000L)
      if (r.getLong(4) >= cutoff) assert(r.getLong(2) == 0L)
    }
    Caches.clearAll()
  }
}
