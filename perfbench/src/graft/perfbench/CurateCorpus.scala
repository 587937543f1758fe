package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.{Caches, Tables}
import graft.dedup.Dedup
import graft.sim.Ann
import graft.text.TextOps

/** A fixed corpus-curation chain over `documents` and `embeddings`:
  * quality gate, exact dedup, MinHash pairs, connected components,
  * survivors, IVF top-k and brute-force top-k. The session caches live
  * for the whole run and are cleared at its end, so the measured
  * iterations see the fixed per-query floor of warm caches. */
final class CurateCorpus extends Workload {
  private var docs: Map[Long, String] = Map.empty
  private var vecs: Map[Long, Array[Double]] = Map.empty

  private val chain: Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)] = Seq(
    "text.gate" -> TextOps.qualityGate _,
    "dedup.exact" -> Dedup.exact _,
    "dedup.minhash" -> Dedup.minhashPairs _,
    "dedup.components" -> Dedup.components _,
    "dedup.survivors" -> Dedup.pipelineSurvivors _,
    "ann.ivf" -> ((s, d) => Ann.ivfTopkProbe2(s, d)),
    "ann.topk" -> Ann.topkBruteforce _)

  override def layers: Seq[String] = chain.map(_._1 + "_s")

  override def prepare(ctx: Ctx): Unit = {
    docs = Tables.documents(ctx.spark, ctx.dataDir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    vecs = Tables.embeddings(ctx.spark, ctx.dataDir).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
  }

  /** The parquet corpus needs no set-up. */
  override def setup(ctx: Ctx, rep: Int): Unit = ()

  override def iteration(ctx: Ctx): Iter = {
    val spark = ctx.spark
    val traced = ctx.traced
    val results = mutable.Map.empty[String, Array[Row]]
    chain.foreach { case (name, f) =>
      val before = if (traced) spark.sparkContext.getPersistentRDDs.keySet else Set.empty[Int]
      ctx.step(name) {
        ctx.op("operator", name) {
          ctx.span(name) {
            val df = f(spark, ctx.dataDir)
            if (traced)
              ctx.count("caches.hits",
                org.apache.spark.sql.PerfbenchPlans.cachedRddIds(df).count(before.contains).toDouble)
            df.collect()
          }
        }
      }.foreach(results(name) = _)
      if (traced)
        ctx.count("caches.builds",
          spark.sparkContext.getPersistentRDDs.keySet.count(id => !before.contains(id)).toDouble)
    }
    Iter(docs.size + vecs.size, () => check(ctx, traced, results.toMap))
  }

  private def check(ctx: Ctx, traced: Boolean, r: Map[String, Array[Row]]): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    r.get("text.gate").foreach { g =>
      if (g.length != docs.size) out += s"quality gate: ${g.length} rows for ${docs.size} documents"
    }
    // exact duplicates recomputed by brute force: one group per text,
    // kept as its lowest doc_id
    val groups = docs.groupBy(_._2).values.map(g => (g.keys.min, g.size.toLong)).toSet
    r.get("dedup.exact").foreach { e =>
      val got = e.map(x => (x.getAs[Long]("keeper"), x.getAs[Long]("n"))).toSet
      if (got != groups) out += s"exact dedup: ${got.size} groups, brute force finds ${groups.size}"
    }
    r.get("dedup.minhash").foreach { p =>
      val pairs = p.map(x => (x.getAs[Long]("doc_a"), x.getAs[Long]("doc_b"))).toSet
      // identical texts collide in every band and verify at Jaccard 1
      val exactPairs = docs.groupBy(_._2).values.flatMap { g =>
        val ids = g.keys.toSeq.sorted
        for (i <- ids.indices; j <- i + 1 until ids.size) yield (ids(i), ids(j))
      }.toSet
      val lost = exactPairs.diff(pairs).size
      if (lost > 0) out += s"minhash pairs: $lost exact-duplicate pairs missing"
      r.get("dedup.survivors").foreach { s =>
        val want = docs.keySet.diff(pairs.map(_._2))
        val got = s.map(_.getAs[Long]("doc_id")).toSet
        if (got != want) out += s"survivors: ${got.size} documents, expected ${want.size}"
        val texts = got.toSeq.map(docs)
        if (texts.distinct.size != texts.size) out += "survivors: exact duplicates survive"
      }
      r.get("dedup.components").foreach { c =>
        val want = components(pairs)
        val bad = c.count(x => x.getAs[Long]("comp") != want(x.getAs[Long]("doc_id")))
        if (c.length != docs.size || bad > 0)
          out += s"components: ${c.length} labels, $bad differ from union-find"
      }
      if (traced) {
        ctx.count("dedup.verified", pairs.size.toDouble)
        ctx.count("dedup.candidates", candidates(ctx).toDouble)
      }
    }
    r.get("ann.topk").foreach { t =>
      val got = t.groupBy(_.getAs[Long]("query_id")).map { case (q, xs) =>
        q -> xs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("neighbor_id")).toSeq
      }
      val bad = got.count { case (q, ns) => !sameTopk(q, ns, bruteTopk(q, 10)) }
      if (got.size != 10 || bad > 0) out += s"brute-force top-k: ${got.size} queries, $bad differ from the exact scan"
    }
    r.get("ann.ivf").foreach { t =>
      val got = t.groupBy(_.getAs[Long]("query_id")).map { case (q, xs) =>
        q -> xs.map(_.getAs[Long]("neighbor_id")).toSet
      }
      val k = 5
      ctx.count("ann.hits", got.map { case (q, ns) => bruteTopk(q, k).count(ns.contains) }.sum.toDouble)
      ctx.count("ann.truth", (got.size * k).toDouble)
    }
    out.toSeq
  }

  /** Exact cosine top-k of `q` over all other vectors, ties by vec_id. */
  private def bruteTopk(q: Long, k: Int): Seq[Long] = {
    val qv = vecs(q)
    val qn = math.sqrt(qv.map(x => x * x).sum)
    vecs.iterator.filter(_._1 != q).map { case (id, v) =>
      var dot = 0.0; var n = 0.0; var i = 0
      while (i < v.length) { dot += v(i) * qv(i); n += v(i) * v(i); i += 1 }
      (id, dot / (math.sqrt(n) * qn))
    }.toSeq.sortBy { case (id, c) => (-c, id) }.take(k).map(_._1)
  }

  /** Same neighbour list up to near-ties in cosine. */
  private def sameTopk(q: Long, got: Seq[Long], want: Seq[Long]): Boolean =
    got == want || {
      val qv = vecs(q)
      def cos(id: Long) = {
        val v = vecs(id)
        v.indices.map(i => v(i) * qv(i)).sum / math.sqrt(v.map(x => x * x).sum * qv.map(x => x * x).sum)
      }
      got.size == want.size && got.zip(want).forall { case (a, b) => math.abs(cos(a) - cos(b)) < 1e-9 }
    }

  /** Component label (lowest doc_id) of every document over `pairs`. */
  private def components(pairs: Set[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    docs.keys.map(d => d -> find(d)).toMap
  }

  /** LSH candidate pairs: documents sharing a band key. */
  private def candidates(ctx: Ctx): Long = {
    val bands = Dedup.bandKeys(Tables.documents(ctx.spark, ctx.dataDir))
    bands.as("a").join(bands.as("b"),
        col("a.band_id") === col("b.band_id") && col("a.bk") === col("b.bk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
  }

  override def finish(ctx: Ctx): Seq[String] = { Caches.clearAll(); Nil }
}
