package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Skew

/** Scale-machinery specs: salting correctness, bucketed shuffle-free
  * joins. */
class ScaleSpec extends AnyFunSuite {
  import SparkTestSession._

  test("salted join is row-identical to the plain join") {
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val ord = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
      .toDF("l_orderkey", "o_totalprice")
    val plain = li.join(ord, "l_orderkey")
    // threshold 5 marks a real subset of orderkeys hot (6-7 lineitems)
    val salted = Skew.saltedJoin(li, ord, "l_orderkey", 8, hotThreshold = 5L)
    assert(salted.count() == plain.count())
    assert(salted.columns.toSeq == plain.columns.toSeq)
    val a = plain.orderBy(plain.columns.map(col): _*).collect().toSeq
    val b = salted.orderBy(salted.columns.map(col): _*).collect().toSeq
    assert(a == b)
  }

  test("salted join replicates ONLY hot-key build rows") {
    import spark.implicits._
    // 1 hot key (100 probe rows) + 50 cold keys (1 row each); build has
    // one row per key. Targeted salting must expand the build side by
    // exactly (saltFactor-1) rows — the hot key's — not 8× everything.
    val probe = ((0 until 100).map(_ => 1L) ++ (2L to 51L)).toDF("k")
    val build = (1L to 51L).map(k => (k, s"v$k")).toDF("k", "v")
    val saltFactor = 8
    val out = Skew.saltedJoin(probe, build, "k", saltFactor, hotThreshold = 10L)
    val plain = probe.join(build, "k")
    assert(out.count() == plain.count())
    // white-box: rebuild the replicated side the operator constructs and
    // count it — cold rows must stay single, hot rows fan out saltFactor×
    val hot = probe.groupBy("k").count().filter(col("count") > 10).select("k")
    assert(hot.count() == 1)
    val replicatedRows = build.join(hot, Seq("k"), "left_semi").count() * saltFactor +
      build.join(hot, Seq("k"), "left_anti").count()
    assert(replicatedRows == build.count() + (saltFactor - 1),
      "replication must be confined to the hot key")
    // plan shape: the hot list reaches both sides through broadcast
    // joins, and the big join itself shuffles on (key, salt)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"hot-list should attach via broadcast:\n${plan.take(1500)}")
    assert(plan.contains("__salt"), "join must carry the salt key")
  }

  test("ngramJaccard: df cap bounds index fan-out without changing scores") {
    import spark.implicits._
    // two true near-dups sharing rare grams, plus many docs sharing
    // one stop-phrase ("x y z" gram) that would otherwise fan out k²
    val nearDupA = "alpha beta gamma delta epsilon zeta"
    val nearDupB = "alpha beta gamma delta epsilon eta!"
    val boiler = (0 until 20).map(i => f"x y z filler$i%02d pad words here".take(34))
    val docs = (Seq(nearDupA, nearDupB) ++ boiler).zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "synthetic", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft-cap").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // cap 4 drops the shared stop-gram "x y z" (df=20) from the index;
    // the true pair must still be found with its exact score
    val capped = graft.dedup.Dedup.ngramJaccard(spark, dir, maxGramDf = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(capped == Seq((0L, 1L)), s"expected only the true near-dup pair, got $capped")
    // uncapped finds the same pairs here (boilerplate shares 1 gram of
    // ~5 → jacc « 0.5), proving the cap only pruned the index
    val uncapped = graft.dedup.Dedup.ngramJaccard(spark, dir, maxGramDf = 1 << 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(uncapped == capped)
  }

  test("incremental dedup checks batch-vs-corpus only, never corpus self-pairs") {
    val out = graft.dedup.Dedup.incremental(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(0) % 2 == 1, s"output must be batch (odd) docs only: $r")
      val dupOf = r.getLong(2)
      if (r.getLong(1) == 1L)
        assert(dupOf % 2 == 0 && dupOf >= 0, s"dup_of must point into the corpus (even): $r")
      else assert(dupOf == -1L && r.getLong(3) == 0L, s"non-dup must carry sentinels: $r")
    }
  }

  test("decontaminate flags only eval/test docs and points into train") {
    val split = Tables.documents(spark, sf)
      .selectExpr("doc_id", s"${graft.text.TextOps.HashBucketSql} AS h")
      .collect().map(r => r.getLong(0) ->
        (if (r.getLong(1) < 80) "train" else if (r.getLong(1) < 90) "val" else "test")).toMap
    val out = graft.dedup.Dedup.decontaminate(spark, sf).collect()
    out.foreach { r =>
      val (docId, sp, trainDup) = (r.getLong(0), r.getString(1), r.getLong(2))
      assert(sp != "train" && split(docId) == sp, s"flagged doc must be eval/test: $r")
      assert(split(trainDup) == "train", s"train_dup must sit in train: $r")
    }
  }

  test("quality gate reports the FIRST failing rule") {
    val rows = graft.text.TextOps.qualityGate(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, hits, dup) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val expected =
        if (n < 5) "too_short"
        else if (hits == 0) "unknown_language"
        else if (dup > 3000) "repetitive"
        else "ok"
      assert(r.getString(4) == expected, s"gate order violated: $r")
      assert(r.getLong(5) == (if (expected == "ok") 1L else 0L))
    }
  }

  test("components: transitive chains collapse to one group, min-label id") {
    import spark.implicits._
    // chain 1-2-3 (1~2, 2~3, but NOT 1~3), pair 7-9, singletons 5, 8
    val docs = Seq(1L, 2L, 3L, 5L, 7L, 8L, 9L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc_a", "doc_b")
    // componentsFromPairs returns unsorted (its result is cached by
    // components(), which orders at the read) — sort here
    val got = graft.dedup.Dedup.componentsFromPairs(docs, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(got == Seq(
      (1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (5L, 5L, 1L), (7L, 7L, 2L), (8L, 8L, 1L), (9L, 7L, 2L)))
  }

  test("components: non-convergence at the round cap throws, never silently splits") {
    import spark.implicits._
    // a 12-node path graph has diameter 11: min-label propagation moves
    // label 1 one hop per round, so a cap of 3 cannot converge — the
    // guard must throw rather than return split components
    val docs = (1L to 12L).toDF("doc_id")
    val pairs = (1L to 11L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val ex = intercept[IllegalStateException] {
      graft.dedup.Dedup.componentsFromPairs(docs, pairs, maxRounds = 3).collect()
    }
    assert(ex.getMessage.contains("did not converge"))
    // and with sufficient rounds the same graph collapses to one component
    val ok = graft.dedup.Dedup.componentsFromPairs(docs, pairs, maxRounds = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(ok == (1L to 12L).map(i => (i, 1L, 12L)))
  }

  test("bucketed range join is result-identical to the direct interval join") {
    val e = Tables.events(spark, sf)
      .selectExpr("event_id", "event_type", "value", "unix_micros(ts) AS us")
    val w = e.filter(col("event_type") === "purchase" && col("value") >= 95)
      .selectExpr("event_id AS purchase_id", "us AS lo", "us + 1800000000 AS hi")
    val c = e.filter(col("event_type") === "click")
      .selectExpr("event_id AS click_id", "us")
    val direct = w.join(c, col("us") >= col("lo") && col("us") < col("hi"), "left")
      .groupBy("purchase_id")
      .agg(count(col("click_id")).as("n_clicks"))
      .orderBy("purchase_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val bucketed = graft.operators.Analytics.qRangeJoin(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(bucketed == direct)
    assert(bucketed.nonEmpty)
  }

  test("key operators are partition-count invariant (3 vs 13 shuffle partitions)") {
    // determinism at any parallelism is the 1000-executor contract:
    // every hash/sketch/rank operator must produce identical rows
    // whether the shuffle fans out over 3 or 13 partitions
    val keys = Seq("dedup_minhash_pairs", "dedup_ngram_jaccard",
      "dedup_components", "q_topk_native", "ann_pq_topk", "stream_sessionize",
      "embed_centroid_update",
      "dedup_incremental", "split_decontaminate", "mm_feature_extract",
      // round 7: chunk boundaries, integer tf-idf ranks, int8 codes,
      // cluster labels, kmeans codebook — all must be bit-stable at
      // any parallelism
      "text_chunking", "text_tfidf", "embed_quantize_int8",
      "dedup_semantic_cluster", "embed_kmeans_train", "stream_late_audit",
      // round 8: z-buckets, PPS sample, deid batch fingerprints — and
      // the continuation's LM scores, bucket checksums, CDC merge, JL
      // projection, anomaly flags, fuzzy pairs: all bit-stable at any
      // parallelism
      "layout_zorder",
      "sample_weighted", "stream_deid_pipeline", "text_lm_score",
      "ingest_checksum_reconcile", "load_cdc_apply",
      "embed_random_projection", "stream_rate_anomaly", "dedup_fuzzy_link",
      // mm_binary_ingest: only the READ path varies here — staging is
      // memoized on disk across runs, so both parallelisms scan the
      // same staged files (the write is local-mode scaffolding)
      "pipeline_training_mix", "mm_binary_ingest",
      // round 9: funnel stages (window AND state-machine forms),
      // skyline membership, compaction bins, median/MAD, mix
      // allocations, BPE pair ranks, BM25 ranks, sample selection,
      // tuning-table counts, drift cells, curation funnels — all
      // bit-stable at any parallelism
      "q_sequence_match", "stream_funnel_match_replay", "q_skyline",
      "layout_compaction_plan",
      "text_length_outliers", "pipeline_mix_weights", "text_bpe_pairs",
      "text_bm25", "sample_group_topk", "dedup_lsh_tuning",
      "ann_reassign_drift", "embed_dim_stats", "pipeline_mm_curation",
      "ingest_snapshot_diff",
      // round 10: sliding-window substring spans — offsets, span merges
      // and window counts must be bit-stable at any parallelism
      "dedup_substring")
    def runAll(parts: Int): Map[String, Seq[String]] = {
      // newSession() forks SHARE the CacheManager, and Caches.shared is
      // keyed by it — without clearing, the second run would collect
      // the first run's persisted DataFrames and the comparison would
      // be a tautology for every cache-backed operator
      Caches.clearAll()
      spark.catalog.clearCache()
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", parts.toString)
      keys.map { k =>
        k -> SparkEntry.queries(k)(s, sf).collect().map(_.toString).toSeq
      }.toMap
    }
    val a = runAll(3)
    val b = runAll(13)
    keys.foreach { k =>
      assert(a(k) == b(k), s"$k differs across partition counts")
      assert(a(k).nonEmpty, s"$k returned nothing")
    }
  }

  test("substring dedup: spans match a driver-side anchored-window recompute") {
    val rows = graft.dedup.Dedup.substringDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // driver-side oracle: same anchors, same dup rule, same merge
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val wins = docs.flatMap { case (id, t) =>
      (1 to t.length - 63)
        .filter(o => md5hex(t.substring(o - 1, o - 1 + 8)).last == '0')
        .map(o => (id, o.toLong, t.substring(o - 1, o - 1 + 64)))
    }
    val dupTexts = wins.groupBy(_._3).filter(_._2.map(_._1).distinct.size > 1).keySet
    val expected = wins.filter(w => dupTexts(w._3)).groupBy(_._1).toSeq.flatMap {
      case (id, ws) =>
        val sorted = ws.map(_._2).sorted
        // interval union: extend while the next window overlaps/touches
        val spans = sorted.foldLeft(List.empty[(Long, Long, Long)]) {
          case ((s, e, n) :: rest, o) if o <= e + 64 => (s, math.max(e, o), n + 1) :: rest
          case (acc, o) => (o, o, 1L) :: acc
        }
        spans.map { case (s, e, n) => (id, s, e + 64 - s, n) }
    }.toSet
    assert(rows.toSet == expected, s"spans diverge: got ${rows.size}, expected ${expected.size}")
    assert(rows.nonEmpty, "corpus duplicates must produce at least one span")
  }

  test("substring dedup catches misaligned boilerplate that paragraph dedup misses") {
    import spark.implicits._
    // one 200-char boilerplate block inserted at offsets differing by
    // 44 (≠ 0 mod any word/segment grid) — hashing aligned 8-word
    // segments and a fixed stride grid both miss it; content-
    // defined anchors land at the same in-block positions regardless
    // of the enclosing offset, so the windows match exactly
    val boiler = ("the quick brown fox jumps over the lazy dog again and again " * 4).take(200)
    val docs = Seq((1L, "x" * 37 + boiler + "tail one"), (2L, "y" * 81 + boiler + "other tail"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-substr").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val spans = graft.dedup.Dedup.substringDedup(spark, dir).collect()
    assert(spans.map(_.getLong(0)).toSet == Set(1L, 2L),
      "both docs must report a duplicated span")
    // every reported span must cover most of the 200-char block
    spans.foreach(r => assert(r.getLong(2) >= 128,
      s"span too short for a 200-char shared block: ${r.getLong(2)}"))
  }

  test("PQ recalls clustered neighbors (codebook-resolvable structure)") {
    // The shipped testdata is unit-norm quasi-random (pairwise-distance
    // cv ≈ 0.12) — no 8-codeword codebook can resolve that, and a
    // numpy reference PQ scores the same ~10% there. Fidelity is the
    // oracle's job; THIS spec checks PQ does its actual job when the
    // data has codebook-resolvable structure: 8 well-separated
    // clusters, codebook = the centers, queries near centers.
    import spark.implicits._
    val dim = 64
    def center(c: Int): Array[Float] = {
      val a = Array.fill(dim)(0.0f); (0 until 8).foreach(j => a(c * 8 + j) = 1.0f); a
    }
    def member(c: Int, i: Int): Array[Float] = {
      val a = center(c)
      a(i % dim) += 0.05f * ((i % 7) + 1); a((i * 13) % dim) += 0.03f; a
    }
    val rows =
      (0 until 8).map(c => (c.toLong, center(c), c)) ++ // ids 0-7: centers = codebook
      (8 until 18).map(i => (i.toLong, member(i % 8, i), i % 8)) ++ // queries near centers
      (18 until 100).map(i => (i.toLong, member(i % 8, i), i % 8))
    val dir = java.nio.file.Files.createTempDirectory("graft-pq").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val pq = graft.sim.Ann.pqTopk(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // every query's PQ neighbors should be dominated by its own cluster
    val sameCluster = pq.count { case (q, n) => q % 8 == n % 8 }
    assert(pq.nonEmpty)
    assert(sameCluster * 10 >= pq.length * 8,
      s"PQ should retrieve same-cluster neighbors, got $sameCluster of ${pq.length}")
  }

  test("bloom pre-filter: zero false negatives, real selectivity") {
    val li = Tables.lineitem(spark, sf)
    val ord = Tables.orders(spark, sf)
      .filter(col("o_totalprice") > 400000).select("o_orderkey")
    val trueMatches = li.join(ord, col("l_orderkey") === col("o_orderkey"), "left_semi")
    val pre = graft.operators.BloomJoin.preFiltered(spark, sf)
    // every true match must survive the bloom (no false negatives)
    assert(trueMatches.join(pre.select("l_orderkey", "l_linenumber"),
      Seq("l_orderkey", "l_linenumber"), "left_anti").count() == 0)
    // and the filter must actually drop most non-matching rows
    assert(pre.count() < li.count() / 2,
      "bloom pre-filter should be selective on high-value orders")
  }

  test("partitioned write prunes to one directory on a status filter") {
    val out = java.nio.file.Files.createTempDirectory("graft-prune").toString
    graft.sources.Sources.writeWarehouse(
      Tables.orders(spark, sf).select("o_orderkey", "o_totalprice", "o_orderstatus"),
      out, "wh", "orders_part", "WRITE_TRUNCATE", Seq("o_orderstatus"))
    val q = graft.operators.SourceQueries.prunedRead(spark, s"$out/wh/orders_part")
    val scan = q.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scan.contains("o_orderstatus"),
      s"partition filter must reach the scan, got: $scan")
    assert(q.count() == 1)
  }

  test("bucketed tables join without a shuffle exchange") {
    val wh = java.nio.file.Files.createTempDirectory("graft-buckets").toString
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
    val li = Tables.lineitem(s2, sf)
    val ord = Tables.orders(s2, sf)
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/li_b").mode("overwrite").saveAsTable("li_b")
    ord.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/ord_b").mode("overwrite").saveAsTable("ord_b")
    val joined = s2.table("li_b").join(s2.table("ord_b"),
      col("l_orderkey") === col("o_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed join should be shuffle-free, got:\n${plan.take(1500)}")
    assert(joined.count() == Tables.lineitem(s2, sf).count())
  }

  test("chunking covers every token, overlaps by window-stride, map-only plan") {
    val docs = Tables.documents(spark, sf)
      .selectExpr("doc_id", "CAST(size(split(text, ' ')) AS BIGINT) AS n_words")
    val chunks = graft.text.TextOps.chunk(spark, sf)
    // per doc: chunk count matches the formula, the last chunk reaches
    // the final token, and consecutive starts differ by exactly stride
    val agg = chunks.groupBy("doc_id").agg(
      count(lit(1)).as("n_chunks"),
      max(col("start_tok") + col("n_tok") - 1).as("last_tok"),
      max(col("start_tok")).as("max_start"))
    val joined = agg.join(docs, "doc_id")
    assert(joined.filter(col("last_tok") =!= col("n_words")).count() == 0,
      "last chunk must end at the last token")
    assert(joined.filter(col("max_start") =!= (col("n_chunks") - 1) * 24 + 1)
      .count() == 0, "starts must advance by the stride")
    // no token is lost: stride <= window means chunk i covers
    // [1+24(i-1), 24(i-1)+32] and consecutive ranges overlap by 8
    assert(chunks.filter(col("n_tok") <= 0).count() == 0)
    // scale shape: chunk emission itself is shuffle-free (the orderBy
    // for the oracle compare is the only exchange)
    val plan = graft.text.TextOps.chunk(spark, sf).queryExecution
      .executedPlan.toString
    assert(!plan.contains("HashAggregate"), "chunking must not aggregate")
  }

  test("ngram coverage is a bounded bp score and tops out on corpus-frequent docs") {
    val cov = graft.text.TextOps.ngramCoverage(spark, sf).collect()
    assert(cov.nonEmpty)
    cov.foreach { r =>
      val (n, top, bp) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(top >= 0 && top <= n, s"n_top out of range: $r")
      assert(bp >= 0 && bp <= 10000, s"coverage_bp out of range: $r")
      assert(bp == top * 10000 / n)
    }
    // the model side must be a bounded top-K (never a full-vocab sort
    // surviving into the join): word-soup corpus ⇒ varied coverage
    assert(cov.map(_.getLong(3)).distinct.length > 1,
      "coverage should discriminate documents")
  }

  test("tf-idf: 3 terms per doc, ranked by exact integer score") {
    val rows = graft.text.TextOps.tfidfTopTerms(spark, sf).collect()
    val byDoc = rows.groupBy(_.getLong(0))
    byDoc.foreach { case (_, rs) =>
      assert(rs.length <= 3)
      assert(rs.map(_.getLong(5)).sorted.sameElements(1L to rs.length))
      // scores non-increasing with rank
      val byRank = rs.sortBy(_.getLong(5)).map(_.getLong(4))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
  }

  test("sign-LSH ANN: neighbors share the query's bucket, ranks consecutive") {
    val out = graft.sim.Ann.lshTopk(spark, sf).collect()
    assert(out.nonEmpty)
    val e = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS emb")
      .selectExpr("vec_id",
        "concat(" + (1 to 8).map(i =>
          s"CASE WHEN element_at(emb, $i) >= 0 THEN '1' ELSE '0' END")
          .mkString(", ") + ") AS bucket")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out.foreach { r =>
      assert(e(r.getLong(0)) == e(r.getLong(1)),
        s"neighbor must come from the query's bucket: $r")
    }
    out.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getLong(2)).sorted.sameElements(1L to rs.length))
    }
  }

  test("int8 quantization: codes in [-127,127], error bounded by half a step") {
    val q = graft.sim.Ann.quantizeInt8(spark, sf).collect()
    assert(q.nonEmpty)
    q.foreach { r =>
      val s = r.getLong(1)
      (2 to 5).foreach { i =>
        val c = r.getLong(i)
        assert(c >= -127 && c <= 127, s"code out of int8 range: $r")
      }
      // round-half-up: |127·v − q·s| ≤ s/2 per dim, 64 dims
      assert(r.getLong(6) <= 64L * (s / 2 + 1), s"reconstruction error too large: $r")
    }
  }

  test("search rank returns only docs containing every term, scores descending") {
    val hits = graft.text.TextOps.searchRank(spark, sf).collect()
    assert(hits.nonEmpty)
    val scores = hits.map(_.getLong(1))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    val ids = hits.map(_.getLong(0)).toSet
    val texts = Tables.documents(spark, sf)
      .filter(col("doc_id").isInCollection(ids.toSeq))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    ids.foreach { id =>
      val words = texts(id).split(" ").toSet
      assert(words.contains("spark") && words.contains("table"),
        s"doc $id missing a query term")
    }
  }

  test("recall eval: 5 ground-truth rows per query, bp in range") {
    val r = graft.sim.Ann.recallEval(spark, sf).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(row.getLong(1) == 5, s"ground truth must be top-5: $row")
      assert(row.getLong(2) >= 0 && row.getLong(2) <= 5)
      assert(row.getLong(3) == row.getLong(2) * 10000 / 5)
    }
    // probe-1 IVF on clustered data should recall most true neighbors
    assert(r.map(_.getLong(2)).sum > 0, "IVF should hit some true neighbors")
  }

  test("late audit flags exactly the events behind the per-key high-water mark") {
    import spark.implicits._
    val min = 60L * 1000 * 1000 * 1000 // a minute in nanos (raw parquet unit)
    // user 1 arrival order: t0, t0+30m, then t0+10m (20m behind hwm ->
    // late at 10m tolerance) and t0+25m (5m behind -> on time);
    // user 2 strictly in order -> nothing late
    val rows = Seq(
      (1L, 0 * min, 1L, "click"), (2L, 30 * min, 1L, "click"),
      (3L, 10 * min, 1L, "click"), (4L, 25 * min, 1L, "click"),
      (5L, 0 * min, 2L, "view"), (6L, 5 * min, 2L, "view"))
    val dir = java.nio.file.Files.createTempDirectory("graft-late").toString
    rows.toDF("event_id", "ts", "user_id", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.streaming.Streams.lateAuditBatch(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5)))).toMap
    assert(out("click") == ((4L, 1L, 20L * 60 * 1000 * 1000, 30L * 60 * 1000 * 1000)),
      s"click: expected 1 late of 4, 20min worst skew, 30min worst jump, got ${out("click")}")
    assert(out("view") == ((2L, 0L, 0L, 5L * 60 * 1000 * 1000)))
  }

  test("family cache lifetime: iterative operators leave ZERO rdd storage after clearAll") {
    // The production contract Bench runs (and the regression test for
    // the r7 checkpoint-block leak): after a family finishes and the
    // session clears its state, NOTHING the family persisted may
    // survive — shared caches, the edges persist, and every label-
    // propagation / kmeans round's localCheckpoint blocks. Checkpoint
    // blocks are invisible to catalog.clearCache (they never enter the
    // CacheManager), so this asserts the explicit release paths in
    // componentsFromPairs/kmeansTrain + Checkpoints.releasePending.
    Caches.clearAll(); spark.catalog.clearCache()
    val before = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    // family 1 (dedup): components runs the checkpointed loop; keepBest
    // consumes the shared label cache on top
    graft.dedup.Dedup.components(spark, sf).count()
    graft.dedup.Dedup.keepBest(spark, sf).count()
    assert(spark.sparkContext.getRDDStorageInfo.map(_.id).toSet.diff(before).nonEmpty,
      "sanity: the family persists state while running")
    Caches.clearAll(); spark.catalog.clearCache()
    val leakedDedup = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet.diff(before)
    assert(leakedDedup.isEmpty,
      s"dedup family leaked rdd storage (ids ${leakedDedup.mkString(",")})")
    // family 2 (ann): the iterated Lloyd loop checkpoints per round
    graft.sim.Ann.kmeansTrain(spark, sf).count()
    Caches.clearAll(); spark.catalog.clearCache()
    val leakedKmeans = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet.diff(before)
    assert(leakedKmeans.isEmpty,
      s"kmeans family leaked rdd storage (ids ${leakedKmeans.mkString(",")})")
  }

  test("a FAILING iterative loop still releases its checkpoint blocks at clearAll") {
    // the error-path half of the lifecycle contract: a job failure
    // mid-loop must not strand the in-flight round's blocks or the
    // edges persist — a long-lived session catches per-query failures
    // and keeps going, so anything the failed run pinned has to drain
    // at clearAll. The poison fires on ONE key of a many-partition
    // input, so sibling tasks complete (and persist their edge-cache
    // partitions) before the abort — the partial-persist state a real
    // task failure leaves, not the zero-blocks instant-abort case.
    Caches.clearAll(); spark.catalog.clearCache()
    val before = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val docs = spark.range(1, 65).toDF("doc_id")
    val poison = spark.range(0, 63).repartition(8)
      .selectExpr("id + 1 AS doc_a", "id + 2 AS doc_b")
      .withColumn("doc_a",
        when(col("doc_a") === 37, expr("raise_error('injected failure')").cast("long"))
          .otherwise(col("doc_a")))
    intercept[Throwable] {
      graft.dedup.Dedup.componentsFromPairs(docs, poison).count()
    }
    Caches.clearAll(); spark.catalog.clearCache()
    val leaked = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet.diff(before)
    assert(leaked.isEmpty,
      s"failed loop leaked rdd storage (ids ${leaked.mkString(",")})")
  }

  test("releasing a partially materialized lazy checkpoint drops its blocks") {
    // unit form of the in-loop catch path: when the materializing
    // action of a round dies mid-job, the partitions that DID complete
    // are persisted but the checkpoint is never FINALIZED (a failed
    // job skips rdd.doCheckpoint). A successful runJob — even over a
    // partition subset — would finalize ALL partitions, so the partial
    // state must be produced the way production produces it: a task
    // failure inside the materializing job.
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.TaskContext
    Caches.clearAll(); spark.catalog.clearCache()
    val before = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val df = spark.range(0, 65536, 1, 32).toDF("id").localCheckpoint(false)
    val rdd = df.queryExecution.analyzed
      .collect { case lr: LogicalRDD => lr.rdd }.head
    def during = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet.diff(before)
    // one poisoned task (which consumes — and therefore persists — its
    // partition before throwing); sibling tasks persist theirs unless
    // the abort kills them first, so retry the race a bounded number
    // of times (already-persisted partitions replay from cache)
    var attempts = 0
    while (during.isEmpty && attempts < 5) {
      attempts += 1
      intercept[Throwable] {
        spark.sparkContext.runJob(rdd, (it: Iterator[_]) => {
          val n = it.size
          if (TaskContext.get.partitionId == 31)
            throw new RuntimeException(s"injected failure after $n rows")
          n
        })
      }
    }
    assert(during.nonEmpty, "sanity: the failed job persisted no partition blocks")
    Checkpoints.release(df)
    // release is non-blocking; give the async block removal a moment
    def leaked = spark.sparkContext.getRDDStorageInfo
      .filter(i => during.contains(i.id) && i.numCachedPartitions > 0)
    val deadline = System.nanoTime() + 5000000000L
    while (leaked.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert(leaked.isEmpty,
      s"partial checkpoint blocks survived release (${leaked.mkString(",")})")
  }

  test("fuzzy link: canonical space stays vocabulary-sized and pairs verify") {
    import graft.dedup.Dedup
    val out = Dedup.fuzzyLink(spark, sf).collect()
    assert(out.nonEmpty, "no fuzzy matches in the part vocabulary")
    // every emitted pair must share a blocking token AND verify ≤ 3
    out.foreach { r =>
      val (a, b, d) = (r.getString(0), r.getString(1), r.getLong(2))
      assert(a < b, s"unordered pair ($a, $b)")
      assert(d <= 3, s"unverified pair ($a, $b) dist $d")
      assert(a.split(" ").toSet.intersect(b.split(" ").toSet).nonEmpty,
        s"pair ($a, $b) shares no blocking token")
    }
    // the work space is the distinct-name vocabulary, not the row count:
    // parts grow with sf but the canonical space must not
    val vocab = Tables.part(spark, sf).select("p_name").distinct().count()
    assert(vocab < 200, s"canonical space unexpectedly large ($vocab)")
  }

  test("semantic clusters agree with the pair graph") {
    val pairs = graft.dedup.Dedup.embeddingCosine(spark, sf)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val lbl = graft.dedup.Dedup.semanticClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every verified near-dup pair must land in one cluster
    pairs.foreach { case (a, b) =>
      assert(lbl(a) == lbl(b), s"pair ($a,$b) split across clusters")
    }
    // labels are canonical min-ids: a cluster's label is one of its members
    lbl.groupBy(_._2).foreach { case (c, members) =>
      assert(members.keySet.contains(c), s"cluster $c label not a member")
      assert(c == members.keySet.min, s"cluster label must be the min member id")
    }
  }

  test("IVF k is a parameter: probe-2 pivot shape holds at k=32") {
    import graft.sim.Ann
    // k=32: the 32 pivot columns are GENERATED (nothing hand-written
    // caps k at 8), queries are vecs 32..41
    val p2 = Ann.ivfTopkProbe2(spark, sf, 32)
    // the assignment aggregate must stay a flat pivoted min(struct) —
    // a collect_list buffer would fall out of codegen and grow with
    // fan-in; the pivot's buffer is fixed-width at any k
    val plan = p2.queryExecution.optimizedPlan.toString
    assert(!plan.contains("collect_list"), "probe-2 must not buffer posting lists")
    val rows = p2.collect()
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet.forall(q => q >= 32 && q < 42), s"queries ${byQ.keySet}")
    byQ.values.foreach { rs =>
      val ranks = rs.map(_.getLong(2)).sorted
      assert(ranks.head == 1L && ranks.last == ranks.length.toLong &&
        ranks.length <= 5, s"ranks not a consecutive top-5 prefix: ${ranks.toSeq}")
    }
    // probe-2 candidates ⊇ probe-1 candidates (same codebook, superset
    // of probed cells), so probe-2's best neighbor is at least as
    // close as probe-1's: compare the two rank-1 cosines exactly
    val p1Top = Ann.ivfTopk(spark, sf, 32).filter(col("rank") === 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val p2Top = rows.filter(_.getLong(2) == 1L)
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ids = (p1Top.keySet ++ p1Top.values ++ p2Top.values).toSeq
    val emb = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS e")
      .filter(col("vec_id").isin(ids: _*)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / math.sqrt(na * nb)
    }
    p1Top.foreach { case (q, n1) =>
      val c1 = cos(emb(q), emb(n1))
      val c2 = cos(emb(q), emb(p2Top(q)))
      assert(c2 >= c1 - 1e-12,
        s"query $q: probe-2 best $c2 worse than probe-1 best $c1")
    }
  }

  test("trained kmeans codebook feeds the production IVF probe path") {
    import graft.sim.Ann
    val book = Ann.kmeansCodebook(spark, sf, rounds = 2, k = 32)
    val res = Ann.ivfTopkWith(spark, sf, Ann.trainedCentroids(book), 32).collect()
    assert(res.nonEmpty, "trained-codebook probe returned nothing")
    val byQ = res.groupBy(_.getLong(0))
    assert(byQ.keySet.forall(q => q >= 32 && q < 42))
    byQ.values.foreach { rs =>
      assert(rs.map(_.getLong(2)).sorted.head == 1L, "missing rank 1")
      assert(rs.length <= 5)
    }
    // drain the kmeans loop's checkpoint blocks (the family-lifetime
    // invariant every iterative caller owes the session)
    Caches.clearAll()
    assert(spark.sparkContext.getRDDStorageInfo.isEmpty,
      "trained-codebook path leaked storage blocks")
  }

  test("pagerank rounds is a parameter: default 3 = gate contract, 1-round converges less") {
    import graft.operators.Analytics
    val r3 = Analytics.qPagerank(spark, sf).collect().map(_.toString).toSeq
    val r3x = Analytics.qPagerankWith(spark, sf, rounds = 3).collect().map(_.toString).toSeq
    assert(r3 == r3x, "default must be exactly rounds=3")
    val r1 = Analytics.qPagerankWith(spark, sf, rounds = 1).collect()
    assert(r1.length == 20)
    assert(r1.map(_.schema.fieldNames.toSeq).distinct.toSeq ==
      Seq(Seq("node_id", "node_type", "degree", "rank_u")))
    Caches.clearAll()
  }

  test("graph search budget is parameterized: default (2,4,4) = gate contract") {
    import graft.sim.Ann
    val d = Ann.graphSearch(spark, sf).collect().map(_.toString).toSeq
    val dx = Ann.graphSearchWith(spark, sf, rounds = 2, beam = 4, degree = 4)
      .collect().map(_.toString).toSeq
    assert(d == dx, "default must be exactly (rounds=2, beam=4, degree=4)")
    val wide = Ann.graphSearchWith(spark, sf, rounds = 1, beam = 6, degree = 4).collect()
    assert(wide.nonEmpty)
    val byQ = wide.groupBy(_.getLong(0))
    byQ.values.foreach { rs =>
      assert(rs.length <= 6, "beam=6 must cap candidates per query at 6")
      assert(rs.map(_.getLong(2)).min == 1L, "ranks must start at 1")
    }
    Caches.clearAll()
  }

  test("gini matches an overflow-free BigInt recompute (dollar pre-scale holds)") {
    // qGini's r12 contract: the rank-weighted sum runs over DOLLARS
    // (spend DIV 100) so t ≤ n·Σx_d stays inside Int64 to ~SF 500.
    // This spec recomputes gini_bp per segment in driver-side BigInt —
    // arithmetic that CANNOT wrap — and requires bit-equality with the
    // operator. A silent Int64 wrap on this corpus, or a unit drift
    // back to cents (which shifts gini_bp via different floor points),
    // both fail here even though the DuckDB differential gate (which
    // mirrors the formula) would pass. Also asserts the documented
    // headroom bound 2·n·Σx_d < Int64 from corpus stats.
    import graft.operators.Analytics
    val got = Analytics.qGini(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.nonEmpty)
    val raw = Tables.orders(spark, sf)
      .selectExpr("o_custkey",
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS sp")
      .groupBy("o_custkey").agg(sum(col("sp")).as("spend"))
      .join(Tables.customer(spark, sf).selectExpr("c_custkey", "c_mktsegment AS segment"),
        col("o_custkey") === col("c_custkey"))
      .select("segment", "o_custkey", "spend")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    raw.groupBy(_._1).foreach { case (seg, rows) =>
      val sorted = rows.sortBy(t => (t._3, t._2)) // (spend, custkey) rank order
      val n = BigInt(sorted.length)
      val totalCents = sorted.map(t => BigInt(t._3)).sum
      val totalD = sorted.map(t => BigInt(t._3 / 100)).sum
      val t = sorted.zipWithIndex.map { case ((_, _, sp), i) =>
        BigInt(i + 1) * BigInt(sp / 100)
      }.sum
      assert(2 * n * totalD < BigInt(Long.MaxValue),
        s"segment $seg: dollar-scale bound 2·n·Σx_d exceeds Int64 — re-derive the pre-scale")
      val denom = ((n * totalD) / 10000).max(BigInt(1))
      val gini = (2 * t - (n + 1) * totalD) / denom
      assert(got(seg) == ((n.toLong, totalCents.toLong, gini.toLong)),
        s"segment $seg: operator ${got(seg)} != BigInt recompute ($n, $totalCents, $gini)")
    }
    Caches.clearAll()
  }

}
