package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{KvDataWriter, KvSource}
import graft.operators.SourceQueries
import graft.streaming.Streams

/** Round-13 batch-1: the KvSource version-chained commit log —
  * concurrent-committer CAS, time travel, streaming exactly-once
  * replay absorption, and the writer's fail-fast format contract.
  */
class Widening13Spec extends AnyFunSuite {
  import SparkTestSession._
  import KvFixture._

  test("two concurrent committers: the CAS loser retries, nobody's files are erased") {
    import java.nio.file.Files
    val dir = tmp("kv-race")
    // two writers, 40 commits each, racing on the same path. Every
    // commit merges one new (pre-staged) file. Under last-writer-wins
    // this loses files; under the CAS chain it must keep all 80.
    val threads = (0 until 2).map { t =>
      new Thread(() => {
        (0 until 40).foreach { i =>
          val name = s"part-race-$t-$i.dat"
          Files.write(java.nio.file.Paths.get(dir, name),
            s"${t * 1000 + i},r\n".getBytes("UTF-8"))
          KvSource.commitVersion(dir, Seq(name), batchId = None)
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val versions = KvSource.versions(dir)
    assert(versions.size == 80, s"one version per commit, got ${versions.size}")
    assert(versions == (1L to 80L), "version chain is dense and starts at 1")
    val latest = KvSource.committedFiles(dir)
    assert(latest.size == 80, s"no commit erased another's files: ${latest.size}")
    assert(readAll(dir).count() == 80)
    // and the chain is monotone: every version's RESOLVED file set
    // contains the previous version's (append-only semantics; r14:
    // manifests are deltas + checkpoints, so resolution is the fold,
    // not the single file)
    versions.sliding(2).foreach { case Seq(a, b) =>
      val fa = KvSource.stateAt(dir, a).files.toSet
      val fb = KvSource.stateAt(dir, b).files.toSet
      assert(fa.subsetOf(fb), s"v$b dropped files committed at v$a")
    case _ => ()
    }
    // r14 checkpoint cadence holds under the race: every 10th version
    // is a full checkpoint, every other version lists exactly its own
    // one new file
    versions.foreach { v =>
      val n = KvSource.readManifest(dir, v).adds.size
      if (v % 10 == 0) assert(n == v, s"checkpoint v$v must list all $v files, got $n")
      else assert(n == 1, s"delta v$v must list exactly its own file, got $n")
    }
  }

  test("time travel: versionAsOf pins a historical snapshot; bad version fails clearly") {
    val dir = tmp("kv-tt-spec")
    def append(lo: Long, hi: Long): Unit = KvSource.append(
      spark.range(lo, hi).selectExpr("id AS key", "CAST(id % 2 AS STRING) AS val"), dir)
    append(0, 10); append(10, 25)
    def at(v: Long) = KvSource.read(spark, dir, Some(v))
    assert(at(1).count() == 10, "v1 = first job only")
    assert(at(2).count() == 25 && readAll(dir).count() == 25)
    assert(at(1).agg(sum(col("key"))).head().getLong(0) == (0L until 10L).sum)
    val e = intercept[Exception] { at(7).count() }
    assert(e.getMessage != null && e.getMessage.contains("versionAsOf"),
      s"missing version must fail with a clear error, got: ${e.getMessage}")
  }

  test("load_time_travel query matches a driver-side recompute") {
    val rows = SourceQueries.timeTravelRead(spark, sf).collect()
    val cust = Tables.customer(spark, sf)
      .selectExpr("c_custkey", "c_mktsegment").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def roll(xs: Seq[(Long, String)]) = xs.groupBy(_._2).map { case (s, g) =>
      s -> (g.size.toLong, g.map(_._1).sum)
    }
    val v1 = roll(cust.toSeq.filter(_._1 % 2 == 0))
    val v2 = roll(cust.toSeq)
    rows.foreach { r =>
      val want = if (r.getLong(0) == 1L) v1 else v2
      val (n, ks) = want(r.getString(1))
      assert(r.getLong(2) == n && r.getLong(3) == ks,
        s"version ${r.getLong(0)} segment ${r.getString(1)}")
    }
    assert(rows.map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("streaming exactly-once: a replayed foreachBatch micro-batch adds zero rows") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tmp("kv-eos-spec")
    val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    @volatile var lastBatch = -1L
    def sinkWrite(df: org.apache.spark.sql.DataFrame, batchId: Long): Unit =
      KvSource.append(df.selectExpr("value AS key", "CAST(value % 3 AS STRING) AS val"),
        dir, batchId = Some(batchId))
    val q = src.toDS().toDF("value")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
        sinkWrite(df.toDF(), bid); lastBatch = bid
      }
      .start()
    src.addData(1L to 10L: _*); q.processAllAvailable()
    src.addData(11L to 20L: _*); q.processAllAvailable()
    q.stop()
    assert(readAll(dir).count() == 20)
    val keySum = readAll(dir).agg(sum(col("key"))).head().getLong(0)
    // REPLAY: a recovered query re-offers the last batch with the
    // same batchId — the sink must absorb it without duplicates
    sinkWrite(spark.range(11, 21).toDF("value"), lastBatch)
    assert(readAll(dir).count() == 20, "replayed batch added rows")
    assert(readAll(dir).agg(sum(col("key"))).head().getLong(0) == keySum)
    // a genuinely NEW batch id still appends
    sinkWrite(spark.range(21, 26).toDF("value"), lastBatch + 1)
    assert(readAll(dir).count() == 25)
  }

  test("writer fails fast on null or newline val; the failed task publishes nothing") {
    val dir = tmp("kv-valid")
    val w1 = new KvDataWriter(dir, 0, 0L)
    val eNull = intercept[IllegalArgumentException] {
      w1.write(org.apache.spark.sql.catalyst.InternalRow(1L, null))
    }
    assert(eNull.getMessage.contains("non-null"))
    w1.abort()
    val w2 = new KvDataWriter(dir, 1, 1L)
    val eNl = intercept[IllegalArgumentException] {
      w2.write(org.apache.spark.sql.catalyst.InternalRow(
        2L, org.apache.spark.unsafe.types.UTF8String.fromString("a\nb")))
    }
    assert(eNl.getMessage.contains("newline"))
    w2.abort()
    assert(new java.io.File(dir).listFiles().forall(!_.getName.endsWith(".dat")),
      "no failed writer published a file")
    // end-to-end: the engine surfaces the error and the read stays empty
    val thrown = intercept[Exception] {
      save(spark.range(3).selectExpr("id AS key",
        "CASE WHEN id = 1 THEN CAST(NULL AS STRING) ELSE 'x' END AS val"), dir)
    }
    assert(thrown != null)
    assert(readAll(dir).count() == 0, "aborted job left nothing visible")
  }

  test("task file names carry the query id: two applications never collide") {
    val dir = tmp("kv-qid")
    save(spark.range(5).selectExpr("id AS key", "'a' AS val"), dir)
    save(spark.range(5, 9).selectExpr("id AS key", "'b' AS val"), dir)
    val files = KvSource.committedFiles(dir)
    assert(files.size == 2 && files.distinct.size == 2,
      s"distinct task file names across applications: $files")
    assert(readAll(dir).count() == 9)
  }

  test("text_bpe_apply bills with the ITERATED ledger; iterated bill beats single-level") {
    val docs = Tables.documents(spark, sf)
      .filter(col("text").isNotNull)
      .selectExpr("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val byWord = docs.flatMap { case (s, t) => t.split(" ").map(w => (s, w)) }
    val alpha = byWord.filter(_._2.matches("^[a-z]+$"))
    val vocab = alpha.groupBy(_._2).map { case (w, xs) => w -> xs.length.toLong }
    // merge folds share one two-sweep contract; the merges differ:
    // the ITERATED ledger (itself driver-verified in Widening14Spec)
    // vs the same-K single-level char-pair list
    def tokensWith(merges: Seq[(String, String)])(word: String): Long = {
      var s = " " + word.map(_.toString).mkString(" ") + " "
      merges.foreach { case (p, m) =>
        val pat = s" $p "; val rep = s" $m "
        s = s.replace(pat, rep); s = s.replace(pat, rep)
      }
      (s.count(_ == ' ') - 1).toLong
    }
    val ledger = graft.text.TextOps.bpeLedger(spark, sf, 10)
    val tokOf = vocab.keys.map(w =>
      w -> tokensWith(ledger.map(l => (l._2, l._3)))(w)).toMap
    val want = alpha.groupBy(_._1).map { case (src, xs) =>
      src -> (xs.length.toLong,
        xs.map(_._2.length.toLong).sum,
        xs.map(x => tokOf(x._2)).sum)
    }
    val got = graft.text.TextOps.bpeApply(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (nA, chars, bpe) = want(r.getString(0))
      assert(r.getLong(2) == nA && r.getLong(3) == chars && r.getLong(4) == bpe,
        s"${r.getString(0)}: got (${r.getLong(2)},${r.getLong(3)},${r.getLong(4)})" +
          s" want ($nA,$chars,$bpe)")
      assert(r.getLong(4) <= r.getLong(3), "merges only shrink the token count")
      assert(r.getLong(5) == r.getLong(3) - r.getLong(4))
    }
    // the point of iterating (r15): at the SAME K, composing merges
    // bill fewer corpus tokens than the single-level char-pair list
    // on this corpus — the training curve actually buys compression
    val weights = scala.collection.mutable.Map.empty[String, Long]
    vocab.foreach { case (w, n) =>
      if (w.length >= 2)
        (0 until w.length - 1).foreach { i =>
          val p = w.substring(i, i + 2)
          weights(p) = weights.getOrElse(p, 0L) + n
        }
    }
    val single = weights.toSeq.sortBy { case (p, wt) => (-wt, p) }.take(10)
      .map { case (p, _) => (s"${p(0)} ${p(1)}", p) }
    val singleOf = vocab.keys.map(w => w -> tokensWith(single)(w)).toMap
    val iterBill = vocab.map { case (w, n) => n * tokOf(w) }.sum
    val singleBill = vocab.map { case (w, n) => n * singleOf(w) }.sum
    assert(iterBill <= singleBill,
      s"iterated bill $iterBill exceeds single-level $singleBill at K=10")
  }

  test("classBalance hash-threshold fallback selects the EXACT same rows as the rank form") {
    val rank = graft.sim.Ann.classBalance(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    val thr = graft.sim.Ann.classBalanceThreshold(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(rank.nonEmpty && rank.toSeq == thr.toSeq,
      "threshold fallback must agree with the rank form per label, " +
        s"membership checksum included:\nrank=${rank.toSeq}\nthr =${thr.toSeq}")
    Caches.clearAll()
  }

  test("mm_scene_cut matches a driver-side frame-signature re-derivation") {
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    val docs = Tables.documents(spark, sf)
      .filter(col("text").isNotNull)
      .selectExpr("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val hex = "0123456789abcdef"
    val want = docs.groupBy(_._2).map { case (src, ds) =>
      var frames = 0L; var cuts = 0L
      ds.foreach { case (_, _, t) =>
        val nf = math.min(7L, math.max(t.length - 1, 0) / 32) + 1
        val sigs = (0L until nf).map { i =>
          // SQL substr(text, pos, 32) silently truncates at the end
          val from = (i * 32).toInt
          val h = md5hex(t.substring(from, math.min(from + 32, t.length)))
          (hex.indexOf(h(0)) * 16 + hex.indexOf(h(1))).toLong
        }
        frames += nf
        cuts += sigs.sliding(2).count {
          case Seq(a, b) => java.lang.Long.bitCount(a ^ b) >= 5
          case _ => false
        }
      }
      src -> (ds.length.toLong, frames, cuts)
    }
    val got = graft.multimodal.Multimodal.sceneCut(spark, sf).collect()
    assert(got.nonEmpty && got.length == want.size)
    got.foreach { r =>
      val (nd, nf, nc) = want(r.getString(0))
      assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((nd, nf, nc)),
        s"${r.getString(0)}: got (${r.getLong(1)},${r.getLong(2)},${r.getLong(3)}) want ($nd,$nf,$nc)")
      assert(r.getLong(4) == nc + nd, "scenes = cuts + docs")
    }
  }

  test("exactly_once_sink query matches the plain events rollup") {
    val got = Streams.exactlyOnceSink(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)
    val want = Tables.events(spark, sf)
      .filter(col("event_id").isNotNull && col("event_type").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)), sum(col("event_id"))).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)
    assert(got == want, "replay absorbed: rollup equals source of truth")
    Caches.clearAll()
  }
}
