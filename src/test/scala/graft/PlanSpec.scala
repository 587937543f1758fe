package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VectorExprs
import graft.sim.Ann
import graft.operators.Analytics

/** Plan-shape and native-expression checks: the "would this survive a
  * 100× scale-up" assertions. */
class PlanSpec extends AnyFunSuite {
  import SparkTestSession._

  test("CosineSim native expression matches the HOF formula bitwise") {
    val df = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS emb")
      .limit(50)
    val a = df.select(col("vec_id"), VectorExprs.cosineSim(col("emb"), col("emb")).as("c"))
    val dot = "aggregate(zip_with(emb, emb, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
    val b = df.selectExpr("vec_id", s"$dot / (sqrt($dot) * sqrt($dot)) AS c")
    val got = a.orderBy("vec_id").collect().map(_.getDouble(1))
    val exp = b.orderBy("vec_id").collect().map(_.getDouble(1))
    got.zip(exp).foreach { case (x, y) =>
      assert(java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y),
        s"bitwise mismatch: $x vs $y")
    }
  }

  test("SqL2Sub native expression matches the HOF slice formula bitwise") {
    val df = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS emb")
      .limit(50)
    val pairs = df.as("a").crossJoin(df.as("b").limit(3)
      .select(col("vec_id").as("bid"), col("emb").as("be")))
    val a = pairs.select(col("vec_id"), col("bid"),
      graft.functions.SqL2Sub.sqL2(col("emb"), col("be"), 17, 16).as("d"),
      graft.functions.SqL2Sub.sqL2Full(col("emb"), col("be")).as("df"))
    val hofSub = "aggregate(zip_with(slice(emb, 17, 16), slice(be, 17, 16), " +
      "(x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)"
    val hofFull = "aggregate(zip_with(emb, be, (x, y) -> (x - y) * (x - y)), " +
      "0D, (acc, v) -> acc + v)"
    val b = pairs.selectExpr("vec_id", "bid", s"$hofSub AS d", s"$hofFull AS df")
    val got = a.orderBy("vec_id", "bid").collect()
    val exp = b.orderBy("vec_id", "bid").collect()
    got.zip(exp).foreach { case (x, y) =>
      (2 to 3).foreach { i =>
        assert(java.lang.Double.doubleToLongBits(x.getDouble(i)) ==
          java.lang.Double.doubleToLongBits(y.getDouble(i)),
          s"bitwise mismatch at col $i: $x vs $y")
      }
    }
  }

  test("CosineSim participates in whole-stage codegen") {
    val df = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS emb")
      .select(VectorExprs.cosineSim(col("emb"), col("emb")).as("c"))
    // "*(n)" prefixes mark operators inside a WholeStageCodegen stage
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("cosinesim")),
      s"cosinesim not inside a codegen stage:\n$plan")
  }

  test("ContentAnchors(md5) emits exactly the SQL per-position anchor set") {
    // the expression must be a pure reimplementation of the oracle's
    // predicate — same 1-based char positions, nothing more or less —
    // on the real documents corpus
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .filter(length(col("text")) >= 64)
    val viaSql = docs
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1), length(col("text")) - 63)).as("oi"))
      .filter(expr("substring(md5(substring(text, oi, 8)), 32, 1) = '0'"))
      .select(col("doc_id"), col("oi").cast("int"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val viaExpr = docs
      .select(col("doc_id"),
        explode(graft.functions.AnchorExprs.md5Anchors(col("text"), 8, 64)).as("oi"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(viaExpr == viaSql,
      s"anchor sets diverge: only-expr=${(viaExpr -- viaSql).take(5)}, " +
        s"only-sql=${(viaSql -- viaExpr).take(5)}")
    assert(viaExpr.nonEmpty, "corpus produced no anchors — vacuous test")
  }

  test("ContentAnchors handles multi-byte text on char positions, like SQL") {
    import spark.implicits._
    // code points above ASCII shift byte offsets off char offsets; the
    // expression must still anchor at CHARACTER positions that agree
    // with SQL substring semantics
    val texts = Seq(
      "héllo wörld — " + ("déjà vu grüße " * 12),
      ("日本語のテキスト" * 16) + "abcdefgh" * 4,
      "plain ascii only " * 8)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text").filter(length(col("text")) >= 64)
    val viaSql = df
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1), length(col("text")) - 63)).as("oi"))
      .filter(expr("substring(md5(substring(text, oi, 8)), 32, 1) = '0'"))
      .select(col("doc_id"), col("oi").cast("int"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val viaExpr = df
      .select(col("doc_id"),
        explode(graft.functions.AnchorExprs.md5Anchors(col("text"), 8, 64)).as("oi"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(viaExpr == viaSql,
      s"multi-byte anchors diverge: only-expr=${(viaExpr -- viaSql).take(5)}, " +
        s"only-sql=${(viaSql -- viaExpr).take(5)}")
  }

  test("ContentAnchors participates in whole-stage codegen") {
    val df = Tables.documents(spark, sf)
      .select(graft.functions.AnchorExprs.md5Anchors(col("text"), 8, 64).as("a"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("contentanchors")),
      s"contentanchors not inside a codegen stage:\n$plan")
  }

  test("poly (rolling) anchors: alignment invariance and ~1/16 density") {
    import spark.implicits._
    // a shared 256-char block pasted at ALIGNED and UNALIGNED offsets
    // must anchor at the same in-block positions — the property that
    // makes content-defined windows catch shifted duplicates; and the
    // rolling hash must match a from-scratch polynomial evaluation
    // (no drift across roll steps), proven by density + invariance on
    // a corpus large enough to be non-vacuous
    val rng = new scala.util.Random(11)
    val block = (0 until 256).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
    def noise(n: Int) = (0 until n).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
    val docs = Seq(
      (1L, noise(100) + block + noise(50)),   // block at offset 100
      (2L, noise(37) + block + noise(113)))   // block at offset 37
      .toDF("doc_id", "text")
    val anchors = docs.select(col("doc_id"),
      explode(graft.functions.AnchorExprs.polyAnchors(col("text"), 8, 64)).as("oi"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    // in-block anchors (window fully inside the block), rebased
    def inBlock(off: Int, d: Long) = anchors.collect {
      case (id, oi) if id == d && oi > off && oi + 63 <= off + 256 => oi - off
    }.toSet
    val a1 = inBlock(100, 1L)
    val a2 = inBlock(37, 2L)
    assert(a1 == a2, s"shifted copies anchor differently: ${a1.diff(a2)} vs ${a2.diff(a1)}")
    assert(a1.nonEmpty, "256-char block produced no in-block anchors")
    // density over a larger corpus: expect ~1/16 of positions
    val big = Seq((9L, noise(20000))).toDF("doc_id", "text")
    val n = big.select(explode(graft.functions.AnchorExprs.polyAnchors(col("text"), 8, 64)))
      .count()
    val positions = 20000 - 63
    assert(n > positions / 32 && n < positions / 8,
      s"poly anchor density off: $n of $positions")
  }

  test("committed PLANS.tsv carries exactly one row per SparkEntry query") {
    // pins the COMMITTED gate baseline so a new operator can't ship
    // without its plan fingerprinted (the r9 global-window shape
    // shipped precisely because its plan was never audited)
    val plansPath = java.nio.file.Paths.get("PLANS.tsv")
    assert(java.nio.file.Files.exists(plansPath), "PLANS.tsv missing — run graft.Plans")
    val rows = scala.jdk.CollectionConverters.IteratorHasAsScala(
      java.nio.file.Files.lines(plansPath).iterator()).asScala
      .drop(1).map(_.takeWhile(_ != '\t')).toSet
    val missing = SparkEntry.queries.keySet -- rows
    val stale = rows -- SparkEntry.queries.keySet
    assert(missing.isEmpty && stale.isEmpty,
      s"PLANS.tsv stale: missing=${missing.toSeq.sorted.take(10)} " +
        s"stale=${stale.toSeq.sorted.take(10)} — regenerate with graft.Plans")
  }

  test("ANN brute force broadcasts the query set, not the corpus") {
    val plan = Ann.topkBruteforce(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"expected broadcast join in ANN plan:\n${plan.take(2000)}")
  }

  test("MinHashAgg partial-aggregates and is partition-count invariant") {
    import graft.functions.MinHashAgg
    val docs = Tables.documents(spark, sf)
    val agg1 = docs.repartition(1).groupBy(col("source"))
      .agg(MinHashAgg.minhashSig(col("text"), 4).as("sig"))
    val agg7 = docs.repartition(7).groupBy(col("source"))
      .agg(MinHashAgg.minhashSig(col("text"), 4).as("sig"))
    assert(agg1.orderBy("source").collect().toSeq == agg7.orderBy("source").collect().toSeq,
      "merge() must make the sketch independent of partitioning")
    val plan = agg7.queryExecution.executedPlan.toString
    assert(plan.contains("partial_minhashagg"), s"no map-side partial aggregation:\n${plan.take(1200)}")
  }

  test("WordNGrams is set-equal to the HOF transform chain") {
    import graft.functions.WordNGrams
    val df = Tables.documents(spark, sf).selectExpr("doc_id", "split(text, ' ') AS w")
    val native = df.select(col("doc_id"),
      WordNGrams.wordNGrams(col("w"), 3).as("g")).orderBy("doc_id").collect()
    val hof = df.selectExpr("doc_id",
        "array_distinct(transform(sequence(1, greatest(size(w) - 2, 1)), " +
          "i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1), element_at(w, i + 2)))) AS g")
      .orderBy("doc_id").collect()
    native.zip(hof).foreach { case (a, b) =>
      assert(a.getSeq[String](1).toSet == b.getSeq[String](1).toSet,
        s"gram set mismatch for doc ${a.getLong(0)}")
    }
    // edge cases: 0/1/2-word inputs
    import spark.implicits._
    val edge = Seq(Seq.empty[String], Seq("a"), Seq("a", "b")).toDF("w")
    val got = edge.select(WordNGrams.wordNGrams(col("w"), 3).as("g"))
      .collect().map(_.getSeq[String](0).toSet)
    assert(got.toSeq == Seq(Set(""), Set("a"), Set("a b")))
  }

  test("TopKPerKeyExec plans with a key exchange and matches the window form") {
    val native = Analytics.qTopkNative(spark, sf)
    val plan = native.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey "), s"custom exec missing:\n${plan.take(1200)}")
    assert(plan.contains("hashpartitioning(o_custkey"),
      "Catalyst should insert the clustered exchange for the custom node")
    val window = Analytics.qTopkPerGroup(spark, sf)
    assert(native.collect().toSeq.map(_.toString).sorted ==
      window.collect().toSeq.map(_.toString).sorted)
  }

  test("TopKPerKeyExec overflow fallback (external sort) matches the heap path") {
    // cap the in-memory heap map at 2 keys: orders has ~hundreds of
    // customers per partition, so every partition takes the spillable
    // sort path — results must be identical to the unbounded heap form
    val key = "graft.topk.maxKeysInMemory"
    spark.conf.set(key, "2")
    try {
      val capped = Analytics.qTopkNative(spark, sf).collect().toSeq.map(_.toString).sorted
      spark.conf.unset(key)
      val heap = Analytics.qTopkNative(spark, sf).collect().toSeq.map(_.toString).sorted
      assert(capped == heap, "sort fallback must be result-identical")
      assert(capped.nonEmpty)
    } finally spark.conf.unset(key)
  }

  test("GraftExtensions registers the full SQL function surface") {
    GraftExtensions.registerAll(spark)
    val row = spark.sql(
      """SELECT cosine_sim(array(1D, 0D), array(1D, 0D)) AS cs,
        |  word_ngrams(array('a', 'b', 'c'), 2) AS ng,
        |  minhash_array(array('a', 'b'), 2) AS mh,
        |  sq_l2(array(1D, 2D, 4D), array(1D, 0D, 1D), 2, 2) AS sq""".stripMargin).head()
    assert(row.getDouble(0) == 1.0)
    assert(row.getSeq[String](1) == Seq("a b", "b c"))
    assert(row.getSeq[String](2).length == 2)
    assert(row.getDouble(3) == 13.0) // (2-0)² + (4-1)²
    // wrong arity fails at analysis with the signature, not an
    // IndexOutOfBoundsException from exprs(3)
    val ex = intercept[Exception](spark.sql("SELECT sq_l2(array(1D), array(1D))"))
    assert(ex.getMessage.contains("sq_l2(a, b, lo, len)"), ex.getMessage)
  }

  test("SqL2 null elements propagate NULL like the HOF form") {
    GraftExtensions.registerAll(spark)
    import spark.implicits._
    // non-foldable inputs (column-derived arrays) so the CODEGEN path
    // runs, not constant folding's interpreted eval
    val r = Seq((1.0, 2.0)).toDF("x", "y").selectExpr(
      "sq_l2(array(x, CAST(NULL AS DOUBLE)), array(y, 1D), 1, 2) AS spans_null",
      "sq_l2(array(x, CAST(NULL AS DOUBLE)), array(y, 1D), 1, 1) AS misses_null",
      // the HOF contract being matched: null element ⇒ null fold
      "aggregate(zip_with(array(x, CAST(NULL AS DOUBLE)), array(y, 1D), " +
        "(a, b) -> (a - b) * (a - b)), 0D, (acc, v) -> acc + v) AS hof").head()
    assert(r.isNullAt(0), "window covering a null element must yield NULL")
    assert(r.getDouble(1) == 1.0, "window excluding the null is unaffected")
    assert(r.isNullAt(2), "HOF reference semantics: null element nulls the fold")
    // interpreted eval path (foldable literals) agrees
    val lit = spark.sql(
      "SELECT sq_l2(array(1D, NULL), array(1D, 1D), 1, 2) AS n").head()
    assert(lit.isNullAt(0))
    // integer sibling through the typed API
    val li = Seq((1L, 2L)).toDF("x", "y").select(
      graft.functions.SqL2Sub.sqL2Long(
        expr("array(x, CAST(NULL AS BIGINT))"), expr("array(y, 3L)")).as("d"),
      graft.functions.SqL2Sub.sqL2Long(
        expr("array(x)"), expr("array(y, 3L)")).as("ok")).head()
    assert(li.isNullAt(0), "null long element must yield NULL")
    assert(li.getLong(1) == 1L)
  }

  test("q_lateral decorrelates: ranked join, no per-row nested loop") {
    val qe = Analytics.qLateral(spark, sf).queryExecution
    val optimized = qe.optimizedPlan.toString
    // Catalyst must rewrite the correlated LIMIT-1 subquery into a
    // set-level plan; a surviving LateralJoin would run the subquery
    // once per outer row — the shape that dies at 10⁹ customers.
    assert(!optimized.contains("LateralJoin"),
      s"correlated subquery not decorrelated:\n${optimized.take(1500)}")
    val physical = qe.executedPlan.toString
    assert(!physical.contains("CartesianProduct") &&
      !physical.contains("BroadcastNestedLoopJoin"),
      s"decorrelation produced a per-row loop:\n${physical.take(1500)}")
    assert(physical.contains("Window") || physical.contains("SortAggregate") ||
      physical.contains("HashAggregate"),
      s"expected a ranked/aggregated rewrite:\n${physical.take(1500)}")
    // WindowGroupLimit is the top-1-per-group pushdown: per-partition
    // partial limit before the shuffle, final after — the plan that
    // scales with distinct customers, not orders
    assert(physical.contains("WindowGroupLimit"),
      s"missing group-limit pushdown:\n${physical.take(1500)}")
  }

  test("ANN family: no array-typed expression in any Exchange or grouping key") {
    // SURVEY §5 rule: array payloads never enter a shuffle KEY — array
    // hashing/comparison falls out of codegen and canonicalizes
    // per-element. Vectors may ride exchanges as payload (rejoined on
    // the long vec_id), but no partitioning or grouping expression may
    // be array-typed anywhere in the ANN plans.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.types.ArrayType
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false") // real ShuffleExchangeExec nodes
    val targets = Seq(
      "ann_ivf_topk" -> Ann.ivfTopk(s, sf),
      "ann_ivf_probe2" -> Ann.ivfTopkProbe2(s, sf),
      "embed_centroid_update" -> Ann.centroidUpdate(s, sf),
      "ann_pq_topk" -> Ann.pqTopk(s, sf),
      "ann_ivfpq_topk" -> Ann.ivfPqTopk(s, sf),
      "ann_lsh_topk" -> Ann.lshTopk(s, sf),
      "embed_quantize_int8" -> Ann.quantizeInt8(s, sf),
      "ann_recall_eval" -> Ann.recallEval(s, sf))
    targets.foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan
      val offenders = plan.collect {
        case ex: ShuffleExchangeExec => ex.outputPartitioning match {
          case h: HashPartitioning =>
            h.expressions.filter(_.dataType.isInstanceOf[ArrayType]).map(e => s"exchange: $e")
          case _ => Seq.empty[String]
        }
        case a: HashAggregateExec =>
          a.groupingExpressions.filter(_.dataType.isInstanceOf[ArrayType]).map(e => s"hashagg: $e")
        case a: ObjectHashAggregateExec =>
          a.groupingExpressions.filter(_.dataType.isInstanceOf[ArrayType]).map(e => s"objagg: $e")
        case a: SortAggregateExec =>
          a.groupingExpressions.filter(_.dataType.isInstanceOf[ArrayType]).map(e => s"sortagg: $e")
      }.flatten
      assert(offenders.isEmpty, s"$name keys a shuffle on an array: $offenders")
      // sanity: the traversal actually saw the plan (non-empty tree)
      assert(plan.collectLeaves().nonEmpty)
    }
  }

  test("round-7 top-k plans push a partial group-limit below the shuffle") {
    // lshTopk and tfidfTopTerms both end in a per-group row_number
    // filter: the WindowGroupLimit pushdown must appear in Partial
    // form before the exchange so each map task ships at most k rows
    // per group — the difference between shuffling k×groups and
    // shuffling the corpus.
    Seq(
      "ann_lsh_topk" -> Ann.lshTopk(spark, sf),
      "text_tfidf" -> graft.text.TextOps.tfidfTopTerms(spark, sf)
    ).foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("WindowGroupLimit"),
        s"$name: missing group-limit pushdown:\n${plan.take(1200)}")
    }
  }

  test("int8 quantization is a map-only scan (no aggregate, no join)") {
    val plan = Ann.quantizeInt8(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"quantize must not join:\n${plan.take(1200)}")
    assert(!plan.contains("HashAggregate"),
      s"quantize must not aggregate:\n${plan.take(1200)}")
  }

  test("column pruning reaches the scan (q6 reads 4 columns, not 11)") {
    val plan = Analytics.q6ForecastRevenue(spark, sf).queryExecution.executedPlan.toString
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_extendedprice") && !readSchema.contains("l_returnflag"),
      s"scan schema not pruned: $readSchema")
  }

  test("bucketed join consumes both tables' layout: zero shuffle exchanges") {
    // The point of bucketBy at 100 TB: the join-key shuffle is paid
    // once at write time. With broadcast and AQE off (so the bucketed
    // SMJ path is the only one available and exchange nodes are real),
    // the join of the two co-bucketed tables must contain NO
    // ShuffleExchangeExec at all.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    graft.operators.SourceQueries.bucketedTables(s, sf)
    val j = s.table("graft_buck_orders")
      .join(s.table("graft_buck_customer"), col("o_custkey") === col("c_custkey"))
    val exchanges = j.queryExecution.executedPlan.collect {
      case ex: ShuffleExchangeExec => ex
    }
    assert(exchanges.isEmpty,
      s"bucketed join must not shuffle, found: ${exchanges.mkString("; ")}")
    assert(j.queryExecution.executedPlan.toString.contains("SortMergeJoin"),
      "bucketed join should sort-merge on the bucket layout")
    assert(j.count() > 0)
  }

  test("random projection is one map-only scan (no join, no aggregate, no matrix)") {
    // the scale claim: the ±1 sign matrix is a pure function of
    // (i, j), so the projection never materializes, broadcasts, or
    // joins a matrix — a single codegen'd scan plus the final sort
    val plan = Ann.randomProjection(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"projection must not join:\n${plan.take(1200)}")
    assert(!plan.contains("HashAggregate"),
      s"projection must not aggregate:\n${plan.take(1200)}")
  }

  test("lm score joins the corpus against a BROADCAST head vocabulary") {
    // the LM must reach every token map-side: a sort-merge join here
    // would shuffle the exploded corpus (token-count rows) by word
    val plan = graft.text.TextOps.lmScore(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"lm join must broadcast the head vocab:\n${plan.take(1500)}")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-side shuffle join in lm score:\n${plan.take(1500)}")
  }

  test("cdc apply compacts the log below the snapshot join, map-side combined") {
    // the scale claim: the full-outer merge must consume an AGGREGATED
    // log side (one row per changed key), with a partial aggregate
    // eating per-key fan-in before the exchange — join work scales
    // with distinct keys changed, never log volume
    val plan = graft.operators.SourceQueries.cdcApply(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("FullOuter"), s"missing full-outer merge:\n${plan.take(1200)}")
    assert(plan.contains("partial_max"),
      s"log compaction not map-side combined:\n${plan.take(1500)}")
  }

  test("checksum reconcile aggregates each side map-side before the 97-row join") {
    val plan = graft.operators.SourceQueries.checksumReconcile(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_count") && plan.contains("partial_sum"),
      s"bucket checksums not partial-aggregated:\n${plan.take(1500)}")
  }

  test("z-order buckets are tight in BOTH dimensions (span ≤ 4 of 16)") {
    // The layout claim behind layout_zorder: a 1-D sort gives tight
    // file ranges in one dimension only; the z-key's 16 buckets each
    // cover a 4×4 square, so min/max file stats prune on EITHER
    // dimension. (Bucket spans can be < 4 when data is sparse.)
    val rows = Analytics.layoutZorder(spark, sf).collect()
    assert(rows.length == 16, s"expected 16 z-buckets, got ${rows.length}")
    rows.foreach { r =>
      val (cbSpan, dbSpan) =
        (r.getLong(3) - r.getLong(2), r.getLong(5) - r.getLong(4))
      assert(cbSpan <= 3 && dbSpan <= 3,
        s"z-bucket ${r.getLong(0)} spans cb=$cbSpan db=$dbSpan (must be ≤ 3)")
    }
  }

  test("sequence match is ONE shuffle: three chained windows share the user sort") {
    // the scale claim vs the naive two-self-joins-on-inequality form
    // (quadratic per hot user): all three stage windows and the final
    // aggregate ride a single hash exchange on user_id
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // AQE hides exchanges inside AdaptiveSparkPlanExec until runtime;
    // a non-adaptive session makes the exchange count inspectable
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val qe = Analytics.qSequenceMatch(s, sf).queryExecution.executedPlan
    // exclude the terminal orderBy's range exchange — that is the
    // oracle's deterministic-order contract, not operator work
    val exchanges = qe.collect {
      case ex: ShuffleExchangeExec
        if !ex.outputPartitioning.toString.contains("range") => ex
    }
    assert(exchanges.length == 1,
      s"expected 1 hash shuffle (shared user_id partitioning), got ${exchanges.length}")
    assert(!qe.toString.contains("Join"),
      s"sequence match must not self-join:\n${qe.toString.take(1200)}")
  }

  test("sequence match stages are monotone and strictly ordered") {
    val rows = Analytics.qSequenceMatch(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val stage = r.getLong(4)
      val (s, c, p) = (Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long]))
      // a reached stage implies every earlier stage, in time order
      if (stage >= 1) assert(s.nonEmpty)
      if (stage >= 2) assert(c.nonEmpty && c.get >= s.get,
        s"click ${c.get} before signup ${s.get}")
      if (stage == 3) assert(p.nonEmpty && p.get >= c.get,
        s"purchase ${p.get} before click ${c.get}")
    }
  }

  test("compaction plan: offsets stay under target, bins are contiguous") {
    val rows = Analytics.layoutCompactionPlan(spark, sf).collect()
    val target = 1L << 16
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(4) >= 0 && r.getLong(4) < target,
      s"bin_offset ${r.getLong(4)} outside [0, $target)"))
    val bins = rows.map(_.getLong(3)).distinct.sorted
    assert(bins.head == 0 && bins.zipWithIndex.forall { case (b, i) => b == i },
      s"bin ids must be contiguous from 0: ${bins.take(10).mkString(",")}")
    // exact next-fit invariant: every non-last bin is CLOSED only once
    // the cumulative stream has covered its right edge — bin b's last
    // file ends at cumulative ≥ (b+1)·target (bins underfill by at
    // most one trailing file's bytes, never more)
    val ordered = rows.sortBy(_.getLong(0))
    var cum = 0L
    var cumEnd = Map.empty[Long, Long] // bin -> cumulative at its close
    ordered.foreach { r => cum += r.getLong(2); cumEnd += (r.getLong(3) -> cum) }
    cumEnd.toSeq.sortBy(_._1).dropRight(1).foreach { case (b, end) =>
      assert(end >= (b + 1) * target,
        s"bin $b closed at cumulative $end before covering ${(b + 1) * target}")
    }
  }

  test("matryoshka eval at full width is exact (recall 10000 bp on every query)") {
    // truncating to all 64 dims IS the exact ranking — a structural
    // self-check that the truncated scoring path and the ground-truth
    // path agree when the knob is turned off
    val full = graft.sim.Ann.matryoshkaEval(spark, sf, dims = 64).collect()
    assert(full.length == 10)
    full.foreach(r => assert(r.getLong(3) == 10000L,
      s"query ${r.getLong(0)}: full-width recall ${r.getLong(3)} != 10000"))
  }

  test("mix weights: temperature sampling upweights the scarce source") {
    val rows = graft.text.TextOps.mixWeights(spark, sf).collect()
    assert(rows.length > 1)
    val byAvail = rows.sortBy(_.getLong(1))
    val (scarce, rich) = (byAvail.head, byAvail.last)
    // √-weighting: the scarcest source trains more epochs over its own
    // supply than the richest source does over its (strictly, when
    // supplies differ; equal-supply ties share the same epochs)
    if (scarce.getLong(1) < rich.getLong(1))
      assert(scarce.getLong(4) >= rich.getLong(4),
        s"scarce source epochs_bp ${scarce.getLong(4)} < rich ${rich.getLong(4)}")
    // allocation never exceeds the budget (integer flooring only loses)
    val totAlloc = rows.map(_.getLong(3)).sum
    val budget = rows.map(_.getLong(1)).sum / 2
    assert(totAlloc <= budget, s"allocated $totAlloc over budget $budget")
  }

  test("length outliers: lower-median/MAD match a driver-side recompute") {
    // the rank-selected integer median must equal the textbook
    // definition on the real data (the oracle proves engine parity;
    // this proves the DEFINITION)
    val docs = Tables.documents(spark, sf)
      .selectExpr("doc_id", "source", "CAST(size(split(text, ' ')) AS BIGINT) AS len")
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(2)))
    def lowerMed(xs: Seq[Long]): Long = xs.sorted.apply((xs.size + 1) / 2 - 1)
    val expected = docs.groupBy(_._1).map { case (src, rs) =>
      val med = lowerMed(rs.map(_._3).toSeq)
      val mad = lowerMed(rs.map(x => math.abs(x._3 - med)).toSeq)
      src -> ((med, mad))
    }
    graft.text.TextOps.lengthOutliers(spark, sf).collect().foreach { r =>
      val (med, mad) = expected(r.getString(0))
      assert(r.getLong(2) == med && r.getLong(3) == mad,
        s"source ${r.getString(0)}: got (${r.getLong(2)}, ${r.getLong(3)}), expected ($med, $mad)")
    }
  }

  test("skyline two-phase decomposition matches the brute-force definition") {
    // phase-1 bucketing must lose nothing: recompute the frontier by
    // the quadratic definition driver-side and compare sets
    val pts = Tables.orders(spark, sf)
      .selectExpr("o_orderkey",
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS p",
        "unix_micros(CAST(o_orderdate AS TIMESTAMP)) AS d")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = pts.filter { case (_, p, d) =>
      !pts.exists { case (_, p2, d2) =>
        (p2 < p && d2 >= d) || (p2 <= p && d2 > d)
      }
    }.map(_._1).toSet
    val got = Analytics.qSkyline(spark, sf).collect().map(_.getLong(0)).toSet
    assert(got == brute, s"skyline mismatch: extra=${got -- brute}, missing=${brute -- got}")
  }

  test("snapshot diff counts match the deterministic change rules") {
    val keys = Tables.orders(spark, sf).select("o_orderkey")
      .collect().map(_.getLong(0))
    val expRemoved = keys.count(_ % 97 == 0)
    val expAdded = keys.count(_ % 83 == 0)
    val expChanged = keys.count(k => k % 89 == 0 && k % 97 != 0)
    val byType = graft.operators.SourceQueries.snapshotDiff(spark, sf)
      .groupBy("diff_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType.getOrElse("removed", 0L) == expRemoved)
    assert(byType.getOrElse("added", 0L) == expAdded)
    assert(byType.getOrElse("changed", 0L) == expChanged)
  }

  test("dim stats cover every dimension with full corpus counts") {
    val n = Tables.embeddings(spark, sf).count()
    val rows = graft.sim.Ann.dimStats(spark, sf).collect()
    assert(rows.length == 64)
    rows.foreach { r =>
      assert(r.getLong(1) == n, s"dim ${r.getLong(0)}: n_vecs ${r.getLong(1)} != $n")
      val (mean, mn, mx) = (r.getLong(3), r.getLong(4), r.getLong(5))
      assert(mean >= mn && mean <= mx, s"dim ${r.getLong(0)}: mean $mean outside [$mn, $mx]")
    }
  }

  test("group top-k sample picks exactly the k smallest hashes per source") {
    val all = Tables.documents(spark, sf)
      .selectExpr("doc_id", "source", s"${graft.text.TextOps.Hash24Sql} AS h")
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(0)))
    val expected = all.groupBy(_._1).view.mapValues(
      _.sortBy(t => (t._2, t._3)).take(5).map(_._3).toSet).toMap
    val got = graft.text.TextOps.sampleGroupTopk(spark, sf).collect()
      .groupBy(_.getString(1)).view.mapValues(_.map(_.getLong(0)).toSet).toMap
    assert(got == expected.toMap)
    got.values.foreach(s => assert(s.size == 5))
  }

  test("bm25 scores match the exact integer formula recomputed driver-side") {
    val docs = Tables.documents(spark, sf)
      .selectExpr("doc_id", "split(text, ' ') AS w")
      .collect().map(r => (r.getLong(0), r.getSeq[String](1)))
    val dl = docs.map { case (id, w) => id -> w.length.toLong }.toMap
    val a = dl.values.sum * 1000 / dl.size
    val terms = Seq("spark", "table")
    val tf = docs.flatMap { case (id, w) =>
      terms.flatMap(t => { val n = w.count(_ == t); if (n > 0) Some((id, t, n.toLong)) else None })
    }
    val dfx = tf.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val expected = tf.groupBy(_._1).map { case (id, ts) =>
      id -> (ts.length.toLong, ts.map { case (_, t, n) =>
        (1000000L / dfx(t)) * 22 * a * n / (10 * a * n + 3 * a + 9 * dl(id) * 1000)
      }.sum)
    }
    val got = graft.text.TextOps.bm25(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (n, s) = expected(r.getLong(0))
      assert(r.getLong(1) == n && r.getLong(2) == s,
        s"doc ${r.getLong(0)}: got (${r.getLong(1)}, ${r.getLong(2)}), expected ($n, $s)")
    }
  }

  test("lsh tuning: candidates shrink as rows-per-band grow; r=2 matches production") {
    val rows = graft.dedup.Dedup.lshTuning(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    val (c1, c2, c4) = (rows(1L)._1, rows(2L)._1, rows(4L)._1)
    assert(c1 >= c2 && c2 >= c4,
      s"candidate volume must shrink with sharper banding: $c1, $c2, $c4")
    // the r=2 config IS the production 4×2 scheme — its verified count
    // must equal the cached minhashPairs list exactly
    val prod = graft.dedup.Dedup.minhashPairs(spark, sf).count()
    assert(rows(2L)._2 == prod,
      s"r=2 verified ${rows(2L)._2} != production pair list $prod")
  }

  test("source dup rate mass equals the multi-member component population") {
    val rows = graft.dedup.Dedup.sourceDupRate(spark, sf).collect()
    val expDup = graft.dedup.Dedup.components(spark, sf)
      .filter(col("n_members") > 1).count()
    assert(rows.map(_.getLong(2)).sum == expDup)
    val total = Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == total)
  }

  test("payload dedup audit is self-consistent and covers the corpus") {
    val r = graft.multimodal.Multimodal.payloadDedup(spark, sf).collect().head
    val total = Tables.documents(spark, sf).count()
    assert(r.getLong(0) == total, s"total_payloads ${r.getLong(0)} != $total")
    assert(r.getLong(0) == r.getLong(1) + r.getLong(3),
      "distinct + dup_copies must equal total")
    assert((r.getLong(3) == 0) == (r.getLong(4) == 0),
      "reclaimable bytes iff duplicate copies")
  }

  test("probe curve: probe-2 recall dominates probe-1 (superset candidates)") {
    val rows = graft.sim.Ann.probeCurve(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(rows.keySet == Set(1L, 2L))
    // probe-2 searches a superset of probe-1's cells, so its top-5 can
    // only be closer to exact
    assert(rows(2L)._1 >= rows(1L)._1,
      s"probe-2 mean recall ${rows(2L)._1} < probe-1 ${rows(1L)._1}")
    rows.values.foreach { case (mean, mn) =>
      assert(mean <= 10000 && mn <= mean)
    }
  }

  test("reassign drift conserves the corpus population on both sides") {
    val rows = graft.sim.Ann.reassignDrift(spark, sf).collect()
    val total = Tables.embeddings(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == total, "old-side population lost")
    assert(rows.map(_.getLong(2)).sum == total, "new-side population lost")
    rows.foreach(r => assert(r.getLong(3) <= r.getLong(2),
      s"cell ${r.getLong(0)}: stayed > incoming"))
  }

  test("funnel conversion summary agrees with the sequence-match stages") {
    val sm = Analytics.qSequenceMatch(spark, sf)
    val conv = sm.filter(col("stage") === 3)
      .selectExpr("purchase_us - signup_us AS c").collect().map(_.getLong(0)).sorted
    val r = Analytics.qFunnelConversion(spark, sf).collect().head
    assert(r.getLong(0) == conv.length)
    if (conv.nonEmpty) {
      assert(r.getLong(2) == conv.head && r.getLong(3) == conv.last)
      assert(r.getLong(1) >= conv.head && r.getLong(1) <= conv.last)
    }
  }

  test("corpus matrix: complete pair coverage, Jaccard bounds hold") {
    val nSources = Tables.documents(spark, sf).select("source").distinct().count()
    val rows = graft.dedup.Dedup.corpusMatrix(spark, sf).collect()
    assert(rows.length == nSources * (nSources - 1) / 2,
      s"expected all ${nSources * (nSources - 1) / 2} pairs, got ${rows.length}")
    rows.foreach { r =>
      val (na, nb, common, bp) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(common <= math.min(na, nb), "intersection exceeds a side")
      assert(bp >= 0 && bp <= 10000)
      assert(r.getString(0) < r.getString(1), "pairs must be canonical (a < b)")
    }
  }

  test("lsh recall audit is consistent with both cached pair lists") {
    val r = graft.dedup.Dedup.lshRecall(spark, sf).collect().head
    val (nb, nl, nc) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nc <= math.min(nb, nl), "overlap exceeds a side")
    assert(nl == graft.dedup.Dedup.minhashPairs(spark, sf).count(),
      "n_lsh must equal the cached production pair list")
    assert(r.getLong(3) <= 10000 && r.getLong(4) <= 10000)
  }

  test("cooccurrence lift matches a driver-side recompute of the top pair") {
    val rows = graft.text.TextOps.cooccurrence(spark, sf).collect()
    assert(rows.length == 100)
    rows.foreach(r => assert(r.getLong(2) <= math.min(r.getLong(3), r.getLong(4)),
      s"${r.getString(0)}/${r.getString(1)}: co-count exceeds a marginal"))
    // recompute the first returned pair's lift from raw incidence
    val (wa, wb) = (rows.head.getString(0), rows.head.getString(1))
    val docs = Tables.documents(spark, sf)
      .selectExpr("doc_id", "array_distinct(split(text, ' ')) AS w").collect()
    val nd = docs.length.toLong
    val na = docs.count(_.getSeq[String](1).contains(wa)).toLong
    val nb = docs.count(_.getSeq[String](1).contains(wb)).toLong
    val nab = docs.count(r => { val s = r.getSeq[String](1); s.contains(wa) && s.contains(wb) }).toLong
    assert(rows.head.getLong(2) == nab && rows.head.getLong(3) == na && rows.head.getLong(4) == nb)
    assert(rows.head.getLong(5) == nab * nd * 1000000L / (na * nb))
  }

  test("quantile bucketing balances the buckets where fixed-width cannot") {
    val rows = graft.operators.DlpQueries.dlpQuantileBucketing(spark, sf).collect()
    val n = rows.length
    val byBucket = rows.groupBy(_.getString(2)).view.mapValues(_.length).toMap
    assert(byBucket.keySet == Set("q1", "q2", "q3", "q4"))
    byBucket.foreach { case (b, cnt) =>
      // each data-derived bucket holds ~25% (ties can shift a few rows)
      assert(math.abs(cnt - n / 4) <= math.max(2, n / 20),
        s"bucket $b holds $cnt of $n — not quantile-balanced")
    }
    val r0 = rows.head
    assert(r0.getLong(3) <= r0.getLong(4) && r0.getLong(4) <= r0.getLong(5),
      "quartile bounds must be ordered")
  }

  test("two-level quantile rank equals the naive global-window form exactly") {
    import org.apache.spark.sql.expressions.Window
    val got = graft.operators.DlpQueries.dlpQuantileBucketing(spark, sf).collect()
    // the oracle shape: one unpartitioned window over the whole table
    val c = Tables.customer(spark, sf).selectExpr("c_custkey",
      "CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS acctbal_c")
    val naive = c
      .withColumn("rn", row_number().over(
        Window.orderBy(col("acctbal_c"), col("c_custkey"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      .agg(
        min(when(col("rn") === expr("GREATEST((n + 1) DIV 4, 1)"), col("acctbal_c"))).as("q1_c"),
        min(when(col("rn") === expr("GREATEST((n + 1) DIV 2, 1)"), col("acctbal_c"))).as("q2_c"),
        min(when(col("rn") === expr("GREATEST((3 * (n + 1)) DIV 4, 1)"), col("acctbal_c"))).as("q3_c"))
      .collect().head
    got.foreach { r =>
      assert(r.getLong(3) == naive.getLong(0) && r.getLong(4) == naive.getLong(1) &&
        r.getLong(5) == naive.getLong(2), "quartile bounds diverge from the global-window oracle")
    }
  }

  // The r9 lesson: dlp_quantile_bucketing shipped a full-table
  // unpartitioned WindowExec for a round because its plan was never
  // audited. This sweep walks EVERY SparkEntry query's executed plan
  // and fails on any Window with an empty partitionSpec, unless the
  // query is whitelisted here with a justification for why that
  // window's input is provably bounded (sketch-/group-/survivor-sized,
  // never table-sized). Adding a name here requires writing the bound.
  val boundedGlobalWindows: Map[String, String] = Map(
    "ann_cell_balance" -> "window input = k IVF cell rows (k fixed by config)",
    "dedup_component_stats" -> "window input = component-SIZE histogram rows (distinct sizes)",
    "dlp_quantile_bucketing" -> "window input = one row per present value bucket (domain DIV 16384 ~ 70 rows at any table size)",
    "embed_pair_hist" -> "window input = 10 histogram bucket rows (64-vector deterministic sample)",
    "layout_compaction_plan" -> "window input = file inventory rows (one per planned file), not data rows",
    "pipeline_mix_weights" -> "window input = one row per corpus source (~20)",
    "q_funnel_conversion" -> "window input = funnel survivor counts per stage (3 rows)",
    "q_skyline" -> "phase-2 window input = union of 16 per-bucket Pareto frontiers (survivor-sized)",
    "text_vocab" -> "window input = top-200 vocabulary rows after TakeOrdered",
    "text_zipf_fit" -> "window input = top-50 vocabulary rows after TakeOrdered",
    "dlp_top_coding" -> "window input = one row per present value bucket (domain DIV 16384 ~ 70 rows at any table size)",
    "q_forecast_backtest" -> "window input = one row per calendar week (bounded by the time domain, never the order count)",
    "q_abc_class" -> "window input = one row per present revenue bucket (domain DIV 10⁶ — bucket-offset cumulative for the descending ABC prefix)",
    "q_customer_lifespan" -> "window input = one row per present lifespan value (bounded by the calendar-month domain)",
    "q_weekly_volatility" -> "median rank windows over one row per calendar week (time-domain-bounded, the q_forecast_backtest frame)",
    "layout_cluster_depth" -> "sweep windows over the file-stats boundary list (two rows per file — lakehouse metadata, never data rows)",
    "q_discount_elasticity" -> "share window over one row per discount point (<= 11 rows: the whole-percent discount domain)",
    "q_runs_test" -> "median-rank and lag windows over one row per calendar day (time-domain-bounded, the q_weekly_volatility frame)",
    "q_order_linecount_dist" -> "share windows over the fan-out histogram (one row per distinct lines-per-order level, ~7 at any SF)",
    "dedup_pair_sim_histogram" -> "share window over the 21 similarity bands (candidate-sized input already reduced to a bounded histogram)",
    "q_chi_square" -> "marginal/total windows over the ~15 contingency cells (priority × status domain, SF-independent)",
    "stream_concurrency_curve" -> "cumulative depth over the gap-filled minute grid (calendar-bounded ~43k rows/month at any SF; everything fact-sized stays user-partitioned)",
    "q_ks_binned" -> "cumulative ECDF over the $100 bin axis (value-domain-bounded ~5.5k rows at any SF — the fact table reduces to bin counts first)",
    "text_heaps_curve" -> "cumulative vocabulary over the 20-row ventile axis (bucket count is a constant; the per-word first-doc reduce happens before any window)",
    "stream_shadow_diff" -> "user-share window over the session-delta histogram (disagreement-domain-bounded; the lag pass stays user-partitioned)",
    "ann_incremental_assign" -> "share windows over k IVF cell rows (k fixed by config — the ann_cell_balance bound, before AND after the batch merge)")

  test("no query ships an unpartitioned window over table-sized input") {
    // the executed plan as graft.Plans fingerprints it, so the sweep
    // also sees windows inside subqueries
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val globals =
        try Plans.fingerprint(fn(spark, sf).queryExecution.executedPlan)("global_windows")
        catch { case scala.util.control.NonFatal(e) =>
          fail(s"query $name failed to build/plan in the sweep: $e")
        }
      if (globals > 0 && !boundedGlobalWindows.contains(name)) Some(name) else None
    }
    Caches.clearAll(); spark.catalog.clearCache()
    assert(offenders.isEmpty,
      s"unpartitioned windows without a boundedness justification: ${offenders.mkString(", ")}")
    // the whitelist must not drift: every justified name must still be a query
    val stale = boundedGlobalWindows.keySet -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"whitelist names no longer in SparkEntry.queries: $stale")
  }

  test("Plans.fingerprint counts physical nodes by class, subqueries included") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val facts = (1 to 200).map(i => (i % 20L, i.toLong, i % 7L)).toDF("k", "v", "c")
    val dims = (0 until 20).map(i => (i.toLong, s"n$i")).toDF("k", "name")
    // exact counts: every field not named is 0
    def check(df: DataFrame, expect: (String, Int)*): Unit = {
      val plan = df.queryExecution.executedPlan
      assert(plan.isInstanceOf[AdaptiveSparkPlanExec], "expected an AQE plan, as graft.Plans sees it")
      assert(Plans.fingerprint(plan) == Plans.Fields.map(_ -> 0).toMap ++ expect, plan.treeString)
    }
    check(facts.join(dims, "k"), "broadcasts" -> 1, "bhj" -> 1)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try check(facts.join(dims, "k"), "shuffles" -> 2, "sorts" -> 2, "smj" -> 1)
    finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    check(facts.agg(countDistinct("k"), countDistinct("c")), "shuffles" -> 2, "expands" -> 1)
    check(facts.withColumn("rn", row_number().over(Window.partitionBy("k").orderBy("v"))),
      "shuffles" -> 1, "sorts" -> 1, "windows" -> 1)
    // the only window sits in a scalar subquery: unpartitioned, and
    // invisible to optimizedPlan.collect
    val top = facts.select(row_number().over(Window.orderBy("v")).as("rn")).agg(max("rn"))
    check(dims.select(col("k"), top.scalar().as("m")),
      "shuffles" -> 1, "sorts" -> 1, "windows" -> 1, "global_windows" -> 1)
  }

  // Compare-boundary type guard (the round-1 DECIMAL and round-8/11
  // HUGEINT lessons): the driver's hasher distinguishes physical types
  // even at equal values, so every query output column must stay in
  // the small closed set that DuckDB reproduces bit-identically from
  // the oracle SQL. DecimalType (untyped arithmetic), FloatType
  // (binary32 vs the oracle's DOUBLE), and narrow ints are banned.
  // Schema analysis only — no jobs run. tools/check_oracle.py --sweep
  // enforces the mirror rule on the DuckDB side (no HUGEINT/DECIMAL).
  test("every query output schema uses only compare-safe types") {
    import org.apache.spark.sql.types._
    val allowed: Set[DataType] =
      Set(LongType, IntegerType, DoubleType, StringType,
          TimestampType, TimestampNTZType, DateType, BooleanType)
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val bad =
        try fn(spark, sf).schema.fields.filterNot(f => allowed(f.dataType))
        catch { case scala.util.control.NonFatal(e) =>
          fail(s"query $name failed to build/analyze in the type sweep: $e")
        }
      bad.map(f => s"$name.${f.name}: ${f.dataType.simpleString}")
    }
    Caches.clearAll(); spark.catalog.clearCache()
    assert(offenders.isEmpty,
      s"non-compare-safe output types: ${offenders.mkString(", ")}")
  }

  // r11 straggler fix: qNtile used to sort the whole fact table inside
  // a 3-partition (returnflag) window — three straggler tasks at 100×.
  // The r12 shape computes NTILE from per-(flag, qty-value) counts, so
  // every Window in the plan must consume an Aggregate (the ~50-row
  // bucket table per flag), never the raw scan.
  test("q_ntile windows run over the bucket-count aggregate, not the table") {
    import org.apache.spark.sql.catalyst.plans.logical
    val plan = Analytics.qNtile(spark, sf).queryExecution.optimizedPlan
    val windows = plan.collect { case w: logical.Window => w }
    assert(windows.nonEmpty, "expected the bucket-offset window in the plan")
    windows.foreach { w =>
      val aggsBelow = w.child.collect { case a: logical.Aggregate => a }
      assert(aggsBelow.nonEmpty,
        s"q_ntile window input must be the bucket-count Aggregate, got:\n${w.child.treeString}")
    }
  }

  test("pair histogram covers the exact sample mass with valid buckets") {
    val rows = graft.sim.Ann.pairHist(spark, sf).collect()
    val n = Tables.embeddings(spark, sf)
      .filter(col("vec_id") < 64).count()
    assert(rows.map(_.getLong(1)).sum == n * (n - 1) / 2,
      "histogram must cover every sampled pair exactly once")
    rows.foreach { r =>
      assert(r.getLong(0) >= 0 && r.getLong(0) <= 9)
      assert(r.getLong(2) >= 0 && r.getLong(2) <= 10000)
    }
  }

  test("component stats conserve the corpus (sum of n_docs = all documents)") {
    val rows = graft.dedup.Dedup.componentStats(spark, sf).collect()
    val total = Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(2)).sum == total,
      s"histogram mass ${rows.map(_.getLong(2)).sum} != corpus $total")
    rows.foreach(r => assert(r.getLong(2) == r.getLong(0) * r.getLong(1),
      s"size ${r.getLong(0)}: n_docs ${r.getLong(2)} != csize*n_components"))
  }
}
