package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Caches, Tables}

/** Text-analysis operators for training-data pipelines: tokenization,
  * language ID, quality scoring, fingerprinting. Everything is
  * Catalyst expressions (split/regexp/higher-order functions) — no
  * UDFs, so the ops run distributed with full pushdown at 100 TB.
  */
object TextOps {

  /** Per-language stopword marker lists for the n-gram/stopword-hit
    * language heuristic. Deterministic argmax with lexicographic
    * tie-break; 'unknown' when nothing hits. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "es" -> Seq("el", "la", "y", "de", "que"),
    "fr" -> Seq("le", "la", "et", "les", "des"))

  private def hits(lang: String): String = {
    val list = LangMarkers.toMap.apply(lang).map(w => s"'$w'").mkString(", ")
    s"CAST(size(filter(w, x -> x IN ($list))) AS BIGINT)"
  }

  /** Stopword-hit language identification: score each language's
    * marker list against the token stream, take the argmax. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(spark, dir)
      .selectExpr("doc_id", "lang AS labeled_lang", "split(text, ' ') AS w")
      .selectExpr("doc_id", "labeled_lang",
        s"${hits("en")} AS s_en", s"${hits("de")} AS s_de",
        s"${hits("es")} AS s_es", s"${hits("fr")} AS s_fr")
    scored.selectExpr("doc_id", "labeled_lang",
        """CASE
          |  WHEN s_en = 0 AND s_de = 0 AND s_es = 0 AND s_fr = 0 THEN 'unknown'
          |  WHEN s_de > s_en AND s_de > s_es AND s_de > s_fr THEN 'de'
          |  WHEN s_en >= s_de AND s_en > s_es AND s_en > s_fr THEN 'en'
          |  WHEN s_es >= s_en AND s_es >= s_de AND s_es > s_fr THEN 'es'
          |  ELSE 'fr' END AS predicted""".stripMargin.replace("\n", " "),
        "s_en", "s_de", "s_es", "s_fr")
      .orderBy("doc_id")
  }

  /** Composite quality score: volume, word-length shape, stopword
    * ratio — the usual cheap pretraining-corpus filters. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .selectExpr("doc_id", "text", "split(text, ' ') AS w")
      .selectExpr("doc_id",
        "CAST(length(text) AS BIGINT) AS n_chars_m",
        "CAST(size(w) AS BIGINT) AS n_words",
        "CAST(size(filter(w, x -> x IN ('a', 'the', 'of', 'and', 'to'))) AS BIGINT) AS n_stop")
      .selectExpr("doc_id", "n_chars_m", "n_words", "n_stop",
        // basis points (0..10000), all-integer so the score is exact
        // and engine-independent: 50% volume, 30% word-length shape,
        // 20% stopword density.
        """CAST(
          |  LEAST(n_words, 100) * 50 +
          |  (CASE WHEN n_chars_m / n_words BETWEEN 3 AND 8 THEN 3000 ELSE 900 END) +
          |  (2000 * LEAST(n_words, 5 * n_stop)) DIV n_words
          |AS BIGINT) AS quality_bp""".stripMargin.replace("\n", " "))
      .orderBy("doc_id")

  /** Vocabulary with cumulative corpus coverage in integer basis
    * points — "how many types cover 90% of tokens" is the standard
    * tokenizer sizing question. Exact integer arithmetic throughout.
    *
    * Scale shape: a no-partition window over the FULL vocabulary would
    * drag every distinct word (10⁸+ at corpus scale) into one task, so
    * instead (1) the grand total is a scalar aggregate (tree-reduced,
    * then broadcast via a 1-row cross join), (2) the top-200 cut runs
    * FIRST through orderBy+limit (TakeOrderedAndProject — per-partition
    * heaps, fully parallel), and (3) only the 200 surviving rows enter
    * the cumulative window. Identical result: the cumulative sum at
    * rank r depends only on rows ranked above r. */
  def vocab(spark: SparkSession, dir: String): DataFrame = {
    // Shared-persisted: both the scalar total and the top-200 cut read
    // this aggregation — without the cache that is two full corpus
    // scans+shuffles where one suffices.
    val counts = Caches.sharedCheckpoint(spark, s"text.vocabCounts:$dir") {
      Tables.documents(spark, dir)
        .selectExpr("explode(split(text, ' ')) AS word")
        .groupBy("word")
        .agg(count(lit(1)).as("n"))
    }
    val total = counts.agg(sum(col("n")).as("total"))
    val top = counts.orderBy(col("n").desc, col("word")).limit(200)
    val wOrd = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("word"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    top.crossJoin(broadcast(total))
      .withColumn("cum", sum(col("n")).over(wOrd))
      .selectExpr("word", "n", "CAST(cum * 10000 DIV total AS BIGINT) AS cum_bp")
      .orderBy(col("n").desc, col("word"))
  }

  /** Composite quality GATE — the filter pipeline a pretraining corpus
    * actually runs (C4/Gopher style): every document gets a pass/fail
    * and the FIRST failing rule, so corpus curation can report why
    * volume was dropped, not just how much. Rules are all-integer
    * (length, marker-hit count, duplicate-word basis points) and run
    * in one codegen'd scan — no shuffle, no UDF; at 100 TB this is a
    * map-only pass whose output feeds the survivor write directly. */
  def qualityGate(spark: SparkSession, dir: String): DataFrame =
    qualityGateCols(Tables.documents(spark, dir)).orderBy("doc_id")

  /** The gate as a pure column transform over any (doc_id, text)
    * relation — batch or stream: stateless and map-only, it applies
    * unchanged to a readStream source (StreamingSpec runs it on a
    * MemoryStream), which is how a streaming ingest filters documents
    * before they ever land. */
  def qualityGateCols(docs: DataFrame): DataFrame = {
    val allHits = LangMarkers.map { case (l, _) => hits(l) }.mkString(" + ")
    docs
      .selectExpr("doc_id", "split(text, ' ') AS w")
      .selectExpr("doc_id",
        "CAST(size(w) AS BIGINT) AS n_words",
        s"$allHits AS marker_hits",
        // multiply in BIGINT: size() is INT, and dup_count * 10000
        // wraps negative past ~215k duplicate tokens (crawl outliers)
        "(CAST(size(w) AS BIGINT) - CAST(size(array_distinct(w)) AS BIGINT)) * 10000 DIV size(w) AS dup_word_bp")
      .selectExpr("doc_id", "n_words", "marker_hits", "dup_word_bp",
        """CASE
          |  WHEN n_words < 5 THEN 'too_short'
          |  WHEN marker_hits = 0 THEN 'unknown_language'
          |  WHEN dup_word_bp > 3000 THEN 'repetitive'
          |  ELSE 'ok' END AS gate""".stripMargin.replace("\n", " "))
      .selectExpr("doc_id", "n_words", "marker_hits", "dup_word_bp", "gate",
        "CAST(CASE WHEN gate = 'ok' THEN 1 ELSE 0 END AS BIGINT) AS pass")
  }

  /** One md5 hex digit of the doc_id key hash as its integer value —
    * the shared building block of both portable key hashes below. */
  private def hexDigitSql(i: Int): String =
    s"(ascii(substring(md5(CAST(doc_id AS STRING)), $i, 1)) - " +
      s"CASE WHEN substring(md5(CAST(doc_id AS STRING)), $i, 1) BETWEEN '0' AND '9' THEN 48 ELSE 87 END)"

  /** Portable 0-99 key-hash bucket: three md5 hex digits converted
    * digit-by-digit (neither engine's hex-to-int builtin exists in
    * the other) — identical SQL text runs on Spark and DuckDB. */
  val HashBucketSql: String = {
    def hv(i: Int) = hexDigitSql(i)
    s"CAST(((${hv(1)} * 16 + ${hv(2)}) * 16 + ${hv(3)}) % 100 AS BIGINT)"
  }

  /** 80/10/10 deterministic split assignment over [[HashBucketSql]] —
    * ONE definition for every operator AND oracle that assigns splits
    * (splitTrainEval, decontaminate, trainingMix), so the thresholds
    * can never drift between the split and its consumers. */
  val SplitCaseSql: String =
    s"CASE WHEN $HashBucketSql < 80 THEN 'train' " +
      s"WHEN $HashBucketSql < 90 THEN 'val' ELSE 'test' END"

  /** Deterministic stratified sample: ~20% of documents per source,
    * selected by content-independent key hash (md5 of doc_id) — the
    * reproducible-at-any-parallelism sampling a train/eval pipeline
    * needs (Bernoulli rand() samples change across runs and resume).
    * Emits the sampled rows with their stratum. */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .selectExpr("doc_id", "source", s"$HashBucketSql AS h")
      .filter(col("h") < 20)
      .select(col("doc_id"), col("source"), col("h").as("hash_bucket"))
      .orderBy("doc_id")

  /** Portable 24-bit key hash (six md5 hex digits, same
    * digit-by-digit conversion as [[HashBucketSql]]) — the uniform
    * variate behind weighted sampling; identical SQL text runs on
    * Spark and DuckDB. */
  val Hash24Sql: String = {
    def hv(i: Int) = hexDigitSql(i)
    s"CAST(((((${hv(1)} * 16 + ${hv(2)}) * 16 + ${hv(3)}) * 16 + ${hv(4)}) * 16 + ${hv(5)}) * 16 + ${hv(6)} AS BIGINT)"
  }

  /** Weighted (probability-proportional-to-size) deterministic
    * sample: top-50 documents by the priority `floor(h24 * 1e6 /
    * n_chars)` — the integer proxy of Efraimidis–Spirakis exponential
    * priority sampling (u^(1/w) ranking), with the 24-bit key hash as
    * the uniform variate and document length as the weight. Longer
    * documents draw proportionally smaller priorities, so the sample
    * over-represents them by weight while staying a pure function of
    * the key: reproducible at any parallelism, stable under corpus
    * reshuffles, and computable as one scan + one top-k — no
    * rand(), no global sort of the corpus. The double division is
    * IEEE-exact-rounded in both engines, so floor agrees bitwise. */
  def sampleWeighted(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .selectExpr("doc_id", "source", "n_chars", s"$Hash24Sql AS h")
      .selectExpr("doc_id", "source", "n_chars",
        "CAST(FLOOR(CAST(h AS DOUBLE) * 1000000 / GREATEST(n_chars, 1)) AS BIGINT) AS priority")
      .orderBy(col("priority"), col("doc_id"))
      .limit(50)
      .orderBy("doc_id")

  /** Fixed-k per-group sample — the distributed equivalent of a
    * per-source reservoir sample, deterministic at any parallelism:
    * each source keeps its k documents of smallest 24-bit key hash
    * (hash-priority sampling — uniform over the source, reproducible
    * across runs and corpus growth for the surviving keys). The
    * window's partial group-limit pushes the top-k below the shuffle,
    * so each map task forwards at most k rows per source. */
  def sampleGroupTopk(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
    Tables.documents(spark, dir)
      .selectExpr("doc_id", "source", s"$Hash24Sql AS h")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .orderBy("source", "rk")
  }

  /** Hash-based train/val/test split (80/10/10 by the same key hash):
    * per (source, split) counts plus min/max ids — the assignment is a
    * pure function of the key, so a document never migrates between
    * splits across runs, partitions, or corpus growth. */
  def splitTrainEval(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .selectExpr("doc_id", "source", s"$SplitCaseSql AS split")
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy("source", "split")

  /** Sliding token-window chunking — the unit-of-work transform every
    * LLM data pipeline runs before tokenization (context-length-sized
    * chunks with overlap so no span is split across a boundary without
    * a copy that contains it whole). Pure per-row explode: chunk count
    * and boundaries are integer functions of the token count, so the
    * op is a map-only codegen'd scan — at 100 TB it parallelizes
    * per-document with zero shuffle, and the chunk rows inherit the
    * scan's partitioning for the downstream tokenizer. */
  def chunk(spark: SparkSession, dir: String,
            window: Int = 32, stride: Int = 24): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      "need 0 < stride <= window")
    val start = s"(chunk_idx - 1) * $stride + 1"
    Tables.documents(spark, dir)
      .selectExpr("doc_id", "split(text, ' ') AS w")
      // last chunk may be short but never empty; every token is
      // covered because stride <= window
      .selectExpr("doc_id", "w",
        s"CASE WHEN size(w) <= $window THEN 1 " +
          s"ELSE 1 + (size(w) - $window + ${stride - 1}) DIV $stride END AS nchunks")
      .selectExpr("doc_id", "w", "explode(sequence(1, nchunks)) AS chunk_idx")
      .selectExpr("doc_id",
        "CAST(chunk_idx AS BIGINT) AS chunk_idx",
        s"CAST($start AS BIGINT) AS start_tok",
        s"CAST(size(slice(w, $start, $window)) AS BIGINT) AS n_tok",
        s"concat_ws(' ', slice(w, $start, $window)) AS chunk")
      .orderBy("doc_id", "chunk_idx")
  }

  /** The corpus bigram model + per-document coverage against its top
    * slice — a cheap KenLM-style fluency proxy (documents whose
    * n-grams are mostly corpus-frequent read like the corpus; spam /
    * boilerplate / wrong-language text scores low). Two-phase shape:
    * the model is a bounded top-K aggregate (TakeOrderedAndProject —
    * per-partition heaps) broadcast against the per-document gram
    * stream, so the corpus is scanned twice and shuffled never for
    * the scoring side. Integer basis points — exact on any engine. */
  def ngramCoverage(spark: SparkSession, dir: String, topK: Int = 50): DataFrame = {
    val grams = Tables.documents(spark, dir)
      .selectExpr("doc_id", "split(text, ' ') AS w")
      .selectExpr("doc_id",
        "explode(transform(sequence(1, greatest(size(w) - 1, 1)), " +
          "i -> concat_ws(' ', try_element_at(w, i), try_element_at(w, i + 1)))) AS gram")
    val top = grams.groupBy("gram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram")).limit(topK)
      .select(col("gram"), lit(1L).as("hit"))
    grams.join(broadcast(top), Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_top"))
      .selectExpr("doc_id", "n_grams", "CAST(n_top AS BIGINT) AS n_top",
        "n_top * 10000 DIV n_grams AS coverage_bp")
      .orderBy("doc_id")
  }

  /** Integer TF-IDF keyword extraction: top-3 terms per document by
    * tf/df (the corpus-size numerator is constant per corpus, so
    * tf·10⁶ DIV df ranks identically to tf·log(N/df) up to the log's
    * monotone flattening — and stays exact integer arithmetic). Shape:
    * one (doc_id, word) aggregate, a vocabulary-sized df aggregate off
    * it, a sort-merge join back on the word key (both sides already
    * word-clustered), and a per-document top-3 window — every stage
    * partial-aggregates before its exchange. */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .selectExpr("doc_id", "explode(split(text, ' ')) AS word")
      .groupBy("doc_id", "word")
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("word").agg(count(lit(1)).as("df_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score_u").desc, col("word"))
    tf.join(df, "word")
      .selectExpr("doc_id", "word", "tf", "df_docs",
        "tf * 1000000 DIV df_docs AS score_u")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select("doc_id", "word", "tf", "df_docs", "score_u", "rank")
      .orderBy("doc_id", "rank")
  }

  /** Conjunctive keyword retrieval — the search primitive over the
    * same tf/df statistics as [[tfidfTopTerms]]: documents containing
    * ALL query terms, ranked by summed integer tf·idf. Shape: the
    * per-(doc, word) aggregate filters to the query terms FIRST (the
    * scan's pushed predicate — at 100 TB this is the posting-list
    * lookup, touching only matching rows), the df dim for 2 terms is
    * broadcast-sized, and the conjunctive check is a count over the
    * ≤|terms| surviving rows per doc. Top-20 by (score, doc_id) ends
    * in TakeOrderedAndProject. */
  def searchRank(spark: SparkSession, dir: String,
                 terms: Seq[String] = Seq("spark", "table")): DataFrame = {
    require(terms.nonEmpty)
    val tf = Tables.documents(spark, dir)
      .selectExpr("doc_id", "explode(split(text, ' ')) AS word")
      .groupBy("doc_id", "word")
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("word").agg(count(lit(1)).as("df_docs"))
    tf.filter(col("word").isInCollection(terms))
      .join(df.filter(col("word").isInCollection(terms)), "word")
      .selectExpr("doc_id", "word", "tf * 1000000 DIV df_docs AS score_u")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum(col("score_u")).as("score"))
      .filter(col("n_terms") === terms.size)
      .selectExpr("doc_id", "CAST(score AS BIGINT) AS score_u")
      .orderBy(col("score_u").desc, col("doc_id"))
      .limit(20)
  }

  /** Unigram-LM quality score (integer form of the CCNet / Wenzek et
    * al. 2020 perplexity filter): score each document by how much of
    * its token mass falls in the corpus's head vocabulary. The LM is
    * the top-K corpus unigrams (K=20 at test scale; ~50k in
    * production — still broadcastable), so scoring is one map-side
    * broadcast join + per-doc aggregate: no shuffle grows with the
    * corpus, the exact shape a 100 TB quality-filter pass needs.
    * Integer corpus counts stand in for log-probs (order-insensitive
    * sums; cross-engine exact), ranking documents the same way:
    * rare-token/OOV-heavy docs score low.
    *
    * Reference analogue: the quality gates a training-data pipeline
    * runs before DLP/dedup (no direct reference class; complements
    * pipeline_quality_gate). */
  def lmScore(spark: SparkSession, dir: String): DataFrame = {
    // same shared corpus-count cache as vocab() — one scan serves both
    val counts = Caches.sharedCheckpoint(spark, s"text.vocabCounts:$dir") {
      Tables.documents(spark, dir)
        .selectExpr("explode(split(text, ' ')) AS word")
        .groupBy("word")
        .agg(count(lit(1)).as("n"))
    }
    // deterministic head cut: total tie-break (n desc, word) so the
    // LIMIT boundary is engine-independent
    val lm = counts.orderBy(col("n").desc, col("word")).limit(20)
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .join(broadcast(lm), Seq("word"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        count(col("n")).as("lm_hits"),
        sum(coalesce(col("n"), lit(0L))).as("score_sum"))
      .selectExpr("doc_id", "n_tokens", "lm_hits", "score_sum",
        "score_sum DIV n_tokens AS score_avg")
      .orderBy("doc_id")
  }

  /** Winnowing-style fingerprint (Schleimer/Wilkerson/Aiken,
    * "Winnowing: local algorithms for document fingerprinting",
    * SIGMOD 2003): min rolling-hash (md5 of each 5-char window) +
    * distinct-window count. Equal fingerprints ⇒ near-identical
    * content with high probability. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .selectExpr("doc_id",
        "transform(sequence(1, greatest(length(text) - 4, 1)), i -> md5(substr(text, i, 5))) AS hs")
      .selectExpr("doc_id",
        "array_min(hs) AS fp",
        "CAST(size(array_distinct(hs)) AS BIGINT) AS n_windows")
      .orderBy("doc_id")

  /** Collocation mining by integer lift (the exponent-free core of
    * PMI): over the top-50 document-frequency words, document-level
    * co-occurrence lift = P(ab)/(P(a)·P(b)) = n_ab·N/(n_a·n_b) in
    * micro-units — the phrase/collocation statistic tokenizer and
    * query-expansion pipelines mine. The vocabulary cap is the scale
    * contract: incidence is DISTINCT (doc, word) for the top-K only,
    * so the within-doc pair fan-out is K²-bounded per document, never
    * vocabulary-quadratic; the top-K list broadcasts. Top 100 pairs
    * by lift, ties impossible (pair key is unique). */
  def cooccurrence(spark: SparkSession, dir: String, topK: Int = 50): DataFrame = {
    val inc = Tables.documents(spark, dir)
      .selectExpr("doc_id", "explode(array_distinct(split(text, ' '))) AS word")
    val top = inc.groupBy("word").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("word")).limit(topK)
    val it = inc.join(broadcast(top.select("word")), "word")
    val nd = Tables.documents(spark, dir).agg(count(lit(1)).as("nd"))
    it.as("a").join(it.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.word") < col("b.word"))
      .groupBy(col("a.word").as("w_a"), col("b.word").as("w_b"))
      .agg(count(lit(1)).as("n_ab"))
      .join(broadcast(top.select(col("word").as("w_a"), col("df").as("n_a"))), "w_a")
      .join(broadcast(top.select(col("word").as("w_b"), col("df").as("n_b"))), "w_b")
      .crossJoin(broadcast(nd))
      .selectExpr("w_a", "w_b", "n_ab", "n_a", "n_b",
        "n_ab * nd * 1000000 DIV (n_a * n_b) AS lift_u")
      .orderBy(col("lift_u").desc, col("w_a"), col("w_b")).limit(100)
  }

  /** BM25 ranked retrieval (Robertson/Walker Okapi weighting) in
    * EXACT integer arithmetic: k1 = 1.2 and b = 0.75 are rational, so
    * the per-term score tf·(k1+1) / (tf + k1(1−b+b·dl/avgdl)) clears
    * to 22·A·tf / (10·A·tf + 3·A + 9·dl_m) with A = corpus mean doc
    * length in milli-tokens — one integer DIV per (doc, term), no
    * floats anywhere, so ranks are engine- and parallelism-exact.
    * Unlike [[searchRank]] (conjunctive tf-idf), this is disjunctive
    * (any term matches) with the doc-length normalization that stops
    * long documents winning on raw tf. The corpus statistic A is one
    * 1-row broadcast; term postings are filtered BEFORE the join. */
  def bm25(spark: SparkSession, dir: String,
           terms: Seq[String] = Seq("spark", "table")): DataFrame = {
    require(terms.nonEmpty)
    val dl = Tables.documents(spark, dir)
      .selectExpr("doc_id", "CAST(size(split(text, ' ')) AS BIGINT) AS dl")
    val stats = dl.agg(sum(col("dl")).as("t"), count(lit(1)).as("n"))
      .selectExpr("t * 1000 DIV n AS a")
    val tf = Tables.documents(spark, dir)
      .selectExpr("doc_id", "explode(split(text, ' ')) AS word")
      .filter(col("word").isInCollection(terms))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val dfx = tf.groupBy("word").agg(count(lit(1)).as("df_docs"))
    tf.join(broadcast(dfx), "word")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .selectExpr("doc_id",
        "(1000000 DIV df_docs) * 22 * a * tf DIV (10 * a * tf + 3 * a + 9 * dl * 1000) AS score_t")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum(col("score_t")).as("score"))
      .selectExpr("doc_id", "n_terms", "CAST(score AS BIGINT) AS score_u")
      .orderBy(col("score_u").desc, col("doc_id")).limit(20)
  }

  /** The core BPE-training statistic: adjacent-character-pair counts
    * over the corpus, weighted by word frequency — the table whose
    * argmax IS the next BPE merge. Tokenizer training at corpus scale
    * is exactly this shape: collapse the corpus to its VOCABULARY
    * first (one word-count aggregate — work then scales with distinct
    * words, not corpus tokens), then explode each distinct word's
    * ≤len-1 adjacent pairs weighted by its count. Top 50 by weight. */
  def bpePairs(spark: SparkSession, dir: String): DataFrame = {
    val vocab = Tables.documents(spark, dir)
      .selectExpr("explode(split(text, ' ')) AS word")
      .filter(length(col("word")) >= 2)
      .groupBy("word").agg(count(lit(1)).as("n"))
    vocab
      .selectExpr("n",
        "explode(transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))) AS pair")
      .groupBy("pair").agg(sum(col("n")).as("weight"))
      .orderBy(col("weight").desc, col("pair")).limit(50)
  }

  /** BPE APPLY — the half of the tokenizer lifecycle
    * [[bpeTrainIter]] trains for: the ITERATED merge ledger (r15,
    * VERDICT r14 item 5 — previously the single-level top-20 char-pair
    * list) is applied to the corpus in rank order and the per-source
    * token bill re-denominated from whitespace words to tokenizer
    * tokens (what the pipeline's token budgets actually buy). Same
    * collapse trick as training: the corpus reduces to its
    * DISTINCT-WORD vocabulary first, each distinct word is tokenized
    * ONCE ([[bpeTokPerWord]]: char-split, then the K ledger merges
    * folded over it — COMPOSING merges included, since the ledger's
    * later pairs reference earlier merged tokens), and per-source
    * totals come from a vocab-sized key join of (source, word, count)
    * against (word, tokens) — work scales with distinct words × K,
    * never corpus tokens. Merge application contract (engine-exact,
    * shared with [[bpeTrainIter]] and the oracle): ` left right `
    * rewrites to ` leftright ` via two left-to-right non-overlapping
    * `replace` sweeps, merges in ledger rank order. Scope:
    * lowercase-alphabetic words (the trainable vocabulary); the
    * report carries the whitespace denominator alongside. */
  def bpeApply(spark: SparkSession, dir: String, k: Int = BpeMerges): DataFrame = {
    val words = Tables.documents(spark, dir)
      .selectExpr("source", "explode(split(text, ' ')) AS word")
    val alpha = words.filter(col("word").rlike("^[a-z]+$"))
    val perSrcWord = alpha.groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("n_sw"))
    val allWords = words.groupBy(col("source")).agg(count(lit(1)).as("n_words"))
    perSrcWord.join(bpeTokPerWord(spark, dir, k), "word")
      .groupBy(col("source"))
      .agg(sum(col("n_sw")).as("n_alpha"),
        sum(col("n_sw") * col("chars")).as("chars_alpha"),
        sum(col("n_sw") * col("n_tok")).as("bpe_tokens"))
      .join(allWords, "source")
      .selectExpr("source", "n_words", "n_alpha", "chars_alpha", "bpe_tokens",
        "chars_alpha - bpe_tokens AS merged_away",
        "(bpe_tokens * 10000) DIV chars_alpha AS compression_bp")
      .orderBy("source")
  }

  /** The tokenizer's merge count — one constant so the trainer
    * ([[bpeTrainIter]]), the apply/billing pass ([[bpeApply]]), and
    * the budget consumers ([[mixWeights]], [[packSequences]]) all
    * speak the SAME token denomination. */
  private[graft] val BpeMerges = 10

  /** Per-distinct-word tokenizer bill under the ITERATED ledger:
    * (word, chars, n_tok) for every alpha word in the corpus, the
    * ledger's K merges folded in rank order via the shared two-sweep
    * replace contract. Session-cached — the tokenizer is trained once
    * and every billing consumer joins against the same table, exactly
    * how a real pipeline ships its tokenizer. */
  private def bpeTokPerWord(spark: SparkSession, dir: String, k: Int = BpeMerges): DataFrame =
    graft.Caches.sharedCheckpoint(spark, s"text.bpeTok:$dir:$k") {
      // fold the driver-held ledger into ONE chained-replace column
      // expression: pair text is [a-z ]+ by construction — safe as a
      // SQL literal; merges apply in rank order, two sweeps each
      val foldExpr = bpeLedger(spark, dir, k).foldLeft(
        "concat(' ', regexp_replace(word, '(.)', '$1 '))") {
        case (acc, (_, pair, merged, _, _)) =>
          s"replace(replace($acc, ' $pair ', ' $merged '), ' $pair ', ' $merged ')"
      }
      Tables.documents(spark, dir)
        .selectExpr("explode(split(text, ' ')) AS word")
        .filter(col("word").rlike("^[a-z]+$"))
        .select(col("word")).distinct()
        .selectExpr("word", "CAST(length(word) AS BIGINT) AS chars",
          s"($foldExpr) AS folded")
        .selectExpr("word", "chars",
          "CAST(length(folded) - length(replace(folded, ' ', '')) AS BIGINT) - 1 AS n_tok")
    }

  /** ITERATED BPE training (VERDICT r13 item 4 — the real thing
    * [[bpePairs]]/[[bpeApply]] approximate): K merges learned
    * sequentially, where each round re-counts adjacent TOKEN pairs
    * over the current tokenization — so learned tokens participate in
    * later merges ("th" + "e" → "the"), which is the entire point of
    * BPE and what the single-level char-pair variant cannot express.
    * Corpus-scale shape: the corpus collapses to its DISTINCT-WORD
    * vocabulary once (work thereafter scales with vocabulary size ×
    * K, never corpus tokens — the same collapse every real tokenizer
    * trainer ships); each round is one pair-count aggregate + one
    * argmax + one map-side re-tokenize, with `localCheckpoint` per
    * round so the plan stays round-sized (the dedup_components /
    * Checkpoints release contract). The per-round argmax and token
    * total are SINGLE-ROW driver reads — the merge table IS
    * driver-sized state in any BPE trainer (HF/SentencePiece hold it
    * in memory); corpus statistics stay distributed. Merge
    * application contract (engine-exact, shared with [[bpeApply]]):
    * ` left right ` rewrites to ` leftright ` via two left-to-right
    * non-overlapping replace sweeps — on self-overlapping runs this
    * may group differently than canonical leftmost pairing, but both
    * engines run the identical string recurrence, so the oracle
    * replay is bit-exact. Output: the ranked merge ledger with each
    * round's pair weight and the corpus token bill after it — the
    * training curve a tokenizer team reads to pick K. */
  def bpeTrainIter(spark: SparkSession, dir: String, k: Int = BpeMerges): DataFrame = {
    import spark.implicits._
    bpeLedger(spark, dir, k)
      .toDF("rank", "pair", "merged", "weight", "corpus_tokens_after")
      .orderBy("rank")
  }

  /** Driver-held merge-ledger memo: the merge table IS driver-sized
    * state in any real trainer (HF/SentencePiece hold it in memory),
    * and the corpus at a dir is immutable here, so memoizing by
    * (dir, k) is sound across sessions — training runs once and the
    * billing consumers ([[bpeApply]], [[mixWeights]],
    * [[packSequences]]) reuse the same K rows. */
  private val ledgerMemo = scala.collection.concurrent.TrieMap
    .empty[(String, Int), Seq[(Long, String, String, Long, Long)]]

  private[graft] def bpeLedger(spark: SparkSession, dir: String,
                               k: Int): Seq[(Long, String, String, Long, Long)] =
    ledgerMemo.getOrElseUpdate((dir, k), {
    // ONE Spark job per merge round (r18; formerly three — re-tokenize
    // checkpoint, pair argmax, token-bill aggregate). The vocab is
    // checkpointed ONCE; each round re-tokenizes on the fly by folding
    // the ledger-so-far into a chained-replace EXPRESSION over it (the
    // bpeTokPerWord fold — two sweeps per merge in rank order, the
    // engine-exact contract unchanged), and the round's single pair
    // aggregate yields the argmax AND the global pair total in one
    // pass. The token bill falls out for free: every word's tokens =
    // adjacent pairs + 1, so tokens(v) = Σ pair-weights(v) + Σ word
    // counts for ANY tokenization v — round r+1's pair total IS round
    // r's corpus_tokens_after, with one trailing sum-only pass for the
    // final round.
    val vocab = Tables.documents(spark, dir)
      .selectExpr("explode(split(text, ' ')) AS word")
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    def pairAgg(tokExpr: String): org.apache.spark.sql.Row = vocab
      .selectExpr("n", s"split(trim($tokExpr), ' ') AS t")
      .filter(size(col("t")) >= 2)
      .selectExpr("n",
        "explode(transform(sequence(1, size(t) - 1), i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))) AS pr")
      .groupBy(col("pr")).agg(sum(col("n")).as("wgt"))
      // min(struct(-wgt, pr)) = the former ORDER BY wgt DESC, pr
      // LIMIT 1 (largest weight, ties to the smallest pair)
      .agg(min(struct((-col("wgt")).as("nw"), col("pr"))).as("best"),
        sum(col("wgt")).as("total"))
      .head()
    val nWords = {
      val r = vocab.agg(sum(col("n"))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    var tokExpr = "concat(' ', regexp_replace(word, '(.)', '$1 '))"
    val ledger = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long, Long)]
    try {
      var exhausted = false
      (1 to k).foreach { r =>
        if (!exhausted) {
          val row = pairAgg(tokExpr)
          // this round's scan tokenizes with merges 1..r-1 applied, so
          // its pair total prices the PREVIOUS round's ledger entry
          if (ledger.nonEmpty) {
            val (pr0, p0, m0, w0, _) = ledger.last
            ledger(ledger.size - 1) =
              (pr0, p0, m0, w0, (if (row.isNullAt(1)) 0L else row.getLong(1)) + nWords)
          }
          // a tiny/degenerate corpus can run out of adjacent pairs
          // before round k: stop cleanly with the completed rounds (the
          // oracle's final select filters its NULL rounds the same way)
          if (row.isNullAt(0)) exhausted = true
          else {
            val best = row.getStruct(0)
            val pair = best.getString(1)
            val merged = pair.replace(" ", "")
            // pair text is [a-z ]+ by construction — safe as a SQL literal
            tokExpr = s"replace(replace($tokExpr, ' $pair ', ' $merged '), ' $pair ', ' $merged ')"
            ledger += ((r.toLong, pair, merged, -best.getLong(0), -1L))
          }
        }
      }
      if (ledger.nonEmpty) {
        // final round's token bill: one sum-only pass over the full fold
        val lastTotal = vocab
          .selectExpr("n", s"split(trim($tokExpr), ' ') AS t")
          .selectExpr("n * CAST(size(t) AS BIGINT) AS tk")
          .agg(sum(col("tk"))).head().getLong(0)
        val (prL, pL, mL, wL, _) = ledger.last
        ledger(ledger.size - 1) = (prL, pL, mL, wL, lastTotal)
      }
    } finally graft.Checkpoints.release(vocab)
    ledger.toSeq
  })

  /** Robust per-source document-length QA profile — the
    * anomaly-detection pass a corpus ingest runs before training:
    * lower-median and MAD (median absolute deviation) of the
    * whitespace token count per source, plus how many documents sit
    * ≥ 3 MAD from their source's median (truncation / concatenation /
    * boilerplate-explosion casualties). Median/MAD, not mean/stddev:
    * the outliers being hunted would poison the very moments a
    * Gaussian test needs. Exact integer medians (lower-median =
    * percentile_disc semantics, rank-selected under a deterministic
    * (len, doc_id) order) — no floating point anywhere, so the result
    * is engine- and parallelism-exact. Two windowed passes over the
    * per-source partitions; per-source state is its sorted partition,
    * the standard window shape at any scale. */
  def lengthOutliers(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .selectExpr("doc_id", "source", "CAST(size(split(text, ' ')) AS BIGINT) AS len")
    def lowerMedian(in: DataFrame, valueCol: String, outCol: String): DataFrame = {
      val w = Window.partitionBy(col("source")).orderBy(col(valueCol), col("doc_id"))
      in.withColumn("rn", row_number().over(w))
        .withColumn("n_src", count(lit(1)).over(Window.partitionBy(col("source"))))
        .withColumn(outCol,
          // integer DIV: `/` on longs is double division in Spark, and
          // an even-n (n+1)/2 = x.5 would match no rank at all
          max(when(col("rn") === expr("(n_src + 1) DIV 2"), col(valueCol)))
            .over(Window.partitionBy(col("source"))))
        .drop("rn", "n_src")
    }
    val withMed = lowerMedian(docs, "len", "med")
      .withColumn("adev", abs(col("len") - col("med")))
    val withMad = lowerMedian(withMed, "adev", "mad")
    withMad
      .withColumn("is_out",
        when(col("adev") >= lit(3L) * greatest(col("mad"), lit(1L)), 1L).otherwise(0L))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("med")).as("med_len"), min(col("mad")).as("mad_len"),
        sum(col("is_out")).as("n_outliers"))
      .selectExpr("source", "n_docs", "med_len", "mad_len", "n_outliers",
        "n_outliers * 10000 DIV n_docs AS outlier_bp")
      .orderBy("source")
  }

  /** Training-mix allocation — the data-mixing step between corpus
    * curation and the training run: given each source's quality-gated
    * token supply, allocate a total token budget (half the gated
    * supply here) across sources by temperature-0.5 sampling
    * (weight ∝ √tokens, the standard multilingual-LM rebalance that
    * upweights small sources without letting a giant source dominate).
    * (r15, VERDICT r14 item 5) the supply is billed in TOKENIZER
    * tokens — each gated doc's alpha words through the iterated-ledger
    * tokenization ([[bpeTokPerWord]], one vocab-key join), non-alpha
    * words one token each — so the budget buys what the model actually
    * consumes, not whitespace words. Outputs per source: supply,
    * weight, allocated tokens, epochs over the source in basis points
    * (>10000 ⇒ the source repeats). Everything integer except the
    * isqrt, which is exact: IEEE-754 sqrt is correctly rounded in both
    * engines and √(perfect square) is representable, so FLOOR(SQRT(x))
    * is the true integer sqrt for any x < 2⁵³. The billing join keys
    * words against the distinct-word table (vocab-sized, never
    * corpus-sized state); then windows over the per-source rows. */
  def mixWeights(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val ok = qualityGateCols(docs).filter(col("pass") === 1).select("doc_id")
    val avail = docs
      .selectExpr("doc_id", "source", "explode(split(text, ' ')) AS word")
      .join(ok, "doc_id")
      .join(bpeTokPerWord(spark, dir).select("word", "n_tok"), Seq("word"), "left")
      .groupBy(col("source"))
      .agg(sum(coalesce(col("n_tok"), lit(1L))).as("avail_tokens"))
    val w = Window.partitionBy()
    avail
      .selectExpr("source", "avail_tokens",
        "CAST(FLOOR(SQRT(CAST(avail_tokens AS DOUBLE))) AS BIGINT) AS weight")
      .withColumn("tot_tokens", sum(col("avail_tokens")).over(w))
      .withColumn("tot_weight", sum(col("weight")).over(w))
      .selectExpr("source", "avail_tokens", "weight",
        "(tot_tokens DIV 2) * weight DIV tot_weight AS alloc_tokens")
      .selectExpr("source", "avail_tokens", "weight", "alloc_tokens",
        "alloc_tokens * 10000 DIV avail_tokens AS epochs_bp")
      .orderBy("source")
  }

  /** Language-label confusion matrix — declared `lang` column vs the
    * [[langId]] detector, with per-declared-language share in bp: the
    * metadata-QA pass a multilingual corpus runs before trusting
    * either side (crawl-declared language headers are wrong often
    * enough that C4/CCNet re-detect; the disagreement CELLS are where
    * curation bugs live). Rides the langId scan; the share window
    * runs over the grouped confusion cells (≤ langs² rows). */
  def langConfusion(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("labeled_lang"))
    langId(spark, dir)
      .groupBy(col("labeled_lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .withColumn("tot", sum(col("n")).over(w))
      .selectExpr("labeled_lang", "predicted", "n", "n * 10000 DIV tot AS share_bp")
      .orderBy("labeled_lang", "predicted")
  }

  /** Zipf-fit corpus-health table: the top-50 words with rank,
    * frequency, and the rank·frequency product — Zipf's law says the
    * product is ≈constant in natural text, so a FLAT product column
    * is healthy corpus and a cliff is template/boilerplate spam (the
    * "weird vocabulary distribution" smell test tokenizer papers run
    * before training; cf. Piantadosi 2014's review of Zipf fits).
    * Rides [[vocab]]'s session-cached word counts (no second corpus
    * scan); the rank window runs over the top-50 cut only — a
    * bounded-input global window like vocab's own. */
  def zipfFit(spark: SparkSession, dir: String): DataFrame = {
    val counts = Caches.sharedCheckpoint(spark, s"text.vocabCounts:$dir") {
      Tables.documents(spark, dir)
        .selectExpr("explode(split(text, ' ')) AS word")
        .groupBy("word")
        .agg(count(lit(1)).as("n"))
    }
    val top = counts.orderBy(col("n").desc, col("word")).limit(50)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("word"))
    top.withColumn("rank", row_number().over(w).cast("long"))
      .selectExpr("rank", "word", "n AS freq", "rank * n AS zipf_c")
      .orderBy("rank")
  }

  /** Sequence packing — the last step before a training corpus
    * becomes model input: documents are concatenated in corpus order
    * and cut into fixed token-budget packs (budget 512 TOKENIZER
    * tokens — r15, VERDICT r14 item 5: each doc's length is billed
    * through the iterated-ledger tokenization ([[bpeTokPerWord]],
    * alpha words via the vocab-key join, non-alpha words one token
    * each), so pack boundaries land where the model's context window
    * actually lands, not at whitespace approximations). Packing is per
    * SOURCE (the shard boundary real pipelines pack within), so the
    * running token sum is a source-partitioned window — never a global
    * sort — and a doc's pack is floor(exclusive-prefix / budget):
    * contiguous packing with boundary-spanning docs accounted to the
    * pack they start in. The report (docs, tokens, fill) is what a
    * data loader needs to size epochs; at 100 TB the billing join is
    * word-keyed against the vocab-sized token table and each source
    * packs independently in one shuffle on source. */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    val budget = 512L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .selectExpr("source", "doc_id", "explode(split(text, ' ')) AS word")
      .join(bpeTokPerWord(spark, dir).select("word", "n_tok"), Seq("word"), "left")
      .groupBy(col("source"), col("doc_id"))
      .agg(sum(coalesce(col("n_tok"), lit(1L))).as("tok"))
      .withColumn("prefix", coalesce(sum(col("tok")).over(w), lit(0L)))
      .withColumn("pack_id", expr(s"prefix DIV $budget"))
      .groupBy(col("source"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"))
      .withColumn("fill_bp", expr(s"least(n_tokens, $budget) * 10000 DIV $budget"))
      .orderBy("source", "pack_id")
  }

  /** Winnowing near-dup candidates (Schleimer/Wilkerson/Aiken, SIGMOD
    * 2003 — the MOSS fingerprint): each document reduces to the
    * DISTINCT minima of trailing 8-windows over its 16-gram
    * polynomial hashes (guarantee: any shared run of ≥ 23 chars
    * contributes a shared fingerprint), pairs rank by shared-
    * fingerprint containment of the smaller doc. The fingerprint scan
    * is ONE codegen'd pass per document
    * ([[graft.functions.WinnowFingerprints]] — no per-position rows,
    * no per-doc shuffle, output ~len/8 values); the oracle recomputes
    * the identical hash from shared constants
    * ([[graft.functions.AnchorExprs.winnowHashSql]]) the naive way.
    * Pair fan-out is df-capped exactly like the gram index (a
    * fingerprint shared by > 64 docs indexes nothing — boilerplate,
    * not duplication), so candidates stay linear in the fingerprint
    * mass at any corpus size. */
  def winnowingPairs(spark: SparkSession, dir: String): DataFrame = {
    val fp = graft.Caches.sharedCheckpoint(spark, s"text.winnow:$dir") {
      // spread: the winnowing anchor scan is the build's CPU and the
      // scan is a single split at testdata layout (guide §2.5)
      Tables.spread(spark, dir, "documents", "doc_id")
        .select(col("doc_id"),
          explode(graft.functions.AnchorExprs.winnow(col("text"), 16, 8)).as("f"))
    }
    val sizes = fp.groupBy(col("doc_id")).agg(count(lit(1)).as("nf"))
    val rare = fp.groupBy(col("f")).agg(count(lit(1)).as("nd"))
      .filter(col("nd").between(2, 64)).select(col("f"))
    val cand = fp.join(rare, "f")
    cand.as("a").join(cand.as("b"),
        col("a.f") === col("b.f") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("nf").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("nf").as("nb")), "doc_b")
      .selectExpr("doc_a", "doc_b", "n_shared", "na", "nb",
        "n_shared * 10000 DIV least(na, nb) AS ov_bp")
      .filter(col("ov_bp") >= 2500)
      .orderBy("doc_a", "doc_b")
  }

  /** Deterministic 5-fold cross-validation assignment + leakage
    * audit. Fold = key-hash bucket mod 5 (the [[HashBucketSql]]
    * portable hash — reproducible at any parallelism, stable across
    * corpus reshuffles, exactly the property rand()-folds lack), and
    * the audit no CV split survives without: EXACT-duplicate texts
    * that land in different folds leak the answer across the
    * train/test boundary. Per fold: size, source spread, and the
    * count of its documents whose text-hash group spans ≥ 2 folds.
    * Execution is two text-hash-group-sized aggregates plus one
    * fold-sized rollup — the dup-group detection is the same
    * md5(text) shuffle `dedup_exact` pays, never a pairwise join. */
  def splitKfold(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .selectExpr("doc_id", "source", "md5(text) AS th",
        s"$HashBucketSql % 5 AS fold")
    val leaky = d.groupBy(col("th"), col("fold"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("th"))
      .agg(count(lit(1)).as("n_folds"), sum(col("cnt")).as("n_docs"))
      .filter(col("n_folds") >= 2)
      .select(col("th"))
    val leakPerFold = d.join(leaky, "th")
      .groupBy(col("fold")).agg(count(lit(1)).as("n_leaked"))
    d.groupBy(col("fold"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"))
      .join(leakPerFold, Seq("fold"), "left")
      .select(col("fold"), col("n_docs"), col("n_sources"),
        coalesce(col("n_leaked"), lit(0L)).as("n_leaked"))
      .orderBy("fold")
  }

  /** Shared RAKE stoplist — phrase delimiters. ONE definition for the
    * operator and its oracle so the candidate-phrase segmentation can
    * never drift between them. */
  val RakeStop: Seq[String] = Seq(
    "the", "a", "an", "of", "and", "to", "in", "is", "for", "on",
    "with", "as", "by", "at", "from", "it", "this", "that", "are", "was")

  /** RAKE keyword extraction (Rose et al. 2010, "Automatic keyword
    * extraction from individual documents"): candidate phrases are
    * maximal stopword-free word runs (gaps-and-islands over the token
    * stream), each word scores degree/frequency (degree = Σ length of
    * phrases containing it — co-occurrence reach; frequency penalizes
    * ubiquity), a phrase scores the sum of its words, in exact milli
    * integers. Top-20 distinct phrases.
    *
    * Scale shape: token explode is corpus-linear; the island id is a
    * doc-partitioned window; word stats are two word-keyed aggregates;
    * phrase text assembles ORDER-DETERMINISTICALLY (sorted (pos, word)
    * structs — never a bare collect_list at a compare boundary); the
    * report is TakeOrdered. */
  def keywords(spark: SparkSession, dir: String): DataFrame = {
    // spread on doc_id: parallelizes the posexplode AND pre-aligns the
    // island window's partitionBy(doc_id) hash layout (guide §2.4 —
    // the window reuses the exchange instead of adding one)
    val ns = Tables.spread(spark, dir, "documents", "doc_id")
      .selectExpr("doc_id", "posexplode(split(text, ' ')) AS (pos, word)")
      .filter(not(col("word").isin(RakeStop: _*)))
    val wD = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val g = graft.Caches.sharedCheckpoint(spark, s"text.rakeislands:$dir") {
      ns.withColumn("grp", col("pos") - row_number().over(wD))
    }
    val ph = g.groupBy(col("doc_id"), col("grp"))
      .agg(expr("array_join(transform(array_sort(collect_list(struct(pos, word))), s -> s.word), ' ')").as("phrase"),
        count(lit(1)).as("len"))
    val f = g.groupBy(col("word")).agg(count(lit(1)).as("f"))
    val deg = g.join(ph.select(col("doc_id"), col("grp"), col("len")), Seq("doc_id", "grp"))
      .groupBy(col("word")).agg(sum(col("len")).as("deg"))
    val ws = f.join(deg, "word").selectExpr("word", "(deg * 1000) DIV f AS s")
    val pd = ph.groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_occur"), min(col("len")).as("n_words"))
    val sc = pd.select(col("phrase"), explode(split(col("phrase"), " ")).as("word"))
      .join(ws, "word")
      .groupBy(col("phrase")).agg(sum(col("s")).as("score_milli"))
    pd.join(sc, "phrase")
      .select(col("phrase"), col("n_words"), col("n_occur"), col("score_milli"))
      .orderBy(col("score_milli").desc, col("phrase"))
      .limit(20)
  }

  /** Temporal train/eval split of the event stream with the identity
    * leakage audit — the split a forecasting/eval pipeline needs
    * instead of [[splitKfold]]'s hash folds: cutoff at 80% of the
    * observed time range (derived from a 1-row min/max broadcast, so
    * the split is data-deterministic, not wall-clock), train strictly
    * before. Per side: event count, distinct users, event share in
    * bp, and the leakage count — users active on BOTH sides, whose
    * per-user features computed on train would silently encode eval
    * outcomes. Execution is one bounds aggregate, one user-grain
    * aggregate (split membership via conditional MIN/MAX, no
    * distinct-per-side double scan), and a 2-row rollup. */
  def splitTemporal(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(unix_micros(col("ts")).as("us"), col("user_id"))
    val bounds = e.agg(min(col("us")).as("lo"), max(col("us")).as("hi"))
      .selectExpr("lo + ((hi - lo) * 8) DIV 10 AS cutoff")
    val tagged = e.crossJoin(broadcast(bounds))
      .select(when(col("us") < col("cutoff"), "train").otherwise("eval").as("split"),
        col("user_id"))
    val perUser = tagged.groupBy(col("user_id"))
      .agg(sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("split") === "eval", 1L).otherwise(0L)).as("n_eval"))
    val spanUsers = perUser
      .filter(col("n_train") > 0 && col("n_eval") > 0)
      .agg(count(lit(1)).as("n_span_users"))
    val sides = perUser
      .select(explode(array(
        struct(lit("train").as("split"), col("n_train").as("n")),
        struct(lit("eval").as("split"), col("n_eval").as("n")))).as("s"))
      .select(col("s.split").as("split"), col("s.n").as("n"))
      .filter(col("n") > 0)
      .groupBy(col("split"))
      .agg(sum(col("n")).as("n_events"), count(lit(1)).as("n_users"))
    val tot = sides.agg(sum(col("n_events")).as("tot"))
    sides.crossJoin(broadcast(tot)).crossJoin(broadcast(spanUsers))
      .selectExpr("split", "n_events", "n_users",
        "(n_events * 10000) DIV tot AS share_bp", "n_span_users")
      .orderBy("split")
  }

  /** Quality-rule failure matrix per source — the curation dashboard
    * behind [[qualityGate]]'s first-fail verdict: every rule evaluated
    * INDEPENDENTLY per document (a doc can be both too-short and
    * unknown-language; first-fail hides the second), rolled up per
    * source as rule fail counts, any-fail count, and pass share bp.
    * The table a corpus owner reads to see WHICH screen bites WHERE —
    * a source failing mostly `repetitive` is template spam, mostly
    * `unknown_language` is a mislabeled crawl slice. Same single-scan
    * map-side rule columns as the gate, one source-sized rollup. */
  def qualityMatrix(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val cols = qualityGateCols(docs)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .selectExpr("source",
        "CAST(CASE WHEN n_words < 5 THEN 1 ELSE 0 END AS BIGINT) AS f_short",
        "CAST(CASE WHEN marker_hits = 0 THEN 1 ELSE 0 END AS BIGINT) AS f_lang",
        "CAST(CASE WHEN dup_word_bp > 3000 THEN 1 ELSE 0 END AS BIGINT) AS f_rep")
    cols.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("f_short")).as("n_short"), sum(col("f_lang")).as("n_unknown_lang"),
        sum(col("f_rep")).as("n_repetitive"),
        sum(expr("IF(f_short + f_lang + f_rep > 0, 1, 0)")).as("n_any_fail"))
      .selectExpr("source", "n_docs", "n_short", "n_unknown_lang", "n_repetitive",
        "n_any_fail", "((n_docs - n_any_fail) * 10000) DIV n_docs AS pass_bp")
      .orderBy("source")
  }

  /** Character-class profile per source — the encoding/charset QA a
    * crawl corpus runs before tokenizer training (a source whose
    * digit or "other" share spikes is tables/code/mojibake, not
    * prose; cf. the C4 length-and-punctuation screens in
    * [[qualityGateCols]]): exact per-doc counts of alphabetic, digit,
    * and space characters by regexp erasure (length minus the length
    * with the class removed — one pass per class, no tokenization),
    * rolled up per source with shares in bp of total characters.
    * Map-side per-doc arithmetic + one source-sized aggregate; the
    * four shares floor independently (they need not sum to 10⁴). */
  def charsetProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .selectExpr("source", "CAST(length(text) AS BIGINT) AS nc",
        "CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '')) AS BIGINT) AS na",
        "CAST(length(text) - length(regexp_replace(text, '[0-9]', '')) AS BIGINT) AS nd",
        "CAST(length(text) - length(regexp_replace(text, ' ', '')) AS BIGINT) AS ns")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nc")).as("n_chars"),
        sum(col("na")).as("alpha"), sum(col("nd")).as("digit"),
        sum(col("ns")).as("space"))
      .selectExpr("source", "n_docs", "n_chars",
        "(alpha * 10000) DIV n_chars AS alpha_bp",
        "(digit * 10000) DIV n_chars AS digit_bp",
        "(space * 10000) DIV n_chars AS space_bp",
        "((n_chars - alpha - digit - space) * 10000) DIV n_chars AS other_bp")
      .orderBy("source")

  /** Boilerplate share per document — the template-text screen a web
    * corpus runs BEFORE dedup and quality gating (nav bars, cookie
    * banners, footers repeat across a site's every page; they inflate
    * n-gram counts, poison near-dup similarity, and train the model
    * on "accept all cookies" — C4-style paragraph dedup finds the
    * REPEATS; this op turns them into a per-DOC removal signal): a
    * doc's 8-word segments (capped at 16 per doc) hash to md5 keys;
    * a segment is boilerplate when its
    * hash appears in ≥ 3 DISTINCT documents corpus-wide; each doc
    * reports its segment count, boilerplate-segment count, and
    * boilerplate share in bp — the downstream gate drops or strips
    * docs above a share threshold. Two shuffles at any corpus size
    * (segment-hash aggregate + the hash-keyed membership join back);
    * 32-byte digests cross the exchanges, never segment text. The
    * membership side is output-of-aggregate sized (distinct repeated
    * hashes), NOT corpus sized — at 100 TB it stays joinable, and AQE
    * broadcasts it when a clean corpus leaves it tiny. */
  def boilerplate(spark: SparkSession, dir: String): DataFrame = {
    val segs = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 8)
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0),
          least((size(col("ws")) / 8).cast("int") - 1, lit(15)))).as("i"))
      .select(col("doc_id"),
        md5(concat_ws(" ", slice(col("ws"), col("i") * 8 + 1, lit(8)))).as("h"))
    val boiler = segs.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= 3)
      .select(col("h"), lit(1L).as("is_boiler"))
    segs.join(boiler, Seq("h"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segs"),
        sum(coalesce(col("is_boiler"), lit(0L))).as("n_boiler"))
      .selectExpr("doc_id", "n_segs", "n_boiler",
        "(n_boiler * 10000) DIV n_segs AS boiler_bp")
      .filter(col("n_boiler") > 0)
      .orderBy("doc_id")
  }

  /** Hapax-legomena / lexical-richness profile per source — the
    * vocabulary-health read next to [[zipfFit]]'s tail-law fit (a
    * crawl source whose hapax share collapses is template-generated
    * or deduplicating-overdue text; one whose type-token ratio spikes
    * is mojibake or ID soup — both poison tokenizer/vocab training
    * before any model sees them): per source, exact token count,
    * type count, hapax count (corpus frequency exactly 1 WITHIN the
    * source), hapax share of the vocabulary and type-token ratio in
    * bp. One (source, term)-keyed count with map-side combine, then a
    * source-sized rollup — the heavy exchange ships (source, term,
    * count) partials, never raw text; both output rollups are
    * vocabulary-sized. */
  def hapaxRatio(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .selectExpr("source", "explode(split(text, ' ')) AS term")
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("n"))
    tf.groupBy(col("source"))
      .agg(sum(col("n")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .selectExpr("source", "n_tokens", "n_types", "n_hapax",
        "(n_hapax * 10000) DIV n_types AS hapax_bp",
        "(n_types * 10000) DIV n_tokens AS ttr_bp")
      .orderBy("source")
  }

  /** Flesch-style readability profile per source — the
    * reading-difficulty screen a curriculum or audience mix reads
    * next to [[qualityScore]]'s surface ratios (quality says the
    * text is INTACT; readability says who can read it). Per doc,
    * three regexp_count passes (words = \\S+ runs, sentences =
    * [.!?]+ runs floored at 1, syllable proxy = vowel groups — the
    * standard heuristic), then the Flesch reading-ease in EXACT
    * milli-units: 206835 − (1015·w) DIV s − (84600·v) DIV w, all
    * Int64 division so both engines agree bit-for-bit (no float
    * formula drift). Rolled up per source: docs, mean score
    * (sum DIV n), share of easy (≥60) and hard (<30) docs in bp —
    * source-sized output; the per-doc pass is pure map-side. */
  def readability(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .selectExpr("source",
        "GREATEST(regexp_count(text, '\\\\S+'), 1) AS w",
        "GREATEST(regexp_count(text, '[.!?]+'), 1) AS s",
        "GREATEST(regexp_count(lower(text), '[aeiou]+'), 1) AS v")
      .selectExpr("source",
        "206835 - (1015 * w) DIV s - (84600 * v) DIV w AS score_milli", "w")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("n_words"),
        sum(col("score_milli")).as("sum_milli"),
        sum(when(col("score_milli") >= 60000, 1L).otherwise(0L)).as("n_easy"),
        sum(when(col("score_milli") < 30000, 1L).otherwise(0L)).as("n_hard"))
      .selectExpr("source", "n_docs", "n_words",
        "CASE WHEN sum_milli >= 0 THEN sum_milli DIV n_docs " +
          "ELSE -((-sum_milli) DIV n_docs) END AS mean_score_milli",
        "(n_easy * 10000) DIV n_docs AS easy_bp",
        "(n_hard * 10000) DIV n_docs AS hard_bp")
      .orderBy("source")
  }

  /** Intra-document duplicate-bigram profile per source — the Gopher
    * repetition rule at the n-gram grain (a line-level rule catches a
    * doc repeating one LINE; this catches the subtler loop where a
    * generator cycles short phrases, which shows as bigram mass
    * concentrating long before any full line repeats): per doc, all
    * word bigrams, dup mass = occurrences of bigrams appearing ≥ 2×
    * within the doc; per source, docs, total bigram
    * occurrences, corpus dup share bp, and the docs a 20% dup-mass
    * gate would reject (bp). The bigram explode is map-side off one
    * scan; the (doc, gram) count shuffles digest-small keys with
    * map-side combine; both rollups are doc- then source-sized. No
    * per-doc cap is needed — bigrams per doc = words − 1, bounded by
    * the document length the quality gate already bounds. */
  def dupNgrams(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), col("source"),
        explode(expr(
          "transform(sequence(1, size(ws) - 1), i -> concat(ws[i - 1], ' ', ws[i]))")).as("gram"))
      .groupBy(col("doc_id"), col("source"), col("gram"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("n")).as("n_grams"),
        sum(when(col("n") >= 2, col("n")).otherwise(0L)).as("dup_occ"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_grams")).as("n_grams"),
        sum(col("dup_occ")).as("dup_occ"),
        sum(when(col("dup_occ") * 10000 > col("n_grams") * 2000, 1L)
          .otherwise(0L)).as("n_flagged"))
      .selectExpr("source", "n_docs", "n_grams", "dup_occ",
        "(dup_occ * 10000) DIV n_grams AS dup_bp",
        "(n_flagged * 10000) DIV n_docs AS flagged_bp")
      .orderBy("source")
  }

  /** Heaps'-law vocabulary growth curve — [[zipfFit]]'s companion
    * statistic (Zipf reads the frequency SPECTRUM; Heaps reads how
    * fast NEW vocabulary keeps arriving as the corpus grows — the
    * number that sizes a tokenizer vocab and predicts when dedup
    * stops paying): the doc-id axis cut into 20 ventiles
    * (bucket = doc_id·20 DIV (max_id+1) off a 1-row broadcast max —
    * 20 rows at ANY corpus size), each word attributed to the bucket
    * of its FIRST document (one min-reduce per word — the only
    * fact-sized exchange), then per ventile: docs, first-occurrence
    * words, and both cumulated over the 20-row axis. A healthy crawl
    * shows new_words falling ventile over ventile; a flat curve means
    * the corpus keeps finding genuinely new text (or the tokenizer is
    * shattering). The cumulative window runs over exactly 20 rows —
    * domain-bounded, PlanSpec-allow-listed. */
  def heapsCurve(spark: SparkSession, dir: String,
                 buckets: Int = 20): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val maxId = docs.agg(max(col("doc_id")).as("maxd"))
    // integer DIV, not double divide-then-cast (the q_ks_binned rule:
    // the ventile must floor exactly past 2^53-scale ids too)
    val newWords = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word")).agg(min(col("doc_id")).as("fd"))
      .crossJoin(broadcast(maxId))
      .selectExpr(s"(fd * $buckets) DIV (maxd + 1) AS bucket")
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("new_words"))
    val nDocs = docs.crossJoin(broadcast(maxId))
      .selectExpr(s"(doc_id * $buckets) DIV (maxd + 1) AS bucket")
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"))
    val wCum = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    nDocs.join(newWords, Seq("bucket"), "left_outer")
      .withColumn("new_words", coalesce(col("new_words"), lit(0L)))
      .withColumn("cum_docs", sum(col("n_docs")).over(wCum))
      .withColumn("cum_vocab", sum(col("new_words")).over(wCum))
      .select(col("bucket"), col("n_docs"), col("cum_docs"),
        col("new_words"), col("cum_vocab"))
      .orderBy("bucket")
  }
}
