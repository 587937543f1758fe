package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.etl.{Dlp, DlpConfig, Ingest, SchemaMapper}

/** The reference-surface pipeline operators as runnable queries
  * (SURVEY.md §2 blocks A/B/C). PII-shaped columns are derived
  * deterministically from testdata keys so the infoType detectors have
  * real matches to find, while both engines (Spark + DuckDB oracle)
  * compute byte-identical inputs.
  */
object DlpQueries {

  /** Deterministic contact string with one email + one phone per
    * customer — the de-identification subject. */
  private def contact: Column =
    concat(col("c_name"), lit(" <user"), col("c_custkey").cast("string"),
      lit("@example.com> call 555-867-"),
      lpad((col("c_custkey") % 10000).cast("string"), 4, "0"))

  private def withContact(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(col("c_custkey"), col("c_name"), contact.as("contact"))

  // ---- §2.B DLP transforms ----

  def dlpMaskChars(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"),
        Dlp.maskChars(col("c_name"), 9).as("masked"))
      .orderBy("c_custkey")

  def dlpRedact(spark: SparkSession, dir: String): DataFrame =
    withContact(spark, dir)
      .select(col("c_custkey"), Dlp.redact(col("contact")).as("redacted"))
      .orderBy("c_custkey")

  def dlpReplaceInfotype(spark: SparkSession, dir: String): DataFrame =
    withContact(spark, dir)
      .select(col("c_custkey"), Dlp.replaceWithInfoType(col("contact")).as("replaced"))
      .orderBy("c_custkey")

  def dlpInspect(spark: SparkSession, dir: String): DataFrame = {
    val c = withContact(spark, dir)
    val email = c.select(col("c_custkey"), lit("EMAIL_ADDRESS").as("info_type"),
      Dlp.inspectCount(col("contact"), Dlp.EmailRe).as("n"),
      Dlp.inspectQuote(col("contact"), Dlp.EmailRe).as("quote"))
    val phone = c.select(col("c_custkey"), lit("PHONE_NUMBER").as("info_type"),
      Dlp.inspectCount(col("contact"), Dlp.PhoneRe).as("n"),
      Dlp.inspectQuote(col("contact"), Dlp.PhoneRe).as("quote"))
    email.unionAll(phone).filter(col("n") > 0).orderBy("c_custkey", "info_type")
  }

  /** Custom-dictionary infoType inspection (DLP CustomInfoType
    * Dictionary semantics: a user-supplied term list is an infoType;
    * findings report term + count per record). The dictionary joins as
    * data — at scale a large term list broadcasts or shuffle-joins
    * instead of compiling into a regex, which is what keeps a
    * million-term dictionary feasible. */
  def dlpInspectDictionary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dict = Seq("customer", "vector", "stream", "window", "merge", "batch")
      .toDF("term")
    Tables.documents(spark, dir)
      .selectExpr("doc_id", "explode(split(lower(text), ' ')) AS term")
      .join(broadcast(dict), "term")
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("n"))
      .select(col("doc_id"), lit("CUSTOM_DICTIONARY").as("info_type"),
        col("term"), col("n"))
      .orderBy("doc_id", "term")
  }

  def dlpCryptoHash(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_custkey"), Dlp.cryptoHash(col("c_name"), "graft-key").as("token"))
      .orderBy("c_custkey")

  def dlpDeterministicToken(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_custkey"),
        Dlp.deterministicToken(col("c_name"), "det-key").as("token"))
      .orderBy("c_custkey")

  /** Round trip: tokenize, build the vault (distinct token→plaintext),
    * then re-identify by joining tokens back through the vault —
    * the Spark-native form of BQReidentificationPipeline (no DLP
    * service: the vault is data, broadcast when dim-sized). */
  def dlpReidentify(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val tokenized = cust.select(col("c_custkey"),
      Dlp.deterministicToken(col("c_name"), "det-key").as("token"))
    val vault = cust.select(
      Dlp.deterministicToken(col("c_name"), "det-key").as("token"),
      col("c_name").as("plaintext")).distinct()
    tokenized.join(broadcast(vault), "token")
      .select(col("c_custkey"), col("token"), col("plaintext").as("recovered"))
      .orderBy("c_custkey")
  }

  /** Token-vault key rotation — the surrogate-key lifecycle job the
    * reference's static template never needs but every long-lived
    * tokenization deployment does (key compromise, crypto-period
    * expiry): re-key every v1 token to the v2 key WITHOUT the fact
    * rows ever touching plaintext. Plaintext is confined to the
    * VAULT: the distinct (token_v1 → plaintext) map re-hashes to
    * token_v2 dim-side, and the tokenized fact joins the rotated
    * (old → new) map on the old TOKEN — at 100 TB the fact-side work
    * is one broadcast-hash probe per row, no crypto, no plaintext
    * exposure outside the vault's security boundary. Output is the
    * rotation AUDIT at old-token grain: rows re-keyed per token and a
    * collision flag (two old tokens mapping to one new token would
    * mean v2 de-tokenization is ambiguous — the check that must gate
    * the vault swap; deterministic hashing of distinct plaintexts
    * makes it 0 everywhere, and the oracle proves it). */
  def dlpVaultRotation(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val rows = cust.select(col("c_custkey"),
      Dlp.deterministicToken(col("c_name"), "det-key").as("old_token"))
    val rotated = cust.select(
        Dlp.deterministicToken(col("c_name"), "det-key").as("old_token"),
        Dlp.deterministicToken(col("c_name"), "det-key-v2").as("new_token"))
      .distinct()
    val wNew = Window.partitionBy(col("new_token"))
    rows.join(broadcast(rotated), "old_token")
      .groupBy(col("old_token"), col("new_token"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("collided",
        when(count(lit(1)).over(wNew) > 1, 1L).otherwise(0L))
      .select(col("old_token"), col("new_token"), col("n_rows"), col("collided"))
      .orderBy("old_token")
  }

  /** Post-de-identification residual scan — the verification pass a
    * DLP deployment runs AFTER redaction and BEFORE release (the
    * reference trusts the service call; a pipeline must PROVE the
    * output is clean, because one un-matched phone format in a
    * million rows is a reportable incident): redact the contact
    * surface, re-inspect the REDACTED text with the same detectors,
    * and report per market segment the records scanned, records
    * still carrying any finding (must be 0 — this is the release
    * gate), and the exact character delta of redaction (signed bp —
    * the '[REDACTED]' tag can be longer than a short match). One
    * map-side pass (redact + re-inspect are per-row expressions,
    * whole-stage codegen'd) into a segment-sized rollup; nothing
    * data-sized crosses an exchange. */
  def dlpResidualScan(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_mktsegment"), contact.as("contact"))
      .withColumn("red", Dlp.redact(col("contact")))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_records"),
        sum(when(Dlp.inspectCount(col("red"), Dlp.AnyPiiRe) > 0, 1L)
          .otherwise(0L)).as("n_residual"),
        sum(length(col("contact")).cast("long")).as("chars_before"),
        sum(length(col("red")).cast("long")).as("chars_after"))
      .selectExpr("c_mktsegment", "n_records", "n_residual",
        "chars_before", "chars_after",
        "((chars_before - chars_after) * 10000) DIV chars_before AS delta_bp")
      .orderBy("c_mktsegment")

  def dlpDateShift(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderdate"),
        Dlp.dateShift(col("o_orderdate"), col("o_custkey"), 30).as("shifted"))
      .orderBy("o_orderkey")

  /** TimePartConfig generalization: order dates reduced to year +
    * month (reference: the DLP date/time primitive transformations
    * alongside DateShiftConfig). */
  def dlpTimeExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"),
        Dlp.timePart(col("o_orderdate"), "YEAR").as("order_year"),
        Dlp.timePart(col("o_orderdate"), "MONTH").as("order_month"))
      .orderBy("o_orderkey")

  def dlpBucketing(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_custkey"),
        Dlp.bucketize(col("c_acctbal"), 500).as("acctbal_bucket"))
      .orderBy("c_custkey")

  def dlpRowBatches(spark: SparkSession, dir: String): DataFrame =
    Ingest.rowBatches(Tables.customer(spark, dir), 500L)

  /** Quantile-based generalization — the data-derived sibling of
    * [[dlpBucketing]]'s fixed-size config: bucket bounds are the
    * EXACT integer lower-quartiles of the column itself (rank-
    * selected under a (value, key) total order), so each disclosure
    * bucket holds ≈25% of records regardless of the value
    * distribution — what fixed-width buckets can't guarantee under
    * skew, and the k-anonymity-friendly way to generalize a numeric
    * quasi-identifier. Exactness here is the oracle contract; at
    * corpus scale the same shape runs off approx_percentile bounds.
    *
    * The global rank is derived DISTRIBUTIVELY, by a two-level
    * decomposition: rows range-bucket on the value itself (truncating
    * division is monotone, so buckets are contiguous value intervals),
    * each bucket ranks its own rows under a PARTITIONED window, and a
    * bucket-count-sized boundary pass turns per-bucket counts into
    * cumulative offsets — global rank = bucket offset + within-bucket
    * rank, exact, with no unpartitioned window ever seeing table-sized
    * input. The one ORDER-BY-only window left runs over one row per
    * present bucket (value-domain/width ≈ 70 rows at ANY table size). */
  def dlpQuantileBucketing(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = Tables.customer(spark, dir).selectExpr("c_custkey",
      "CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS acctbal_c")
      .withColumn("b", expr("acctbal_c DIV 16384"))
    val wIn = Window.partitionBy(col("b")).orderBy(col("acctbal_c"), col("c_custkey"))
    val ranked = c.withColumn("rb", row_number().over(wIn))
    // one row per PRESENT bucket: cumulative offset of all earlier
    // buckets + the grand total, via a window bounded by the value
    // domain (not the row count)
    val wB = Window.orderBy(col("b"))
    val offs = c.groupBy(col("b"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("off",
        coalesce(sum(col("cnt")).over(wB.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n", sum(col("cnt")).over(
        wB.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .drop("cnt")
    val qs = ranked.join(broadcast(offs), "b")
      .withColumn("rn", col("off") + col("rb"))
      .agg(
      min(when(col("rn") === expr("GREATEST((n + 1) DIV 4, 1)"), col("acctbal_c"))).as("q1_c"),
      min(when(col("rn") === expr("GREATEST((n + 1) DIV 2, 1)"), col("acctbal_c"))).as("q2_c"),
      min(when(col("rn") === expr("GREATEST((3 * (n + 1)) DIV 4, 1)"), col("acctbal_c"))).as("q3_c"))
    c.crossJoin(broadcast(qs))
      .selectExpr("c_custkey", "acctbal_c",
        """CASE WHEN acctbal_c <= q1_c THEN 'q1'
          |     WHEN acctbal_c <= q2_c THEN 'q2'
          |     WHEN acctbal_c <= q3_c THEN 'q3'
          |     ELSE 'q4' END AS bucket""".stripMargin.replace("\n", " "),
        "q1_c", "q2_c", "q3_c")
      .orderBy("c_custkey")
  }

  /** Top-coding (winsorization) audit at the exact p95 — the
    * disclosure-control companion to [[dlpQuantileBucketing]]:
    * extreme values above the 95th percentile are clamped to it
    * before publication (outlier balances re-identify), and the audit
    * reports what clamping costs: the threshold, the clamped count,
    * the excess mass removed, and the winsorized sum. The order
    * statistic is rank-selected under the same two-level bucket
    * decomposition (partitioned in-bucket ranks + a value-domain-
    * bounded offset cumulative — no global window ever sees
    * table-sized input); sums stay integer cents so nothing at the
    * compare boundary divides a possibly-negative number. */
  def dlpTopCoding(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = Tables.customer(spark, dir).selectExpr("c_custkey",
      "CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS v")
      .withColumn("b", expr("v DIV 16384"))
    val wIn = Window.partitionBy(col("b")).orderBy(col("v"), col("c_custkey"))
    val ranked = c.withColumn("rb", row_number().over(wIn))
    val wB = Window.orderBy(col("b"))
    val offs = c.groupBy(col("b"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("off",
        coalesce(sum(col("cnt")).over(wB.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n", sum(col("cnt")).over(
        wB.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .drop("cnt")
    val thr = ranked.join(broadcast(offs), "b")
      .withColumn("rn", col("off") + col("rb"))
      .agg(min(when(col("rn") === expr("GREATEST((19 * (n + 1)) DIV 20, 1)"), col("v")))
        .as("p95_c"))
    c.crossJoin(broadcast(thr))
      .agg(count(lit(1)).as("n"),
        min(col("p95_c")).as("p95_c"),
        sum(when(col("v") > col("p95_c"), 1L).otherwise(0L)).as("n_clamped"),
        sum(when(col("v") > col("p95_c"), col("v") - col("p95_c")).otherwise(0L)).as("excess_c"),
        sum(least(col("v"), col("p95_c"))).as("winsor_sum_c"))
  }

  /** Whole-table config-driven de-identification (the reference's
    * dlpconfigs.json flow): customer per the example config. */
  def dlpConfigApply(spark: SparkSession, dir: String): DataFrame = {
    val cfg = DlpConfig.parse(DlpConfig.ExampleConfig).find(_.tableName == "customer")
    DlpConfig.applyTable(Tables.customer(spark, dir), cfg).orderBy("c_custkey")
  }

  /** TransformationSummary (the DLP API's
    * DeidentifyContentResponse.overview.transformationSummaries — the
    * audit record every deidentify call returns and the reference's
    * pipeline silently drops): per configured (table, column,
    * transform kind), cells examined, cells actually CHANGED by the
    * transform, and bytes before/after (the `transformedBytes` the
    * API bills on). Driven by the SAME parsed config as
    * [[dlpConfigApply]], so the audit can never drift from the
    * transforms it audits, and COMPOSITION-FAITHFUL: each step's
    * before/after is measured against the table state AFTER the
    * config's earlier transforms (the same foldLeft
    * [[graft.etl.DlpConfig.applyTable]] runs), so a config whose
    * later transform consumes an earlier one's output (hash of a
    * masked column, a shifted context key) audits the composition
    * that actually executed, not a counterfactual; one map-side
    * aggregate per transform, config-count output rows.
    * Numeric/timestamp inputs are measured in their canonical string
    * forms (DECIMAL(12,2) for money, 'yyyy-MM-dd HH:mm:ss' for
    * timestamps) so byte counts are engine-exact. Note date_shift's
    * zero-shift context keys (o_custkey % 61 = 30) legitimately leave
    * cells UNCHANGED — n_changed < n_cells is the honest audit, not a
    * bug. */
  def dlpTransformationSummary(spark: SparkSession, dir: String): DataFrame = {
    import graft.etl.DlpConfig
    val cfgs = DlpConfig.parse(DlpConfig.ExampleConfig)
    cfgs.flatMap { tc =>
      var cur = Tables.load(spark, dir, tc.tableName)
      tc.transforms.map { t =>
        val before: Column = cur.schema(t.column).dataType match {
          case org.apache.spark.sql.types.DoubleType =>
            cur.col(t.column).cast("decimal(12,2)").cast("string")
          case _ => cur.col(t.column).cast("string")
        }
        val after = DlpConfig.toColumn(t, cur).cast("string")
        val stats = cur.select(before.as("b"), after.as("a"))
          .agg(
            count(col("b")).as("n_cells"),
            sum(when(col("b").isNotNull &&
                (col("a").isNull || col("a") =!= col("b")), 1L).otherwise(0L))
              .as("n_changed"),
            sum(when(col("b").isNotNull, length(col("b"))).otherwise(0))
              .cast("long").as("bytes_before"),
            sum(when(col("b").isNotNull, coalesce(length(col("a")), lit(0)))
              .otherwise(0)).cast("long").as("bytes_after"))
          .selectExpr(s"'${tc.tableName}' AS table_name",
            s"'${t.column}' AS column_name",
            s"'${t.getClass.getSimpleName}' AS kind",
            "n_cells", "CAST(n_changed AS BIGINT) AS n_changed",
            "bytes_before", "bytes_after")
        cur = cur.withColumn(t.column, DlpConfig.toColumn(t, cur))
        stats
      }
    }.reduce(_ unionAll _).orderBy("table_name", "column_name")
  }

  /** K-anonymity risk analysis (DLP RiskAnalysisJobConfig →
    * KAnonymityConfig analog): equivalence classes over the
    * quasi-identifiers (segment, nation, acctbal bucket) and the
    * histogram of class sizes — the re-identification risk profile
    * of the de-identified table. */
  def dlpKAnonymity(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_mktsegment"), col("c_nationkey"),
        Dlp.bucketize(col("c_acctbal"), 2000).as("bal_bucket"))
      .groupBy("c_mktsegment", "c_nationkey", "bal_bucket")
      .agg(count(lit(1)).as("class_size"))
      .groupBy("class_size")
      .agg(count(lit(1)).as("n_classes"))
      .orderBy("class_size")

  /** L-diversity (DLP LDiversityConfig analog): per equivalence class
    * (segment × nation), the number of distinct sensitive values
    * (acctbal bucket) — classes with low diversity leak the sensitive
    * attribute even at high k. */
  def dlpLDiversity(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_mktsegment"), col("c_nationkey"),
        Dlp.bucketize(col("c_acctbal"), 2000).as("bal_bucket"))
      .groupBy("c_mktsegment", "c_nationkey")
      .agg(count(lit(1)).as("class_size"),
        countDistinct(col("bal_bucket")).as("l_diversity"))
      .orderBy("c_mktsegment", "c_nationkey")

  /** Hotword context boosting (DLP CustomInfoType.DetectionRule
    * .HotwordRule): a finding's likelihood is raised when a trigger
    * word appears within a proximity window BEFORE the match — the
    * mechanism that tells "call 555-867-5309" (a phone) from the same
    * digits in an order id. A third of the corpus has its " call "
    * cue rewritten away, so the rule demonstrably fires on some rows
    * and not others; output is the finding, the 10-char-window
    * hotword hit, and base vs boosted likelihood. Row-local string
    * expressions only — one codegen'd scan, the DLP-inspect scale
    * shape. */
  def dlpHotwordBoost(spark: SparkSession, dir: String): DataFrame =
    withContact(spark, dir)
      .withColumn("text", when(col("c_custkey") % 3 === 0,
          expr("replace(contact, ' call ', ' ref ')"))
        .otherwise(col("contact")))
      .withColumn("pos", instr(col("text"), "555-"))
      .filter(col("pos") > 0)
      .select(col("c_custkey"),
        expr("substring(text, pos, 12)").as("quote"),
        when(expr("instr(substring(text, greatest(CAST(pos AS INT) - 10, 1), 10), 'call')") > 0, 1L)
          .otherwise(0L).as("hotword_hit"))
      .withColumn("base_likelihood", lit("POSSIBLE"))
      .withColumn("likelihood",
        when(col("hotword_hit") === 1, lit("VERY_LIKELY")).otherwise(lit("POSSIBLE")))
      .orderBy("c_custkey")

  /** Suppression curve — the k-anonymity ENFORCEMENT cost, swept over
    * the k values a policy review actually debates: for each k in
    * {2,5,10,20,50}, how many rows sit in quasi-identifier classes
    * smaller than k (and must be suppressed to release at that k),
    * as a count and in basis points of the table. Complements
    * [[dlpKAnonymity]] (the class-size histogram) and
    * [[dlpRiskDelta]] (before/after one generalization): this is the
    * k-tuning view. One groupBy builds the class sizes; the sweep is
    * a broadcast 5-row cross join over the CLASS table (QI-
    * cardinality-sized, never row-sized), so 100 TB costs one
    * shuffle. */
  def dlpSuppressionCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sizes = Tables.customer(spark, dir)
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("g"))
    val total = sizes.agg(sum(col("g")).as("n_total"))
    val ks = Seq(2L, 5L, 10L, 20L, 50L).toDF("k")
    sizes.crossJoin(broadcast(ks))
      .groupBy(col("k"))
      .agg(sum(when(col("g") < col("k"), col("g")).otherwise(0L)).as("n_suppressed"))
      .crossJoin(broadcast(total))
      .select(col("k"), col("n_suppressed"),
        expr("n_suppressed * 10000 DIV n_total").as("suppressed_bp"))
      .orderBy("k")
  }

  /** Format-preserving tokenization of the phone column: digits map
    * to digits, separators survive, length preserved — the output
    * still *parses* as a phone number (CryptoReplaceFfxFpeConfig's
    * contract), unlike the opaque TOK_ surrogates. */
  def dlpFormatPreserving(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_custkey"),
        concat(lit("555-867-"),
          lpad((col("c_custkey") % 10000).cast("string"), 4, "0")).as("phone"))
      .select(col("c_custkey"), col("phone"),
        Dlp.fpeDigits("phone", "fpe-key").as("fpe_phone"))
      .orderBy("c_custkey")

  // ---- §2.A ingest/schema ----

  def ingestCatalog(spark: SparkSession, dir: String): DataFrame =
    SchemaMapper.catalog(spark, dir)

  def ingestExcludedTables(spark: SparkSession, dir: String): DataFrame =
    SchemaMapper.catalogExcluding(spark, dir, "events-embeddings")
      .select("table_name").distinct().orderBy("table_name")

  def ingestOffsetSplits(spark: SparkSession, dir: String): DataFrame =
    Ingest.offsetSplits(Tables.lineitem(spark, dir), 5000L)

  def ingestRowCount(spark: SparkSession, dir: String): DataFrame =
    Ingest.rowCounts(spark, dir)

  // ---- §2.C conversion / load ----

  /** BigQueryTableRowDoFn analog: stringified row view (numbers via
    * printf so both engines render identically), binary → base64. */
  def bqRowConvert(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(
        col("c_custkey"),
        col("c_custkey").cast("string").as("custkey_s"),
        col("c_name").as("name_s"),
        format_string("%.2f", col("c_acctbal")).as("acctbal_s"),
        col("c_nationkey").cast("string").as("nationkey_s"),
        col("c_mktsegment").as("mktsegment_s"),
        base64(col("c_name").cast("binary")).as("name_b64"))
      .orderBy("c_custkey")

  def bqSchemaMap(spark: SparkSession, dir: String): DataFrame =
    SchemaMapper.catalog(spark, dir)
      .select("table_name", "column_name", "bq_type")
      .orderBy("table_name", "column_name")

  def deadLetterSplit(spark: SparkSession, dir: String): DataFrame =
    Ingest.deadLetterSplit(Tables.events(spark, dir))

  /** Pub/Sub publish payload (BQReidentificationPipeline.java:240-260
    * builds a JSON object per row): deterministic JSON by manual
    * construction so key order is fixed across engines. */
  def reidPublishFormat(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(
        col("c_custkey"),
        concat(lit("{\"c_custkey\":"), col("c_custkey").cast("string"),
          lit(",\"c_name\":\""), col("c_name"),
          lit("\",\"c_mktsegment\":\""), col("c_mktsegment"),
          lit("\"}")).as("message"))
      .orderBy("c_custkey")

  /** InfoType-annotated surrogate replacement — DLP's reversible
    * in-place format (`INFO_TYPE(length):token`, the surrogate
    * convention CryptoReplaceConfig documents so a later re-identify
    * can LOCATE tokens inside free text without a schema): each
    * email/phone match is replaced inside the contact string by its
    * annotated keyed token. Pure codegen'd string expressions — the
    * match is extracted, tokenized, and substituted per row with no
    * UDF; one map-only scan. */
  def dlpSurrogateAnnotate(spark: SparkSession, dir: String): DataFrame = {
    def surrogate(m: org.apache.spark.sql.Column, infoType: String) =
      concat(lit(infoType + "(16):"),
        substring(sha2(concat(lit("sur-key:"), m), 256), 1, 16))
    withContact(spark, dir)
      .withColumn("e", regexp_extract(col("contact"), Dlp.EmailRe, 0))
      .withColumn("p", regexp_extract(col("contact"), Dlp.PhoneRe, 0))
      .withColumn("se", surrogate(col("e"), "EMAIL_ADDRESS"))
      .withColumn("sp", surrogate(col("p"), "PHONE_NUMBER"))
      .selectExpr("c_custkey", "replace(replace(contact, e, se), p, sp) AS surrogated")
      .orderBy("c_custkey")
  }

  /** Date-shift coherence audit — the property DLP's
    * date-shift-WITH-CONTEXT exists to provide (all records of one
    * entity shift by the same delta, so within-entity intervals
    * survive de-identification; an incoherent shift silently destroys
    * durations, the #1 analytic casualty of naive date noise): per
    * context key, the observed shift and a coherence bit proving
    * min(delta) == max(delta) across all the entity's orders. One
    * aggregate; the deltas are computed row-local. */
  def dlpShiftConsistency(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_custkey"),
        datediff(Dlp.dateShift(col("o_orderdate"), col("o_custkey"), 30),
          col("o_orderdate")).cast("long").as("delta"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        min(col("delta")).as("shift_days"), max(col("delta")).as("max_delta"))
      .selectExpr("o_custkey", "n_orders", "shift_days",
        "CAST(CASE WHEN shift_days = max_delta THEN 1 ELSE 0 END AS BIGINT) AS coherent")
      .orderBy("o_custkey")

  /** Generalization-benefit curve: records exposed (in an equivalence
    * class smaller than k) BEFORE vs AFTER the acctbal bucketing
    * generalization, for k ∈ {2,5,10,25} — the before/after risk
    * delta a privacy review reads to decide whether the
    * generalization bought enough k-anonymity to release (DLP's
    * RiskAnalysis is run on both sides of a deid config for exactly
    * this comparison; [[dlpKAnonymity]] is the after-side histogram
    * alone). Raw side keys on exact cents; both sides collapse to
    * class-size tables before the threshold fold, so the output is
    * 4 rows at any corpus size. */
  def dlpRiskDelta(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val ks = Seq(2, 5, 10, 25)
    def exposed(classes: DataFrame, alias: String): DataFrame =
      classes.selectExpr(
        ks.map(k =>
          s"CAST(sum(CASE WHEN n < $k THEN n ELSE 0 END) AS BIGINT) AS ${alias}_$k"): _*)
        .selectExpr(s"stack(${ks.size}, " +
          ks.map(k => s"${k}L, ${alias}_$k").mkString(", ") + s") AS (k, $alias)")
    val raw = exposed(
      cust.select(col("c_mktsegment"), col("c_nationkey"),
          (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long").as("cents"))
        .groupBy("c_mktsegment", "c_nationkey", "cents")
        .agg(count(lit(1)).as("n")),
      "exposed_raw")
    val gen = exposed(
      cust.select(col("c_mktsegment"), col("c_nationkey"),
          Dlp.bucketize(col("c_acctbal"), 2000).as("bal_bucket"))
        .groupBy("c_mktsegment", "c_nationkey", "bal_bucket")
        .agg(count(lit(1)).as("n")),
      "exposed_gen")
    raw.join(gen, "k").orderBy("k")
  }

  /** Referential-integrity audit of deterministic tokenization —
    * THE property that makes CryptoDeterministicConfig the right
    * transform for join keys (DLP docs recommend it over random
    * surrogates exactly so FKs keep joining): customer and orders
    * tokenize their custkey columns independently, and the join done
    * IN TOKEN SPACE must reproduce the raw-key join's cardinalities.
    * Output: per token, the order count via the token join next to
    * the order count via the raw join + a consistency bit — any 0
    * means a token collision or a drifted key derivation broke a
    * foreign key. Both sides are one aggregate + a dim-sized join. */
  def dlpTokenConsistency(spark: SparkSession, dir: String): DataFrame = {
    val tokCust = Tables.customer(spark, dir)
      .select(col("c_custkey"),
        Dlp.deterministicToken(col("c_custkey").cast("string"), "fk-key").as("tok"))
    val ordByTok = Tables.orders(spark, dir)
      .select(Dlp.deterministicToken(col("o_custkey").cast("string"), "fk-key").as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n_via_token"))
    val ordByKey = Tables.orders(spark, dir)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_via_raw"))
    tokCust
      .join(ordByTok, Seq("tok"), "left")
      .join(ordByKey, col("c_custkey") === col("o_custkey"), "left")
      .selectExpr("tok",
        "coalesce(n_via_token, 0) AS n_via_token",
        "coalesce(n_via_raw, 0) AS n_via_raw",
        "CAST(CASE WHEN coalesce(n_via_token, 0) = coalesce(n_via_raw, 0) " +
          "THEN 1 ELSE 0 END AS BIGINT) AS consistent")
      .orderBy("tok")
  }

  /** Column-level sensitivity profile — the DLP data-profiler shape
    * (per-COLUMN infoType histogram + predicted infoType), the view a
    * warehouse steward reads before granting access: which columns of
    * this table hold emails, phones, bare numbers? Each row of the
    * result is one source column with its match counts per detector
    * and the argmax prediction (detector priority on ties:
    * EMAIL > PHONE > NUMBER, NONE if nothing fires). Execution: the
    * table unpivots via one `stack` (map-side, 4× rows, no shuffle),
    * then ONE column-count-sized aggregate of conditional sums — the
    * whole profile costs a single scan at any table size. Money
    * values profile through their exact DECIMAL string (engine-
    * portable), not raw double repr. */
  def dlpColumnProfile(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables.customer(spark, dir).select(
      col("c_name"), contact.as("contact"), col("c_mktsegment"),
      col("c_acctbal").cast("decimal(18,2)").cast("string").as("acctbal_s"))
    val numRe = "^-?[0-9]+(\\.[0-9]+)?$"
    t.selectExpr("stack(4, 'c_name', c_name, 'contact', contact, " +
        "'c_mktsegment', c_mktsegment, 'c_acctbal', acctbal_s) AS (column_name, v)")
      .groupBy(col("column_name"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(regexp_count(col("v"), lit(Dlp.EmailRe)) > 0, 1L).otherwise(0L)).as("n_email"),
        sum(when(regexp_count(col("v"), lit(Dlp.PhoneRe)) > 0, 1L).otherwise(0L)).as("n_phone"),
        sum(when(col("v").rlike(numRe), 1L).otherwise(0L)).as("n_number"))
      .withColumn("predicted",
        when(col("n_email") > 0 && col("n_email") >= col("n_phone") &&
          col("n_email") >= col("n_number"), lit("EMAIL_ADDRESS"))
          .when(col("n_phone") > 0 && col("n_phone") >= col("n_number"), lit("PHONE_NUMBER"))
          .when(col("n_number") > 0, lit("NUMBER"))
          .otherwise(lit("NONE")))
      .orderBy("column_name")
  }

  /** Generalization ladder for the quasi-identifier hierarchy (the
    * DLP/Mondrian view of k-anonymity TUNING, next to
    * [[dlpKAnonymity]]'s single-level census): the geographic QI
    * generalizes nation → region → suppressed, and per ladder level
    * the table reports group count, the minimum k actually achieved,
    * and how many records a k≥5 release would have to suppress (share
    * in bp). This is the table a privacy engineer reads to pick the
    * cheapest level clearing the k target — generalize one more rung
    * only when suppression at the current rung costs too much.
    * Per level: one QI-keyed aggregate (map-side combinable) + one
    * bounded rollup; the nation→region attach is a 25-row broadcast.
    * Levels union by construction, so the corpus scans once per rung
    * (3 rungs — fixed, never data-dependent). */
  def dlpGeneralizationLadder(spark: SparkSession, dir: String): DataFrame = {
    val geo = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)
        .select(col("r_regionkey"), col("r_name"))),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_mktsegment"), col("n_name"), col("r_name"))
    def level(lvl: Int, qiName: String, geoCol: Column): DataFrame =
      geo.groupBy(col("c_mktsegment"), geoCol.as("g"))
        .agg(count(lit(1)).as("k"))
        .agg(count(lit(1)).as("n_groups"), min(col("k")).as("min_k"),
          sum(when(col("k") < 5, col("k")).otherwise(0L)).as("n_suppressed"),
          sum(col("k")).as("n_total"))
        .selectExpr(s"CAST($lvl AS BIGINT) AS level", s"'$qiName' AS qi",
          "n_groups", "min_k", "n_suppressed",
          "(n_suppressed * 10000) DIV n_total AS suppressed_bp")
    level(0, "segment+nation", col("n_name"))
      .unionAll(level(1, "segment+region", col("r_name")))
      .unionAll(level(2, "segment", lit("*")))
      .orderBy("level")
  }

  /** Sampling risk for k-anonymity estimation (the RiskAnalysis
    * sampling question: "can we profile k on a sample instead of the
    * full table?"): the (segment, nation) QI census computed on the
    * full table and on a deterministic 25% hash sample (md5 first hex
    * digit < '4' — reproducible on any engine and parallelism, never
    * rand()), reported side by side: class count, the minimum k each
    * scope OBSERVES, and the share of classes under k=5. The punch
    * line a privacy engineer needs is visible in the rows: the sample
    * UNDERCOUNTS k (a k=8 class sampled at 25% looks like k≈2) and
    * inflates the at-risk share — sampled risk profiles overstate
    * re-identification risk and must be scaled before gating a
    * release. Two QI aggregates + bounded rollups; the sample filter
    * is a map-side hash predicate. */
  def dlpSamplingRisk(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))
    def census(scope: String, d: DataFrame): DataFrame =
      d.groupBy(col("c_mktsegment"), col("c_nationkey"))
        .agg(count(lit(1)).as("k"))
        .agg(count(lit(1)).as("n_classes"), min(col("k")).as("min_k"),
          sum(when(col("k") < 5, 1L).otherwise(0L)).as("n_small"))
        .selectExpr(s"'$scope' AS scope", "n_classes", "min_k", "n_small",
          "(n_small * 10000) DIV n_classes AS small_bp")
    val sample = c.filter(
      expr("instr('0123456789abcdef', substring(md5(CAST(c_custkey AS STRING)), 1, 1)) - 1 < 4"))
    census("a_full", c).unionAll(census("b_sample25", sample))
      .orderBy("scope")
  }

  /** Noise-injected release counts — the privacy-mechanism shape a
    * DP-style publication pipeline runs on small-group aggregates
    * (the reference's k-anonymity gate SUPPRESSES small groups; a
    * noise mechanism PERTURBS them, trading exactness for keeping
    * every row publishable — DLP aggregate-statistics semantics):
    * customers per (nation, segment) cell, plus bounded integer
    * noise in [−10, 10] derived deterministically from the salted
    * md5 of the CELL KEY (two hex digits decoded byte-wise — the
    * q_countmin_audit idiom — mod 21; keyed so re-releases are
    * consistent and one cell's noise never leaks another's), a
    * floor at 0, and the utility audit columns (signed noise, abs
    * error, error bp) a release reviewer reads before publishing.
    * Salt versioning models key rotation. Pure map-side after one
    * cell aggregate; cell-domain-sized output at any SF. */
  def dlpNoiseCounts(spark: SparkSession, dir: String): DataFrame = {
    def hexAt(i: Int): String =
      s"(instr('0123456789abcdef', substring(md5('noise-v1:' || segment || ':' || CAST(nation AS STRING)), $i, 1)) - 1)"
    Tables.customer(spark, dir)
      .groupBy(col("c_mktsegment"), col("c_nationkey").cast("long").as("nation"))
      .agg(count(lit(1)).as("true_n"))
      .withColumnRenamed("c_mktsegment", "segment")
      .selectExpr("segment", "nation", "true_n",
        s"CAST((${hexAt(1)} * 16 + ${hexAt(2)}) % 21 - 10 AS BIGINT) AS noise")
      .selectExpr("segment", "nation", "true_n", "noise",
        "GREATEST(true_n + noise, 0) AS noisy_n",
        "abs(GREATEST(true_n + noise, 0) - true_n) AS abs_err",
        "(abs(GREATEST(true_n + noise, 0) - true_n) * 10000) DIV GREATEST(true_n, 1) AS err_bp")
      .orderBy("segment", "nation")
  }

  /** InfoType co-occurrence matrix — the risk-COMPOUNDING view the
    * per-type inspection ([[dlpInspect]]) can't see: a record holding
    * an email alone is pseudonymous; the same record holding email AND
    * phone AND device IP is a join key into three other datasets, so
    * the release decision hangs on which types co-occur, not which
    * occur. The subject column varies its PII content per record
    * (email on 2 of 3 keys, phone on 1 of 2, internal IP on 1 of 5 —
    * deterministic, mirrored byte-identical in the oracle), presence
    * is decided by RE-INSPECTING the text with the same three
    * detectors (never by peeking at the key), and the output is one
    * row per unordered type pair with both marginals, the joint
    * count, joint share bp, and lift bp ((n_both·N·10⁴) DIV
    * (n_a·n_b) — lift > 10⁴ = the pair clusters, the compounding
    * signal; the n_both·N·10⁴ numerator stays inside Int64 to
    * N ≈ 3·10⁷ records ≈ SF 200). Execution: ONE conditional-sum scan
    * (map-side combine into a single row) exploded to the 3-row pair
    * domain — no joins, no shuffle beyond the 1-row aggregate, any
    * SF. */
  def dlpInfotypeCooccurrence(spark: SparkSession, dir: String): DataFrame = {
    val ipRe = "10\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
    val subject = Tables.customer(spark, dir).selectExpr(
      "c_custkey",
      """CASE WHEN c_custkey % 3 > 0
        |  THEN 'user' || CAST(c_custkey AS STRING) || '@example.com ' ELSE '' END ||
        |CASE WHEN c_custkey % 2 > 0
        |  THEN 'call 555-867-' || lpad(CAST(c_custkey % 10000 AS STRING), 4, '0') || ' ' ELSE '' END ||
        |CASE WHEN c_custkey % 5 = 0
        |  THEN 'from 10.0.' || CAST(c_custkey % 256 AS STRING) || '.' || CAST(c_custkey % 97 AS STRING)
        |  ELSE '' END AS v""".stripMargin)
    val flags = subject.select(
      when(regexp_count(col("v"), lit(Dlp.EmailRe)) > 0, 1L).otherwise(0L).as("e"),
      when(regexp_count(col("v"), lit(Dlp.PhoneRe)) > 0, 1L).otherwise(0L).as("p"),
      when(regexp_count(col("v"), lit(ipRe)) > 0, 1L).otherwise(0L).as("i"))
    flags.agg(count(lit(1)).as("n_records"),
        sum(col("e")).as("n_e"), sum(col("p")).as("n_p"), sum(col("i")).as("n_i"),
        sum(col("e") * col("p")).as("n_ep"),
        sum(col("e") * col("i")).as("n_ei"),
        sum(col("p") * col("i")).as("n_pi"))
      .selectExpr("n_records",
        """explode(array(
          |  struct('EMAIL_ADDRESS' AS type_a, 'PHONE_NUMBER' AS type_b,
          |         n_e AS n_a, n_p AS n_b, n_ep AS n_both),
          |  struct('EMAIL_ADDRESS' AS type_a, 'IP_ADDRESS' AS type_b,
          |         n_e AS n_a, n_i AS n_b, n_ei AS n_both),
          |  struct('PHONE_NUMBER' AS type_a, 'IP_ADDRESS' AS type_b,
          |         n_p AS n_a, n_i AS n_b, n_pi AS n_both))) AS c""".stripMargin)
      .selectExpr("c.type_a AS type_a", "c.type_b AS type_b", "n_records",
        "c.n_a AS n_a", "c.n_b AS n_b", "c.n_both AS n_both",
        "(c.n_both * 10000) DIV n_records AS joint_bp",
        "CASE WHEN c.n_a * c.n_b = 0 THEN 0L " +
          "ELSE (c.n_both * n_records * 10000) DIV (c.n_a * c.n_b) END AS lift_bp")
      .orderBy("type_a", "type_b")
  }

  /** Truncated-surrogate collision audit — the sizing study behind
    * every tokenization template (reference: DLPTokenizationDoFn's
    * crypto-hash surrogates): how short can a hash token get before
    * distinct plaintexts start sharing one? Per prefix length
    * L ∈ {4, 6, 8} hex chars: distinct plaintexts, distinct surviving
    * tokens, observed collisions (plaintexts − tokens), collision
    * rate in bp, and the birthday-bound expectation ×100
    * (n(n−1)·100 DIV 2·16^L, capacity via shiftleft(1, 4L) — pure
    * integer, Int64-safe to n ≈ 3×10⁸ plaintexts ≈ SF 2000) so the
    * audit reads observed AGAINST expected, not in a vacuum. One
    * customer-table scan exploded ×3 (the length domain), two exact
    * count-distincts per length group — map-side partial-distinct on
    * a 3-key exchange; no token list ever leaves the executors. */
  def dlpHashCollisionAudit(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir)
      .selectExpr("md5(c_name) AS h")
      .selectExpr("h", "explode(array(4, 6, 8)) AS pfx_len")
      .groupBy(col("pfx_len").cast("long").as("pfx_len"))
      .agg(countDistinct(col("h")).as("n_plain"),
        countDistinct(expr("substring(h, 1, pfx_len)")).as("n_tokens"))
      .selectExpr("pfx_len",
        "CAST(n_plain AS BIGINT) AS n_plain",
        "CAST(n_tokens AS BIGINT) AS n_tokens",
        "CAST(n_plain - n_tokens AS BIGINT) AS n_collisions",
        "((n_plain - n_tokens) * 10000) DIV n_plain AS collision_bp",
        "(n_plain * (n_plain - 1) * 100) DIV " +
          "(2 * shiftleft(CAST(1 AS BIGINT), CAST(4 * pfx_len AS INT))) AS expected_x100")
      .orderBy("pfx_len")
  }

  /** Retention-policy sweep — the deletion side of the compliance
    * ledger ([[dlpVaultRotation]] rotates keys; this finds the rows a
    * retention schedule says must GO): with the policy anchor taken
    * from the DATA (cutoff = max order date − 4·365 days — wall-clock
    * anchors are non-reproducible and the oracle could never mirror
    * one), per order-year: rows held, rows past retention, expired
    * share bp, and the year's day span — the purge plan a DSAR/records
    * officer actually schedules (whole early years drop, the boundary
    * year splits, recent years hold zero). One fact rollup against a
    * 1-row broadcast anchor; output is calendar-bounded (≤ 8 years)
    * at any SF. */
  def dlpRetentionSweep(spark: SparkSession, dir: String,
                        retentionDays: Long = 4 * 365): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(year(col("o_orderdate")).cast("long").as("yr"),
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000").as("dn"))
    val anchor = o.agg(max(col("dn")).as("amax"))
    o.crossJoin(broadcast(anchor))
      .withColumn("expired",
        when(col("dn") < col("amax") - retentionDays, 1L).otherwise(0L))
      .groupBy(col("yr"))
      .agg(count(lit(1)).as("n_orders"), sum(col("expired")).as("n_expired"),
        min(col("dn")).as("first_dn"), max(col("dn")).as("last_dn"))
      .selectExpr("yr AS year", "n_orders", "n_expired",
        "(n_expired * 10000) DIV n_orders AS expired_bp",
        "first_dn", "last_dn")
      .orderBy("year")
  }

  /** Recursive (c, ℓ)-diversity audit — the stronger test behind
    * [[dlpLDiversity]]'s distinct-ℓ count (distinct-ℓ passes a group
    * where one sensitive value covers 99% of rows and two strays make
    * up the tail; recursive (c, ℓ) demands the TOP value not dominate:
    * r₁ < c·(r_ℓ + … + r_m) over the descending frequency spectrum):
    * QI groups = (nation, segment), sensitive attribute = the account-
    * balance band SHIFTED positive before the DIV ((cents + 10⁵) DIV
    * 2·10⁵ — a negative balance must never meet integer division, the
    * §6 rule), c = 3, ℓ = 2, so the test reads r₁ < 3·(n − r₁ −
    * nothing) … i.e. top < 3·tail where tail = group − top. Per group:
    * rows, distinct bands, top-band count, tail sum, pass flag — the
    * release gate a (3,2)-diversity policy actually evaluates. All
    * windows run over the (QI × band) rollup (≤ 25·5·6 rows at any
    * SF). */
  def dlpClDiversity(spark: SparkSession, dir: String,
                     c: Long = 3L): DataFrame = {
    val bands = Tables.customer(spark, dir)
      .selectExpr("CAST(c_nationkey AS BIGINT) AS nation", "c_mktsegment",
        "(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) + 100000) DIV 200000 AS band")
      .groupBy(col("nation"), col("c_mktsegment"), col("band"))
      .agg(count(lit(1)).as("r"))
    val wG = Window.partitionBy(col("nation"), col("c_mktsegment"))
      .orderBy(col("r").desc, col("band"))
    bands
      .withColumn("rk", row_number().over(wG))
      .groupBy(col("nation"), col("c_mktsegment"))
      .agg(sum(col("r")).as("n_rows"),
        count(lit(1)).as("n_bands"),
        max(when(col("rk") === 1, col("r"))).as("top_count"))
      .selectExpr("nation", "c_mktsegment", "n_rows", "n_bands", "top_count",
        "n_rows - top_count AS tail_count",
        s"CAST(CASE WHEN n_bands >= 2 AND top_count < $c * (n_rows - top_count)" +
          " THEN 1 ELSE 0 END AS BIGINT) AS satisfies_cl")
      .orderBy("nation", "c_mktsegment")
  }
}
