package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal column plumbing: opaque binary payloads + typed
  * metadata, the pattern a 100 TB image/audio corpus uses (binary
  * parquet columns, per-partition batch decode, metadata pushdown).
  *
  * The decode step itself is STUBBED — this container ships no
  * image/audio codecs — but everything Spark-side is real: schema,
  * batch shape, partition-local processing, deterministic fake
  * features derived from content hashes so results are testable.
  */
object Multimodal {

  /** Binary payload view: text bytes stand in for an encoded image.
    * (mirrors the reference's IMAGE → base64 BYTES path,
    * BigQueryTableRowDoFn.java:44-48). */
  def binaryView(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .selectExpr("doc_id", "CAST(text AS BINARY) AS payload")

  /** Multimodal small-files ingest through Spark's built-in
    * `binaryFile` source: a 100 TB image/audio corpus arrives as
    * billions of files ALREADY ON shared storage, and the first
    * pipeline stage reads them (path, length, content) and
    * consolidates into parquet with extracted metadata. THAT read →
    * extract → consolidate path is what runs here for real; the
    * staging write that fabricates the files is local-mode test
    * scaffolding (foreachPartition over a filesystem shared between
    * driver and executors — true in local mode, where a production
    * corpus would instead pre-exist on DFS). The oracle recomputes
    * each file's expected size and md5 from the source-of-truth
    * table, so a lost, truncated, or mis-keyed file fails the hash.
    * Each payload file is written to a temp name and ATOMIC_MOVEd
    * into place, so a concurrent reader can never observe a partial
    * file; staging is memoized per (sf dir, source fingerprint) ACROSS
    * JVMs (deterministic dir + marker), so repeated bench/verify runs
    * reuse one staged copy instead of leaking a new temp dir per
    * process, while a regenerated source table restages. */
  def binaryIngest(spark: SparkSession, dir: String): DataFrame = {
    val out = binaryStageDir(dir)
    val marker = new java.io.File(out, "_STAGED")
    stageLock.synchronized {
      if (!marker.exists()) {
        Tables.documents(spark, dir)
          .filter(col("text").isNotNull)
          .select(col("doc_id"), col("text"))
          .foreachPartition { rows: java.util.Iterator[org.apache.spark.sql.Row] =>
            import java.nio.file.{Files, Paths, StandardCopyOption}
            rows.forEachRemaining { r =>
              val tmp = Paths.get(out.getPath,
                s".doc_${r.getLong(0)}.tmp-${Thread.currentThread().getId}")
              Files.write(tmp, r.getString(1).getBytes("UTF-8"))
              Files.move(tmp, Paths.get(out.getPath, s"doc_${r.getLong(0)}.bin"),
                StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
            }
          }
        marker.createNewFile()
      }
    }
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin")
      .load(out.getPath)
      .selectExpr(
        raw"CAST(regexp_extract(path, 'doc_(\\d+)\\.bin', 1) AS BIGINT) AS doc_id",
        "CAST(length AS BIGINT) AS n_bytes",
        "md5(content) AS payload_md5")
      .orderBy("doc_id")
  }

  // ONE deterministic staging dir per (sf dir, source content), shared
  // ACROSS JVMs: repeated bench/verify/test processes reuse the staged
  // files via the marker instead of leaking a fresh temp dir each run.
  // The dir name embeds a CONTENT fingerprint of the source parquet
  // (file count + total bytes + max mtime), so regenerating test data
  // at the same path — or a dir.hashCode collision between two source
  // paths — lands in a DIFFERENT dir and restages instead of silently
  // reusing stale .bin files. Retention rule: at most one live staging
  // per source path (≤ the corpus text size on disk) — when the
  // fingerprint changes, the superseded sibling stagings for the same
  // source path are deleted below, so a long-lived host never
  // accumulates stale sf-dir stagings. Trust: the dir is created with
  // owner-only POSIX perms, and a pre-existing dir owned by ANOTHER
  // user (a /tmp pre-creation trap feeding arbitrary payloads into the
  // query) is refused loudly rather than reused.
  private val stageLock = new Object
  private def binaryStageDir(dir: String): java.io.File = {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.PosixFilePermissions
    val srcTag = java.lang.Integer.toHexString(dir.hashCode)
    val name = s"graft-binfiles-$srcTag-${stageFingerprint(dir)}"
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    // drop superseded stagings of the SAME source path (older
    // fingerprints) — the retention rule that bounds tmp usage
    Option(tmp.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith(s"graft-binfiles-$srcTag-") &&
        f.getName != name && f.isDirectory)
      .foreach(deleteRecursively)
    val p = tmp.resolve(name)
    val perms = PosixFilePermissions.fromString("rwx------")
    if (!Files.exists(p))
      try Files.createDirectory(p, PosixFilePermissions.asFileAttribute(perms))
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
    val owner = Files.getOwner(p).getName
    val me = System.getProperty("user.name")
    require(owner == me,
      s"refusing staging dir $p owned by '$owner' (expected '$me') — " +
        "possible pre-created trap in a shared tmpdir")
    Files.setPosixFilePermissions(p, perms)
    p.toFile
  }

  /** Cheap content fingerprint of the source documents parquet: file
    * count, total bytes, and max mtime folded into one hex token. Any
    * rewrite of the source (even same-size, because parquet writers
    * refresh mtimes) changes the token and forces a restage. */
  private def stageFingerprint(dir: String): String = {
    def walk(f: java.io.File): (Long, Long, Long) =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).map(walk)
          .foldLeft((0L, 0L, 0L)) { case ((n, b, m), (n2, b2, m2)) =>
            (n + n2, b + b2, math.max(m, m2))
          }
      else (1L, f.length(), f.lastModified())
    val (n, bytes, mtime) = walk(new java.io.File(dir, "documents.parquet"))
    java.lang.Long.toHexString(n * 1000003L ^ bytes * 2862933555777941757L ^ mtime)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }

  // THE stubbed-decoder dimension rule: a real decoder replaces
  // exactly these two expressions with header parsing. The oracle
  // derives the same dims from md5 independently.
  private val FakeWidthSql =
    "CAST(128 + ascii(substr(md5(text), 1, 1)) AS BIGINT)"
  private val FakeHeightSql =
    "CAST(128 + ascii(substr(md5(text), 2, 1)) AS BIGINT)"

  /** Aspect-ratio resolution bucketing — the batching pass a
    * variable-AR image training pipeline runs before collation
    * (mixed shapes can't share a tensor batch; resizing everything
    * to one square destroys composition): each asset is assigned to
    * the NEAREST bucket of a fixed aspect-ratio ladder (5 rungs,
    * 3:4 … 4:3 in exact milli-AR units) and inherits that bucket's
    * target decode dimensions. All integer math, and the rung
    * assignment never touches doc-grain rows after the scan: assets
    * collapse map-side to the AR-VALUE domain (ar_milli = w·1000 DIV
    * h — at most ~1300 distinct values regardless of corpus size),
    * the broadcast 5-row ladder cross-joins THAT table, the nearest
    * rung is min(struct(|Δ|, target)) with the smaller rung on the
    * exact midpoint tie, and the bucket rollup is ladder-sized.
    * Output ≤ 5 rows: per bucket the asset count, observed AR span,
    * and total source pixels (the decode-budget read). Dims come
    * from the shared stubbed-decoder rule; a real decoder swaps in
    * header dims and nothing else changes. */
  def resolutionBucket(spark: SparkSession, dir: String): DataFrame = {
    // (ar_milli target, target_w, target_h) — the SDXL-style ladder
    val ladder = Seq(
      (750L, 768L, 1024L), (875L, 896L, 1024L), (1000L, 1024L, 1024L),
      (1143L, 1024L, 896L), (1333L, 1024L, 768L))
    val ldf = spark.createDataFrame(ladder).toDF("ar_t", "target_w", "target_h")
    val byAr = Tables.documents(spark, dir)
      .selectExpr(s"$FakeWidthSql AS w", s"$FakeHeightSql AS h")
      .selectExpr("w * h AS px", "w * 1000 DIV h AS ar_milli")
      .groupBy(col("ar_milli"))
      .agg(count(lit(1)).as("n"), sum(col("px")).as("px"))
    byAr.crossJoin(broadcast(ldf))
      .groupBy(col("ar_milli"))
      .agg(min(struct(abs(col("ar_milli") - col("ar_t")), col("ar_t"),
          col("target_w"), col("target_h"))).as("pick"),
        first(col("n")).as("n"), first(col("px")).as("px"))
      .selectExpr("pick.ar_t AS bucket_ar", "pick.target_w AS target_w",
        "pick.target_h AS target_h", "ar_milli", "n", "px")
      .groupBy(col("bucket_ar"), col("target_w"), col("target_h"))
      .agg(sum(col("n")).as("n_assets"),
        min(col("ar_milli")).as("min_ar"), max(col("ar_milli")).as("max_ar"),
        sum(col("px")).as("src_pixels"))
      .orderBy("bucket_ar")
  }

  /** Binary-asset storage-dedup audit — what content-addressable
    * storage would save on this corpus: identical payloads (same
    * bytes ⇒ same md5) stored once. One summary row: total vs
    * distinct payloads, duplicate groups/copies, reclaimable bytes.
    * The multimodal face of [[graft.dedup.Dedup.exact]]: a CDN/
    * image-store dedup is precisely this hash-groupBy over opaque
    * bytes — map-side md5, one shuffle on the 16-byte digest (never
    * the payload widths), then a second partial-aggregated collapse
    * to the single audit row. Linear at any corpus size. */
  def payloadDedup(spark: SparkSession, dir: String): DataFrame =
    binaryView(spark, dir)
      .groupBy(md5(col("payload")).as("payload_md5"))
      .agg(count(lit(1)).as("n_copies"),
        max(length(col("payload"))).cast("long").as("bytes_each"))
      .agg(sum(col("n_copies")).as("total_payloads"),
        count(lit(1)).as("distinct_payloads"),
        sum(when(col("n_copies") > 1, 1L).otherwise(0L)).as("dup_groups"),
        sum(col("n_copies") - 1).as("dup_copies"),
        sum((col("n_copies") - 1) * col("bytes_each")).as("bytes_reclaimable"))
      .selectExpr("CAST(total_payloads AS BIGINT) AS total_payloads",
        "distinct_payloads",
        "CAST(dup_groups AS BIGINT) AS dup_groups",
        "CAST(dup_copies AS BIGINT) AS dup_copies",
        "CAST(bytes_reclaimable AS BIGINT) AS bytes_reclaimable")

  /** The multimodal curation funnel composed end-to-end — the binary
    * face of [[graft.dedup.Dedup.trainingMix]]: container payloads →
    * exact content dedup (canonical = min doc per payload hash; the
    * digest-keyed shuffle of [[payloadDedup]]) → text-side quality
    * gate on the canonical document → per modality, the totals a
    * decode-pool budget reads: all payloads, canonical survivors,
    * curated (deduped ∧ quality-passing) count and bytes. The three
    * stage counts join on the 3-row modality key; every stage reuses
    * its standalone operator's definition, so drift between this
    * composition and the stages is impossible. */
  def mmCuration(spark: SparkSession, dir: String): DataFrame = {
    val p = payloadView(spark, dir)
      .select(col("doc_id"), col("payload"),
        length(col("payload")).cast("long").as("n_bytes"))
    val canon = p.groupBy(md5(col("payload")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"), max(col("n_bytes")).as("n_bytes"))
    val ok = graft.text.TextOps.qualityGateCols(Tables.documents(spark, dir))
      .filter(col("pass") === 1).select("doc_id")
    def byModality(in: DataFrame): DataFrame =
      in.selectExpr(GeneratorModalitySql, "n_bytes").groupBy("modality")
        .agg(count(lit(1)).as("n"), sum(col("n_bytes")).as("bytes"))
    byModality(p).selectExpr("modality", "n AS n_total")
      .join(byModality(canon).selectExpr("modality", "n AS n_canonical"), "modality")
      .join(byModality(canon.join(ok, "doc_id"))
        .selectExpr("modality", "n AS n_curated", "bytes AS curated_bytes"), "modality")
      .orderBy("modality")
  }

  /** Scene-cut detection over per-video frame signatures — the
    * segmentation pass a video-curation pipeline runs between decode
    * and frame sampling (sample per SCENE, not per fixed stride, or
    * a static shot floods the batch with near-identical frames):
    * each doc's payload stands in for a decoded frame sequence
    * (consecutive 32-byte windows → one 8-bit signature each, taken
    * from the md5 of the window's bytes; a real deployment
    * plugs a perceptual frame hash into the same column), a cut fires
    * where adjacent signatures differ in ≥ 5 of 8 bits (Hamming over
    * xor — random-content neighbors average 4, so the threshold
    * separates continuation from cut), and scenes per doc = cuts + 1.
    * The lag window is PER-DOC (≤ 8 frames here; frame-count-bounded
    * generally — never corpus-wide), the rollup is source-sized.
    * Signature decode is the portable two-hex-digit idiom
    * ([[graft.operators.DlpQueries.dlpNoiseCounts]]), mirrored
    * byte-identical in the oracle. */
  def sceneCut(spark: SparkSession, dir: String): DataFrame = {
    def hexAt(i: Int): String =
      s"(instr('0123456789abcdef', substring(frame_hash, $i, 1)) - 1)"
    val frames = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      // GREATEST(…, 0) before the DIV: an empty text must not put a
      // negative numerator into integer division (Spark truncates,
      // DuckDB floors — the §6 rule)
      .selectExpr("doc_id", "source", "text",
        "explode(sequence(0, CAST(least(7, GREATEST(length(text) - 1, 0) DIV 32) AS INT))) AS frame_idx")
      .selectExpr("doc_id", "source", "CAST(frame_idx AS BIGINT) AS frame_idx",
        "md5(substr(text, 1 + frame_idx * 32, 32)) AS frame_hash")
      .selectExpr("doc_id", "source", "frame_idx",
        s"CAST(${hexAt(1)} * 16 + ${hexAt(2)} AS BIGINT) AS sig")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    // per-doc ledger first (no distinct aggregate → no Expand), then
    // the source rollup counts doc rows
    val perDoc = frames
      .withColumn("prev", lag(col("sig"), 1).over(w))
      .withColumn("cut",
        when(col("prev").isNotNull &&
          expr("bit_count(CAST(sig AS INT) ^ CAST(prev AS INT))") >= 5, 1L)
          .otherwise(0L))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_frames"), sum(col("cut")).as("n_cuts"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_frames")).as("n_frames"),
        sum(col("n_cuts")).as("n_cuts"))
      .selectExpr("source", "n_docs", "n_frames", "n_cuts",
        "n_cuts + n_docs AS n_scenes",
        "(n_frames * 100) DIV (n_cuts + n_docs) AS scene_len_c",
        "(n_cuts * 10000) DIV GREATEST(n_frames - n_docs, 1) AS cut_rate_bp")
      .orderBy("source")
  }

  // Magic-byte headers for the three synthetic container formats.
  private val JpegMagic = Array(0xFF, 0xD8, 0xFF).map(_.toByte)
  private val PngMagic = Array(0x89, 0x50, 0x4E, 0x47).map(_.toByte)
  private val RiffMagic = "RIFF".getBytes("UTF-8")

  /** THE synthetic-payload rule, defined once (two operators share
    * it, and two hand-copies WILL drift — SURVEY §5): magic header
    * chosen by doc_id % 3, prepended to the text bytes in column
    * `bin`. The oracle derives modality from the same % 3 rule, so a
    * drifted copy fails the hash gate immediately. */
  private def syntheticPayload: Column =
    when(col("doc_id") % 3 === 0, concat(lit(JpegMagic), col("bin")))
      .when(col("doc_id") % 3 === 1, concat(lit(PngMagic), col("bin")))
      .otherwise(concat(lit(RiffMagic), col("bin")))

  /** Generator-rule modality (the % 3 rule as SQL) — what the payloads
    * above were GENERATED as, used by the operators that group by
    * modality without re-sniffing bytes. */
  private val GeneratorModalitySql =
    "CASE WHEN doc_id % 3 = 0 THEN 'image/jpeg' WHEN doc_id % 3 = 1 THEN 'image/png' ELSE 'audio/wav' END AS modality"

  /** documents → (doc_id, payload) with the synthetic container bytes. */
  private def payloadView(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").cast("binary").as("bin"))
      .select(col("doc_id"), syntheticPayload.as("payload"))

  /** The decode contract [[featureExtractWith]] runs against: one
    * instance per partition, one decode per row. Implementations are
    * deliberately NOT Serializable — construction must happen inside
    * the partition task (that is the whole point of the seam), and a
    * codec accidentally captured by a closure fails loudly at job
    * submission instead of silently shipping a broken handle. */
  trait PayloadCodec {
    def decode(id: Long, payload: Array[Byte]): (Long, Long, Long, Long, Long)
  }

  /** The per-partition "codec": a real decoder library handle (libjpeg
    * / ffmpeg binding) is expensive to construct and NOT serializable,
    * so it must be created once per partition inside mapPartitions —
    * this fake has exactly that lifecycle (MessageDigest is the
    * stand-in native handle) and derives deterministic features so
    * the plumbing is oracle-checkable end to end. */
  private final class FakeCodec extends PayloadCodec {
    val md = java.security.MessageDigest.getInstance("MD5")
    def decode(id: Long, payload: Array[Byte]): (Long, Long, Long, Long, Long) = {
      // only digest byte 0 feeds the two fake dimensions — format just
      // that byte, not all 16 (this is the per-row hot loop)
      val hex = f"${md.digest(payload)(0)}%02x"
      val headCp =
        if (payload.isEmpty) 0L
        else new String(payload, java.nio.charset.StandardCharsets.UTF_8)
          .codePointAt(0).toLong
      (id, payload.length.toLong,
        128L + hex.charAt(0).toLong, 128L + hex.charAt(1).toLong, headCp)
    }
  }

  /** Batch feature extraction over the binary column — the
    * mapPartitions decode shape a real multimodal pipeline runs: the
    * codec initializes ONCE per partition (a native decoder handle is
    * costly and unserializable), then streams the partition's payloads
    * through it. Typed Dataset in/out keeps Tungsten encoders on both
    * sides; only the per-row decode itself is JVM-imperative. The
    * codec here is the deterministic fake (no codec libraries in this
    * environment) — a real decoder replaces FakeCodec.decode and
    * nothing else changes. The codec FACTORY is the injection point:
    * only the zero-arg factory closure is serialized to executors; the
    * codec instance itself is constructed inside each partition task
    * and may hold unserializable native handles. MultimodalSpec proves
    * the lifecycle (exactly one construction per input partition, one
    * decode per row) with a counting codec through this same seam. */
  def featureExtract(spark: SparkSession, dir: String): DataFrame =
    featureExtractWith(spark, dir, () => new FakeCodec)
      .orderBy("doc_id")

  def featureExtractWith(spark: SparkSession, dir: String,
                         codec: () => PayloadCodec): DataFrame = {
    import spark.implicits._
    binaryView(spark, dir)
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val c = codec() // once per partition, not per row
        it.map { case (id, bytes) => c.decode(id, bytes) }
      }
      .toDF("doc_id", "n_bytes", "fake_width", "fake_height", "head_cp")
  }

  /** Cross-modal alignment audit — the pairing integrity check a
    * (payload, embedding) training set needs before contrastive
    * training (a CLIP-style pipeline trains on pairs; an orphaned
    * payload or a modality whose embeddings collapse to one label is
    * a data bug that poisons the batch): per modality, document
    * count, embedding-store coverage (left join on the shared id —
    * orphans surface as unpaired), distinct label count and the
    * majority label with its share in bp (a share near 10000 means
    * the embedding space degenerated for that modality). Two
    * aggregates over modality-sized keys; the join ships ids+labels,
    * never payloads or vectors. */
  def embeddingAlign(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .selectExpr("doc_id", GeneratorModalitySql)
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"))
    val j = docs.join(vecs, col("doc_id") === col("vec_id"), "left")
    val cov = j.groupBy(col("modality"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("vec_id").isNotNull, 1L).otherwise(0L)).as("n_paired"))
    val maj = j.filter(col("vec_id").isNotNull)
      .groupBy(col("modality"), col("label")).agg(count(lit(1)).as("nl"))
      .groupBy(col("modality"))
      .agg(max(struct(col("nl"), (-col("label")).cast("long").as("negl"))).as("m"),
        countDistinct(col("label")).as("n_labels"))
      .selectExpr("modality", "CAST(n_labels AS BIGINT) AS n_labels",
        "CAST(-m.negl AS BIGINT) AS maj_label", "m.nl AS maj_n")
    cov.join(maj, Seq("modality"), "left")
      .selectExpr("modality", "n_docs", "n_paired",
        "coalesce(n_labels, 0) AS n_labels",
        "coalesce(maj_label, -1) AS maj_label",
        "CASE WHEN n_paired = 0 THEN 0 ELSE maj_n * 10000 DIV n_paired END AS maj_share_bp")
      .orderBy("modality")
  }

  /** Content-defined-chunk storage dedup — what a chunk store (backup
    * dedup, artifact CAS, FastCDC) would reclaim from this corpus at
    * SUB-FILE granularity, where [[payloadDedup]] only catches
    * whole-file copies: each payload is cut at content-defined
    * boundaries (the [[graft.functions.ContentAnchors]] codegen'd
    * scan, md5 predicate — alignment-invariant, so a shared region
    * chunks identically regardless of its offset in the file), chunks
    * are hashed, and per source the report is stored-vs-distinct
    * chunk bytes and the reclaim share in bp. Map-side: one anchor
    * scan + one bounded per-doc transform; the only shuffles are
    * chunk-hash-keyed aggregates (32-byte digests, never payload
    * bytes). */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame = {
    val chunks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"),
        graft.functions.AnchorExprs.md5Anchors(col("text"), 8, 8).as("a"))
      // chunk starts: position 1 plus every anchor (dedup keeps a
      // leading anchor at 1 from doubling)
      .selectExpr("doc_id", "source", "text",
        "array_distinct(concat(array(1), a)) AS starts")
      .selectExpr("source", "text", "starts",
        "posexplode(starts) AS (i, s)")
      .selectExpr("source",
        "md5(substring(text, s, IF(i + 1 < size(starts), element_at(starts, i + 2) - s, length(text) - s + 1))) AS h",
        "CAST(IF(i + 1 < size(starts), element_at(starts, i + 2) - s, length(text) - s + 1) AS BIGINT) AS len")
    val perChunk = chunks.groupBy(col("source"), col("h"))
      .agg(count(lit(1)).as("n_copies"), max(col("len")).as("len"))
    perChunk.groupBy(col("source"))
      .agg(sum(col("n_copies")).as("n_chunks"),
        sum(col("n_copies") * col("len")).as("stored_bytes"),
        count(lit(1)).as("n_distinct_chunks"),
        sum(col("len")).as("distinct_bytes"))
      .withColumn("reclaim_bp",
        expr("(stored_bytes - distinct_bytes) * 10000 DIV stored_bytes"))
      .orderBy("source")
  }

  /** Payload byte-histogram profile — the corrupt/blank-asset scan a
    * multimodal lake runs WITHOUT decoding anything: per payload, the
    * byte count, distinct-byte count, and the most-frequent byte's
    * share in bp. A constant/near-constant byte stream (blank frame,
    * zero-padded truncation, dead sensor) shows up as tiny
    * distinct-byte counts and a top-byte share near 10000 — the
    * cheap screen before any codec spends cycles. Pure map-side
    * codegen'd expressions over hex pairs (bounded by payload size,
    * no shuffle until the final order); both engines profile the
    * SAME utf-8 byte stream so the gate is engine-exact. */
  def bytesProfile(spark: SparkSession, dir: String): DataFrame =
    binaryView(spark, dir)
      .selectExpr("doc_id", "hex(payload) AS h",
        "CAST(octet_length(payload) AS BIGINT) AS n_bytes")
      .selectExpr("doc_id", "n_bytes",
        "transform(sequence(1, CAST(n_bytes AS INT)), i -> substring(h, (i-1)*2+1, 2)) AS bs")
      .selectExpr("doc_id", "n_bytes",
        "CAST(size(array_distinct(bs)) AS BIGINT) AS n_distinct_bytes",
        // most-frequent byte count == longest equal-run in the sorted
        // array: one pass, no per-element filter
        """aggregate(array_sort(bs),
          |  named_struct('prev', '', 'run', 0L, 'best', 0L),
          |  (a, x) -> named_struct(
          |    'prev', x,
          |    'run',  IF(x = a.prev, a.run + 1L, 1L),
          |    'best', greatest(a.best, IF(x = a.prev, a.run + 1L, 1L))),
          |  a -> a.best) * 10000 DIV n_bytes AS top_byte_bp""".stripMargin.replace("\n", " "))
      .orderBy("doc_id")

  /** Perceptual-hash-SHAPED near-dup over binary payloads — the image
    * near-dup pipeline's plumbing (pHash → banded hamming join) with
    * an honest structural stand-in for the codec-dependent hash: a
    * 16-bit signature whose bit j says byte-class j (high nibble —
    * character range for text-shaped payloads) is above-average
    * frequent. Similar payloads → similar class distributions → small
    * hamming distance, which is exactly the property a real DCT pHash
    * supplies; swapping one in changes ONLY the signature expression.
    * Candidates come from a 2-band LSH on the signature (high/low
    * byte): a pair is a candidate iff some band carries ZERO of its
    * bit flips, so hamming ≤ 3 pairs whose flips all land in one band
    * are caught and 1+2 splits are traded away — the standard
    * banding recall trade (more bands buy recall, cf. the minhash
    * 4×2 banding). The exact bit_count verify runs on candidates
    * only. Output is doc-grain (signature + near-dup partner count)
    * — bounded at any corpus size. Scale note: 8-bit band keys give
    * ≤256 buckets per band, so candidate work grows as n²/256 — fine
    * for this container's 16-bit stand-in, but a PRODUCTION corpus
    * runs the real 64-bit pHash with 8×8-bit bands (expected
    * candidate work n²/2⁶⁴ per colliding band — the same widening
    * lever as minhash band rows), changing only the signature and
    * band-split constants here. */
  def phashNearDup(spark: SparkSession, dir: String): DataFrame = {
    val bits = (0 until 16).map { j =>
      val hexd = "0123456789abcdef".charAt(j)
      s"(CASE WHEN 16 * size(filter(bs, x -> substring(x, 1, 1) = '$hexd')) >= CAST(n_bytes AS INT) THEN ${1 << j} ELSE 0 END)"
    }.mkString(" + ")
    val ph = binaryView(spark, dir)
      .selectExpr("doc_id", "hex(payload) AS h",
        "CAST(octet_length(payload) AS BIGINT) AS n_bytes")
      .selectExpr("doc_id", "n_bytes",
        "transform(sequence(1, CAST(n_bytes AS INT)), i -> substring(h, (i-1)*2+1, 2)) AS bs")
      .selectExpr("doc_id", s"CAST($bits AS BIGINT) AS ph")
    val bands = ph.selectExpr("doc_id", "ph", "0L AS band", "ph DIV 256 AS bk")
      .unionAll(ph.selectExpr("doc_id", "ph", "1L AS band", "ph % 256 AS bk"))
    val near = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.ph").as("pha"), col("b.ph").as("phb"))
      .distinct()
      .filter(expr("bit_count(pha ^ phb) <= 3"))
    val deg = near.select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_near"))
    ph.join(deg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("ph"), coalesce(col("n_near"), lit(0L)).as("n_near"))
      .orderBy("doc_id")
  }

  /** STFT framing plan for the AUDIO slice of the corpus — the
    * pre-decode sizing pass a speech/audio featurizer runs before
    * committing GPU batches (frame counts, not byte counts, are what
    * a mel-spectrogram or wav2vec batch is denominated in): per
    * RIFF-routed asset, the modeled duration (payload bytes at the
    * 16 kHz/16-bit/mono contract → 32 bytes per ms, header
    * excluded), the exact frame count of a 25 ms window / 10 ms hop
    * ladder (1 + (dur − 25) DIV 10 when the window fits, else 0 —
    * the fence-post every framing implementation must agree on), and
    * the 64-frame batch count (ceil). Duration comes from byte
    * LENGTH only — the same honest no-codec boundary as
    * [[bytesProfile]]; a real WAV parser would read the fmt-chunk
    * rate instead of the contract constant, changing one expression.
    * Pure map-side arithmetic on the routed slice (the magic-byte
    * filter prunes 2/3 of payloads before any length is taken);
    * asset-grain output. */
  def audioWindowPlan(spark: SparkSession, dir: String): DataFrame =
    payloadView(spark, dir)
      .filter(substring(col("payload"), 1, 4) === lit(RiffMagic))
      .select(col("doc_id"),
        (length(col("payload")) - 4).cast("long").as("data_bytes"))
      .selectExpr("doc_id", "data_bytes", "data_bytes DIV 32 AS dur_ms")
      .selectExpr("doc_id", "data_bytes", "dur_ms",
        "CASE WHEN dur_ms >= 25 THEN 1 + (dur_ms - 25) DIV 10 ELSE 0 END AS n_frames")
      .selectExpr("doc_id", "data_bytes", "dur_ms", "n_frames",
        "(n_frames + 63) DIV 64 AS n_batches")
      .orderBy("doc_id")

  /** Decode stub: where a real implementation would run a codec over
    * each partition's payload batch. Deliberately unimplemented — no
    * codecs in this environment; [[featureExtract]] carries the real
    * mapPartitions plumbing with the deterministic fake. */
  def decodeImage(payload: Array[Byte]): (Int, Int, Array[Float]) =
    throw new NotImplementedError(
      "image decode requires a codec library; featureExtract carries the plumbing with a deterministic fake")

  /** Embedded-metadata strip audit — the media-side DLP pass (an
    * image corpus ships GPS/EXIF blocks exactly the way a text corpus
    * ships phone numbers; a training-data release strips them and
    * must PROVE it): payloads synthesized with a deterministic
    * `EXIF:gps=…;cam=X;` header on every doc_id % 3 == 0 payload
    * (injected like dlp_infotype_cooccurrence's subjects — mirrored
    * byte-identical in the oracle), strip = remove the marker PREFIX,
    * audit per source: payloads, tagged payloads, tagged share bp,
    * byte totals before/after (exact byte accounting via binary
    * length — the bytes removed ARE the metadata), and the residual
    * count of stripped payloads still carrying the marker — the
    * release gate, which must read 0. One scan, map-only until the
    * source rollup. */
  def metadataStrip(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .selectExpr("doc_id", "source",
        "CASE WHEN doc_id % 3 = 0 THEN concat('EXIF:gps=', CAST(doc_id % 180 AS STRING), ';cam=X;', text) ELSE text END AS raw")
      .withColumn("tagged",
        when(expr("substring(raw, 1, 5) = 'EXIF:'"), 1L).otherwise(0L))
      .withColumn("stripped",
        when(col("tagged") === 1L,
          expr("substring(raw, instr(raw, ';cam=X;') + 7)")).otherwise(col("raw")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_payloads"),
        sum(col("tagged")).as("n_tagged"),
        sum(expr("length(CAST(raw AS BINARY))")).as("bytes_before"),
        sum(expr("length(CAST(stripped AS BINARY))")).as("bytes_after"),
        sum(when(expr("instr(stripped, 'EXIF:') > 0"), 1L).otherwise(0L)).as("n_residual"))
      .selectExpr("source", "n_payloads", "n_tagged",
        "(n_tagged * 10000) DIV n_payloads AS tagged_bp",
        "bytes_before", "bytes_after",
        "bytes_before - bytes_after AS meta_bytes", "n_residual")
      .orderBy("source")
  }
}
