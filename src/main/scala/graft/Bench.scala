package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query and prints one JSON
  * line. Environment:
  *   SPARK_GRAFT_SF_DIR  testdata directory (default /root/testdata/sf0.1)
  *   SPARK_GRAFT_CPUS    local[N] cores and shuffle partitions (default 4)
  *   SPARK_GRAFT_ONLY    comma-separated query names to run
  *   SPARK_GRAFT_REPEAT  run each query N times, report the min
  *     (steady-state, excludes first-run file-listing/JIT noise)
  *   SPARK_GRAFT_ISOLATE 1 = clear all caches before every query
  *
  * What the numbers are good for: each time covers one operator
  * together with whatever ran before it in the same JVM (JIT state,
  * caches, GC pressure). On 4 vCPUs at sf0.01, the 78 `q` operators
  * summed to 41-45 s of per-op minima inside a full run but to 67 s
  * when run alone, and within full runs two trees with identical `q`
  * code read 8-9% apart. So per-operator and per-family times are NOT
  * comparable across trees, and no speed claim rests on them; compare
  * only the totals over the queries both runs share
  * (`tools/movers.py`) as a coarse check. Speed claims come from the
  * whole-program benchmark, `perfbench/run.py`.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "1").toInt
    val isolate = sys.env.get("SPARK_GRAFT_ISOLATE").contains("1")
    // Ambient co-tenant load stamp (r14 advice: the final-pair 1.31×
    // inflation was diagnosed by hand-comparing pairs; now every
    // snapshot carries the 1/5/15-min load averages at start and end
    // so an adjudication cites a recorded number, not an inference).
    def loadAvg(): String = try {
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
        .split(" ").take(3).mkString(" ")
    } catch { case scala.util.control.NonFatal(_) =>
      val l = java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(l))
    }
    val loadStart = loadAvg()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // AQE pre-coalesce ceiling = cores: 8×cores was measured slower at
      // sf1/sf10 (r18 note in SURVEY)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val selected = SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
    // Cache FAMILY of a query: queries that read the same shared
    // sketch tables (Caches keys) belong to one family. The bench runs
    // family-grouped and releases all persisted state between families:
    // reuse still happens where it is designed to (the gram index's
    // consumers run adjacently and pay the build once), but the session
    // never accumulates every family's caches at once — unbounded
    // accumulation over 100+ queries measurably degrades the whole
    // session (r7 adjudication: shared-everything 376 s vs 142 s with
    // per-query clearing on identical code/data), and no production
    // service pins every workload's sketches in one executor pool
    // either. Family-scoped cache lifetime is the shape a long-lived
    // service actually runs.
    def family(name: String): String = name.split("_", 2)(0) match {
      case "dedup" | "split" | "pipeline" => "dedup" // dedup.* caches
      case "ann" | "embed"                => "ann"   // ann.* caches
      case p                              => p       // no shared caches
    }
    // Warm the session once before timing: JIT the scan/codegen paths,
    // populate the FS cache and the schema cache. Otherwise whichever
    // query happens to run first absorbs several seconds of one-time
    // session cost and the per-query numbers measure iteration order,
    // not operators. NonFatal only — an OOM/fatal error must surface,
    // and a broken testdata dir must be visible, not silently absorbed
    // into cold-start timings.
    Tables.all.foreach { t =>
      try Tables.load(spark, sfDir, t).count()
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] warm-up failed for table $t: $e")
      }
    }
    // Block-manager storage telemetry: with the family-scoped cache
    // lifetime, storage must return to (near) zero at every family
    // boundary — a growing floor here is a leak (the r7 checkpoint-
    // block leak was exactly this signature, invisible until the
    // driver's bench collapsed 9.4×). Logged per boundary so the next
    // adjudication has data instead of forensics.
    def logStorage(tag: String): Unit = {
      val infos = spark.sparkContext.getRDDStorageInfo
      System.err.println(f"[bench] rdd-storage after $tag: " +
        f"${infos.length} rdds, ${infos.map(_.numCachedPartitions).sum} blocks, " +
        f"${infos.map(_.memSize).sum / (1L << 20)} MB mem, " +
        f"${infos.map(_.diskSize).sum / (1L << 20)} MB disk")
    }
    // Deterministic family-grouped order (families alphabetical,
    // queries alphabetical inside) so cache reuse and round-over-round
    // diffs are stable regardless of Map iteration order.
    val ordered = selected.toSeq.sortBy { case (n, _) => (family(n), n) }
    var prevFamily: String = null
    val firstPass = ordered.map { case (name, fn) =>
      if (prevFamily != null && family(name) != prevFamily && !isolate) {
        Caches.clearAll(); spark.catalog.clearCache()
        logStorage(s"family $prevFamily")
      }
      prevFamily = family(name)
      val times = (1 to repeat).map { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() }
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] $name failed: $e")
        }
        val dt = (System.nanoTime() - t0) / 1e9
        // SPARK_GRAFT_ISOLATE=1: per-query cold-cache timing — release
        // all persisted state after every run. Default: family-scoped
        // shared caches (cleared between families above).
        if (isolate) { Caches.clearAll(); spark.catalog.clearCache() }
        System.err.println(f"[bench] $name%-28s $dt%8.2f s")
        dt
      }
      name -> times.min
    }.toMap
    // One-shot retry for extreme outliers: this host shows rare
    // minute-scale co-tenant stalls that land on one arbitrary query
    // per run (r8 observed 48 s / 371 s / 79 s on queries that run
    // 1-4 s clean) and would otherwise dominate a whole snapshot. A
    // query whose time exceeds max(20 s, 25× the run median) is
    // re-run ONCE on a cold cache and the min reported; the first
    // measurement is preserved under "retried" in the snapshot so the
    // correction is never silent. A genuine regression survives the
    // retry (both passes slow); only transient stalls are corrected.
    val median = {
      val s = firstPass.values.toSeq.sorted
      if (s.isEmpty) 0.0 else s(s.size / 2)
    }
    val outlierCut = math.max(20.0, 25 * median)
    // Second trigger (r8 lesson: a 16.6 s stall on a 1 s query slipped
    // UNDER the 20 s floor and shipped un-adjudicated): compare each
    // query against ITS OWN time in the other cache mode's last
    // snapshot. A query ≥ 8× its other-mode time AND ≥ 5 s absolute is
    // a stall candidate regardless of the run-median floor — the same
    // operator on the same data cannot legitimately be 8× slower just
    // because the cache mode changed. The 5 s floor keeps sub-second
    // jitter from churning retries. Cross-commit staleness is fine
    // here: this only decides whether to RE-RUN once, never what to
    // report.
    val otherModeTimes: Map[String, Double] = try {
      import java.nio.file.{Files, Paths}
      val p = Paths.get(s"BENCH_FULL_${if (isolate) "shared" else "isolate"}.json")
      if (!Files.exists(p)) Map.empty
      else {
        val j = new String(Files.readAllBytes(p), "UTF-8")
        val body = j.substring(j.indexOf("\"queries\":{"))
        """"([a-z0-9_]+)":([0-9.]+)""".r.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    } catch { case scala.util.control.NonFatal(_) => Map.empty }
    def isOutlier(name: String, t: Double): Boolean =
      t > outlierCut ||
        (t >= 5.0 && otherModeTimes.get(name).exists(o => o > 0 && t >= 8 * o))
    val retried = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val results = firstPass.map { case (name, t) =>
      if (!isOutlier(name, t)) name -> t
      else {
        Caches.clearAll(); spark.catalog.clearCache()
        val t0 = System.nanoTime()
        // a FAILED retry must not report its time-to-failure as the
        // query's time — keep the completed first-pass measurement
        val ok =
          try { selected(name)(spark, sfDir).count(); true }
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bench] $name retry failed: $e"); false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        val why =
          if (t > outlierCut) f"cut ${outlierCut}%.1f s"
          else f"8x other-mode ${otherModeTimes.getOrElse(name, 0.0)}%.2f s"
        System.err.println(f"[bench] $name%-28s $dt%8.2f s " +
          f"(outlier retry${if (ok) "" else " FAILED"}; " +
          f"first pass $t%.2f s, $why)")
        retried(name) = t
        name -> (if (ok) math.min(t, dt) else t)
      }
    }
    Caches.clearAll()
    logStorage("all queries")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // Locale.ROOT: f"%.3f" uses the default locale, and a comma
    // decimal separator would corrupt both JSON outputs
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // Full per-query detail goes to a file: with 100+ queries the
    // per-query map alone is ~3 KB, and the harness that scrapes this
    // main's stdout keeps only the LAST ~2000 characters — a JSON line
    // longer than that is truncated mid-object and unparseable. The
    // stdout line stays under 1800 chars: total + the slowest queries
    // that fit, with an explicit elision count so nothing is dropped
    // silently.
    val mode = if (isolate) "isolate" else "shared"
    // Stamp each per-mode snapshot with the SOURCE-TREE object hash it
    // measured (git rev-parse HEAD:src/main/scala — first 7 hex), so a
    // combined file can never silently merge halves from different
    // CODE, while commits that only add artifacts (the pair commit
    // itself, a verdict file, PLANS.tsv) do NOT invalidate a half. This
    // is the r12 fix for two straight rounds of refused driver
    // combines: stamping HEAD made the pair-recording commit itself a
    // "different rev", so a post-commit re-run of one half could never
    // match the committed other half even though the measured code was
    // byte-identical.
    val rev = try {
      def run(cmd: String*): String = {
        val p = new ProcessBuilder(cmd: _*).start()
        val out = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
        p.waitFor(); out
      }
      val tree = run("git", "rev-parse", "HEAD:src/main/scala")
      // uncommitted source = the committed tree hash would lie; mark it
      val dirty = run("git", "status", "--porcelain", "src/main/scala").nonEmpty
      if (tree.length >= 7) "src-" + tree.take(7) + (if (dirty) "-dirty" else "")
      else "unknown"
    } catch { case scala.util.control.NonFatal(_) => "unknown" }
    // bench_schema 2 = family-grouped shared mode with per-family cache
    // release (r7+); totals are NOT comparable with schema-1 (r1-r6
    // shared-everything) snapshots query-by-query. Schema 3 = 2 plus
    // the one-shot outlier retry: totals use the per-query min, and
    // any corrected query's first measurement is under "retried".
    val retriedJson =
      if (retried.isEmpty) ""
      else retried.toSeq.map { case (k, v) => s"\"$k\":${fmt(v)}" }
        .mkString(""","retried":{""", ",", "}")
    val loadEnd = loadAvg()
    val fullJson = results.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"$k\":${fmt(v)}" }
      .mkString(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir","rev":"$rev","bench_schema":3,"cache_mode":"$mode","load_start":"$loadStart","load_end":"$loadEnd"$retriedJson,"queries":{""", ",", "}}")
    // Per-mode snapshot file, then a combined BENCH_FULL.json holding
    // BOTH cache modes so round-over-round diffs can adjudicate
    // shared-session noise vs real operator regressions without
    // depending on stdout tail capture. Only a full (un-filtered) run
    // refreshes the snapshots — a SPARK_GRAFT_ONLY iteration run must
    // not clobber the committed 115-query numbers.
    try {
      import java.nio.file.{Files, Paths}
      if (only.isEmpty) {
        Files.write(Paths.get(s"BENCH_FULL_$mode.json"), (fullJson + "\n").getBytes("UTF-8"))
        def stamp(json: String, field: String): Option[String] =
          s""""$field":"([^"]*)"""".r.findFirstMatchIn(json).map(_.group(1))
        val halves = Seq("shared", "isolate").flatMap { m =>
          val p = Paths.get(s"BENCH_FULL_$m.json")
          if (Files.exists(p)) Some(m -> new String(Files.readAllBytes(p), "UTF-8").trim)
          else None
        }
        // REFUSE to combine halves that disagree on rev or sf: a mixed
        // snapshot read as one run has repeatedly mis-adjudicated
        // round-over-round diffs (r8, r9 driver reruns). On mismatch
        // the per-mode halves stand alone and any stale combined file
        // is REMOVED, so no combined artifact can ever exist with
        // disagreeing stamps.
        val mismatches =
          if (halves.size < 2) Seq.empty
          else for (f <- Seq("rev", "sf")
                    if stamp(halves(0)._2, f) != stamp(halves(1)._2, f))
            yield s"$f (${stamp(halves(0)._2, f)} vs ${stamp(halves(1)._2, f)})"
        if (mismatches.nonEmpty) {
          Files.deleteIfExists(Paths.get("BENCH_FULL.json"))
          System.err.println(s"[bench] REFUSED to combine: halves disagree on " +
            s"${mismatches.mkString(", ")} — re-run both modes at one commit/sf; " +
            "BENCH_FULL.json removed, per-mode halves kept")
        } else {
          val combined = halves.map { case (m, j) => s""""$m":$j""" }.mkString("{", ",", "}")
          Files.write(Paths.get("BENCH_FULL.json"), (combined + "\n").getBytes("UTF-8"))
        }
      } else {
        Files.write(Paths.get("BENCH_PARTIAL.json"), (fullJson + "\n").getBytes("UTF-8"))
      }
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not write BENCH_FULL.json: $e")
    }
    val byTime = results.toSeq.sortBy { case (k, v) => (-v, k) }
    val budget = 1700
    val head = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir","cache_mode":"${if (isolate) "isolate" else "shared"}","n_total":${results.size},"full":"BENCH_FULL.json","queries":{"""
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    var len = head.length + 60 // reserve room for the closing elision fields
    var keptSec = 0.0
    // stop at the FIRST entry that doesn't fit so the printed set is a
    // true slowest-first prefix — skipping past a long-named slow query
    // to append short-named fast ones would misrepresent the tail
    val it = byTime.iterator
    var full = false
    while (it.hasNext && !full) {
      val (k, v) = it.next()
      val e = s"\"$k\":${fmt(v)}"
      if (len + e.length + 1 <= budget) { entries += e; len += e.length + 1; keptSec += v }
      else full = true
    }
    val elided = results.size - entries.size
    val elidedSec = total - keptSec
    println(head + entries.mkString(",") +
      s"""},"n_elided":$elided,"elided_sec":${fmt(elidedSec)}}""")
    spark.stop()
  }
}
