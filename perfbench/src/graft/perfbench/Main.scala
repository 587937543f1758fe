package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.{Callable, Executors, ExecutorService}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One call of a workload's unit of work: a table import, a commit
  * verb or an operator call. `error` is the error class if it failed. */
final case class OpRecord(kind: String, name: String, seconds: Double, error: Option[String])

/** What one iteration did: the source rows it processed, and the output
  * checks to run once its time has been taken (each returns the
  * mismatches it found). */
final case class Iter(rows: Long, check: () => Seq[String])

/** State shared by the runner and a workload during one run. */
final class Ctx(val spark: SparkSession, val dataDir: String, val work: File,
                val seed: Long, val cores: Int) {
  @volatile var tracer: Option[Tracer] = None
  private val ops = mutable.ArrayBuffer.empty[OpRecord]
  private val sums = mutable.Map.empty[String, Double]
  private val gauges = mutable.Map.empty[String, Double]
  private val steps = mutable.ArrayBuffer.empty[(String, Double)]
  val pool: ExecutorService = Executors.newFixedThreadPool(cores)

  def span[A](layer: String)(body: => A): A = tracer match {
    case Some(t) => t.span(layer)(body)
    case None => body
  }

  /** A lazy chain's action; traced, its prefixes are timed first. */
  def fused[A](prefixes: => Seq[(String, DataFrame)], last: String)(action: => A): A =
    tracer match {
      case Some(t) => t.fused(prefixes, last)(action)
      case None => action
    }

  def traced: Boolean = tracer.isDefined

  /** Times one of the steps an iteration runs one after the other (a
    * sequential operation, or a batch of parallel ones). */
  def step[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally steps.synchronized { steps += name -> (System.nanoTime() - t0) / 1e9 }
  }

  /** Runs one operation, recording its latency and, if it throws, its
    * error class. The workload goes on with the next operation. */
  def op[A](kind: String, name: String)(body: => A): Option[A] = {
    val t0 = System.nanoTime()
    val r = try Right(body) catch { case NonFatal(e) => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    ops.synchronized {
      ops += OpRecord(kind, name, secs, r.left.toOption.map(Main.errorClass))
    }
    r.left.foreach { e =>
      System.err.println(s"[perfbench] $kind $name failed: ${Main.errorClass(e)}: " +
        String.valueOf(e.getMessage).linesIterator.take(1).mkString.take(300))
    }
    r.toOption
  }

  /** Adds to a per-iteration count. */
  def count(name: String, v: Double): Unit = sums.synchronized {
    sums(name) = sums.getOrElse(name, 0.0) + v
  }

  /** Sets a level that is read at the end of an iteration. */
  def gauge(name: String, v: Double): Unit = gauges.synchronized { gauges(name) = v }

  def takeOps(): Seq[OpRecord] = ops.synchronized { val o = ops.toSeq; ops.clear(); o }
  /** The iteration's step times, summed by step name. */
  def takeSteps(): Map[String, Double] = steps.synchronized {
    val o = steps.groupMapReduce(_._1)(_._2)(_ + _); steps.clear(); o
  }
  def takeCounts(): Map[String, Double] = sums.synchronized {
    val o = sums.toMap; sums.clear()
    o ++ gauges.synchronized(gauges.toMap)
  }

  /** Runs `f` over `items` on the pool (at most `cores` at once) and
    * waits for all of them, in submission order. */
  def parallel[T, A](items: Seq[T])(f: T => A): Seq[A] = {
    val futures = items.map { t =>
      pool.submit(new Callable[A] {
        override def call(): A = {
          // pool threads inherit whatever job group their creator had
          spark.sparkContext.setLocalProperty("spark.jobGroup.id", null)
          f(t)
        }
      })
    }
    futures.map(_.get())
  }
}

trait Workload {
  /** The layer time metrics (of [[Main.LayerTimes]]) that a traced
    * iteration must give time to. */
  def layers: Seq[String]
  /** Benchmark-side reference values for the output checks; untimed. */
  def prepare(ctx: Ctx): Unit
  /** The program's set-up; timed, and run several times. */
  def setup(ctx: Ctx, rep: Int): Unit
  def iteration(ctx: Ctx): Iter
  /** Checks on the state the whole run left behind. */
  def finish(ctx: Ctx): Seq[String]
}

/** Workloads run one after the other within each iteration. */
final class Sequence(parts: Workload*) extends Workload {
  override def layers: Seq[String] = parts.flatMap(_.layers).distinct
  override def prepare(ctx: Ctx): Unit = parts.foreach(_.prepare(ctx))
  override def setup(ctx: Ctx, rep: Int): Unit = parts.foreach(_.setup(ctx, rep))
  override def iteration(ctx: Ctx): Iter = {
    val its = parts.map(_.iteration(ctx))
    Iter(its.map(_.rows).sum, () => its.flatMap(_.check()))
  }
  override def finish(ctx: Ctx): Seq[String] = parts.flatMap(_.finish(ctx))
}

/** Everything recorded for one measured iteration. */
final case class IterRecord(wall: Double, rows: Long, steps: Map[String, Double], ops: Seq[OpRecord],
                            counts: Map[String, Double], self: Map[String, Double],
                            groups: Map[String, Agg], planS: Double)

/** Benchmark runner. One run: set up the workload several times, run
  * warm-up iterations, then run iterations back to back (a closed
  * loop with one client) for the requested seconds, checking the
  * outputs of every iteration, and print one JSON line of metrics.
  * With `--trace 1`, untraced and traced iterations alternate, and
  * per-layer metrics are printed instead. */
object Main {

  val SetupReps = 3
  /** Untimed iterations before measuring (JIT and codegen warm-up). A
    * fixed count keeps the work before the heap sample the same in
    * every run. */
  val WarmupIterations = 1
  /** Measured iterations per run, at the least: each step needs a few
    * tries to miss the host's slow spells. Iterations keep getting
    * faster for several more after the warm-up, so a run that fits one
    * more reads faster; with `--seconds` shorter than this many
    * iterations take, every run measures the same number. */
  val MinIterations = 3

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "rows_per_s" -> "rows/s", "op_latency_s" -> "s", "retained_heap_mb" -> "MB")

  /** Layers timed by spans, as metric names (seconds per iteration). */
  val LayerTimes: Seq[String] = Seq(
    "jdbc.catalog_s", "jdbc.plan_s", "jdbc.extract_s", "source.read_s",
    "deid.s", "map.s", "route.s", "load.s",
    "reid.vault_s", "reid.join_s", "reid.group_s", "publish.s",
    "kv.merge_cow_s", "kv.merge_mor_s", "kv.delete_s", "kv.optimize_s",
    "kv.maint_plan_s", "kv.scan_s",
    "text.gate_s", "dedup.exact_s", "dedup.minhash_s", "dedup.components_s",
    "dedup.survivors_s", "ann.ivf_s", "ann.topk_s",
    "trace.prefix_s", "other_s")

  val PerLayer: Seq[(String, String)] = LayerTimes.map(_ -> "s") ++ Seq(
    "trace.wall_s" -> "s", "trace.untraced_wall_s" -> "s", "trace.overhead_share" -> "ratio",
    "jdbc.catalog_calls" -> "count", "jdbc.plan_queries" -> "count",
    "jdbc.extract_rows" -> "rows", "jdbc.extract_tasks" -> "count",
    "deid.cpu_s" -> "s", "deid.transforms" -> "count",
    "map.renamed_cols" -> "count", "route.dead_rows" -> "rows", "route.dead_ratio" -> "ratio",
    "load.rows" -> "rows", "load.files" -> "count", "load.bytes" -> "bytes",
    "reid.recovered_ratio" -> "ratio", "publish.msgs" -> "count", "publish.bytes" -> "bytes",
    "reid_msgs_per_s" -> "msgs/s",
    "kv.versions" -> "count", "kv.live_files" -> "count", "kv.write_amp" -> "ratio",
    "kv.space_amp" -> "ratio", "kv.jobs_per_commit" -> "count",
    "kv.commit_p50_s" -> "s", "kv.commit_p90_s" -> "s",
    "dedup.candidate_precision" -> "ratio", "ann.recall_at_k" -> "ratio",
    "caches.builds" -> "count", "caches.hits" -> "count",
    "ops.failed_share" -> "ratio",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.sched_delay_s" -> "s", "spark.plan_s" -> "s", "spark.exec_run_s" -> "s",
    "spark.exec_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.non_task_s" -> "s")

  /** Layer span name → metric name. */
  def layerMetric(layer: String): String =
    if (layer == "other") "other_s"
    else if (layer.startsWith("trace.prefix/")) "trace.prefix_s"
    else if (layer.contains('.')) layer + "_s"
    else layer + ".s"

  /** The class of a failure: the SQLSTATE of a database error anywhere
    * in the cause chain, else the innermost Spark error condition, else
    * the innermost exception's class. */
  def errorClass(t: Throwable): String = {
    val chain = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(32).toSeq
    chain.collectFirst {
      case e: java.sql.SQLException if e.getSQLState != null =>
        s"SQLSTATE ${e.getSQLState} (${e.getClass.getSimpleName})"
    }.orElse(chain.reverse.collectFirst {
      case e: SparkThrowable if e.getCondition != null => e.getCondition
    }).getOrElse(chain.last.getClass.getSimpleName)
  }

  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = p * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def main(args: Array[String]): Unit = {
    def need(n: String) = arg(args, n).getOrElse {
      System.err.println(s"usage: --workload W --seed N --seconds S --trace 0|1 --data DIR --work DIR; missing $n")
      sys.exit(2)
    }
    val workload = need("--workload")
    val seed = need("--seed").toLong
    val seconds = need("--seconds").toDouble
    val trace = need("--trace") == "1"
    val dataDir = need("--data")
    val work = new File(need("--work"))
    val cores = Runtime.getRuntime.availableProcessors()

    val w: Workload = workload match {
      case "import_deid" => new Sequence(new ImportJdbc, new DeidReid)
      case "commit_curate" => new Sequence(new CommitCycles, new CurateCorpus)
      case other =>
        System.err.println(s"unknown workload $other"); sys.exit(2)
    }

    if (trace) DerbyStatements.install()
    val tJvm = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    System.err.println(f"[perfbench] session up in ${(System.nanoTime() - tJvm) / 1e9}%.1f s")
    val ctx = new Ctx(spark, dataDir, work, seed, cores)
    val problems = mutable.ArrayBuffer.empty[String]
    try {
      val tStart = System.nanoTime()
      def log(what: String): Unit =
        System.err.println(f"[perfbench] ${(System.nanoTime() - tStart) / 1e9}%.1f s: $what")
      w.prepare(ctx)
      log("reference values ready")
      val setupTimes = (1 to SetupReps).map { rep =>
        val t0 = System.nanoTime()
        w.setup(ctx, rep)
        (System.nanoTime() - t0) / 1e9
      }
      log(s"set-up took ${setupTimes.map(t => f"$t%.2f").mkString(", ")} s")
      // warm-up: JIT, codegen and file-system caches; checked, not timed
      (1 to WarmupIterations).foreach(_ => problems ++= w.iteration(ctx).check())
      ctx.takeOps(); ctx.takeCounts(); ctx.takeSteps()
      log("warm-up done")

      // With tracing, untraced and traced iterations alternate, so both
      // see the same warm-up state.
      val untraced = mutable.ArrayBuffer.empty[IterRecord]
      val traced = mutable.ArrayBuffer.empty[IterRecord]
      var retainedHeap = 0.0
      val start = System.nanoTime()
      while (untraced.size + traced.size < MinIterations || (trace && traced.isEmpty) ||
             (System.nanoTime() - start) / 1e9 < seconds) {
        val tracedNow = trace && untraced.size > traced.size
        val listeners = if (tracedNow) Some(new Listeners(spark)) else None
        DerbyStatements.take()
        val tracer = if (tracedNow) Some(new Tracer(spark.sparkContext)) else None
        ctx.tracer = tracer
        val t0 = System.nanoTime()
        val it = try w.iteration(ctx) finally ctx.tracer = None
        val t1 = System.nanoTime()
        val self = tracer.map(t => Tracer.selfTimes(t.drain(), t0, t1)).getOrElse(Map.empty)
        val (groups, planS) = listeners.map { l =>
          try l.take() finally l.close()
        }.getOrElse((Map.empty[String, Agg], 0.0))
        if (tracedNow) {
          val statements = DerbyStatements.take()
          ctx.count("jdbc.catalog_calls", statements.getOrElse("jdbc.catalog", 0L).toDouble)
          ctx.count("jdbc.plan_queries", statements.getOrElse("jdbc.plan", 0L).toDouble)
        }
        problems ++= it.check()
        val rec = IterRecord((t1 - t0) / 1e9, it.rows, ctx.takeSteps(), ctx.takeOps(), ctx.takeCounts(),
          self, groups, planS)
        (if (tracedNow) traced else untraced) += rec
        log(f"${if (tracedNow) "traced" else "untraced"} iteration ${rec.wall}%.3f s; steps " +
          rec.steps.toSeq.sorted.map { case (k, v) => f"$k=$v%.3f" }.mkString(" "))
        System.gc()
        // the heap still held after the first measured iteration: later
        // samples would grow with the number of iterations a run fits.
        // Spark's cleaner frees blocks of collected broadcasts and
        // shuffles asynchronously, so collect once more after it ran.
        if (untraced.size + traced.size == 1) {
          Thread.sleep(500)
          System.gc()
          retainedHeap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed.toDouble
        }
      }
      log(s"measured ${untraced.size} untraced and ${traced.size} traced iterations")
      problems ++= w.finish(ctx)
      log("final checks done")

      val all = (untraced ++ traced).toSeq
      val ops = all.flatMap(_.ops)
      val attempted = ops.size
      val failed = ops.count(_.error.isDefined)
      ops.filter(_.error.isDefined).groupBy(o => (o.kind, o.name, o.error.get)).foreach {
        case ((k, n, e), xs) => System.err.println(s"[perfbench] failed ${xs.size}x: $k $n: $e")
      }

      val metrics: Seq[(String, Double, String)] =
        if (!trace) {
          // Repeat minima, taken per step and per operation: on a shared
          // host, stalls only ever add time and come in bursts of a few
          // seconds, so each step's fastest run over the iterations is
          // the steadiest estimate of its cost. The time outside the
          // steps is one more step. Failed operations are left out of
          // the latency: they are counted in `failed`, and a fix that
          // makes one run in full should not read as a slowdown.
          val rest = untraced.map(r => r.wall - r.steps.values.sum)
          val stepBest = untraced.flatMap(_.steps).groupMap(_._1)(_._2).values.map(_.min).sum + rest.min
          val best = untraced.toSeq.flatMap(_.ops).filter(_.error.isEmpty).groupBy(o => (o.kind, o.name))
            .values.map(_.map(_.seconds).min).toSeq
          val values = Map(
            "setup_s" -> median(setupTimes),
            "rows_per_s" -> untraced.map(_.rows).sum.toDouble / untraced.size / stepBest,
            "op_latency_s" -> geomean(best),
            "retained_heap_mb" -> retainedHeap / (1 << 20))
          EndToEnd.map { case (n, u) => (n, values(n), u) }
        } else {
          val values = perLayer(untraced.toSeq, traced.toSeq, cores, w.layers, problems)
          PerLayer.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
        }
      problems.foreach(p => System.err.println(s"[perfbench] CHECK FAILED: $p"))
      val body = metrics.map { case (n, v, u) =>
        val x = if (v.isNaN || v.isInfinite) 0.0 else v
        s""""$n": {"value": ${x.toString}, "unit": "$u"}"""
      }.mkString(", ")
      println(s"""{"correct": ${problems.isEmpty}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    } finally {
      ctx.pool.shutdownNow()
      spark.stop()
    }
  }

  /** Per-layer values: means per traced iteration, except where noted. */
  def perLayer(untraced: Seq[IterRecord], traced: Seq[IterRecord], cores: Int,
               layers: Seq[String], problems: mutable.Buffer[String]): Map[String, Double] = {
    val n = traced.size.toDouble
    val v = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    traced.foreach { r =>
      r.self.foreach { case (layer, s) => v(layerMetric(layer)) += s / n }
    }
    val wall = traced.map(_.wall).sum / n
    v("trace.wall_s") = wall
    val accounted = LayerTimes.map(v).sum
    if (math.abs(accounted - wall) > 1e-6 * math.max(1.0, wall))
      problems += f"traced layer self times sum to $accounted%.6f s, wall is $wall%.6f s"
    val unknown = traced.flatMap(_.self.keys).map(layerMetric).distinct.filterNot(LayerTimes.contains)
    if (unknown.nonEmpty) problems += s"spans of unlisted layers: ${unknown.mkString(",")}"
    val idle = layers.filter(v(_) <= 0.0)
    if (idle.nonEmpty) problems += s"layers with no time in the traced iterations: ${idle.mkString(",")}"
    val untracedWall = untraced.map(_.wall).sum / untraced.size
    v("trace.untraced_wall_s") = untracedWall
    v("trace.overhead_share") = wall / untracedWall - 1.0

    val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    traced.foreach(_.counts.foreach { case (k, x) => counts(k) += x / n })
    def ratio(a: String, b: String) = if (counts(b) > 0) counts(a) / counts(b) else 0.0
    Seq("jdbc.catalog_calls", "jdbc.plan_queries", "jdbc.extract_rows", "deid.transforms",
      "map.renamed_cols", "route.dead_rows", "load.rows", "load.files", "load.bytes",
      "publish.msgs", "publish.bytes", "caches.builds", "caches.hits")
      .foreach(k => v(k) = counts(k))
    v("route.dead_ratio") = ratio("route.dead_rows", "route.rows")
    v("reid.recovered_ratio") = ratio("reid.recovered", "reid.tokens")
    v("dedup.candidate_precision") = ratio("dedup.verified", "dedup.candidates")
    v("ann.recall_at_k") = ratio("ann.hits", "ann.truth")
    v("kv.write_amp") = ratio("kv.bytes_written", "kv.bytes_changed")
    // levels at the end of the last traced iteration
    Seq("kv.versions", "kv.live_files", "kv.space_amp")
      .foreach(k => v(k) = traced.last.counts.getOrElse(k, 0.0))

    // rates and latencies are taken from the untraced half
    val uOps = untraced.flatMap(_.ops)
    v("reid_msgs_per_s") = untraced.map(_.counts.getOrElse("publish.msgs", 0.0)).sum /
      untraced.map(_.wall).sum
    val commits = uOps.filter(o => o.kind == "kv" && CommitVerbs.contains(o.name)).map(_.seconds)
    v("kv.commit_p50_s") = percentile(commits, 0.5)
    v("kv.commit_p90_s") = percentile(commits, 0.9)
    v("ops.failed_share") = if (uOps.isEmpty) 0.0 else uOps.count(_.error.isDefined).toDouble / uOps.size

    // Spark listener totals; the prefix runs only exist for tracing
    val groups = traced.flatMap(_.groups)
    val real = new Agg
    groups.filterNot(_._1.startsWith("trace.prefix/")).foreach(g => real += g._2)
    v("spark.jobs") = real.jobs / n
    v("spark.stages") = real.stages / n
    v("spark.tasks") = real.tasks / n
    v("spark.sched_delay_s") = real.schedMs / 1e3 / n
    v("spark.plan_s") = traced.map(_.planS).sum / n
    v("spark.exec_run_s") = real.runMs / 1e3 / n
    v("spark.exec_cpu_s") = real.cpuNs / 1e9 / n
    v("spark.gc_s") = real.gcMs / 1e3 / n
    v("spark.shuffle_read_bytes") = real.shuffleRead / n
    v("spark.shuffle_write_bytes") = real.shuffleWrite / n
    v("spark.spill_bytes") = real.spill / n
    // wall time not covered by task work spread over the cores
    v("spark.non_task_s") = wall - v("trace.prefix_s") - v("spark.exec_run_s") / cores
    def groupSum(pred: String => Boolean)(f: Agg => Double): Double =
      groups.filter(g => pred(g._1)).map(g => f(g._2)).sum
    // the deid prefixes extend the extract prefixes of both sources
    v("deid.cpu_s") = math.max(0.0, groupSum(_ == "trace.prefix/deid")(_.cpuNs) -
      groupSum(g => g == "trace.prefix/jdbc.extract" || g == "trace.prefix/source.read")(_.cpuNs)) / 1e9 / n
    v("jdbc.extract_tasks") = groupSum(_ == "trace.prefix/jdbc.extract")(_.tasks.toDouble) / n
    val nCommits = counts("kv.commits")
    v("kv.jobs_per_commit") =
      if (nCommits > 0) groupSum(g => CommitVerbs.exists(c => g == s"kv.$c"))(_.jobs.toDouble) / n / nCommits
      else 0.0
    v.toMap
  }

  val CommitVerbs: Set[String] = Set("merge_cow", "merge_mor", "delete", "optimize")
}
