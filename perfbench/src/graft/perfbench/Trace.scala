package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable

import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `split` names the layers a fused lazy
  * chain is divided into, with their weights (see [[Tracer.fused]]). */
final case class Span(layer: String, thread: Long, start: Long, end: Long,
                      split: Seq[(String, Double)] = Nil)

/** Spans around the benchmark's calls into each module. Every span also
  * runs under a Spark job group named after its layer, so the
  * [[SparkMetrics]] listener can charge jobs, stages and tasks to it. */
final class Tracer(sc: SparkContext) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val GroupKey = "spark.jobGroup.id"

  def span[A](layer: String)(body: => A): A = {
    val prev = sc.getLocalProperty(GroupKey)
    sc.setLocalProperty(GroupKey, layer)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(layer, Thread.currentThread().getId, t0, System.nanoTime()))
      sc.setLocalProperty(GroupKey, prev)
    }
  }

  /** Times a lazy chain that Catalyst fuses into one job. Each prefix
    * of the chain is first run on its own into the `noop` sink (spans
    * under `trace.prefix`), then the real action runs; its self time
    * is later split over the chain's layers by the differences of the
    * prefix times. */
  def fused[A](prefixes: Seq[(String, DataFrame)], last: String)(action: => A): A = {
    val times = prefixes.map { case (layer, df) =>
      val t0 = System.nanoTime()
      span(s"trace.prefix/$layer") {
        df.write.format("noop").mode("overwrite").save()
      }
      layer -> (System.nanoTime() - t0).toDouble
    }
    val prev = sc.getLocalProperty(GroupKey)
    sc.setLocalProperty(GroupKey, last)
    val t0 = System.nanoTime()
    try action
    finally {
      val t1 = System.nanoTime()
      sc.setLocalProperty(GroupKey, prev)
      val cumulative = times.map(_._2) :+ (t1 - t0).toDouble
      val weights = cumulative.indices.map { i =>
        math.max(0.0, cumulative(i) - (if (i == 0) 0.0 else cumulative(i - 1)))
      }
      spans.add(Span(last, Thread.currentThread().getId, t0, t1,
        (times.map(_._1) :+ last).zip(weights)))
    }
  }

  def drain(): Seq[Span] = {
    val out = mutable.ArrayBuffer.empty[Span]
    var s = spans.poll()
    while (s != null) { out += s; s = spans.poll() }
    out.toSeq
  }
}

object Tracer {

  /** Self time per layer over the window [t0, t1], in seconds. At each
    * instant the innermost open span of every thread is active, and
    * the instant is shared equally among the active spans; instants
    * with no open span go to `other`. The result therefore sums to the
    * window's length exactly, also when table jobs overlap. */
  def selfTimes(spans: Seq[Span], t0: Long, t1: Long): Map[String, Double] = {
    val acc = new Array[Double](spans.size)
    var other = 0.0
    // (time, isStart, order key, span index): at equal times ends go
    // before starts; an enclosing span starts before and ends after
    // the spans it encloses.
    val events = spans.indices.flatMap { i =>
      val s = spans(i)
      val d = s.end - s.start
      Seq((s.start, 1, -d, i), (s.end, 0, d, i))
    }.sortBy(e => (e._1, e._2, e._3))
    val stacks = mutable.LinkedHashMap.empty[Long, List[Int]]
    var prev = t0
    def share(until: Long): Unit = {
      val dt = (math.min(until, t1) - prev).toDouble
      if (dt > 0) {
        val active = stacks.valuesIterator.collect { case h :: _ => h }.toSeq
        if (active.isEmpty) other += dt
        else active.foreach(i => acc(i) += dt / active.size)
      }
      prev = math.max(prev, math.min(until, t1))
    }
    events.foreach { case (t, isStart, _, i) =>
      share(t)
      val th = spans(i).thread
      if (isStart == 1) stacks(th) = i :: stacks.getOrElse(th, Nil)
      else stacks(th) = stacks.getOrElse(th, Nil).filterNot(_ == i)
    }
    share(t1)
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    spans.indices.foreach { i =>
      val s = spans(i)
      val total = s.split.map(_._2).sum
      if (s.split.isEmpty || total <= 0) out(s.layer) += acc(i)
      else s.split.foreach { case (l, w) => out(l) += acc(i) * w / total }
    }
    out("other") += other
    out.view.mapValues(_ / 1e9).toMap
  }
}

/** Totals of one job group's jobs, stages and tasks. */
final class Agg {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, schedMs, shuffleRead, shuffleWrite, spill = 0L
  def +=(o: Agg): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs; schedMs += o.schedMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
  }
}

/** Listener that charges every job, stage and task to the job group
  * it ran under. The bus delivers events on one thread. */
final class SparkMetrics extends SparkListener {
  private var groups = mutable.Map.empty[String, Agg]
  private val stageGroup = mutable.Map.empty[Int, String]
  private def agg(g: String) = groups.getOrElseUpdate(g, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("(none)")
    agg(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    agg(stageGroup.getOrElse(e.stageInfo.stageId, "(none)")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(stageGroup.getOrElse(e.stageId, "(none)"))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      val info = e.taskInfo
      if (info != null && info.finished)
        a.schedMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
    }
  }

  def take(): Map[String, Agg] = synchronized {
    val out = groups.toMap
    groups = mutable.Map.empty
    out
  }
}

/** Catalyst phase time (analysis, optimization, planning) of every
  * action, from `QueryExecution.tracker`. */
final class PlanTime extends QueryExecutionListener {
  private var ns = 0L
  private def add(qe: QueryExecution): Unit = synchronized {
    ns += qe.tracker.phases.valuesIterator.map(_.durationMs).sum * 1000000L
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
  def take(): Double = synchronized { val s = ns / 1e9; ns = 0L; s }
}

/** Listener registration for a traced phase. */
final class Listeners(spark: SparkSession) {
  val metrics = new SparkMetrics
  val plans = new PlanTime
  spark.sparkContext.addSparkListener(metrics)
  spark.listenerManager.register(plans)

  /** Totals since the last call, once every posted event is delivered. */
  def take(): (Map[String, Agg], Double) = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    (metrics.take(), plans.take())
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(metrics)
    spark.listenerManager.unregister(plans)
  }
}

/** Counts the statements the embedded Derby database executes, by the
  * job group of the layer call that ran them: a task's job group on an
  * executor thread, else the calling thread's. With
  * `derby.language.logStatementText` set, Derby writes one line per
  * executed statement, on the executing thread, to the stream that
  * `derby.stream.error.method` names; [[stream]] is that stream. Every
  * other line of Derby's log is dropped. */
object DerbyStatements {
  private val GroupKey = "spark.jobGroup.id"
  private val Marker = "Executing prepared statement: "
  private val counts = new ConcurrentHashMap[String, LongAdder]
  private val lines = ThreadLocal.withInitial[java.lang.StringBuilder](() => new java.lang.StringBuilder)

  /** Routes Derby's log here; call before Derby boots. */
  def install(): Unit = {
    System.clearProperty("derby.stream.error.file")
    System.setProperty("derby.stream.error.method", "graft.perfbench.DerbyStatements.stream")
    System.setProperty("derby.language.logStatementText", "true")
  }

  def stream(): java.io.Writer = new java.io.Writer {
    override def write(buf: Array[Char], off: Int, len: Int): Unit = {
      val line = lines.get()
      var i = off
      while (i < off + len) {
        if (buf(i) == '\n') { if (line.indexOf(Marker) >= 0) executed(); line.setLength(0) }
        else line.append(buf(i))
        i += 1
      }
    }
    override def flush(): Unit = ()
    override def close(): Unit = ()
  }

  private def executed(): Unit = {
    val group = Option(TaskContext.get()).map(_.getLocalProperty(GroupKey))
      .orElse(SparkSession.getDefaultSession.map(_.sparkContext.getLocalProperty(GroupKey)))
      .flatMap(Option(_)).getOrElse("(none)")
    counts.computeIfAbsent(group, _ => new LongAdder).increment()
  }

  /** Statements per job group since the last call. */
  def take(): Map[String, Long] = {
    val out = mutable.Map.empty[String, Long]
    counts.forEach((g, n) => out(g) = n.sumThenReset())
    out.filter(_._2 > 0).toMap
  }
}
