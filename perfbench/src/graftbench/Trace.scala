package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into graft. `parent` is the span that
  * was open on the same thread when this one started (-1 for a root). */
final case class Span(id: Int, parent: Int, name: String,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans are kept until the run ends and then
  * written out as JSON lines; nothing is recorded when `enabled` is off,
  * so untraced runs pay one branch per call. */
final class Spans(val enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private var nextId = 0

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = open.get.headOption.getOrElse(-1)
      open.set(id :: open.get)
      val (s0, m0) = (System.nanoTime(), System.currentTimeMillis())
      try body
      finally {
        open.set(open.get.tail)
        val s = Span(id, parent, name, s0, System.nanoTime(), m0, System.currentTimeMillis())
        synchronized(done += s)
      }
    }

  def all: Seq[Span] = synchronized(done.toList)

  def clear(): Unit = synchronized(done.clear())

  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Sum of the durations of spans called `name`. */
  def total(name: String): Double = named(name).map(_.seconds).sum

  /** Self time: each span's duration minus the part covered by its
    * children, summed over every span called `name`. */
  def self(name: String): Double = {
    val spans = all
    val childSec = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.filter(_.name == name).map(s => s.seconds - childSec.getOrElse(s.id, 0.0)).sum
  }

  def toJsonLines: Seq[String] = all.sortBy(_.startNs).map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      s""""start_ms":${s.startMs},"end_ms":${s.endMs},"seconds":${s.seconds}}"""
  }
}

/** Per-job Spark counters, collected by a listener the benchmark
  * registers. Jobs are matched to spans by submission time and to graft
  * modules by their call site (the long form Spark records per stage). */
final class JobCounters extends SparkListener {
  final class Job(val id: Int, val startMs: Long, val callSite: String, val stages: Int) {
    @volatile var endMs: Long = startMs
    var tasks, failedTasks = 0L
    var cpuNs, shuffleBytes, spillBytes, writtenBytes = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the result stage is the newest; its details hold the job's call site
    val site = e.stageInfos.maxByOption(_.stageId).map(_.details).getOrElse("")
    val j = new Job(e.jobId, e.time, site, e.stageIds.size)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (e.reason != org.apache.spark.Success) j.failedTasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.cpuNs += m.executorCpuTime
        j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.writtenBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Jobs submitted in [fromMs, toMs]. */
  def between(fromMs: Long, toMs: Long): Seq[Job] = synchronized {
    jobs.values.filter(j => j.startMs >= fromMs && j.startMs <= toMs).toList
  }

  def within(spans: Seq[Span]): Seq[Job] = spans.flatMap(s => between(s.startMs, s.endMs)).distinct
}

object JobCounters {
  def sumCpuS(js: Seq[JobCounters#Job]): Double = js.map(_.cpuNs).sum / 1e9
  def sumMb(js: Seq[JobCounters#Job], f: JobCounters#Job => Long): Double = js.map(f).sum / 1e6
  def sumS(js: Seq[JobCounters#Job]): Double = js.map(j => j.endMs - j.startMs).sum / 1e3

  /** Milliseconds of [fromMs, toMs] covered by at least one job. */
  def coveredMs(js: Seq[JobCounters#Job], fromMs: Long, toMs: Long): Long = {
    val iv = js.map(j => (math.max(j.startMs, fromMs), math.min(j.endMs, toMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    iv.foldLeft((0L, Long.MinValue)) { case ((acc, end), (a, b)) =>
      if (b <= end) (acc, end) else (acc + b - math.max(a, end), b)
    }._1
  }
}

/** Per-query planning and execution statistics from the QueryExecution
  * each finished action leaves behind: the planning phases Catalyst
  * tracks, the execution time, and the exchanges in the final
  * (post-AQE) physical plan. */
final class QueryCounters extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  var executions, exchanges, reusedExchanges = 0L
  var planNs, execNs = 0L

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val plan = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum * 1000000L
    val executed = qe.executedPlan
    val ex = collectWithSubqueries(executed) { case e: ShuffleExchangeLike => e }.size
    val re = collectWithSubqueries(executed) { case e: ReusedExchangeExec => e }.size
    synchronized {
      executions += 1; planNs += plan; execNs += durationNs
      exchanges += ex; reusedExchanges += re
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { executions += 1 }

  def snapshot: Seq[Long] = synchronized(Seq(executions, planNs, execNs, exchanges, reusedExchanges))
}

/** Largest heap still in use after any garbage collection while armed,
  * read from the collectors' completion notifications. */
final class HeapWatch extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var armed = false
  @volatile private var peak = 0L
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(this, null, null))

  override def handleNotification(n: Notification, hb: AnyRef): Unit =
    if (armed && n.getType == "com.sun.management.gc.notification") {
      val info = com.sun.management.GarbageCollectionNotificationInfo
        .from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { if (used > peak) peak = used }
    }

  def arm(): Unit = { peak = 0L; armed = true }

  /** Disarms and returns the peak in MB. A full collection at the end of
    * the window counts too, so a window without any collection still
    * reports live heap rather than live heap plus garbage. */
  def disarm(): Double = {
    armed = false
    System.gc()
    val end = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    math.max(peak, end) / 1e6
  }

  def close(): Unit = emitters.foreach(e =>
    scala.util.Try(e.removeNotificationListener(this)))
}

object Trace {
  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def drain(spark: SparkSession): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)
}
