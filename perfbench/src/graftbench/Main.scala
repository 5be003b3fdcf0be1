package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What a workload sees of the harness: its session, inputs, seed and
  * pins, the tracing hooks, and the timer that marks which part of an
  * iteration is the system's work (the rest is benchmark bookkeeping). */
final class Ctx(
    val spark: SparkSession,
    val data: String,
    val work: String,
    val seed: Long,
    val pins: Map[String, Long],
    val spans: Spans,
    val jobs: JobCounters) {
  private[graftbench] var wall, cpu = 0.0
  private[graftbench] val timedMs = mutable.ArrayBuffer.empty[(Long, Long)]
  private[graftbench] val ops = mutable.ArrayBuffer.empty[Double]
  private[graftbench] var inputBytes = 0L
  var attempted, failed = 0L

  def traced: Boolean = spans.enabled

  /** Runs `body` as part of the current iteration's measured time. */
  def timed[T](body: => T): T = {
    val (w0, c0, m0) = (System.nanoTime(), Trace.processCpuNs(), System.currentTimeMillis())
    try spans("timed")(body)
    finally {
      wall += (System.nanoTime() - w0) / 1e9
      cpu += (Trace.processCpuNs() - c0) / 1e9
      timedMs += m0 -> System.currentTimeMillis()
    }
  }

  /** Records the latency of one user-visible operation (a query key, a
    * CDC batch); a workload that records none has one per iteration. */
  def op(seconds: Double): Unit = ops += seconds

  /** Counts bytes of user input an iteration consumed. */
  def input(bytes: Long): Unit = inputBytes += bytes

  /** Counts one checked outcome; a false one is a failure. */
  def expect(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"graftbench: check failed: $what") }
  }

  def pin(name: String): Long = pins.getOrElse(name, sys.error(s"no pin '$name'"))

  /** Forgets the warm-up: only measured iterations count. */
  private[graftbench] def resetWindow(): Unit = {
    timedMs.clear(); ops.clear(); inputBytes = 0L; spans.clear()
  }
}

/** A workload: seeded inputs built by `setup`, then, if `warmUp`, one
  * untimed warm-up iteration (number 0), then timed iterations numbered
  * from 1. */
trait Workload {
  def setup(): Unit
  /** A long-lived session (queries, a streaming drain) is measured warm;
    * a batch job that runs once per JVM is measured cold. */
  def warmUp: Boolean
  /** False once the workload has no more input for another iteration. */
  def hasNext: Boolean = true
  def iteration(i: Int): Unit
  /** Output checks against the pins, run after the timed window. */
  def check(): Unit
  /** Per-layer metrics of a traced run over its `n` measured iterations. */
  def layers(n: Int): Map[String, Double]
}

object Main {
  val Cpus = 4

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `p` of
    * the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  def bytesUnder(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(f => f.getFileName.toString.startsWith(".") ||
          f.getFileName.toString.startsWith("_"))
        .map(Files.size).sum
      finally st.close()
    }
  }

  private def readPins(path: String, workload: String, corrupt: Boolean): Map[String, Long] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
    val node = Option(root.get(workload)).getOrElse(sys.error(s"no pins for $workload"))
    val pins = node.fieldNames().asScala.toList.sorted.map(k => k -> node.get(k).asLong())
    // the self-test's corrupted pin: the workload's first pin is off by one
    pins.zipWithIndex.map { case ((k, v), i) => k -> (if (corrupt && i == 0) v + 1 else v) }.toMap
  }

  private def jsonNum(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = opts("work")
    Files.createDirectories(Paths.get(work))

    val t0 = System.nanoTime()
    val spark = graft.core.GraftSession.local(Cpus.toString, s"graftbench-$name")
    val jobs = new JobCounters
    spark.sparkContext.addSparkListener(jobs)
    val queries = new QueryCounters
    if (traced) spark.listenerManager.register(queries)
    val spans = new Spans(traced)
    val ctx = new Ctx(spark, opts("data"), work, seed,
      readPins(opts("pins"), name, opts.get("corrupt-pin").contains("1")), spans, jobs)
    val w: Workload = name match {
      case "migrate"    => new Migrate(ctx)
      case "curate"     => new Curate(ctx)
      case "sql_mix"    => new SqlMix(ctx)
      case "cdc_stream" => new CdcStream(ctx)
      case other        => sys.error(s"unknown workload: $other")
    }
    w.setup()
    val setup0S = (System.nanoTime() - t0) / 1e9

    // the untimed warm-up: the measured iterations then run on a JVM
    // whose classes are loaded and whose hot paths are compiled
    val warm0 = System.nanoTime()
    var broken = false
    def attempt(i: Int): Unit =
      try spans("iteration")(w.iteration(i))
      catch { case e: Throwable =>
        ctx.expect(ok = false, s"iteration $i threw ${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
        broken = true
      }
    if (w.warmUp) attempt(0)
    val warmS = (System.nanoTime() - warm0) / 1e9
    val setupS = setup0S + warmS
    if (opts.get("warm-up-only").contains("1")) { spark.stop(); return }
    Trace.drain(spark)
    System.gc() // the window's heap peak should not include earlier garbage
    ctx.resetWindow()
    val heap = new HeapWatch
    val q0 = queries.snapshot
    val walls, cpus = mutable.ArrayBuffer.empty[Double]
    val winStart = System.nanoTime()
    val winStartMs = System.currentTimeMillis()
    heap.arm()
    var n = 0
    while (!broken && (n == 0 || (System.nanoTime() - winStart) / 1e9 < seconds) && w.hasNext) {
      ctx.wall = 0.0; ctx.cpu = 0.0
      val before = ctx.ops.size
      attempt(n + 1)
      if (!broken) {
        walls += ctx.wall; cpus += ctx.cpu; n += 1
        if (ctx.ops.size == before) ctx.op(ctx.wall)
      }
    }
    val peakMb = heap.disarm()
    System.err.println(f"graftbench: setup $setup0S%.2f s, warm-up $warmS%.2f s, " +
      s"iterations ${walls.map(x => f"$x%.2f").mkString(" ")} s")
    val winEndMs = System.currentTimeMillis()
    heap.close()
    Trace.drain(spark)

    val timedJobs = ctx.timedMs.toSeq.flatMap { case (a, b) => jobs.between(a, b) }.distinct
    val per = math.max(n, 1).toDouble
    val ops = ctx.ops.toSeq
    val metrics = mutable.LinkedHashMap[String, Double](
      "setup_s" -> setupS,
      "wall_s" -> median(walls.toSeq),
      "cpu_s" -> median(cpus.toSeq),
      "peak_live_heap_mb" -> peakMb,
      "op_p50_s" -> percentile(ops, 0.50),
      "op_p85_s" -> percentile(ops, 0.85))

    if (traced) {
      val q1 = queries.snapshot
      val dq = q1.zip(q0).map { case (a, b) => (a - b).toDouble }
      val windowJobs = jobs.between(winStartMs, winEndMs)
      metrics ++= Seq(
        "trace.wall_s" -> median(walls.toSeq),
        "write_amp" -> timedJobs.map(_.writtenBytes).sum.toDouble / math.max(ctx.inputBytes, 1L),
        "spark.jobs" -> timedJobs.size / per,
        "spark.stages" -> timedJobs.map(_.stages).sum / per,
        "spark.tasks" -> timedJobs.map(_.tasks).sum / per,
        "spark.failed_tasks" -> timedJobs.map(_.failedTasks).sum / per,
        "spark.task_cpu_s" -> JobCounters.sumCpuS(timedJobs) / per,
        "spark.shuffle_mb" -> JobCounters.sumMb(timedJobs, _.shuffleBytes) / per,
        "spark.spill_mb" -> JobCounters.sumMb(timedJobs, _.spillBytes) / per,
        "queries.executions" -> dq(0) / per,
        "queries.plan_s" -> dq(1) / 1e9 / per,
        "queries.exec_s" -> dq(2) / 1e9 / per,
        "queries.exchanges" -> dq(3) / per,
        "queries.reused_exchanges" -> dq(4) / per,
        "pipeline.driver_s" -> spans.named("timed").map { s =>
          s.seconds - JobCounters.coveredMs(windowJobs, s.startMs, s.endMs) / 1e3
        }.sum / per)
      metrics ++= w.layers(n)
    }

    w.check()
    val correct = ctx.failed == 0 && n > 0
    if (traced) {
      val out = Paths.get(opts("trace-out"))
      Files.createDirectories(out.getParent)
      Files.write(out, spans.toJsonLines.asJava)
    }
    val body = metrics.map { case (k, v) => s""""$k":${jsonNum(v)}""" }.mkString(",")
    // the last stdout line is the run's result; run.py attaches units
    println(s"""{"correct":$correct,"attempted":${math.max(ctx.attempted, 1)},""" +
      s""""failed":${ctx.failed},"iterations":$n,"metrics":{$body}}""")
    spark.stop()
  }
}
