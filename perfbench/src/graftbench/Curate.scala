package graftbench

import scala.util.Random

import graft.core.Tables
import graft.pipeline.TrainPipeline

/** Training-data curation: `TrainPipeline.run` over the document corpus —
  * quality gate, segment/exact/near-dup dedup, decontamination, split, LM
  * and perceptron gates, sharded export. Operators do most of the work;
  * translate, load, validate and streaming stay idle. */
final class Curate(ctx: Ctx) extends Workload {
  import ctx.spark

  def warmUp: Boolean = false

  private var sfDir = ""
  private var corpusBytes = 0L
  private val reports = scala.collection.mutable.ArrayBuffer.empty[TrainPipeline.Report]

  def setup(): Unit = {
    sfDir = s"${ctx.work}/curate/staged"
    Stage.seeded(spark, Tables(spark, ctx.data, "documents"),
      s"$sfDir/documents.parquet", new Random(ctx.seed))
    corpusBytes = Main.bytesUnder(s"$sfDir/documents.parquet")
  }

  def iteration(i: Int): Unit = {
    val out = s"${ctx.work}/curate/out$i"
    val report = ctx.timed(ctx.spans("pipeline.run")(TrainPipeline.run(spark, sfDir, out)))
    reports += report
    ctx.input(corpusBytes)
    ctx.attempted += report.stageWalls.size // a stage that failed would have thrown
  }

  def check(): Unit = reports.foreach { r =>
    val got = Seq(
      "rows_in" -> r.rowsIn, "after_quality" -> r.afterQuality,
      "after_exact" -> r.afterExact, "after_near_dup" -> r.afterNearDup,
      "after_decontam" -> r.afterDecontam, "after_lm_gate" -> r.afterLmGate,
      "after_pt_gate" -> r.afterPtGate,
      "segments_in" -> r.segmentsIn, "segments_kept" -> r.segmentsKept,
      "split_train" -> r.splitCounts.getOrElse("train", -1L),
      "split_val" -> r.splitCounts.getOrElse("val", -1L),
      "split_test" -> r.splitCounts.getOrElse("test", -1L),
      "upsampled" -> r.upsampledRows, "batches" -> r.batches, "shards" -> r.shards.toLong,
      "pt_weight_0" -> r.ptWeights.lift(0).getOrElse(-1L),
      "pt_weight_1" -> r.ptWeights.lift(1).getOrElse(-1L),
      "pt_weight_2" -> r.ptWeights.lift(2).getOrElse(-1L))
    got.foreach { case (k, v) => ctx.expect(v == ctx.pin(k), s"$k = $v, pinned ${ctx.pin(k)}") }
  }

  /** The innermost `graft.operators` class in a job's call site. */
  private val OperatorFrame = """graft\.operators\.(\w+)""".r
  private val Operators = Map(
    "MinHashLSH" -> "minhash_lsh", "ConnectedComponents" -> "connected_components",
    "SegmentDedup" -> "segment_dedup", "LanguageModel" -> "language_model",
    "LinearClassifier" -> "linear_classifier", "ShuffleShard" -> "shuffle_shard",
    "BloomContamination" -> "bloom_contamination", "ExactDedup" -> "exact_dedup",
    "QualityRules" -> "quality_rules")
  // image_dedup is absent: the corpus carries no image assets, so the
  // pipeline leaves that gate off
  val Stages = Seq("ingest", "quality_gate", "segment_dedup", "exact_dedup",
    "near_dup", "decontam", "split", "lm_score", "pt_train", "lm_gate", "pt_gate", "export")

  def layers(n: Int): Map[String, Double] = {
    val per = math.max(n, 1).toDouble
    val jobs = ctx.jobs.within(ctx.spans.named("pipeline.run"))
    val byOp = jobs.groupBy(j => OperatorFrame.findFirstMatchIn(j.callSite)
      .map(_.group(1).stripSuffix("$")).flatMap(Operators.get).getOrElse("other"))
    val walls = reports.takeRight(n).flatMap(_.stageWalls).groupMapReduce(_._1)(_._2)(_ + _)
    Stages.map(s => s"pipeline.stage.${s}_s" -> walls.getOrElse(s, 0.0) / per).toMap ++
      Operators.values.map(op => s"operators.$op.job_s" ->
        JobCounters.sumS(byOp.getOrElse(op, Nil)) / per) ++
      Map(
        "operators.connected_components.jobs" ->
          byOp.getOrElse("connected_components", Nil).size / per,
        "operators.task_cpu_s" -> JobCounters.sumCpuS(jobs) / per,
        "operators.shuffle_mb" -> JobCounters.sumMb(jobs, _.shuffleBytes) / per,
        "operators.spill_mb" -> JobCounters.sumMb(jobs, _.spillBytes) / per)
  }
}
