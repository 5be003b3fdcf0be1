package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import ScalableRank._

/** withRowNumberAuto's bucket shape must self-defend against
  * adversarial value skew (round 14): the probe reads the max bucket
  * share off the equi-width offsets frame it already computes, and a
  * collapsed profile — SCALING.md's `ScalableRank` skew shape, where every
  * non-outlier row lands in equi-width bucket 0 and the "in-bucket
  * sort is 1/buckets of the group" guarantee silently becomes "one
  * task sorts the frame" — switches the boundaries to equi-depth.
  * Answers are bit-identical in every branch; a balanced profile keeps
  * the plain equi-width lattice (threading the probe's materialized
  * frames, no boundary machinery in the plan). */
class RankSkewAutoSpec extends AnyFunSuite {
  lazy val spark = graft.core.GraftSession.local("4", "rank-skew-auto")

  // SCALING.md's collapsed-skew profile at spec scale: 1 in 1000 rows is a
  // large outlier (up to n); everything else sits on 97 tie-heavy
  // points within [0, 1e-7]
  private def skewed(n: Int): DataFrame =
    spark.range(n).toDF("id")
      .select(col("id"),
        when(col("id") % 1000 === 0, col("id").cast("double"))
          .otherwise((col("id") % 97).cast("double") * 1e-9).as("v"))

  private def balanced(n: Int): DataFrame =
    spark.range(n).toDF("id")
      .select(col("id"), (col("id") % 9973).cast("double").as("v"))

  private def sorted(df: DataFrame): Seq[Seq[Any]] =
    df.select(col("id"), col("rn"), col("n"))
      .collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  private def windowTruth(df: DataFrame): DataFrame =
    df.withColumn("rn",
        row_number().over(Window.orderBy(col("v"), col("id"))).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))

  test("the collapsed profile forces the auto path onto equi-depth — bit-identical answers") {
    val df = skewed(20000)
    val auto = withRowNumberAuto(df, Nil, "v", Seq("id"), buckets = 64,
      bucketRank = Some(true))
    // the reshaped plan carries the boundary machinery
    assert(auto.queryExecution.analyzed.toString.contains("percentile_approx"),
      "skewed profile did not switch to equi-depth boundaries")
    assert(sorted(auto) == sorted(windowTruth(df)))
  }

  test("a balanced profile keeps the equi-width lattice: probe frames threaded, no boundary machinery, same answers") {
    val df = balanced(20000)
    val auto = withRowNumberAuto(df, Nil, "v", Seq("id"), buckets = 64,
      bucketRank = Some(true))
    assert(!auto.queryExecution.analyzed.toString.contains("percentile_approx"),
      "balanced profile needlessly recomputed equi-depth boundaries")
    assert(sorted(auto) == sorted(windowTruth(df)))
  }

  test("grouped: one collapsed group among balanced ones still reshapes, answers identical per group") {
    val df = spark.range(12000).toDF("id")
      .select(col("id"), (col("id") % 3).cast("string").as("g"),
        when(col("g") === "0",
          when(col("id") % 999 === 0, col("id").cast("double"))
            .otherwise(lit(1e-9)))
          .otherwise((col("id") % 997).cast("double")).as("v"))
    val auto = withRowNumberAuto(df, Seq("g"), "v", Seq("id"), buckets = 64,
      bucketRank = Some(true))
    assert(auto.queryExecution.analyzed.toString.contains("percentile_approx"))
    val w = Window.partitionBy(col("g")).orderBy(col("v"), col("id"))
    val want = df
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("g"))))
    assert(sorted(auto) == sorted(want))
  }

  test("non-power-of-two buckets survive the switch (rounded up, never a data-dependent require) (r15)") {
    // 48 buckets was always valid for the equi-width/auto path; the
    // equi-depth switch must not turn it into a require() failure that
    // fires only when the input happens to be skewed
    val df = skewed(20000)
    val auto = withRowNumberAuto(df, Nil, "v", Seq("id"), buckets = 48,
      bucketRank = Some(true))
    assert(auto.queryExecution.analyzed.toString.contains("percentile_approx"))
    assert(sorted(auto) == sorted(windowTruth(df)))
  }

  test("skewProbe = false keeps the lazy pre-probe equi-width lattice — no build-time jobs, same answers (r15)") {
    val df = skewed(20000)
    val auto = withRowNumberAuto(df, Nil, "v", Seq("id"), buckets = 64,
      bucketRank = Some(true), skewProbe = false)
    // no probe: no boundary machinery AND no materialized probe frames
    // (the plan holds no checkpointed LogicalRDD scans)
    val plan = auto.queryExecution.analyzed
    assert(!plan.toString.contains("percentile_approx"))
    assert(!plan.collectLeaves().exists(
      _.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]),
      "skewProbe = false must not checkpoint probe frames")
    assert(sorted(auto) == sorted(windowTruth(df)))
  }

  test("single-value groups never trigger the switch (pure ties are bucket 0 by design)") {
    val df = spark.range(4000).toDF("id")
      .select(col("id"), lit(7.5).as("v"))
    val auto = withRowNumberAuto(df, Nil, "v", Seq("id"), buckets = 64,
      bucketRank = Some(true))
    assert(!auto.queryExecution.analyzed.toString.contains("percentile_approx"))
    assert(sorted(auto) == sorted(windowTruth(df)))
  }
}
