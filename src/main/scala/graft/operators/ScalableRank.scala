package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Distributed ranking — row_number / NTILE / PERCENT_RANK / CUME_DIST
  * without a partition-sized sort.
  *
  * The window formulation (`row_number().over(Window.partitionBy(g)
  * .orderBy(v))`) sorts each partition's ENTIRE row set inside one
  * task. That is exact and fast while groups fit an executor
  * partition, but a global band (`Window.orderBy` with no key — the
  * shipped rfm1 shape through round 11) or a giant group (w6's
  * 3-status partitions = a third of the fact table each) cannot
  * survive a 100× scale-up: one task sorts data-sized input.
  *
  * This operator generalizes [[ScalableQuantile]]'s bucket-locate pass
  * from "find 2·|ps| order statistics" to "rank every row":
  *
  *  1. stats pass — count/min/max per partition key (combinable
  *     aggregate);
  *  2. bucket pass — equi-width bucket counts per (part, bucket), then
  *     cumulative counts BELOW each bucket (a window over ≤`buckets`
  *     rows per part, never row-sized);
  *  3. rank pass — row_number within each (part, bucket) — partitions
  *     are 1/`buckets` of the group — plus the bucket's cumulative
  *     offset: global rn = cum_before + in-bucket row_number. One
  *     exchange of the data, keyed on (part, bucket).
  *
  * NTILE / PERCENT_RANK / CUME_DIST are then closed-form from
  * (rn, n) — no further shuffle. Equi-width bucketing is
  * order-consistent (v ≤ w ⇒ bucket(v) ≤ bucket(w)) and ties in the
  * bucketing value land in one bucket, so the within-bucket order by
  * (value, tieCols) completes exactly the total order the window
  * formulation would use. RankParitySpec proves rn/ntile/percent_rank/
  * cume_dist parity with the window functions on tied, constant,
  * single-row, and adversarial shapes; PlanAuditSpec pins the absence
  * of any data-sized single-partition sort in the rewired keys.
  *
  * Numeric bounds: closed-form tile arithmetic runs exact-in-double
  * (longs < 2^53); partitions beyond ~10^15 rows would need the
  * integer `div` form. The bucket formula halves both operands before
  * subtracting, so a span crossing the double range (vmin ≈ −1.8e308,
  * vmax ≈ +1.8e308) stays finite instead of silently collapsing every
  * row into bucket 0. What the formula CANNOT fix is value skew:
  * equi-width buckets under a pathological distribution (e.g. all
  * mass within 1e-300 of one point plus a lone outlier) concentrate
  * nearly every row in one bucket — answers stay exact (the in-bucket
  * sort completes the order) but the "no data-sized single-task sort"
  * guarantee degrades toward the window form's cost. Rank is
  * value-agnostic, so no FIXED bucket function can dodge every
  * adversarial distribution; for a profile known to be that skewed,
  * pass `equiDepth = true` — bucket boundaries then come from
  * per-group `percentile_approx` inside the SAME stats aggregate
  * (heap-ordered; each row descends them with log2(buckets)
  * codegen'd comparisons), making bucket sizes distribution-
  * independent up to ties and the sketch's rank error — or
  * pre-transform the value (rank is invariant under any strictly
  * monotone map). Answers are identical in every mode; only the
  * balance guarantee differs.
  *
  * Bucket and offset frames are |parts|·≤`buckets` rows — they
  * broadcast by design, so the operator targets FEW GIANT partitions
  * (the regime where the window form dies); high-cardinality small
  * groups should stay on the window form, same guidance as the
  * quantile pair. Round 13: that contract is ENFORCED, not prose — a
  * plan-embedded guard counts the partition keys off the stats frame
  * (an aggregate-sized single-task window, never the data) and fails
  * loudly when |parts| × `buckets` exceeds [[MaxBroadcastCells]],
  * instead of surfacing as a driver OOM inside an anonymous broadcast
  * build. [[withRowNumberAuto]] picks the shape per frame from
  * Catalyst's size estimate — the
  * [[graft.validate.DistributionValidator.autoBucketLocate]]
  * discipline.
  *
  * Order keys: `valueCol` may be any numeric type or STRING. Strings
  * bucket through their first-6-UTF-8-bytes as an integer (≤ 2^48, so
  * exact in double; zero-padded right so a shorter string sorts before
  * its extensions — byte-wise, exactly Spark's string order); the
  * in-bucket sort uses the full string, so common-prefix-heavy data
  * degrades bucket balance (ties share a bucket), never correctness.
  *
  * Cost at 100 TB: two scans of the fact (stats+buckets, then rank)
  * and ONE keyed exchange on (part, bucket) — vs one exchange feeding
  * a sort that cannot finish.
  */
object ScalableRank {

  private val Reserved = Seq("__rank_b", "__rank_vmin",
    "__rank_vmax", "__rank_cum", "__rank_bn", "__rank_np", "__rank_bh")

  /** Eagerly release a localCheckpoint's blocks (the TrainPipeline
    * discipline — GC-driven cleanup would let per-call aggregate-sized
    * frames pile up in the block manager across repeated callers;
    * fallback: no-op, the ContextCleaner gets unreachable ones). */
  private[graft] def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(false))

  /** Smallest power of two ≥ `n` — the equi-depth heap descent needs a
    * perfect tree, and the auto probe must not turn a previously-valid
    * bucket count into a data-dependent require() failure that fires
    * only when the input happens to be skewed. */
  private[operators] def nextPow2(n: Int): Int =
    if ((n & (n - 1)) == 0) n else Integer.highestOneBit(n) << 1

  /** Breadth-first (implicit-binary-tree) reorder of a SORTED boundary
    * array, so [[heapSearch]] can descend with computed `element_at`
    * indexes instead of a per-row linear scan. Length must be
    * 2^d − 1 (a perfect tree — `buckets` a power of two). */
  private[operators] def heapify(sorted: Seq[Double]): Seq[Double] = {
    val n = sorted.length
    require(((n + 1) & n) == 0, s"boundary count $n is not 2^d - 1")
    val heap = new Array[Double](n)
    var i = 0
    def visit(node: Int): Unit = if (node <= n) {
      visit(2 * node)
      heap(node - 1) = sorted(i); i += 1
      visit(2 * node + 1)
    }
    visit(1)
    heap.toSeq
  }

  /** Branch-free heap descent: after log2(`buckets`) levels of
    * `idx = 2·idx + [v ≥ heap(idx)]` the leaf index minus `buckets` is
    * exactly |{boundaries ≤ v}| — the 0-based equi-depth bucket.
    * Order-consistent by construction: v ≤ w ⇒ bucket(v) ≤ bucket(w)
    * whatever the boundary quality.
    *
    * The fold runs as a runtime `aggregate()` HOF over a
    * log2(buckets)-element sequence, NOT as a syntactically unrolled
    * expression chain: each unrolled level would reference the prior
    * index twice (`2·idx` and `heap(idx)`), so inlining doubles the
    * tree per level — 2^levels evaluations per row (measured: the
    * unrolled form was SLOWER than the collapsed equi-width bucket it
    * replaces). The HOF binds the accumulator once per step —
    * log2(buckets) comparisons per row, flat. */
  private[operators] def heapSearch(bh: Column, v: Column, buckets: Int): Column = {
    require(buckets >= 2 && (buckets & (buckets - 1)) == 0,
      s"equi-depth bucketing needs a power-of-two bucket count, got $buckets")
    val levels = java.lang.Integer.numberOfTrailingZeros(buckets)
    aggregate(
      sequence(lit(1), lit(levels)),
      lit(1L),
      (idx, _) => idx * 2 +
        when(v >= element_at(bh, idx.cast("int")), 1L).otherwise(0L)
    ) - lit(buckets.toLong)
  }

  /** Ceiling on |partition keys| × `buckets` for the broadcast stats /
    * offsets frames. 8M cells ≈ low hundreds of MB at worst-case row
    * width — far inside the broadcast range while catching the
    * misuse (ranking within millions of small groups) three orders of
    * magnitude before the driver would OOM. At the default 4096
    * buckets this admits ~2000 partition keys; lower `buckets` to
    * admit more, or use the window form — small groups are exactly
    * its regime. */
  val MaxBroadcastCells: Long = 8L * 1000 * 1000

  /** Estimated-input-bytes threshold above which [[withRowNumberAuto]]
    * picks the bucket shape. Same calibration family as
    * `DistributionValidator.AutoBucketLocateBytes`: SCALING.md's
    * `ScalableRank` one-global-ordering rows measured the window form
    * at exponent ≈1.14 (190 s for a 60M-row
    * single-task ordering, 1 of 32 cores busy) vs bucket-rank ≈0.51
    * (15.4 s), with the window form ahead below ~1.5M rows/group
    * (≈25 MB of (value, key) pairs). 32 MB errs low on purpose:
    * picking buckets early costs a bounded small-constant factor,
    * picking the window late costs an unbounded single-task sort. */
  val AutoBucketRankBytes: Long = 32L << 20

  /** The per-frame auto decision — Catalyst's plan-size estimate,
    * never a counting job (a count would pre-scan the frame and double
    * the rank's cost). The estimate overstates pruned scans, which
    * only errs toward the bounded-penalty bucket shape. */
  def autoBucketRank(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.stats.sizeInBytes >
      BigInt(AutoBucketRankBytes)

  /** Order-consistent double proxy of the order key: numeric columns
    * cast (exact for the bucketing role — ties only merge buckets);
    * strings take their first 6 UTF-8 bytes zero-padded as an integer
    * (byte-wise prefix order == Spark's UTF8String order; < 2^53 so
    * exact in double). */
  private def orderProxy(df: DataFrame, valueCol: String): Column =
    if (df.schema(valueCol).dataType == StringType)
      conv(hex(rpad(encode(col(valueCol), "UTF-8"), 6,
        Array[Byte](0))), 16, 10).cast("double")
    else col(valueCol).cast("double")

  /** Adds `rnCol` — the 1-based row number per `partCols` group under
    * ORDER BY (`valueCol`, `tieCols`…) — and `nCol`, the group row
    * count, with no group-sized sort anywhere. `valueCol` must be
    * numeric or string, and non-null (null or NaN fails loudly — they
    * have no place in a total order); `tieCols` must complete a total
    * order within equal values for `rnCol` to be deterministic. Empty
    * `partCols` ranks the whole frame (the global-band case). Fails
    * loudly — inside the plan, before any broadcast builds — when the
    * partition-key count × `buckets` exceeds `maxBroadcastCells`:
    * that regime belongs to [[windowRowNumber]]. */
  def withRowNumber(
      df: DataFrame,
      partCols: Seq[String],
      valueCol: String,
      tieCols: Seq[String],
      buckets: Int = 4096,
      rnCol: String = "rn",
      nCol: String = "n",
      maxBroadcastCells: Long = MaxBroadcastCells,
      equiDepth: Boolean = false): DataFrame = {
    checkRankArgs(df, rnCol, nCol, buckets, equiDepth)
    val v = checkedProxy(df, valueCol)
    val stats = statsFrame(df, partCols, v, buckets, nCol, equiDepth,
      maxBroadcastCells)
    latticeFrom(df, stats, partCols, v, valueCol, tieCols, buckets,
      rnCol, equiDepth, offsetsPre = None)
  }

  private def checkRankArgs(df: DataFrame, rnCol: String, nCol: String,
      buckets: Int, equiDepth: Boolean): Unit = {
    require(buckets >= 2, s"need at least 2 buckets, got $buckets")
    if (equiDepth) require((buckets & (buckets - 1)) == 0,
      s"equi-depth bucketing needs a power-of-two bucket count, got $buckets")
    require(rnCol != nCol, s"rnCol and nCol collide: '$rnCol'")
    (Reserved :+ rnCol :+ nCol).foreach(c =>
      require(!df.columns.contains(c),
        s"input already contains reserved/output column '$c'"))
  }

  private def checkedProxy(df: DataFrame, valueCol: String): Column = {
    val v0 = orderProxy(df, valueCol)
    when(v0.isNull || isnan(v0),
      raise_error(lit(s"null/NaN in rank value column '$valueCol' — " +
        "a total order cannot place it; filter first"))).otherwise(v0)
  }

  /** The stats pass: count/min/max (+ heap-ordered equi-depth
    * boundaries) per partition key, with the broadcast-cell guard
    * plan-embedded.
    *
    * The global (no-partition) band takes its own branch: a constant
    * grouping key would be constant-folded into no-key joins
    * (BroadcastNestedLoop over the DATA) and unpartitioned windows —
    * the exact shapes this operator exists to avoid. Here only the
    * 1-row stats cross-join and the ≤`buckets`-row offsets window are
    * global; the data-sized window stays keyed on the bucket.
    * equi-depth mode adds per-group quantile boundaries to the SAME
    * combinable stats aggregate (percentile_approx), heap-ordered for
    * the per-row descent — the remedy for adversarial value skew,
    * where equi-width concentrates nearly all rows in one bucket and
    * the scale guarantee (never the answer) degrades. */
  private def statsFrame(df: DataFrame, partCols: Seq[String], v: Column,
      buckets: Int, nCol: String, equiDepth: Boolean,
      maxBroadcastCells: Long): DataFrame = {
    val heapifyUdf = udf((b: Seq[Double]) => heapify(b))
    val baseAggs = Seq(count(lit(1)).as(nCol),
      min(v).as("__rank_vmin"), max(v).as("__rank_vmax"))
    val aggs = if (!equiDepth) baseAggs else baseAggs :+
      heapifyUdf(percentile_approx(v,
        lit((1 until buckets).map(_.toDouble / buckets).toArray),
        lit(10000))).as("__rank_bh")
    val stats0 =
      if (partCols.isEmpty) df.agg(aggs.head, aggs.tail: _*)
      else df.groupBy(partCols.map(col): _*).agg(aggs.head, aggs.tail: _*)

    // the enforced broadcast contract: count the partition keys over
    // the STATS frame (one row per key — a single-task window over the
    // aggregate, never the data) and refuse, with the remedy named,
    // before the offsets broadcast could grow to |parts|·buckets rows.
    // The check rides a filter so column pruning cannot elide it; the
    // global branch is 1 key by construction and skips it.
    if (partCols.isEmpty) stats0
    else stats0
      .withColumn("__rank_np",
        count(lit(1)).over(Window.partitionBy()))
      .filter(when(col("__rank_np") * buckets > maxBroadcastCells,
        raise_error(concat(
          lit("high-cardinality partition keys for the bucket-rank " +
            "shape: "), col("__rank_np"),
          lit(s" keys x $buckets buckets exceeds the " +
            s"$maxBroadcastCells-cell broadcast bound for the " +
            "stats/offsets frames - many small groups are the WINDOW " +
            "form's regime (windowRowNumber / withRowNumberAuto), or " +
            "lower `buckets`")))).otherwise(lit(true)))
      .drop("__rank_np")
  }

  /** `df` joined to its stats, with the order-consistent bucket id;
    * single-value groups (span 0) take bucket 0 directly — no 0/0 in
    * sight. Operands are halved BEFORE subtracting so a span crossing
    * the double range (vmax − vmin → Infinity) stays finite — halving
    * is monotone, so bucket order consistency is untouched. */
  private def bucketedFrame(df: DataFrame, stats: DataFrame,
      partCols: Seq[String], v: Column, buckets: Int,
      equiDepth: Boolean): DataFrame = {
    val half = v / 2.0
    val hmin = col("__rank_vmin") / 2.0
    val hmax = col("__rank_vmax") / 2.0
    (if (partCols.isEmpty) df.crossJoin(broadcast(stats))
     else df.join(broadcast(stats), partCols))
      .withColumn("__rank_b",
        when(col("__rank_vmin") === col("__rank_vmax"), lit(0L))
          .otherwise(
            if (equiDepth) heapSearch(col("__rank_bh"), v, buckets)
            else least(
              floor((half - hmin) / (hmax - hmin) * buckets).cast("long"),
              lit(buckets - 1L))))
  }

  /** Per-(part, bucket) counts and the cumulative count BELOW each
    * bucket: windows over ≤`buckets` rows per group — aggregate-sized,
    * never data-sized (the global case's single partition holds at
    * most `buckets` rows by construction). `keepBn` retains the raw
    * bucket count for the skew probe. */
  private def offsetsOf(bucketed: DataFrame, partCols: Seq[String],
      keepBn: Boolean = false): DataFrame = {
    val cumW = (if (partCols.isEmpty) Window.partitionBy()
                else Window.partitionBy(partCols.map(col): _*))
      .orderBy(col("__rank_b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val keep = partCols :+ "__rank_b" :+ "__rank_cum"
    bucketed.groupBy((partCols :+ "__rank_b").map(col): _*)
      .agg(count(lit(1)).as("__rank_bn"))
      .withColumn("__rank_cum",
        coalesce(sum(col("__rank_bn")).over(cumW), lit(0L)))
      .select((if (keepBn) keep :+ "__rank_bn" else keep).map(col): _*)
  }

  /** The final lattice: the ONE data exchange, hashed on (part,
    * bucket); each task sorts only its bucket slice — 1/`buckets` of
    * the group. The offsets broadcast is bounded by the stats guard
    * (offsets rows ≤ |parts| × buckets ≤ maxBroadcastCells by
    * construction). `offsetsPre` threads a pre-materialized offsets
    * frame (the skew probe's — already computed, aggregate-sized) so
    * the clean probe path costs no extra pass. */
  private def latticeFrom(df: DataFrame, stats: DataFrame,
      partCols: Seq[String], v: Column, valueCol: String,
      tieCols: Seq[String], buckets: Int, rnCol: String,
      equiDepth: Boolean, offsetsPre: Option[DataFrame]): DataFrame = {
    val bucketed = bucketedFrame(df, stats, partCols, v, buckets, equiDepth)
    val offsets = offsetsPre.getOrElse(offsetsOf(bucketed, partCols))
    val localW = Window.partitionBy((partCols :+ "__rank_b").map(col): _*)
      .orderBy(col(valueCol) +: tieCols.map(col): _*)
    bucketed
      .join(broadcast(offsets), partCols :+ "__rank_b")
      .withColumn(rnCol,
        col("__rank_cum") + row_number().over(localW).cast("long"))
      .drop("__rank_b", "__rank_vmin", "__rank_vmax", "__rank_cum",
        "__rank_bh")
  }

  /** The window formulation of the same contract — `rnCol` =
    * row_number per `partCols` ordered by (`valueCol`, `tieCols`…),
    * `nCol` = group count, same loud null/NaN refusal. One exchange on
    * `partCols` and a per-partition sort: the RIGHT shape below the
    * ~1.5M-rows/group crossover (SCALING.md, `ScalableRank` one
    * global ordering), where the
    * bucket lattice's fixed stage cost is pure overhead. Empty
    * `partCols` sorts the whole frame in one task — small frames
    * only. */
  def windowRowNumber(
      df: DataFrame,
      partCols: Seq[String],
      valueCol: String,
      tieCols: Seq[String],
      rnCol: String = "rn",
      nCol: String = "n"): DataFrame = {
    require(rnCol != nCol, s"rnCol and nCol collide: '$rnCol'")
    Seq(rnCol, nCol).foreach(c =>
      require(!df.columns.contains(c),
        s"input already contains output column '$c'"))
    val v0 = orderProxy(df, valueCol)
    val parts = partCols.map(col)
    val w = Window.partitionBy(parts: _*)
      .orderBy(col(valueCol) +: tieCols.map(col): _*)
    df
      .filter(when(v0.isNull || isnan(v0),
        raise_error(lit(s"null/NaN in rank value column '$valueCol' — " +
          "a total order cannot place it; filter first")))
        .otherwise(lit(true)))
      .withColumn(rnCol, row_number().over(w).cast("long"))
      .withColumn(nCol, count(lit(1)).over(Window.partitionBy(parts: _*)))
  }

  /** Largest tolerated max-bucket share among span>0 groups before
    * [[withRowNumberAuto]]'s probe switches the bucket shape onto
    * equi-depth boundaries. A balanced profile sits near 1/`buckets`
    * (~0.00024 at the default 4096); the collapsed profile of
    * SCALING.md's `ScalableRank` skew rows (2.4–3.8× slower than
    * equi-depth at 20M/60M rows) reads ~1.0. Half is the regime
    * boundary where "one bucket's sort" is no longer meaningfully
    * smaller than "the group's sort" — mild skew below it costs a
    * bounded constant, so the probe only reshapes the genuinely
    * pathological profile. */
  val SkewShareThreshold = 0.5

  /** Shape-picking face: the window form below [[AutoBucketRankBytes]]
    * (per Catalyst's estimate of `df`), the bucket form above it —
    * `DistributionValidator.autoBucketLocate`'s exact discipline
    * applied to rank. Pass `bucketRank = Some(...)` to force one shape
    * (the SCALING.md contrast measurements do). Answers are identical
    * everywhere (RankParitySpec, RankSkewAutoSpec); only the plan
    * changes.
    *
    * Round 14: the bucket shape SELF-DEFENDS against adversarial value
    * skew. Unless `equiDepth` is already forced, it materializes the
    * equi-width stats and offsets frames it needs ANYWAY
    * (aggregate-sized, ≤ [[MaxBroadcastCells]] cells by the guard —
    * eager localCheckpoints, so the probe's two passes over the data
    * are the same two the equi-width lattice performs) and reads the
    * max bucket share among span>0 groups off the offsets. A clean
    * profile (share ≤ [[SkewShareThreshold]]) threads the
    * already-computed frames into the final lattice — SAME total scan
    * count, same plan shape as before the probe existed; a collapsed
    * profile pays one extra stats pass (percentile_approx boundaries)
    * and ranks equi-depth, turning the silent single-task-sort
    * degradation into a measured 2.4–3.8× win (SCALING.md). Ties the
    * probe cannot fix (one VALUE holding a bucket) may recompute
    * boundaries without benefit — bounded cost, answers identical.
    *
    * EAGER contract (round 15, explicit): with the probe on, building
    * the bucket-branch frame runs Spark jobs at DAG-BUILD time (the
    * localCheckpoints of the stats and offsets frames plus the
    * aggregate-sized share read) — so the null/NaN refusal and the
    * broadcast-cell bound raise when the frame is BUILT, not when it
    * is first acted on. On the switch branch the probe's checkpoint
    * blocks are released immediately (they are not in the returned
    * plan); on the clean branch they ARE the returned plan's inputs —
    * they live until the plan's RDDs go unreachable (ContextCleaner).
    * Hot per-batch callers that build many of these frames (the
    * IvmTopK fold) pass `skewProbe = false`: the pre-probe lazy
    * equi-width lattice, zero build-time jobs, no checkpoint
    * accumulation — answers identical, only the adversarial-skew
    * balance defense is waived. The switch rounds a non-power-of-two
    * `buckets` UP to the next power of two (the heap descent needs a
    * perfect tree) instead of letting a previously-valid count become
    * a data-dependent failure — at most 2× the guarded broadcast
    * cells, still raised loudly if that crosses the bound. */
  def withRowNumberAuto(
      df: DataFrame,
      partCols: Seq[String],
      valueCol: String,
      tieCols: Seq[String],
      buckets: Int = 4096,
      rnCol: String = "rn",
      nCol: String = "n",
      bucketRank: Option[Boolean] = None,
      equiDepth: Boolean = false,
      skewProbe: Boolean = true): DataFrame =
    if (!bucketRank.getOrElse(autoBucketRank(df)))
      windowRowNumber(df, partCols, valueCol, tieCols, rnCol, nCol)
    else if (equiDepth)
      withRowNumber(df, partCols, valueCol, tieCols, buckets, rnCol, nCol,
        equiDepth = true)
    else if (!skewProbe)
      withRowNumber(df, partCols, valueCol, tieCols, buckets, rnCol, nCol)
    else {
      checkRankArgs(df, rnCol, nCol, buckets, equiDepth = false)
      val v = checkedProxy(df, valueCol)
      val stats = statsFrame(df, partCols, v, buckets, nCol,
        equiDepth = false, MaxBroadcastCells).localCheckpoint()
      val bucketed = bucketedFrame(df, stats, partCols, v, buckets,
        equiDepth = false)
      val offsets = offsetsOf(bucketed, partCols, keepBn = true)
        .localCheckpoint()
      // max bucket share among span>0 groups (span-0 groups hold all
      // rows in bucket 0 BY DESIGN — the constant short-circuit — and
      // equi-depth could not spread pure ties anyway); aggregate-sized
      // arithmetic over the two materialized frames, no data touched
      val spanned = stats.filter(col("__rank_vmin") =!= col("__rank_vmax"))
        .select((partCols :+ nCol).map(col): _*)
      val shareRow =
        (if (partCols.isEmpty) offsets.crossJoin(broadcast(spanned))
         else offsets.join(broadcast(spanned), partCols))
          .agg(max(col("__rank_bn").cast("double") / col(nCol)))
          .head()
      val maxShare = if (shareRow.isNullAt(0)) 0.0 else shareRow.getDouble(0)
      if (maxShare > SkewShareThreshold) {
        // the equi-depth rebuild reads neither probe frame — release
        // their checkpoint blocks now instead of waiting out the GC
        release(stats); release(offsets)
        withRowNumber(df, partCols, valueCol, tieCols, nextPow2(buckets),
          rnCol, nCol, equiDepth = true)
      } else
        latticeFrom(df, stats, partCols, v, valueCol, tieCols, buckets,
          rnCol, equiDepth = false,
          offsetsPre = Some(offsets.drop("__rank_bn")))
    }

  /** Tie-aware SQL ranks for ORDER BY `valueCol` alone (peers = equal
    * values): adds `rank` (= min rn over peers — the window `rank()`)
    * and `peer_max` (= max rn over peers — the numerator of
    * `cume_dist`) via a keyed aggregate + join on (part, value), never
    * a peer-group-sized window. `rnCol`'s tie order stays whatever
    * `tieCols` said; rank/peer_max are tie-order-independent. */
  def withTiedRanks(
      df: DataFrame,
      partCols: Seq[String],
      valueCol: String,
      tieCols: Seq[String],
      buckets: Int = 4096,
      equiDepth: Boolean = false): DataFrame = {
    Seq("rank", "peer_max").foreach(c =>
      require(!df.columns.contains(c),
        s"input already contains output column '$c'"))
    val base = withRowNumber(df, partCols, valueCol, tieCols, buckets,
      equiDepth = equiDepth)
    val keys = partCols :+ valueCol
    val peers = base.groupBy(keys.map(col): _*)
      .agg(min(col("rn")).as("rank"), max(col("rn")).as("peer_max"))
    base.join(peers, keys)
  }

  /** SQL NTILE(k) closed-form from (rn, n): the first `n mod k` tiles
    * carry `n div k + 1` rows, the rest `n div k`. Exact-in-double
    * long arithmetic (see class note on the 2^53 bound). */
  def ntileOf(rn: Column, n: Column, k: Int): Column = {
    require(k >= 1, s"NTILE needs k >= 1, got $k")
    val q = floor(n.cast("double") / k).cast("long")
    val r = n - q * k
    when(rn <= (q + 1) * r,
      floor((rn - 1).cast("double") / (q + 1)).cast("long") + 1)
      .otherwise(
        floor((rn - r - 1).cast("double") / greatest(q, lit(1L))).cast("long") + 1)
  }

  /** SQL PERCENT_RANK from (rank, n): (rank − 1)/(n − 1); a single-row
    * partition reads 0.0 per the standard. Integer-ratio IEEE double —
    * bit-identical to any engine's window form. */
  def percentRankOf(rank: Column, n: Column): Column =
    when(n === 1, lit(0.0))
      .otherwise((rank - 1).cast("double") / (n - 1).cast("double"))

  /** SQL CUME_DIST from (peerMax, n) where peerMax is the highest rn
    * among the row's peers (= rn itself under a total order). */
  def cumeDistOf(peerMax: Column, n: Column): Column =
    peerMax.cast("double") / n.cast("double")

  /** One NTILE(k) band over the whole frame ordered by (`valueCol`,
    * `tieCols`) — the rfm1 composition: rank distributed, band
    * closed-form, helper columns dropped. Shape-picks like
    * [[withRowNumberAuto]]: a small frame bands through one window
    * pass, a large one through the bucket lattice. */
  def ntileBand(
      df: DataFrame,
      valueCol: String,
      tieCols: Seq[String],
      k: Int,
      outCol: String,
      buckets: Int = 4096,
      bucketRank: Option[Boolean] = None,
      equiDepth: Boolean = false): DataFrame =
    withRowNumberAuto(df, Nil, valueCol, tieCols, buckets,
      rnCol = "__rank_rn", nCol = "__rank_n", bucketRank = bucketRank,
      equiDepth = equiDepth)
      .withColumn(outCol, ntileOf(col("__rank_rn"), col("__rank_n"), k))
      .drop("__rank_rn", "__rank_n")
}
