package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.IvmFold

/** Streaming IVM for NON-invertible aggregates — the `ivm2` fold under
  * a CDC stream: the maintained per-group (count, exact sum, min, max)
  * absorbs each micro-batch as `stored ⊕ delta`, except that a delete
  * breaking a stored extremum re-aggregates ONLY its group
  * ([[IvmFold.foldMinMax]]). The re-agg source is a maintained ROWS
  * store — keyed surviving rows, updated per batch by the applyCdc
  * convention (updates travel as delete+insert pairs; delete images
  * carry the full row) — read only for the delete rows' buckets, so an
  * unaffected 100-TB store is never re-scanned... the affected groups
  * are, which is the price of non-invertibility (min/max have no
  * subtraction).
  *
  * Storage is TWO [[BucketStore]] families under `<dir>`: `rows`
  * (surviving rows, bucketed by the group-hash — the round-13 keyed
  * layout) and `agg` (the aggregate, bucketed the same way). Round 15:
  * both write through the store's manifest-linked PARTITIONED UPSERT —
  * a batch writes only its delta's buckets plus a pointer manifest per
  * family, so bytes written per batch are ∝ |delta|, never ∝ |store|
  * (the full-rows-rewrite "test-scale simplification" is gone). Commit
  * = both family markers, recompute-from-latest-committed on
  * redelivery — the family's exactly-once discipline without a WAL,
  * unchanged. The re-agg leg still reads the rows snapshot just
  * WRITTEN (through the new batch's own manifest), so the aggregate
  * provably derives from the bytes the next batch will read; its read
  * prunes to the delete rows' buckets (affected groups ⊆ delete groups
  * ⊆ delete buckets — a batch-bounded driver list), and insert-only
  * batches read ZERO store files (SCALING.md's bucket-partitioned
  * `foldMinMax` row measures it).
  *
  * Contract (StreamingIvmMinMaxSpec): after batch N commits,
  * [[readAgg]] equals the full min/max recompute over every surviving
  * delivered row; fully-deleted groups disappear; a delete whose row
  * the store never held, an insert colliding with a live key (exactly
  * — via the store's pk index, even when the colliding row lives in
  * another group bucket), or an op outside {I, D} fails the batch
  * loudly BEFORE anything commits.
  */
object StreamingIvmMinMax {

  /** Group-hash partitions of the rows store. 256 keeps directory
    * counts sane at test scale while pruning a typical delta (tens of
    * affected groups) to a few percent of the store's files; size it
    * so a bucket's rows stay a bounded scan at the deployment's
    * volume. */
  val StoreBuckets: Int = 256

  private val Families = Seq("rows", "agg")

  private def committed(spark: SparkSession, dir: String): Seq[Long] =
    BucketStore.committedAll(spark, dir, Families)

  /** Fold ONE static change batch (keyCol, groupCols…, opCol,
    * valueCol) into the maintained store as micro-batch `batchId`;
    * returns the group count of the TOUCHED slice after the fold (-1
    * for an empty batch) — `fullCount = true` opts into the whole
    * store's group count, a store-proportional read per batch (r16,
    * the ADVICE read-cost item; same toggle on every face). */
  def applyBatch(
      batch: DataFrame, batchId: Long, keyCol: String,
      groupCols: Seq[String], opCol: String, valueCol: String,
      dir: String, storeBuckets: Int = StoreBuckets,
      fullCount: Boolean = false): Long = {
    val spark = batch.sparkSession
    if (batch.isEmpty) return -1L
    Seq("__g_bucket", "__k_bucket", "__op").foreach(c =>
      require(!batch.columns.contains(c),
        s"change batch already contains reserved column '$c'"))
    val bad = batch.filter(col(opCol).isNull ||
      (col(opCol) =!= "I" && col(opCol) =!= "D")).limit(1).count()
    require(bad == 0L,
      s"change batch $batchId has rows with op outside {I, D} (or NULL) " +
        s"in '$opCol' — refusing to fold a malformed delta into the view")

    val prevId = committed(spark, dir).filter(_ < batchId).lastOption
    val dataCols = batch.columns.filterNot(_ == opCol).toSeq
    val delta = batch.select(dataCols.map(col) :+ col(opCol).as("__op"): _*)

    // CDC validation (delete images, pk collisions via the key index,
    // duplicate inserts) — eagerly, before any write
    val prepared = BucketStore.prepareCdcUpsert(delta, dataCols,
      Seq(keyCol), groupCols, dir, "rows", batchId, prevId, storeBuckets,
      "rows")
    BucketStore.writePrepared(spark, dir, batchId, prevId, prepared)

    // the fold's re-agg leg reads the rows just WRITTEN — through the
    // new batch's own manifest, pruned to the delete rows' buckets
    // (affected groups ⊆ delete groups, so their buckets are a subset
    // of this batch-bounded list)
    val delBuckets = BucketStore.bucketsOf(
      batch.filter(col(opCol) === "D"), groupCols, storeBuckets)
    val rowsTemplate = batch.filter(lit(false))
      .select(dataCols.map(col): _*)
    val rowsForFold = BucketStore.readBuckets(spark, dir, "rows",
        Some(batchId), delBuckets, rowsTemplate)
      .select(dataCols.map(col): _*)

    // the aggregate upserts by the same group buckets the delta
    // touched: foldMinMax only needs the stored rows of the delta's
    // groups (untouched groups stay linked, unread and unwritten)
    val touchedAgg = BucketStore.bucketsOf(delta, groupCols, storeBuckets)
    val v = col(valueCol)
    val aggTemplate = batch.filter(lit(false))
      .select(groupCols.map(col) :+ lit(0L).as("n") :+
        lit(0).cast("decimal(28,4)").as("s") :+
        v.as("mn") :+ v.as("mx"): _*)
    val prevAggSlice = BucketStore.readBuckets(spark, dir, "agg", prevId,
        touchedAgg, aggTemplate)
      .select((groupCols ++ Seq("n", "s", "mn", "mx")).map(col): _*)
    val agg1 = IvmFold.foldMinMax(Some(prevAggSlice),
      batch.select((groupCols.map(col) :+ col(opCol)) :+ v: _*),
      rowsForFold.select(groupCols.map(col) :+ v: _*),
      groupCols, opCol, valueCol)
    BucketStore.upsert(spark, dir, "agg", batchId, prevId,
      agg1.withColumn("__g_bucket",
        BucketStore.bucketize(groupCols, storeBuckets)),
      touchedAgg)
    Families.foreach(f => BucketStore.commit(spark, dir, f, batchId))
    val keep = prevId.toSeq :+ batchId
    Families.foreach(f => BucketStore.gc(spark, dir, f, keep))
    if (fullCount)
      BucketStore.readAll(spark, dir, "agg", Some(batchId), aggTemplate)
        .count()
    else // just-written touched buckets only — delta-proportional
      BucketStore.readBuckets(spark, dir, "agg", Some(batchId), touchedAgg,
        aggTemplate).count()
  }

  /** Wire the per-batch fold onto a STREAMING change frame; `onBatch`
    * observes (batchId, groupCount). Call `.start()`. */
  def applyStream(
      changes: DataFrame, keyCol: String, groupCols: Seq[String],
      opCol: String, valueCol: String, dir: String,
      onBatch: (Long, Long) => Unit = (_, _) => ()): DataStreamWriter[Row] = {
    require(changes.isStreaming, "applyStream expects a streaming DataFrame " +
      "(use applyBatch for static deltas)")
    changes.writeStream.foreachBatch { (b: Dataset[Row], id: Long) =>
      onBatch(id,
        applyBatch(b.toDF(), id, keyCol, groupCols, opCol, valueCol, dir))
    }
  }

  def hasCommitted(spark: SparkSession, dir: String): Boolean =
    committed(spark, dir).nonEmpty

  /** Collapse the manifests' link fan-out by rewriting every live
    * bucket of every family into one batch directory — see
    * [[BucketStore.compactAll]]; run between folds at a fresh id. */
  def compact(spark: SparkSession, dir: String, batchId: Long): Unit =
    BucketStore.compactAll(spark, dir, Families, batchId)

  /** The maintained aggregate as of the latest committed batch:
    * (groupCols…, n, s, mn, mx) — s the exact decimal sum. */
  def readAgg(spark: SparkSession, dir: String): DataFrame = {
    val snaps = committed(spark, dir)
    require(snaps.nonEmpty, s"no committed aggregate under $dir")
    BucketStore.readAllNonEmpty(spark, dir, "agg", snaps.last)
      .drop("__g_bucket")
  }

  /** The surviving rows as of the latest committed batch (the
    * `__g_bucket` partition key stays internal). */
  def readRows(spark: SparkSession, dir: String): DataFrame = {
    val snaps = committed(spark, dir)
    require(snaps.nonEmpty, s"no committed rows store under $dir")
    BucketStore.readAllNonEmpty(spark, dir, "rows", snaps.last)
      .drop("__g_bucket")
  }
}
