package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

import java.nio.charset.StandardCharsets

/** Manifest-linked bucket store — BATCH-PROPORTIONAL snapshot writes
  * for the streaming IVM families (round 15, the verdict's #1).
  *
  * The r13/r14 layout wrote every snapshot family IN FULL per
  * micro-batch: compute was delta-proportional and reads were
  * bucket-pruned, but the store-sized write per batch was the one
  * remaining 100-TB scale-killer (self-documented in every
  * StreamingIvm* face as "partitioned upsert in production"). This is
  * that upsert, kept inside the family's exactly-once discipline:
  *
  * Layout per family under `<dir>/<family>/batch=<id>/`:
  *   - `data/__g_bucket=<b>/…parquet` — ONLY the buckets the batch
  *     touched (post-delta state of those buckets);
  *   - `keys/__k_bucket=<b>/…parquet` — the pk→existence index slice
  *     for the touched PK buckets (families with a CDC key
  *     discipline);
  *   - `manifest` / `keys_manifest` — bucket → batch-id pointers for
  *     EVERY live bucket: touched buckets point at this batch,
  *     untouched buckets inherit the previous manifest's pointer
  *     verbatim (the [[graft.operators.ShardManifest]] pointer-WAL
  *     discipline applied to snapshots);
  *   - `_SUCCESS` — the commit marker, written LAST.
  *
  * Bytes written per batch are therefore ∝ |delta| (touched-bucket
  * data + a ≤`storeBuckets`-line manifest), never ∝ |store|; a batch
  * that does not touch a family writes that family's manifest + marker
  * only. Reads resolve the manifest: a full read unions the (≤
  * `storeBuckets`, in practice few) distinct pointed batch
  * directories, each pruned to the buckets that live there; a pruned
  * read touches only the requested buckets' files — the fold legs'
  * existing bucket-prune contract, now enforced by layout.
  *
  * Exactly-once: a batch is committed only when every family carries
  * `_SUCCESS`; every fold recomputes from the latest COMMITTED batch
  * below its own id, so a crash anywhere (mid-data, mid-manifest,
  * between families) makes redelivery read the same input and
  * overwrite identical bytes. GC keeps the batch directories
  * referenced by the last TWO committed manifests (redelivery of the
  * newest committed batch replays against the previous one) and
  * deletes the rest.
  *
  * CDC exactness note: the per-side key discipline (delete images
  * match, live-key inserts refused, duplicate inserts refused) used to
  * scan the FULL store; on the upsert layout the delete-image and
  * duplicate checks stay exact on the touched-bucket slice (a delete
  * image determines its own bucket — the bucket key is a function of
  * the image's columns), but an insert colliding with a pk that lives
  * in a DIFFERENT data bucket (an upstream CDC bug: update without
  * delete, join key changed) would be invisible to a slice check. The
  * `keys/` index closes that hole exactly and delta-proportionally:
  * it maintains every live pk bucketed by PK hash, so the collide
  * check reads only the inserted pks' index buckets.
  *
  * Round 16 hardening:
  *  - **Redelivery drops the stale marker first.** A redelivered batch
  *    (at-least-once foreachBatch) rewrites a batch directory that may
  *    already carry `_SUCCESS`; the first write for the id now deletes
  *    that marker BEFORE touching anything, so a crash mid-rewrite
  *    reads as uncommitted and recovery falls back to the previous
  *    committed id — the old whole-directory layout got this for free
  *    from Spark's overwrite, the upsert layout has to do it itself.
  *  - **Auto-compaction inside the fold.** A long-lived stream's cold
  *    buckets otherwise accumulate manifest links to ever-older batch
  *    dirs (full reads union one pruned scan per link). When a write
  *    would leave more than `maxLinks` distinct pointed batches, the
  *    fold ABSORBS the untouched live buckets into its own batch
  *    directory — a full rewrite, amortized O(store/maxLinks-ish),
  *    under the SAME batch id and commit discipline, so exactly-once
  *    and redelivery determinism are untouched and the separate-id
  *    hazard of out-of-band [[compactAll]] (stream checkpoint ids are
  *    consecutive and can collide with or stay below a side-channel
  *    compaction id) never arises. [[compactAll]] remains for manual
  *    one-shot maintenance.
  *  - **GC keeps the future.** [[gc]] additionally retains every
  *    COMMITTED id ≥ max(keepIds) (and everything those manifests
  *    reference) — an out-of-band compaction committed above the
  *    stream's current id can no longer be deleted by the next fold's
  *    keep-two window while reads still resolve it.
  *  - **Committed-but-empty is readable.** The first write of each
  *    (family, sub) persists a `schema0_<sub>` stub (an empty parquet
  *    carrying the layout's schema), so [[readAllNonEmpty]] on a view
  *    whose every row was legitimately deleted returns an empty frame
  *    instead of refusing — "never committed" still raises.
  */
object BucketStore {

  /** Default bound on a family manifest's distinct pointed batch
    * directories before a fold absorbs the untouched buckets into its
    * own batch dir (in-fold auto-compaction). A full read unions at
    * most this many pruned scans. */
  val DefaultMaxLinks: Int = 16

  /** The shared group-hash bucket expression (the StreamingIvmMinMax
    * convention). */
  def bucketize(keys: Seq[String], storeBuckets: Int): Column =
    pmod(xxhash64(keys.map(col): _*), lit(storeBuckets.toLong)).cast("int")

  private def familyRoot(dir: String, family: String) =
    new HPath(new HPath(dir), family)

  private def batchDir(dir: String, family: String, id: Long) =
    new HPath(familyRoot(dir, family), s"batch=$id")

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new HPath(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** Batch ids of `family` that carry the commit marker. */
  def committedIn(spark: SparkSession, dir: String, family: String): Set[Long] = {
    val root = familyRoot(dir, family)
    val fs = fsOf(spark, dir)
    if (!fs.exists(root)) Set.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .filter(s => fs.exists(new HPath(s.getPath, "_SUCCESS")))
      .map(_.getPath.getName.stripPrefix("batch=").toLong).toSet
  }

  /** Batch ids committed across ALL `families` (ascending). */
  def committedAll(spark: SparkSession, dir: String,
      families: Seq[String]): Seq[Long] =
    families.map(committedIn(spark, dir, _)).reduce(_ & _).toSeq.sorted

  // ---- manifests ---------------------------------------------------

  private def writeManifest(fs: FileSystem, path: HPath,
      entries: Map[Int, Long]): Unit = {
    // deterministic bytes (sorted) so a redelivered batch overwrites
    // identical content
    val body = entries.toSeq.sorted
      .map { case (b, id) => s"$b $id" }.mkString("", "\n", "\n")
    val out = fs.create(path, true)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  private def readManifestFile(fs: FileSystem, path: HPath): Map[Int, Long] = {
    if (!fs.exists(path)) return Map.empty
    val in = fs.open(path)
    val body = try {
      val buf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](8192)
      Iterator.continually(in.read(tmp)).takeWhile(_ > 0)
        .foreach(n => buf.write(tmp, 0, n))
      new String(buf.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
    body.split("\n").iterator.map(_.trim).filter(_.nonEmpty).map { line =>
      val Array(b, id) = line.split(" ")
      b.toInt -> id.toLong
    }.toMap
  }

  /** The bucket → batch-id pointer map of `family` as of batch `id`
    * (empty for `id = None` — the empty store). `kind` is "manifest"
    * (data) or "keys_manifest". */
  def readManifest(spark: SparkSession, dir: String, family: String,
      id: Option[Long], kind: String = "manifest"): Map[Int, Long] =
    id.map(i => readManifestFile(fsOf(spark, dir),
      new HPath(batchDir(dir, family, i), kind))).getOrElse(Map.empty)

  // ---- reads -------------------------------------------------------

  private def emptyLike(template: DataFrame, bucketCol: String): DataFrame =
    template.filter(lit(false))
      .withColumn(bucketCol, lit(0).cast("int"))

  private def readVia(spark: SparkSession, dir: String, family: String,
      manifest: Map[Int, Long], buckets: Option[Seq[Int]],
      sub: String, bucketCol: String, template: DataFrame): DataFrame = {
    val wanted = buckets match {
      case Some(bs) => manifest.filter { case (b, _) => bs.contains(b) }
      case None => manifest
    }
    if (wanted.isEmpty) return emptyLike(template, bucketCol)
    // one pruned scan per distinct pointed batch directory — bounded by
    // storeBuckets, in practice a handful (hot buckets live in recent
    // batches, cold ones share old ones). The wanted buckets are read
    // as EXPLICIT partition paths: the manifest already knows exactly
    // which directories exist, so the driver never lists the batch
    // directory's full bucket fan-out (at thousands of buckets that
    // listing dominated a pruned read's cost — measured in round 15's
    // first cut, SCALING.md's `BucketStore` upsert wall row)
    wanted.groupBy(_._2).toSeq.sortBy(_._1).map { case (pid, entries) =>
      val base = new HPath(batchDir(dir, family, pid), sub).toString
      val paths = entries.keys.toSeq.sorted.map(b => s"$base/$bucketCol=$b")
      spark.read.option("basePath", base).parquet(paths: _*)
    }.reduce(_ unionByName _)
  }

  /** Rows of the requested data `buckets` as of snapshot `id` —
    * partition-pruned to exactly those buckets' files. Returns the
    * data columns plus `__g_bucket`; `template` supplies the schema
    * when the store (or the slice) is empty. */
  def readBuckets(spark: SparkSession, dir: String, family: String,
      id: Option[Long], buckets: Seq[Int], template: DataFrame): DataFrame =
    readVia(spark, dir, family, readManifest(spark, dir, family, id),
      Some(buckets), "data", "__g_bucket", template)

  /** The family's full surviving rows as of snapshot `id` (every live
    * bucket, resolved through the manifest). */
  def readAll(spark: SparkSession, dir: String, family: String,
      id: Option[Long], template: DataFrame): DataFrame =
    readVia(spark, dir, family, readManifest(spark, dir, family, id),
      None, "data", "__g_bucket", template)

  /** [[readAll]] for callers with no schema template at hand (the
    * read-side public APIs). A family whose every row has been
    * legitimately deleted returns an EMPTY frame with the layout's
    * schema (spoken by the `_schema_data` stub the first write
    * persisted) — only a family that truly never wrote raises. */
  def readAllNonEmpty(spark: SparkSession, dir: String, family: String,
      id: Long): DataFrame = {
    val manifest = readManifest(spark, dir, family, Some(id))
    if (manifest.isEmpty) {
      val stub = schemaStub(dir, family, "data")
      require(fsOf(spark, dir).exists(stub),
        s"store family '$family' under $dir is empty as of batch $id " +
          "and carries no schema stub — nothing was ever written")
      return spark.read.parquet(stub.toString)
    }
    readVia(spark, dir, family, manifest, None, "data", "__g_bucket",
      // template is never consulted on a non-empty manifest
      spark.emptyDataFrame)
  }

  private def readKeyBuckets(spark: SparkSession, dir: String, family: String,
      id: Option[Long], buckets: Seq[Int], template: DataFrame): DataFrame =
    readVia(spark, dir, family,
      readManifest(spark, dir, family, id, "keys_manifest"),
      Some(buckets), "keys", "__k_bucket", template)

  // ---- writes ------------------------------------------------------

  /** The batch-bounded distinct bucket list of `df` under `keys` — the
    * audited-collect discipline (≤ `storeBuckets` ints). */
  def bucketsOf(df: DataFrame, keys: Seq[String], storeBuckets: Int): Seq[Int] =
    df.select(bucketize(keys, storeBuckets).as("__b")).distinct()
      .collect().map(_.getInt(0)).toSeq

  // NOT underscore-prefixed: Spark's file index treats _-prefixed
  // paths as hidden metadata and would ignore the stub's files
  private def schemaStub(dir: String, family: String, sub: String) =
    new HPath(familyRoot(dir, family), s"schema0_$sub")

  private def writeSlice(spark: SparkSession, dir: String, family: String,
      batchId: Long, prevId: Option[Long], rows: DataFrame,
      touched: Seq[Int], sub: String, bucketCol: String,
      manifestKind: String, maxLinks: Int): Unit = {
    val fs = fsOf(spark, dir)
    val bd = batchDir(dir, family, batchId)
    // REDELIVERY GUARD (r16): if this batch id was already committed
    // (at-least-once redelivery after a post-commit crash upstream),
    // drop its marker BEFORE rewriting anything — a crash mid-rewrite
    // must read as uncommitted, not as a committed batch with partial
    // data under a stale marker
    fs.delete(new HPath(bd, "_SUCCESS"), false)
    // schema stub (once per family/sub lifetime): lets committed-but-
    // empty states speak their schema after every live bucket is gone
    val stub = schemaStub(dir, family, sub)
    if (!fs.exists(stub))
      rows.limit(0).write.mode("overwrite").parquet(stub.toString)
    val prev = readManifest(spark, dir, family, prevId, manifestKind)
    // in-fold auto-compaction: if carrying the untouched links forward
    // would leave more than maxLinks distinct pointed batch dirs,
    // absorb the untouched live buckets into THIS batch's write — same
    // id, same commit discipline, deterministic on redelivery (the
    // decision is a pure function of prev manifest + touched)
    val carried = prev -- touched
    val linksAfter =
      carried.values.toSet.size + (if (touched.nonEmpty) 1 else 0)
    val (allRows, allTouched) =
      if (linksAfter > maxLinks && carried.nonEmpty)
        (rows.unionByName(readVia(spark, dir, family, carried, None, sub,
          bucketCol, rows)), touched ++ carried.keys)
      else (rows, touched)
    val dataPath = new HPath(bd, sub)
    if (allTouched.nonEmpty)
      allRows.repartition(col(bucketCol))
        .write.mode("overwrite").partitionBy(bucketCol)
        .parquet(dataPath.toString)
    // buckets actually PRESENT after the write (a touched bucket whose
    // rows all died leaves no partition dir — it drops off the
    // manifest, which is exactly "empty")
    val present: Set[Int] =
      if (!fs.exists(dataPath)) Set.empty
      else fs.listStatus(dataPath).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$bucketCol="))
        .map(_.getPath.getName.stripPrefix(s"$bucketCol=").toInt).toSet
    val entries = (prev -- allTouched) ++ present.iterator.map(_ -> batchId)
    writeManifest(fs, new HPath(bd, manifestKind), entries)
  }

  /** Upsert the post-delta state of the TOUCHED data buckets (`rows`
    * must hold exactly those buckets' surviving rows, `__g_bucket`
    * included) and link every untouched bucket from `prevId`'s
    * manifest. Does NOT commit — call [[commit]] after every family of
    * the batch has written. */
  def upsert(spark: SparkSession, dir: String, family: String,
      batchId: Long, prevId: Option[Long], rows: DataFrame,
      touched: Seq[Int], maxLinks: Int = DefaultMaxLinks): Unit =
    writeSlice(spark, dir, family, batchId, prevId, rows, touched,
      "data", "__g_bucket", "manifest", maxLinks)

  private def upsertKeys(spark: SparkSession, dir: String, family: String,
      batchId: Long, prevId: Option[Long], keys: DataFrame,
      touched: Seq[Int], maxLinks: Int = DefaultMaxLinks): Unit =
    writeSlice(spark, dir, family, batchId, prevId, keys, touched,
      "keys", "__k_bucket", "keys_manifest", maxLinks)

  /** Write the family's commit marker — the LAST step of its batch. */
  def commit(spark: SparkSession, dir: String, family: String,
      batchId: Long): Unit = {
    val fs = fsOf(spark, dir)
    fs.create(new HPath(batchDir(dir, family, batchId), "_SUCCESS"), true)
      .close()
  }

  /** Rewrite every live bucket of each family into ONE batch directory
    * `batchId`, collapsing the manifest's link fan-out — the
    * maintenance face of the upsert layout. Cold buckets otherwise
    * keep pointing at ever-older batch directories: correct (GC keeps
    * whatever a live manifest references) and bounded by
    * `storeBuckets`, but a full read then unions up to that many
    * pruned scans. Compaction is a rewrite, so it costs store-sized
    * I/O by design — schedule it like any warehouse OPTIMIZE, between
    * folds, at a fresh batch id (folds skip ids freely).
    *
    * Exactly-once: content derives deterministically from the latest
    * committed manifests below `batchId`, the id commits only when all
    * `families` carry markers, and a crash/redelivery overwrites
    * identical bytes — the same discipline as a fold. Old directories
    * fall out of reach once the NEXT fold's GC runs with both its
    * keep-manifests pointing at (or past) the compacted directory. */
  def compactAll(spark: SparkSession, dir: String, families: Seq[String],
      batchId: Long): Unit = {
    val committed = committedAll(spark, dir, families)
    val prior = committed.filter(_ < batchId)
    require(prior.nonEmpty, s"nothing committed under $dir to compact")
    // a compaction id BELOW an existing committed id would leave two
    // divergent "latest" states racing (reads resolve max committed,
    // folds resolve max committed below their own id) — refuse
    require(committed.forall(_ <= batchId),
      s"compaction id $batchId is below an already-committed batch " +
        s"(${committed.max}) — compact at an id above every committed one")
    val prevId = Some(prior.last)
    families.foreach { family =>
      // redelivery guard (r16): same discipline as writeSlice — a
      // replayed compaction must not rewrite under a live marker
      fsOf(spark, dir).delete(
        new HPath(batchDir(dir, family, batchId), "_SUCCESS"), false)
      def rewrite(sub: String, bucketCol: String, kind: String): Unit = {
        val manifest = readManifest(spark, dir, family, prevId, kind)
        val all =
          if (manifest.isEmpty) None
          else Some(readVia(spark, dir, family, manifest, None, sub,
            bucketCol, spark.emptyDataFrame))
        val bd = batchDir(dir, family, batchId)
        val fs = fsOf(spark, dir)
        all.foreach(rows =>
          rows.repartition(col(bucketCol))
            .write.mode("overwrite").partitionBy(bucketCol)
            .parquet(new HPath(bd, sub).toString))
        // every bucket now lives here; dead buckets were already off
        // the manifest
        writeManifest(fs, new HPath(bd, kind),
          manifest.keys.map(_ -> batchId).toMap)
      }
      rewrite("data", "__g_bucket", "manifest")
      rewrite("keys", "__k_bucket", "keys_manifest")
    }
    families.foreach(f => commit(spark, dir, f, batchId))
    families.foreach(f => gc(spark, dir, f, prior.lastOption.toSeq :+ batchId))
  }

  /** Delete batch directories no longer reachable: keep `keepIds`
    * themselves, every COMMITTED id at or above max(keepIds) (an
    * out-of-band compaction committed above the stream's current id
    * must survive the keep-two window — the r16 hardening), plus every
    * batch any kept manifest (data AND keys) still points into. Call
    * with the last two committed ids — redelivery of the newest
    * replays against the previous. */
  def gc(spark: SparkSession, dir: String, family: String,
      keepIds: Seq[Long]): Unit = {
    if (keepIds.isEmpty) return
    val fs = fsOf(spark, dir)
    val root = familyRoot(dir, family)
    if (!fs.exists(root)) return
    val keep = keepIds.toSet ++
      committedIn(spark, dir, family).filter(_ >= keepIds.max)
    val referenced = keep ++ keep.flatMap { id =>
      readManifest(spark, dir, family, Some(id)).values ++
        readManifest(spark, dir, family, Some(id), "keys_manifest").values
    }
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .map(s => s.getPath)
      .filter(p => !referenced.contains(
        p.getName.stripPrefix("batch=").toLong))
      .foreach(p => fs.delete(p, true))
  }

  // ---- the CDC-validated per-side upsert ----------------------------

  /** A validated, not-yet-written per-side upsert: the post-delta rows
    * of the touched data buckets and the post-delta pk-index slice of
    * the touched key buckets. */
  case class Prepared(
      family: String, rows: DataFrame, touched: Seq[Int],
      keys: DataFrame, touchedKeys: Seq[Int])

  /** Validate one side's CDC delta (payload columns + `__op` ∈ {I, D})
    * against the keyed store — the [[StreamingIvmMinMax]] per-side key
    * discipline made delta-proportional — and return the touched-slice
    * post-state for [[writePrepared]]. All three refusals stay EXACT
    * and fire HERE, eagerly, so a batch validates every side before
    * any side writes: delete images must match a stored row
    * byte-for-byte (a delete image determines its own bucket, so the
    * touched slice is sufficient), inserts must not collide with a
    * live pk ANYWHERE (checked against the pk index, pruned to the
    * inserted pks' index buckets — the exactness the slice alone could
    * not give), and a batch may not insert one pk twice. */
  def prepareCdcUpsert(
      sideDelta: DataFrame, dataCols: Seq[String], keyCols: Seq[String],
      bucketKeys: Seq[String], dir: String, family: String,
      batchId: Long, prevId: Option[Long], storeBuckets: Int,
      side: String): Prepared =
    prepareCdcUpsertExpr(sideDelta, dataCols, keyCols,
      bucketize(bucketKeys, storeBuckets), dir, family, batchId, prevId,
      storeBuckets, side)

  /** [[prepareCdcUpsert]] with an ARBITRARY order-/domain-meaningful
    * bucket expression for the data layout (e.g. the quantile face's
    * VALUE bucket, whose ids are the read path's pruning key) instead
    * of the hash of a key set. The expression must be a pure function
    * of the row's data columns — a delete image then determines its
    * own bucket, which is what keeps the slice validation exact. The
    * pk index stays hash-bucketed by `keyCols`. */
  def prepareCdcUpsertExpr(
      sideDelta: DataFrame, dataCols: Seq[String], keyCols: Seq[String],
      bucketExpr: Column, dir: String, family: String,
      batchId: Long, prevId: Option[Long], storeBuckets: Int,
      side: String): Prepared = {
    val spark = sideDelta.sparkSession
    val dels = sideDelta.filter(col("__op") === "D")
      .select(dataCols.map(col): _*)
    val ins = sideDelta.filter(col("__op") === "I")
      .select(dataCols.map(col): _*)
    val template = sideDelta.select(dataCols.map(col): _*)
    val keysTemplate = sideDelta.select(keyCols.map(col): _*)
    val touchedData = sideDelta.select(bucketExpr.cast("int").as("__b"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val touchedKeys = bucketsOf(sideDelta, keyCols, storeBuckets)

    val prevSlice = readBuckets(spark, dir, family, prevId, touchedData,
      template).select(dataCols.map(col): _*)
    val afterDel = prevSlice
      .join(dels.select(keyCols.map(col): _*), keyCols, "left_anti")

    val prevKeys = readKeyBuckets(spark, dir, family, prevId, touchedKeys,
      keysTemplate).select(keyCols.map(col): _*)
    val liveAfterDel = prevKeys
      .join(dels.select(keyCols.map(col): _*), keyCols, "left_anti")
    // all three refusals evaluated in ONE Spark job (r16 — the r15w
    // breakdown attributed most of the upsert layout's per-batch wall
    // overhead to eager validation probes, three jobs per side; the
    // union collapses them into one action whose subplans share the
    // already-pruned slice reads)
    val viols = dels.join(prevSlice, dataCols, "left_anti")
      .select(lit("deletes rows the store never held (unknown key, or a " +
        "delete image disagreeing with the stored row)").as("__viol"))
      .unionByName(ins.join(liveAfterDel, keyCols, "left_semi")
        .select(lit("inserts a key the store still holds — updates must " +
          "travel as delete+insert pairs").as("__viol")))
      .unionByName(ins.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("__c")).filter(col("__c") > 1)
        .select(lit("inserts the same key twice").as("__viol")))
      .distinct()
    val violMsgs = viols.collect().map(_.getString(0))
    require(violMsgs.isEmpty,
      s"change batch $batchId ($side side) ${violMsgs.mkString("; and ")}")

    Prepared(family,
      afterDel.unionByName(ins)
        .withColumn("__g_bucket", bucketExpr.cast("int")),
      touchedData,
      liveAfterDel.unionByName(ins.select(keyCols.map(col): _*))
        .withColumn("__k_bucket", bucketize(keyCols, storeBuckets)),
      touchedKeys)
  }

  /** Write a [[Prepared]] side's data + keys slices and manifests (no
    * commit marker — [[commit]] is the caller's last step). */
  def writePrepared(spark: SparkSession, dir: String, batchId: Long,
      prevId: Option[Long], p: Prepared,
      maxLinks: Int = DefaultMaxLinks): Unit = {
    upsert(spark, dir, p.family, batchId, prevId, p.rows, p.touched, maxLinks)
    upsertKeys(spark, dir, p.family, batchId, prevId, p.keys, p.touchedKeys,
      maxLinks)
  }

  // ---- the multiset upsert (no pk — (payload, __mult) rows) ---------

  /** Prepare the touched-bucket post-state of a MULTISET store family
    * — (payload columns, `__mult`) rows with no pk discipline, the
    * intermediate-join shape of [[StreamingIvmComposeN]] — under a
    * net-weighted delta (`wCol` signed integers). Multiplicities fold
    * additively; a fold driving any row's multiplicity negative raises
    * loudly (the delta deletes join rows the store never absorbed),
    * rows at zero disappear. Returns (post-state rows of the touched
    * buckets with `__g_bucket`, touched bucket list) for [[upsert]]. */
  def prepareMultisetUpsert(
      netDelta: DataFrame, payloadCols: Seq[String], wCol: String,
      bucketKeys: Seq[String], dir: String, family: String,
      prevId: Option[Long], storeBuckets: Int): (DataFrame, Seq[Int]) =
    prepareMultisetUpsertExpr(netDelta, payloadCols, wCol,
      bucketize(bucketKeys, storeBuckets), dir, family, prevId)

  /** [[prepareMultisetUpsert]] with an ARBITRARY order-/domain-
    * meaningful bucket expression (e.g. the quantile face's VALUE
    * bucket, whose ids are the read path's pruning key) instead of a
    * key-set hash — the [[prepareCdcUpsertExpr]] counterpart for
    * multiset families. The expression must be a pure function of the
    * payload columns. */
  def prepareMultisetUpsertExpr(
      netDelta: DataFrame, payloadCols: Seq[String], wCol: String,
      bucketExpr: Column, dir: String, family: String,
      prevId: Option[Long]): (DataFrame, Seq[Int]) = {
    val spark = netDelta.sparkSession
    val p = payloadCols.map(col)
    val touched = netDelta.select(bucketExpr.cast("int").as("__b")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val template = netDelta.filter(lit(false))
      .select(p :+ lit(0L).as("__mult"): _*)
    val prevSlice = readBuckets(spark, dir, family, prevId, touched, template)
      .select(p :+ col("__mult"): _*)
    // re-compress defensively (the merge's full-outer join needs one
    // row per payload on each side) — delta-sized
    val net = netDelta.groupBy(p: _*)
      .agg(sum(col(wCol)).as("__dm")).filter(col("__dm") =!= 0)
    val merged = prevSlice.join(net, payloadCols, "full_outer")
      .select(p :+
        (coalesce(col("__mult"), lit(0L)) +
          coalesce(col("__dm"), lit(0L))).as("__mult"): _*)
      .withColumn("__mult",
        when(col("__mult") < 0,
          raise_error(concat(
            lit(s"multiset fold drives a '$family' row's multiplicity " +
              "negative ("), col("__mult").cast("string"),
            lit(") — the delta deletes join rows the store never absorbed"))))
          .otherwise(col("__mult")))
      .filter(col("__mult") > 0)
    (merged.withColumn("__g_bucket", bucketExpr.cast("int")), touched)
  }
}
