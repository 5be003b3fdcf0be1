package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.TreeMap
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.streaming.{BucketStore, StreamingIvm, StreamingIvmMinMax, StreamingIvmTopK}

/** The incremental drain: seeded CDC batches over orders, folded back to
  * back into a maintained per-customer aggregate (`StreamingIvm`) and a
  * maintained top-k customers per priority (`StreamingIvmTopK`), both
  * seeded from the staged orders. Each batch reprices about 2% of the live
  * orders as delete+insert pairs and also deletes and inserts orders. One
  * iteration folds `FoldsPerCompaction` batches, each into both views, and
  * then runs the family's `compact` on both stores once, as a scheduled
  * OPTIMIZE would. Seeding the views already runs both folds cold, so the
  * warm-up iteration only compacts the seeded stores. This is the only
  * workload that reaches `graft.streaming` and `BucketStore`. */
final class CdcStream(ctx: Ctx) extends Workload {
  import CdcStream._
  import ctx.spark

  def warmUp: Boolean = true

  private val K = 10
  private val FoldsPerCompaction = 3
  // up to five measured iterations
  private val Batches = 5 * FoldsPerCompaction
  private val StoreBuckets = StreamingIvmMinMax.StoreBuckets
  private val Cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "o_totalprice")

  private var dir = ""
  private var base: DataFrame = _
  private val touched = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val files = scala.collection.mutable.ArrayBuffer.empty[Long]

  private def aggDir = s"$dir/agg"
  private def topkDir = s"$dir/topk"
  private def batchPath(b: Int) = s"$dir/changes/batch=$b"
  // batch b folds as store id 2b; a compaction after it takes the fresh id 2b+1
  private def storeId(b: Int) = 2L * b

  def setup(): Unit = {
    dir = s"${ctx.work}/cdc"
    val rnd = new Random(ctx.seed)
    base = Stage.seeded(spark, Tables(spark, ctx.data, "orders").select(Cols.map(col): _*),
      s"$dir/base", rnd)
    val orders = base.collect().map(r => Order(r.getLong(0), r.getLong(1), r.getString(2),
      r.getString(3), r.getDouble(4)))
    writeChanges(changes(orders, rnd))
    val seed = base.withColumn("op", lit("I"))
    StreamingIvm.applyBatch(seed, 0, Seq("o_custkey"), "op", "o_totalprice", aggDir)
    StreamingIvmTopK.applyBatch(seed, 0, Seq("o_orderpriority"), "op", "o_custkey", K, topkDir)
  }

  private def cents(d: Double) = math.rint(d * 100) / 100

  /** The change stream, generated in the JVM from the seed. */
  private def changes(orders: Seq[Order], rnd: Random): Seq[Change] = {
    var live = TreeMap(orders.map(o => o.key -> o): _*)
    val custs = orders.map(_.cust).distinct.sorted
    val statuses = orders.map(_.status).distinct.sorted
    val priorities = orders.map(_.priority).distinct.sorted
    var nextKey = orders.map(_.key).max + 1
    def row(b: Int, op: String, o: Order) =
      Change(b, op, o.key, o.cust, o.status, o.priority, o.price)
    (1 to Batches).flatMap { b =>
      val picked = rnd.shuffle(live.keys.toVector)
      val nReprice = math.max(1, live.size / 50)
      val nChurn = math.max(1, live.size / 200)
      val repriced = picked.take(nReprice).map { k =>
        val o = live(k)
        o -> o.copy(price = cents(o.price * (0.8 + 0.4 * rnd.nextDouble()) + 0.01))
      }
      val deleted = picked.slice(nReprice, nReprice + nChurn).map(live)
      val inserted = (0 until nChurn).map { _ =>
        nextKey += 1
        Order(nextKey, custs(rnd.nextInt(custs.size)), statuses(rnd.nextInt(statuses.size)),
          priorities(rnd.nextInt(priorities.size)), cents(1000 + rnd.nextDouble() * 400000))
      }
      live = live -- deleted.map(_.key) ++ (repriced.map(_._2) ++ inserted).map(o => o.key -> o)
      repriced.flatMap { case (o, n) => Seq(row(b, "D", o), row(b, "I", n)) } ++
        deleted.map(row(b, "D", _)) ++ inserted.map(row(b, "I", _))
    }
  }

  private def writeChanges(rows: Seq[Change]): Unit = {
    import spark.implicits._
    // one local partition: each batch lands in one file of its own directory
    rows.toDF().write.partitionBy("batch").parquet(s"$dir/changes")
  }

  private var folded = 0
  override def hasNext: Boolean = folded + FoldsPerCompaction <= Batches

  def iteration(i: Int): Unit = {
    val bs = (folded + 1) to (folded + (if (i == 0) 0 else FoldsPerCompaction))
    bs.foreach { b =>
      val batch = spark.read.parquet(batchPath(b))
      val id = storeId(b)
      val t0 = System.nanoTime()
      ctx.timed {
        ctx.spans("streaming.agg_fold")(StreamingIvm.applyBatch(batch, id, Seq("o_custkey"),
          "op", "o_totalprice", aggDir))
        ctx.spans("streaming.topk_fold")(StreamingIvmTopK.applyBatch(batch, id,
          Seq("o_orderpriority"), "op", "o_custkey", K, topkDir))
      }
      ctx.op((System.nanoTime() - t0) / 1e9)
      ctx.input(Main.bytesUnder(batchPath(b)))
      ctx.attempted += 2
      if (ctx.traced) {
        touched += BucketStore.bucketsOf(batch, Seq("o_custkey"), StoreBuckets).size.toDouble /
          StoreBuckets
        files += Seq(s"$aggDir/snap", s"$topkDir/counts", s"$topkDir/topk")
          .map(f => parquetFiles(s"$f/batch=$id")).sum
      }
    }
    folded += bs.size
    val id = storeId(folded) + 1
    ctx.timed(ctx.spans("streaming.compact") {
      StreamingIvm.compact(spark, aggDir, id)
      StreamingIvmTopK.compact(spark, topkDir, id)
    })
    ctx.attempted += 1
  }

  private def parquetFiles(d: String): Long = {
    val p = Paths.get(d)
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")).toLong
      finally st.close()
    }
  }

  /** Both views must equal a full recompute over the final table state:
    * the staged orders plus every folded insert, minus every folded
    * delete (a delete row carries the exact row it removes). */
  def check(): Unit = {
    val changes = spark.read.parquet(s"$dir/changes").filter(col("batch") <= folded)
    val rows = Cols.map(col)
    val live = base.unionByName(changes.filter(col("op") === "I").select(rows: _*))
      .exceptAll(changes.filter(col("op") === "D").select(rows: _*))
    val agg = live.groupBy("o_custkey").agg(count(lit(1)).as("n"),
      sum(col("o_totalprice").cast("decimal(18,4)")).cast("decimal(28,4)").as("s"))
    val gotAgg = StreamingIvm.readAgg(spark, aggDir)
      .select(col("o_custkey"), col("n"), col("s").cast("decimal(28,4)"))
    same("aggregate view", gotAgg, agg)
    val k = ctx.pin("top_k")
    val topk = live.groupBy("o_orderpriority", "o_custkey").agg(count(lit(1)).as("cnt"))
      .withColumn("rnk", row_number().over(Window.partitionBy("o_orderpriority")
        .orderBy(desc("cnt"), asc("o_custkey"))))
      .filter(col("rnk") <= k)
    val gotTopk = StreamingIvmTopK.readTopK(spark, topkDir)
      .select(col("o_orderpriority"), col("o_custkey"), col("cnt"), col("rnk").cast("int"))
    same("top-k view", gotTopk, topk.select(col("o_orderpriority"), col("o_custkey"),
      col("cnt"), col("rnk").cast("int")))
  }

  /** Views are customer- and K-sized, so they are compared in memory. */
  private def same(what: String, got: DataFrame, want: DataFrame): Unit = {
    val (g, w) = (got.collect().toSeq, want.collect().toSeq)
    val (extra, missing) = (g.diff(w).size, w.diff(g).size)
    ctx.expect(extra == 0 && missing == 0, s"$what: $extra unexpected rows, $missing missing")
  }

  def layers(n: Int): Map[String, Double] = {
    val sp = ctx.spans
    val per = math.max(n, 1).toDouble
    val batches = per * FoldsPerCompaction
    val folds = ctx.jobs.within(sp.named("streaming.agg_fold") ++ sp.named("streaming.topk_fold"))
    val compact = ctx.jobs.within(sp.named("streaming.compact"))
    Map(
      "streaming.agg_fold_s" -> sp.total("streaming.agg_fold") / batches,
      "streaming.topk_fold_s" -> sp.total("streaming.topk_fold") / batches,
      "streaming.jobs_per_batch" -> folds.size / batches,
      "streaming.written_mb_per_batch" -> JobCounters.sumMb(folds, _.writtenBytes) / batches,
      "streaming.files_per_batch" -> files.takeRight(batches.toInt).sum / batches,
      "streaming.touched_bucket_ratio" -> touched.takeRight(batches.toInt).sum / batches,
      "streaming.compact_s" -> sp.total("streaming.compact") / per,
      "streaming.compact_rewritten_mb" -> JobCounters.sumMb(compact, _.writtenBytes) / per,
      "streaming.task_cpu_s" -> JobCounters.sumCpuS(folds ++ compact) / per,
      "streaming.shuffle_mb" -> JobCounters.sumMb(folds ++ compact, _.shuffleBytes) / per)
  }
}

object CdcStream {
  private final case class Order(key: Long, cust: Long, status: String, priority: String,
      price: Double)
  /** One change row; top level so Spark can encode it. */
  final case class Change(batch: Int, op: String, o_orderkey: Long, o_custkey: Long,
      o_orderstatus: String, o_orderpriority: String, o_totalprice: Double)
}
