package graftbench

import java.math.MathContext
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}

import graft.SparkEntry

/** The SQL surface: one pass in seeded order over a fixed sample of the
  * `SparkEntry.queries` keys of families q a j w set f p s v, each built
  * and written to the noop sink. Most keys are dominated by fixed
  * per-query cost (analysis, planning, job scheduling), so this exposes
  * the Catalyst overhead the two pipelines bury. Read-only: it reads the
  * base tables directly, and the seed chooses only the key order.
  *
  * The warm-up pass collects every key's result instead and checks its
  * row count and order-insensitive hash against the pins, which
  * `pin_sql.py` takes from the keys' DuckDB oracle SQL. */
final class SqlMix(ctx: Ctx) extends Workload {
  import SqlMix._
  import ctx.spark

  def warmUp: Boolean = true

  private var order = Seq.empty[String]

  def setup(): Unit = order = new Random(ctx.seed).shuffle(Keys)

  def iteration(i: Int): Unit = order.foreach { k =>
    val t0 = System.nanoTime()
    if (i == 0) {
      val df = build(k)
      val rows = df.collect().toSeq
      ctx.expect(rows.size == ctx.pin(s"$k.rows"), s"$k: ${rows.size} rows")
      ctx.expect(hash(df.columns.toSeq, rows) == ctx.pin(s"$k.hash"), s"$k: result hash differs")
    } else {
      ctx.timed {
        val df = build(k)
        ctx.spans("queries.exec")(df.write.format("noop").mode("overwrite").save())
      }
      ctx.op((System.nanoTime() - t0) / 1e9)
    }
    // operator-internal caches must not carry over from one key to the next
    spark.catalog.clearCache()
  }

  private def build(k: String): DataFrame =
    ctx.spans("queries.build")(SparkEntry.queries(k)(spark, ctx.data))

  def check(): Unit = ()

  /** Building every SQL-surface DataFrame, none executed: the cost of
    * analysis alone, and any job that building starts (there should be
    * none). Run once after the measured window. */
  def layers(n: Int): Map[String, Double] = {
    val all = SparkEntry.queries.keys.filter(Family.matches).toSeq.sorted
    val t0 = System.currentTimeMillis()
    val s0 = System.nanoTime()
    all.foreach(k => SparkEntry.queries(k)(spark, ctx.data))
    val s = (System.nanoTime() - s0) / 1e9
    Trace.drain(spark)
    Map(
      "queries.build_s" -> s,
      "queries.build_jobs" -> ctx.jobs.between(t0, System.currentTimeMillis()).size.toDouble)
  }
}

object SqlMix {
  /** The SQL-surface families, by key prefix. */
  val Family = "(q|a|j|w|set|f|p|s|v)\\d.*".r

  /** The sample the workload runs: every family, spread over the range
    * of per-key latency (0.2 to 1 s warm on 4 cores). */
  val Keys: Seq[String] = Seq(
    "a9_pivot", "f1_string_functions", "j1_inner_merge", "p2_rule_filter",
    "q3_shipping_priority", "s13_recent_window_scan", "set3_intersect",
    "v12_distribution", "w4_window_frames")

  /** Canonical text of one value, shared with pin_sql.py: exact numbers
    * in plain notation without trailing zeros, floating point rounded to
    * nine significant digits, dates in ISO form. */
  def canon(v: Any): String = v match {
    case null                     => "\\N"
    case d: java.math.BigDecimal  => plain(d)
    case d: scala.math.BigDecimal => plain(d.bigDecimal)
    case d: Double                => plain(new java.math.BigDecimal(d).round(new MathContext(9)))
    case f: Float                 => canon(f.toDouble)
    case n: Number                => n.toString
    case t: java.sql.Timestamp    => (t.getTime * 1000 + t.getNanos / 1000 % 1000).toString
    case t: java.time.Instant     => (t.getEpochSecond * 1000000 + t.getNano / 1000).toString
    case other                    => other.toString
  }

  private def plain(d: java.math.BigDecimal): String =
    if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString

  /** Order-insensitive hash of a result: the wrapping sum over its rows
    * of the first 8 bytes of each canonical row's SHA-256, with columns
    * taken in name order. */
  def hash(columns: Seq[String], rows: Seq[Row]): Long = {
    val byName = columns.indices.sortBy(columns(_))
    rows.map { r =>
      val line = byName.map(i => canon(r.get(i))).mkString("\u0001")
      val md = MessageDigest.getInstance("SHA-256")
      java.nio.ByteBuffer.wrap(md.digest(line.getBytes(UTF_8))).getLong
    }.sum
  }

  /** Writes the sample's DuckDB oracle SQL as JSON, for pin_sql.py:
    * `graftbench.SqlMix <out.json>`. */
  def main(args: Array[String]): Unit = {
    val oracle = SparkEntry.oracleSql
    val q = graft.core.JsonText.quote _
    val body = Keys.map(k => s"${q(k)}: ${oracle.get(k).map(q).getOrElse("null")}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(0)),
      body.mkString("{\n", ",\n", "\n}\n"))
  }
}
