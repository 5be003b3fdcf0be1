package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated name prefixes to run (local
    // iteration aid; the driver always runs the full set)
    val nameFilter: String => Boolean =
      if (args.length > 2) { val ps = args(2).split(","); n => ps.exists(n.startsWith) }
      else _ => true
    val spark = graft.core.GraftSession.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => nameFilter(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // operator-internal caches must not accumulate across 50+ queries
      spark.catalog.clearCache()
    }
    // JSON string escape (shared table): a tab or CR in builder-authored
    // SQL would otherwise make the driver's json.load fail and silently
    // zero the round's correctness.
    def q(s: String): String = graft.core.JsonText.quote(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
