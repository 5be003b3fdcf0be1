package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Local-mode defaults tuned for the test harness (local[32], 32 shuffle
  * partitions, AQE on, UTC, ANSI on). On a real cluster the same builder
  * settings apply except master/shuffle-partitions, which come from
  * spark-submit.
  */
object GraftSession {
  def local(
      cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
      appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // explicit, not the version default: division and cast contracts
      // (try_divide's null on a zero divisor, DIVIDE_BY_ZERO from `/`)
      // and the oracle hashes assume ANSI semantics
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.ui.enabled", "false")
      // fresh warehouse per JVM: the in-memory catalog starts empty, so
      // a reused on-disk warehouse would collide on managed-table paths
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
