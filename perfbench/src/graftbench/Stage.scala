package graftbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded staging: the program receives the benchmark's base tables with
  * their rows in a seed-chosen order, split over a seed-chosen number of
  * parquet files. Every pin must hold whatever the order and split. */
object Stage {
  def seeded(spark: SparkSession, df: DataFrame, path: String, rnd: Random): DataFrame = {
    val rows = rnd.shuffle(df.collect().toSeq)
    val files = 1 + rnd.nextInt(4)
    // parallelize keeps contiguous slices, so each file holds its rows in
    // the shuffled order
    spark.createDataFrame(spark.sparkContext.parallelize(rows, files), df.schema)
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }
}
