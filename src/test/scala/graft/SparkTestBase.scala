package graft

import org.apache.spark.sql.SparkSession

object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // a crawl wave generates ~150 distinct classes; Spark's default of
      // 100 cached ones recompiles most of them every wave
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
