package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.grafttest.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** Job descriptions of the jobs that start while `body` runs, exactly:
    * the listener bus is drained before the listener is attached, so no
    * earlier job's event reaches it, and again after `body`, so every job
    * `body` started has been delivered. */
  def jobsDuring(body: => Any): Seq[String] = {
    val sc = spark.sparkContext
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        descs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    Bus.drain(sc)
    sc.addSparkListener(listener)
    try { body; Bus.drain(sc) } finally sc.removeSparkListener(listener)
    descs.asScala.toSeq
  }

  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
