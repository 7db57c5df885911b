package graft

import org.apache.spark.sql.SparkSession
import graft.crawl._

/** Runnable driver: crawl the ported fixture site end-to-end and print the
  * resulting urls / links / crawl-order tables — the library's CLI surface.
  *
  * usage: runMain graft.CrawlDemo <stateDir> [quiet]
  */
object CrawlDemo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("crawl-demo").toString)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .appName("graft-crawl-demo")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // a wave generates ~150 distinct classes; Spark's default of 100
      // cached ones recompiles most of them every wave
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.Funcs.register(spark)

    val store = new TableStore(spark, dir)
    val sched = new Scheduler(spark, store, CrawlConfig())
    if (!store.exists("pages")) {
      println(s"[demo] bootstrapping fixture site into $dir")
      sched.bootstrap(
        Fixtures.pagesDF(spark, Fixtures.staticSitePages),
        Fixtures.sourcesDF(spark, Fixtures.staticSiteSources))
    } else {
      println(s"[demo] resuming from existing state in $dir (wave ${store.currentWave})")
    }
    val stats = sched.run(maxWaves = 40)
    stats.foreach(s => println(
      f"[demo] wave ${s.wave}%2d  taken=${s.taken}%3d ok=${s.fetchedOk}%3d " +
      f"enqueued=${s.enqueued}%3d frontier=${s.frontierDepth}%3d"))

    println("\n=== urls ===")
    sched.urlsView.orderBy("url")
      .select("url", "status", "content_sniff", "title", "last_get", "last_head")
      .show(50, truncate = 40)
    println("=== links ===")
    sched.linksView.orderBy("src", "dst").select("src", "dst").show(50, truncate = 45)
    println("=== crawl order (fetch_log) ===")
    sched.fetchLogView.orderBy("vt", "host", "seq")
      .select("wave", "vt", "host", "lane", "method", "url", "outcome")
      .show(60, truncate = 40)

    println("=== registered SQL functions ===")
    spark.sql(
      """SELECT graft_normalize_url('HTTP://Example.COM:80//a/./b/../c/') AS normalized,
        |       graft_url_host('http://127.0.0.1:8002/x') AS host,
        |       graft_is_fetchable('mailto:x@y') AS mailto_fetchable,
        |       graft_resolve_href('http://127.0.0.1:8002', '\\\\reddit.com') AS backslash_href
        |""".stripMargin).show(truncate = false)
    spark.stop()
  }
}
