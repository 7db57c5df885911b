package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.crawl._

/** A wave's Spark work: every job is tagged `wave <w> <phase>`, a wave stays
  * inside its job budget, and a wave frees only the RDDs it materialized. */
class WaveJobsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val site = Fixtures.ScaleConfig(hosts = 6, pagesPerHost = 8,
    outDegree = 4, contentFraction = 0.25, fillerParagraphs = 2,
    adminPages = true)

  private def scheduler(name: String): Scheduler = {
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val store = new TableStore(spark, SparkTestBase.tempDir(name))
    // lowWatermark 1: after the first (seed) wave the queue stays above it,
    // so waves 1-3 are steady-state waves, like the scale benchmark's
    val s = new Scheduler(spark, store, CrawlConfig(waveWindowSec = 48.0, lowWatermark = 1))
    s.bootstrap(Fixtures.scaleSitePages(spark, site).toDF()
      .unionByName(Fixtures.pagesDF(spark, Fixtures.adminPages(site))),
      Fixtures.sourcesDF(spark, Fixtures.scaleSiteSources(site, crawlingHosts = 4)))
    s
  }

  test("every wave job is tagged with its phase; a wave runs at most 45 jobs") {
    val s = scheduler("wave-jobs")
    val WaveTag = "wave (\\d+) (\\w+)".r
    (0L to 3L).foreach { w =>
      val descs = SparkTestBase.jobsDuring(s.runWave(w))
      val untagged = descs.filterNot(_.startsWith(s"wave $w "))
      assert(untagged.isEmpty, s"wave $w ran jobs without its tag: $untagged")
      val phases = descs.collect { case WaveTag(_, p) => p }.distinct
      assert(phases.contains("stage_writes") && phases.contains("fetch"),
        s"wave $w phases: $phases")
      assert(descs.nonEmpty && descs.size <= 45,
        s"wave $w ran ${descs.size} jobs: " +
          descs.groupBy(identity).view.mapValues(_.size).toMap)
    }
  }

  test("a wave leaves none of its own persistent RDDs behind") {
    val s = scheduler("wave-frees-rdds")
    val sc = spark.sparkContext
    (0L to 2L).foreach { w =>
      val before = sc.getPersistentRDDs.keySet
      // hold every RDD persisted while the wave runs: the context tracks
      // them weakly, so one a GC collects would vanish from
      // getPersistentRDDs without ever being freed
      val held = scala.collection.concurrent.TrieMap.empty[Int, org.apache.spark.rdd.RDD[_]]
      @volatile var running = true
      val poller = new Thread(() => while (running) {
        sc.getPersistentRDDs.foreach { case (id, r) => if (!before(id)) held.put(id, r) }
        Thread.sleep(5)
      })
      poller.start()
      try s.runWave(w) finally { running = false; poller.join() }
      assert(held.nonEmpty, s"wave $w persisted nothing")
      val left = held.values.filter(_.getStorageLevel.isValid)
      assert(left.isEmpty, s"wave $w left persistent RDDs behind: ${left.mkString(", ")}")
      assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
    }
  }

  test("a frame another thread caches while a wave runs stays cached") {
    val s = scheduler("wave-owned-rdds")
    s.runWave(0L)
    val started = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            Option(p.getProperty("spark.job.description")).exists(_.startsWith("wave 1 "))))
          started.countDown()
    }
    spark.sparkContext.addSparkListener(listener)
    val waveThread = new Thread(() => s.runWave(1L))
    val other = (0 until 1000).toDF("x").selectExpr("x", "x * 2 AS y")
    try {
      waveThread.start()
      assert(started.await(60, java.util.concurrent.TimeUnit.SECONDS), "wave 1 never started")
      other.persist()
      assert(other.count() == 1000)
      assert(waveThread.isAlive, "the wave ended before the frame was cached")
      waveThread.join()
      val cachedRdd = other.queryExecution.withCachedData.collectFirst {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
          r.cacheBuilder.cachedColumnBuffers.id
      }
      assert(cachedRdd.exists(spark.sparkContext.getPersistentRDDs.contains),
        "the wave freed a cache it did not make")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      other.unpersist()
    }
  }
}
