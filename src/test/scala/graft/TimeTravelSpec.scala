package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.crawl._

/** Iceberg-style time travel over the snapshot-versioned store: every
  * committed wave is readable as of its manifest (`TableStore.asOf`,
  * `Scheduler.urlsViewAsOf`/`frontierViewAsOf`), and `expireSnapshots`
  * bounds history like Iceberg's expire_snapshots. Ground truth comes from
  * the engine's own determinism: a second crawl truncated at wave w must
  * see exactly the state a full crawl time-travels back to. */
class TimeTravelSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def crawl(maxWaves: Int): (Scheduler, TableStore) = {
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val store = new TableStore(spark, SparkTestBase.tempDir("timetravel"))
    val sched = new Scheduler(spark, store, CrawlConfig())
    sched.bootstrap(
      Fixtures.pagesDF(spark, Fixtures.staticSitePages),
      Fixtures.sourcesDF(spark, Fixtures.staticSiteSources))
    sched.run(maxWaves = maxWaves)
    (sched, store)
  }

  private def canonUrls(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.selectExpr(
      "concat(url,'|',status,'|',coalesce(title,''),'|',coalesce(cast(last_get as string),''))")
      .as[String].collect().sorted.toSeq

  private lazy val full = crawl(maxWaves = 40)

  test("every committed wave is listed and readable as of its manifest") {
    val (_, store) = full
    val waves = store.snapshotWaves
    assert(waves.contains(-1L), "bootstrap commit missing from the snapshot log")
    assert(waves.contains(store.currentWave), "latest commit missing")
    waves.foreach { w =>
      assert(store.asOf(w).isDefined, s"wave $w unreadable")
    }
    assert(store.asOf(store.currentWave + 100).isEmpty, "phantom future snapshot")
    // version dirs are never deleted, only superseded: every dir a
    // snapshot's manifest names is still on disk (read off the snapshot
    // files themselves, not through the store's parser)
    val entry = "\"([^\"]+)\"\\s*:\\s*\\[([0-9,\\s]*)\\]".r
    val snapDir = java.nio.file.Paths.get(store.rootPath, "_snapshots")
    waves.foreach { w =>
      val json = new String(java.nio.file.Files.readAllBytes(
        snapDir.resolve(f"w$w%012d.json")), "UTF-8")
      val named = entry.findAllMatchIn(json.split("\"tables\":", 2)(1)).flatMap { m =>
        m.group(2).split(",").map(_.trim).filter(_.nonEmpty).map(v => (m.group(1), v.toLong))
      }.toSeq
      assert(named.nonEmpty, s"wave $w manifest names no version")
      val missing = named.filterNot { case (t, v) =>
        java.nio.file.Files.isDirectory(java.nio.file.Paths.get(store.versionPath(t, v)))
      }
      assert(missing.isEmpty, s"wave $w manifest names deleted version dirs: $missing")
    }
    // the URL-seen check keeps no state of its own beside the tables
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(store.rootPath, "seen_bloom")))
  }

  test("urlsViewAsOf(w) equals a crawl truncated at wave w (deterministic replay)") {
    val (sched, _) = full
    val (truncSched, truncStore) = crawl(maxWaves = 3) // waves 0..2
    val w = truncStore.currentWave
    val travelled = sched.urlsViewAsOf(w)
    assert(travelled.isDefined, s"wave $w not time-travel readable")
    assert(canonUrls(travelled.get) == canonUrls(truncSched.urlsView))
    // and the historical frontier is the truncated crawl's live frontier
    val fThen = sched.frontierViewAsOf(w).get
      .selectExpr("concat(url,'|',lane,'|',state)").as[String].collect().sorted.toSeq
    val fTrunc = truncSched.frontierView
      .selectExpr("concat(url,'|',lane,'|',state)").as[String].collect().sorted.toSeq
    assert(fThen == fTrunc)
    // mid-crawl state differs from final state (the travel is not a no-op)
    assert(canonUrls(travelled.get) != canonUrls(sched.urlsView))
  }

  test("urlsChangedSince: incremental CDC equals a test-side latest-wins replay") {
    val (sched, store) = full
    val raw = store.readAppendOnly("urls").get
    // independent reference: latest-wins per url straight off the log,
    // no bucket pruning (the engine path prunes; results must agree)
    def refChanged(since: Long): Set[(String, Long)] = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("url")
        .orderBy(desc("w_wave"), desc("w_prio"))
      raw.withColumn("rn_", row_number().over(w))
        .filter($"rn_" === 1 && $"w_wave" > since)
        .select($"url", $"w_wave").as[(String, Long)].collect().toSet
    }
    val mid = store.snapshotWaves.filter(_ >= 0).drop(2).head
    val got = sched.urlsChangedSince(mid)
      .select($"url", $"changed_wave").as[(String, Long)].collect().toSet
    assert(got == refChanged(mid))
    assert(got.nonEmpty, "mid-crawl delta must not be empty")
    // nothing changed since the last commit; everything changed since -1
    assert(sched.urlsChangedSince(store.currentWave).count() == 0)
    assert(sched.urlsChangedSince(-1L).count() == sched.urlsView.count())
    // CDC rows carry the LIVE row content for the changed urls
    val liveRows = sched.urlsView
      .selectExpr("concat(url,'|',status,'|',coalesce(title,''))")
      .as[String].collect().toSet
    val cdcRows = sched.urlsChangedSince(mid)
      .selectExpr("concat(url,'|',status,'|',coalesce(title,''))")
      .as[String].collect().toSet
    assert(cdcRows.subsetOf(liveRows))
  }

  test("compaction preserves MOR stamps: CDC stays O(delta), views unchanged") {
    // regression: compactTables re-stamped every winner row at the
    // compaction wave, so a CDC consumer checkpointed anywhere earlier got
    // the WHOLE table back after every compaction.
    // own crawl: compaction truncates frontier history, which the shared
    // `full` fixture's other CDC assertions depend on
    val (sched, store) = crawl(maxWaves = 40)
    val beforeViews = (canonUrls(sched.urlsView),
      sched.frontierView.selectExpr("concat(url,'|',lane,'|',state)")
        .as[String].collect().sorted.toSeq)
    val checkpoint = store.currentWave // consumer fully caught up
    sched.compactTables()
    // nothing actually changed since the checkpoint — CDC must stay empty
    assert(sched.urlsChangedSince(checkpoint).count() == 0,
      "compaction re-stamped rows: CDC reports the whole table as changed")
    assert(sched.frontierChangedSince(checkpoint).count() == 0,
      "frontier compaction re-stamped transitions")
    // and the live views are byte-identical across the rewrite
    assert(canonUrls(sched.urlsView) == beforeViews._1)
    assert(sched.frontierView.selectExpr("concat(url,'|',lane,'|',state)")
      .as[String].collect().sorted.toSeq == beforeViews._2)
  }

  test("frontierChangedSince: queue-side CDC incl. taken evictions") {
    val (sched, store) = full
    val raw = store.readAppendOnly("frontier").get
    def refChanged(since: Long): Set[(String, Long, String)] = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("url")
        .orderBy(desc("f_wave"), desc("f_prio"))
      raw.withColumn("rn_", row_number().over(w))
        .filter($"rn_" === 1 && $"f_wave" > since)
        .select($"url", $"f_wave", $"state")
        .as[(String, Long, String)].collect().toSet
    }
    val mid = store.snapshotWaves.filter(_ >= 0).drop(2).head
    val got = sched.frontierChangedSince(mid)
      .select($"url", $"changed_wave", $"state")
      .as[(String, Long, String)].collect().toSet
    assert(got == refChanged(mid))
    assert(got.nonEmpty)
    // evictions are visible to the CDC consumer even though the live
    // frontier view hides them
    assert(got.exists(_._3 == "taken"))
    assert(sched.frontierChangedSince(store.currentWave).count() == 0)
  }

  test("a store written before the stamp and bucket columns reads, crawls and compacts as stamped") {
    import org.apache.spark.sql.expressions.Window
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val dir = SparkTestBase.tempDir("timetravel_legacy")
    def open(): (Scheduler, TableStore) = {
      val st = new TableStore(spark, dir)
      (new Scheduler(spark, st, CrawlConfig()), st)
    }
    // test-side latest-wins over a raw log: unstamped rows sort last
    def latest(raw: org.apache.spark.sql.DataFrame, key: Seq[String],
        stamps: Seq[String], drop: Seq[String]) =
      raw.withColumn("rn_", row_number().over(Window.partitionBy(key.map(col): _*)
        .orderBy(stamps.map(c => col(c).desc_nulls_last): _*)))
        .filter($"rn_" === 1).drop("rn_" +: drop: _*)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(to_json(struct(df.columns.sorted.map(col): _*))).as[String].collect().sorted.toSeq
    val (s0, st0) = open()
    s0.bootstrap(
      Fixtures.pagesDF(spark, Fixtures.staticSitePages),
      Fixtures.sourcesDF(spark, Fixtures.staticSiteSources))
    s0.run(maxWaves = 2)
    // rewrite the three state tables once as live rows only, the way a
    // store written before the stamp and bucket columns holds them
    val hostLive = latest(st0.readAppendOnly("host_state").get, Seq("host", "lane"),
      Seq("h_wave"), Seq("h_wave"))
    val legacy = Seq(
      ("urls", st0.stageRewrite("urls", s0.urlsView), "ubucket"),
      ("frontier", st0.stageRewrite("frontier", s0.frontierView), "fbucket"),
      ("host_state", st0.stageRewrite("host_state", hostLive), "h_wave"))
    st0.commitWave(st0.currentWave)
    val mid = st0.currentWave
    legacy.foreach { case (t, v, c) =>
      assert(!spark.read.parquet(st0.versionPath(t, v)).columns.contains(c), s"$t kept $c")
    }
    val (sched, store) = open() // an upgraded deployment reopens the store
    sched.run(maxWaves = 4)
    assert(store.currentWave == mid + 2)

    // the live views are latest-wins over the mixed log
    val urlsLog = store.readAppendOnly("urls").get
    assert(rows(sched.urlsView) == rows(latest(urlsLog, Seq("url"),
      Seq("w_wave", "w_prio"), Seq("w_wave", "w_prio", "ubucket"))))
    assert(rows(sched.frontierView) == rows(latest(store.readAppendOnly("frontier").get,
      Seq("url"), Seq("f_wave", "f_prio"), Seq("f_wave", "f_prio", "fbucket"))
      .filter($"state" =!= "taken")))
    // and the crawl went on exactly as an uninterrupted one
    val (plain, _) = crawl(maxWaves = 4)
    assert(rows(sched.urlsView) == rows(plain.urlsView))
    assert(rows(sched.frontierView) == rows(plain.frontierView))
    assert(rows(sched.fetchLogView) == rows(plain.fetchLogView))

    // CDC: every url has changed since -1, unstamped winners included,
    // before and after a compaction that leaves the views as they were
    val before = (rows(sched.urlsView), rows(sched.frontierView))
    assert(sched.urlsChangedSince(-1L).count() == sched.urlsView.count())
    sched.compactTables()
    assert(sched.urlsChangedSince(-1L).count() == sched.urlsView.count())
    assert((rows(sched.urlsView), rows(sched.frontierView)) == before)

    // the CDC bucket discovery filters the raw stamp, so the predicate
    // reaches the parquet scan of both tables
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try Seq("w_wave" -> (() => sched.urlsChangedSince(mid)),
        "f_wave" -> (() => sched.frontierChangedSince(mid))).foreach { case (stamp, cdc) =>
      plans.clear()
      assert(cdc().count() > 0)
      val pushed = s"PushedFilters: \\[[^\\]]*GreaterThan\\($stamp,$mid\\)".r
      // listeners are called on the listener bus, after the action returns
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def seen = { import scala.jdk.CollectionConverters._
        plans.asScala.exists(pushed.findFirstIn(_).isDefined) }
      while (!seen && System.nanoTime() < deadline) Thread.sleep(50)
      assert(seen, s"no parquet scan pushes $stamp > $mid")
    } finally spark.listenerManager.unregister(listener)
  }

  test("expireSnapshots keeps the newest N, drops the rest, live reads survive") {
    val (sched, store) = crawl(maxWaves = 40)
    val before = store.snapshotWaves
    assert(before.size > 3)
    val liveBefore = canonUrls(sched.urlsView)
    store.expireSnapshots(keepLast = 2)
    val after = store.snapshotWaves
    assert(after == before.takeRight(2))
    assert(store.asOf(before.head).isEmpty, "expired wave still readable")
    assert(store.asOf(after.last).isDefined)
    // live view unaffected: every version the live manifest references is retained
    assert(canonUrls(sched.urlsView) == liveBefore)
    // retained snapshot still resolves to real files
    val snap = store.asOf(after.head).get
    assert(snap.readAppendOnly("urls").get.count() > 0)
  }
}
