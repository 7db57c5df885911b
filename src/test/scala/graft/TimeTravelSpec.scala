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
