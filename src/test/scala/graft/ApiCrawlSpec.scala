package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.crawl._

/** Read-API surface (S9), lane-C seeding (POST /que), and MOR compaction
  * invariance. */
class ApiCrawlSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val MY = Fixtures.FixtureRoot

  private def crawl(cfg: CrawlConfig, seedC: Option[String] = None): Scheduler = {
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val store = new TableStore(spark, SparkTestBase.tempDir("api-crawl"))
    val sched = new Scheduler(spark, store, cfg)
    sched.bootstrap(
      Fixtures.pagesDF(spark, Fixtures.staticSitePages),
      Fixtures.sourcesDF(spark, Fixtures.staticSiteSources))
    seedC.foreach(sched.seedUrl)
    sched.run(maxWaves = 40)
    sched
  }

  private lazy val sched = crawl(CrawlConfig())
  private lazy val api = new Api(sched)

  test("listUrls pagination and ordering (S1/S3/O1)") {
    val all = api.listUrls(100, 0).select("url").as[String].collect()
    assert(all.length == 9)
    val page2 = api.listUrls(3, 3).select("url").as[String].collect()
    assert(page2.toSeq == all.slice(3, 6).toSeq)
  }

  test("fetched/unfetched split (P10)") {
    val fetched = api.fetchedUrls(100, 0).select("url").as[String].collect().toSet
    val unfetched = api.unfetchedUrls(100, 0).select("url").as[String].collect().toSet
    assert(fetched.contains(MY) && fetched.contains(s"$MY/styles.css"))
    assert(unfetched.contains("https://google.com/"))
    assert((fetched ++ unfetched).size == 9)
  }

  test("point lookup and search (S2/P13)") {
    assert(api.urlByString(MY).count() == 1)
    val hits = api.search("GALLERY").select("url").as[String].collect()
    assert(hits.toSeq == Seq(s"$MY/gallery.html"))
  }

  test("outbound/inbound link docs (J1/J2)") {
    val out = api.outboundLinks(MY).select("url").as[String].collect().toSet
    assert(out.size == 7 && out.contains("http://reddit.com"))
    val in = api.inboundLinks(s"$MY/styles.css").select("url").as[String].collect().toSet
    assert(in == Set(MY, s"$MY/index.html", s"$MY/gallery.html"))
  }

  test("snapshots and stats and empty queue at quiescence (A1/A10)") {
    assert(api.snapshotsForUrl(MY).count() == 1)
    val s = api.stats().collect().head
    assert(s.getAs[Long]("urls") == 9L)
    assert(s.getAs[Long]("fetched") + s.getAs[Long]("unfetched") == 9L)
    assert(api.queue().count() == 0)
  }

  test("lane C seeding (POST /que, seed_crawler): GET on lane C, links feed lane A") {
    val schedC = crawl(CrawlConfig(), seedC = Some(s"$MY/gallery.html"))
    val laneC = schedC.fetchLogView.filter($"lane" === "C").collect()
    assert(laneC.length == 2) // robots + the seeded GET
    assert(laneC.exists(r => r.getAs[String]("url") == s"$MY/gallery.html" &&
      r.getAs[String]("outcome") == "ok"))
    // gallery's links were stored and /index.html was crawled via lane A
    val urls = schedC.urlsView.select("url").as[String].collect().toSet
    assert(urls.contains(s"$MY/index.html"))
    val laneAIndex = schedC.fetchLogView.filter($"lane" === "A" &&
      $"url" === s"$MY/index.html").count()
    assert(laneAIndex >= 1)
  }

  test("MOR union reads merge mixed file schemas (resume from pre-migration files)") {
    val dir = SparkTestBase.tempDir("mergeschema")
    val store = new TableStore(spark, dir)
    // legacy version without the MOR stamp column, newer delta with it —
    // a one-footer schema inference would silently drop f_wave, making
    // latest-wins ties nondeterministic
    store.stageAppend("t", Seq(("u1", 1L)).toDF("url", "seq"))
    store.commitWave(0)
    store.stageAppend("t", Seq(("u2", 2L, 5L)).toDF("url", "seq", "f_wave"))
    store.commitWave(1)
    def check(s: TableStore): Unit = {
      val df = s.readAppendOnly("t").get
      assert(df.columns.contains("f_wave"), "stamp column dropped on mixed-schema read")
      val byUrl = df.collect().map(r => r.getAs[String]("url") -> r).toMap
      assert(byUrl("u1").isNullAt(byUrl("u1").fieldIndex("f_wave")))
      assert(byUrl("u2").getAs[Long]("f_wave") == 5L)
    }
    check(store) // warm path: union schema cached from the staged writes
    // cold path (resume): a fresh store over the same root has no cached
    // schema — its first multi-version read must do the one-off mergeSchema
    check(new TableStore(spark, dir))
  }

  test("seedUrl enforces ValidArchivingUrl: out-of-prefix urls are rejected pre-audit") {
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val store = new TableStore(spark, SparkTestBase.tempDir("api-seedgate"))
    val s = new Scheduler(spark, store, CrawlConfig())
    s.bootstrap(
      Fixtures.pagesDF(spark, Fixtures.staticSitePages),
      Fixtures.sourcesDF(spark, Fixtures.staticSiteSources))
    // outside every registered source prefix -> rejected like the
    // reference's 400 (handlers.go:69-74): no audit, no url row, no slot
    assert(!s.seedUrl("http://evil.example.com/x"))
    assert(s.frontierView.filter($"url" === "http://evil.example.com/x").count() == 0)
    assert(store.readLatest("archive_requests").isEmpty,
      "rejected seed must not be audited (the reference 400s before its insert)")
    // inside the registered prefix -> accepted, audited, queued on lane C
    assert(s.seedUrl(s"$MY/gallery.html"))
    assert(store.readLatest("archive_requests").get.count() == 1)
    val slot = s.frontierView.filter($"url" === s"$MY/gallery.html").collect()
    assert(slot.length == 1 && slot.head.getAs[String]("lane") == "C")
  }

  test("markUncrawlable right after seedUrl evicts the queued seed (eviction outranks)") {
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val store = new TableStore(spark, SparkTestBase.tempDir("api-seed-evict"))
    val s = new Scheduler(spark, store, CrawlConfig())
    s.bootstrap(
      Fixtures.pagesDF(spark, Fixtures.staticSitePages),
      Fixtures.sourcesDF(spark, Fixtures.staticSiteSources))
    val u = s"$MY/gallery.html"
    assert(s.seedUrl(u))
    s.markUncrawlable(u) // must outrank the same-cycle seed transition
    assert(s.frontierView.filter($"url" === u).count() == 0,
      "eviction stamped below the seed: url still holds a frontier slot")
    s.run(maxWaves = 40)
    assert(s.fetchLogView.filter($"url" === u && $"seq" >= 0).count() == 0,
      "seeded-then-blocked url was still fetched")
  }

  test("seedUrl after markUncrawlable is refused until the block is deleted") {
    // regression: seedUrl appended a queued transition at a HIGHER f_wave
    // than the eviction tombstone, so the blocked url outranked its own
    // eviction and was fetched next wave
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val store = new TableStore(spark, SparkTestBase.tempDir("api-seed-blocked"))
    val s = new Scheduler(spark, store, CrawlConfig())
    s.bootstrap(
      Fixtures.pagesDF(spark, Fixtures.staticSitePages),
      Fixtures.sourcesDF(spark, Fixtures.staticSiteSources))
    val u = s"$MY/gallery.html"
    s.markUncrawlable(u)
    assert(!s.seedUrl(u), "seed of a manually-blocked url must be refused")
    assert(s.frontierView.filter($"url" === u).count() == 0)
    // deleting the uncrawlable row un-blocks the url (MutationsSpec twin)
    new Mutations(spark, store).deleteUncrawlable(u)
    assert(s.seedUrl(u), "seed must succeed once the block is deleted")
  }

  test("compaction leaves all views unchanged (T6/Iceberg rewrite equivalence)") {
    val compacted = crawl(CrawlConfig(compactEvery = 2))
    def canon(s: Scheduler) = (
      s.urlsView.selectExpr(
        "concat(url,'|',status,'|',coalesce(title,''),'|',coalesce(cast(last_get as string),''))")
        .as[String].collect().sorted.toSeq,
      s.linksView.selectExpr("concat(src,'|',dst)").as[String].collect().sorted.toSeq,
      s.snapshotsView.selectExpr("concat(url,'|',created)").as[String].collect().sorted.toSeq)
    assert(canon(compacted) == canon(sched))
  }
}
