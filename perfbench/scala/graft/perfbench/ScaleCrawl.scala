package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.crawl._

/** A seeded generated web graph, crawled for two waves with a window wide
  * enough that the second wave fetches over a thousand urls, then served:
  * one closed-loop client issues rounds of `Api` calls against the crawled
  * store. The waves carry the fixed per-wave cost (jobs, checkpoints,
  * commits) plus per-url fetch, parse, link extraction, URL-seen probing and
  * delta writes.
  *
  * The serve mix is an assumption, not a measured traffic profile: nothing
  * in the repository records how often each call is made, so each round
  * makes each of the six calls once (five reads, one `seedUrl` write). Each
  * call's share of the serve wall is reported, so that what the equal
  * weighting favours stays visible. */
object ScaleCrawl extends Workload {
  val Hosts = 112
  val PagesPerHost = 48
  val CrawlingHosts = 96
  val Waves = 2
  val Rounds = 5 // serve phase: rounds of one call of each op

  def site(seed: Long): Fixtures.ScaleConfig = Fixtures.ScaleConfig(hosts = Hosts,
    pagesPerHost = PagesPerHost, outDegree = 16, fillerParagraphs = 8,
    adminPages = true, seed = seed)

  val cfg: CrawlConfig = CrawlConfig(waveWindowSec = 128.0)

  def bootstrap(spark: SparkSession, sched: Scheduler, site: Fixtures.ScaleConfig): Unit =
    sched.bootstrap(
      Fixtures.scaleSitePages(spark, site).toDF()
        .unionByName(Fixtures.pagesDF(spark, Fixtures.adminPages(site))),
      Fixtures.sourcesDF(spark, Fixtures.scaleSiteSources(site, CrawlingHosts)))

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val site = this.site(ctx.seed)

    // set-up, five times into fresh stores: the median is setup_s, the last
    // store is the one crawled
    val setups = (0 until 5).map { i =>
      val dir = ctx.dir(s"scale-$i")
      val (sched, s) = ctx.timed("tablestore.bootstrap") {
        val sched = new Scheduler(spark, new TableStore(spark, dir), cfg)
        bootstrap(spark, sched, site)
        sched
      }
      (sched, dir, s)
    }
    ctx.e2e("setup_s") = Measure.median(setups.map(_._3))
    val (sched, dir, _) = setups.last

    val (stats, crawlS) = ctx.timed("scheduler.run")(waves(ctx, sched))
    val fetched = stats.map(_.fetchedOk).sum

    // the crawl's output, read once outside the timed region: it checks the
    // crawl and gives the serve phase its targets and expected answers
    val links = sched.linksView.select("src", "dst").as[(String, String)].collect()
    val out = links.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val in = links.groupBy(_._2).map { case (k, v) => k -> v.map(_._1).toSet }
    val urlSet = sched.urlsView.select("url").as[String].collect().toSet
    checkCrawl(ctx, sched, site, out, urlSet, fetched)
    ctx.observed("scale_digest") = digest(sched)

    val rnd = new scala.util.Random(ctx.seed)
    val urlList = urlSet.toSeq.sorted
    val srcs = out.keys.toSeq.sorted
    val dsts = in.keys.toSeq.sorted
    def pick(xs: Seq[String]) = xs(rnd.nextInt(xs.length))
    val api = new Api(sched)
    val reads = ArrayBuffer.empty[Double]
    val writes = ArrayBuffer.empty[Double]
    val seeded = ArrayBuffer.empty[String]
    def wrong(what: String): Unit = { ctx.failed += 1; ctx.problems += what }
    val opSeconds = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def call[T](span: String)(body: => T): Option[T] =
      ctx.op(span)(body).map { case (r, s) =>
        opSeconds(span) = opSeconds.getOrElse(span, 0.0) + s
        if (span == "api.seedUrl") writes += s else reads += s
        r
      }
    def read(span: String)(body: => Array[Row])(ok: Array[Row] => Boolean): Unit =
      call(span)(body).foreach(rows => if (!ok(rows)) wrong(s"$span returned a wrong answer"))
    def urlIs(u: String)(rs: Array[Row]) = rs.length == 1 && rs(0).getAs[String]("url") == u
    def firstColumn(rs: Array[Row]) = rs.map(_.getString(0)).toSet
    val (_, serveS) = ctx.timed("serve") {
      for (r <- 0 until Rounds) {
        val (u, s, d) = (pick(urlList), pick(srcs), pick(dsts))
        val q = Fixtures.hostName(rnd.nextInt(Hosts)).take(8)
        val matches = (urlSet ++ seeded).count(_.toLowerCase.contains(q))
        read("api.urlByString")(api.urlByString(u).collect())(urlIs(u))
        read("api.outboundLinks")(api.outboundLinks(s).collect())(firstColumn(_) == out(s))
        read("api.inboundLinks")(api.inboundLinks(d).collect())(firstColumn(_) == in(d))
        read("api.listUrls")(api.listUrls(50, 50 * r).collect())(rs => firstColumn(rs).size == 50)
        read("api.search")(api.search(q).collect())(rs =>
          rs.length == math.min(50, matches) && rs.forall(_.getString(0).toLowerCase.contains(q)))
        val fresh = s"http://${Fixtures.hostName(rnd.nextInt(CrawlingHosts))}/serve-$r.html"
        call("api.seedUrl")(sched.seedUrl(fresh)).foreach { accepted =>
          seeded += fresh
          if (!accepted) wrong(s"seedUrl refused $fresh")
        }
      }
    }
    ctx.e2e("run_s") = crawlS + serveS
    ctx.e2e("items_per_s") = fetched / crawlS
    val after = sched.urlsView.select("url").as[String].collect().toSet
    ctx.check(seeded.forall(after.contains), "a seeded url is missing from the urls table")
    val (tail, pct) = Measure.tail(reads.toSeq)
    ctx.observed("read_tail") = f"p$pct%.1f of n=${reads.length} reads = ${tail * 1e3}%.1f ms"
    ctx.observed("serve_share") = opSeconds.map { case (k, v) => k -> v / serveS }.toMap

    if (ctx.traced) {
      layerMetrics(ctx, sched, stats, dir)
      val L = ctx.layer
      for ((span, key) <- Seq("api.urlByString" -> "url_by_string",
          "api.outboundLinks" -> "outbound_links", "api.inboundLinks" -> "inbound_links",
          "api.listUrls" -> "list_urls", "api.search" -> "search", "api.seedUrl" -> "seed_url"))
        L(s"api.${key}_ms") = Measure.median(ctx.trace.named(span).map(_.seconds * 1e3))
      val calls = ctx.trace.spans.filter(_.name.startsWith("api."))
      L("api.jobs_per_call") = ctx.work(calls).jobs.toDouble / calls.length
      L("api.read_p50_ms") = Measure.median(reads.toSeq) * 1e3
      L("api.read_tail_ms") = tail * 1e3
      L("api.write_p50_ms") = Measure.median(writes.toSeq) * 1e3
    }
  }

  /** `Scheduler.run` one wave at a time, each call a span of its own: run
    * resumes at the store's committed wave + 1, so `run(w + 1)` runs wave w
    * through the program's own loop. */
  private def waves(ctx: Ctx, sched: Scheduler): Seq[Scheduler#WaveStats] =
    (0 until Waves).flatMap { w =>
      ctx.attempted += 1
      ctx.trace("scheduler.wave")(sched.run(w + 1))
    }

  /** Scheduler and TableStore metrics of the traced crawl. Runs after the
    * output checks: it compacts the store once to time `compactTables`. */
  private def layerMetrics(ctx: Ctx, sched: Scheduler, stats: Seq[Scheduler#WaveStats],
      storeDir: String): Unit = {
    val waveSpans = ctx.trace.named("scheduler.wave")
    val perWave = waveSpans.map(s => ctx.work(Seq(s)))
    val all = ctx.work(waveSpans)
    val n = waveSpans.length.toDouble
    val fetched = stats.map(_.fetchedOk).sum
    val (bytes, files) = Measure.dirBytesAndFiles(storeDir)
    ctx.trace("scheduler.compactTables")(sched.compactTables())
    val L = ctx.layer
    L("scheduler.wave_s_p50") = Measure.median(waveSpans.map(_.seconds))
    L("scheduler.wave_s_max") = waveSpans.map(_.seconds).max
    L("scheduler.jobs_per_wave") = all.jobs / n
    L("scheduler.stages_per_wave") = all.stages / n
    L("scheduler.tasks_per_wave") = all.tasks / n
    L("scheduler.idle_s_per_wave") =
      waveSpans.zip(perWave).map { case (s, w) => s.seconds - w.busyS }.sum / n
    L("scheduler.core_util") = ctx.coreUtil(waveSpans, all)
    L("scheduler.fetched_per_job") = fetched.toDouble / math.max(all.jobs, 1L)
    L("scheduler.shuffle_bytes_per_wave") = all.shuffleBytes / n
    L("scheduler.spill_bytes_per_wave") = all.spillBytes / n
    L("scheduler.compact_s") = ctx.trace.named("scheduler.compactTables").map(_.seconds).sum
    L("tablestore.bootstrap_s") =
      Measure.median(ctx.trace.named("tablestore.bootstrap").map(_.seconds))
    L("tablestore.files_per_wave") = files / n
    L("tablestore.bytes_per_fetched_url") = bytes.toDouble / math.max(fetched, 1L)
  }

  /** Hrefs of a generated page, read from its html without the program's
    * link extractor. */
  private val Href = "href=\"([^\"]+)\"".r
  private val PageUrl = "http://host(\\d+)\\.example\\.com(?:/page(\\d+)\\.html)?".r
  private def hrefs(site: Fixtures.ScaleConfig, url: String): Set[String] = url match {
    case PageUrl(h, p) => Href.findAllMatchIn(Fixtures.pageHtml(site, h.toInt,
      Option(p).map(_.toInt).getOrElse(0))).map(_.group(1)).toSet
    case _ => Set.empty
  }

  private def checkCrawl(ctx: Ctx, sched: Scheduler, site: Fixtures.ScaleConfig,
      out: Map[String, Set[String]], urls: Set[String], fetched: Long): Unit = {
    import ctx.spark.implicits._
    val log = sched.fetchLogView.select("url", "method", "outcome", "host", "lane", "vt")
      .as[(String, String, String, String, String, Double)].collect()
    ctx.check(fetched > 0, "the crawl fetched nothing")
    ctx.check(!log.exists(r => r._1.contains("/admin/") && r._3 != "disallowed"),
      "an /admin/ url was fetched")
    ctx.check(log.exists(r => r._1.contains("/admin/") && r._3 == "disallowed"),
      "no /admin/ url reached the robots gate")
    // every html page fetched has exactly the page's hrefs as its links, and
    // every link target is a url row
    val pagesGot = log.filter(r => r._2 == "GET" && r._3 == "ok" && !r._1.endsWith(".csv") &&
      !r._1.endsWith(".pdf")).map(_._1).toSet
    for (p <- pagesGot)
      ctx.check(out.getOrElse(p, Set.empty) == hrefs(site, p), s"links of $p differ from its hrefs")
    ctx.check(out.keySet.subsetOf(pagesGot), "links from a page that was not fetched")
    ctx.check(out.values.flatten.forall(urls.contains), "a link target is not a url row")
    // politeness: each (host, lane) keeps the host's robots Crawl-delay
    // between fetches, in virtual seconds
    val delay = (0 until site.hosts).map { h =>
      Fixtures.hostName(h) -> "Crawl-delay: (\\d+)".r
        .findFirstMatchIn(Fixtures.robotsFor(site, h)).map(_.group(1).toDouble).get
    }.toMap
    val byLane = log.filter(r => Set("ok", "error", "disallowed").contains(r._3))
      .groupBy(r => (r._4, r._5))
    for (((host, lane), rows) <- byLane) {
      val gaps = rows.map(_._6).sorted.sliding(2).collect { case Array(a, b) => b - a }
      ctx.check(gaps.forall(_ >= delay(host) - 1e-9), s"politeness: a gap on $host/$lane is too short")
    }
  }

  /** sha-256 over the sorted urls, the sorted links and the fetch log in
    * crawl order. */
  def digest(sched: Scheduler): String = {
    val spark = sched.urlsView.sparkSession
    import spark.implicits._
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def feed(lines: Seq[String]): Unit = lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    feed(sched.urlsView.select(concat_ws("|", $"url", $"status".cast("string"),
      $"last_get".cast("string"), $"last_head".cast("string"))).as[String].collect().sorted.toSeq)
    feed(sched.linksView.select(concat_ws("|", $"src", $"dst")).as[String].collect().sorted.toSeq)
    feed(sched.fetchLogView.orderBy("vt", "host", "lane", "seq")
      .select(concat_ws("|", $"wave".cast("string"), $"vt".cast("string"), $"host",
        $"lane", $"method", $"url", $"seq".cast("string"), $"outcome"))
      .as[String].collect().toSeq)
    md.digest().map("%02x".format(_)).mkString
  }
}
