package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.crawl.{Fixtures, Scheduler, ShardedBloom}
import graft.functions.{Funcs, Hashing, LinkExtract, Normalize, Sniff}

/** The per-url work of a wave with no store and no per-wave overhead:
  * generated pages → page parse and body hash (map pass) → link extraction →
  * `Scheduler.hashProbeNewUrls` against a parquet seen table (dedup pass).
  * The seen table holds half of the url universe, so the probe's novel leg
  * and its string-confirm leg both do work. */
object SeenKernel extends Workload {
  val Hosts = 256
  val PagesPerHost = 128
  val FunctionPages = 2000 // single-thread loop of the functions layer

  def site(seed: Long): Fixtures.ScaleConfig =
    Fixtures.ScaleConfig(hosts = Hosts, pagesPerHost = PagesPerHost, outDegree = 16, seed = seed)

  /** Seen urls: every url whose seeded hash is even. */
  private def seenUrls(ctx: Ctx): DataFrame = {
    import ctx.spark.implicits._
    val seed = ctx.seed
    Fixtures.scaleSiteUrls(ctx.spark, site(seed)).toDF("url")
      .filter(xxhash64($"url", lit(seed)) % 2 === 0)
  }

  private def candidates(pages: DataFrame): DataFrame =
    pages.select(posexplode(Funcs.extractLinksUdf(col("url"), col("html"))).as(Seq("idx", "dst")))
      .select("dst").distinct()

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val site = this.site(ctx.seed)
    val pages = Fixtures.scaleSitePages(spark, site).toDF()
    val nPages = site.hosts.toLong * site.pagesPerHost + site.hosts

    // set-up: write the seen table, five times; the median is setup_s
    val setups = (0 until 5).map { i =>
      ctx.timed("seen.write_table")(seenUrls(ctx).write.parquet(ctx.dir(s"seen-$i")))._2
    }
    ctx.e2e("setup_s") = Measure.median(setups)
    val seenDir = ctx.dir("seen-4")
    val seen = spark.read.parquet(seenDir)
    // reference for the output check, computed once with a plain string anti-join
    val expectNovel = candidates(pages)
      .join(seen.withColumnRenamed("url", "dst"), Seq("dst"), "left_anti").count()

    // passes until the time budget is spent, at least three; the median
    // keeps the first, JIT-cold pass out of the result
    val passes = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    val t0 = System.nanoTime()
    while (passes.length < 3 || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      ctx.attempted += 1
      val (n, mapS) = ctx.timed("seen.map") {
        pages.select(Funcs.pageParseUdf($"html").as("pp"), Funcs.multihash($"html").as("h"))
          .agg(count(lit(1)), count($"pp._3"), max(length($"h"))).head().getLong(0)
      }
      val (novel, dedupS) = ctx.timed("seen.dedup") {
        Scheduler.hashProbeNewUrls(candidates(pages), seen.select("url")).count()
      }
      ctx.check(n == nPages, s"map pass saw $n pages, expected $nPages")
      ctx.check(novel == expectNovel, s"novel rows $novel, plain anti-join says $expectNovel")
      if (novel != expectNovel) ctx.failed += 1
      passes += ((mapS, dedupS))
    }
    val passS = Measure.median(passes.map(p => p._1 + p._2).toSeq)
    ctx.e2e("run_s") = passS
    ctx.e2e("items_per_s") = nPages / passS

    if (ctx.traced) {
      val L = ctx.layer
      val maps = ctx.trace.named("seen.map")
      val dedups = ctx.trace.named("seen.dedup")
      val all = maps ++ dedups
      val w = ctx.work(all)
      L("seen.map_s") = Measure.median(maps.map(_.seconds))
      L("seen.dedup_s") = Measure.median(dedups.map(_.seconds))
      L("seen.shuffle_bytes") = ctx.work(dedups).shuffleBytes.toDouble / dedups.length
      L("seen.core_util") = ctx.coreUtil(all, w)
      L("seen.novel_rows") = expectNovel.toDouble
      bloom(ctx, pages, seen, expectNovel)
      functions(ctx)
    }
  }

  /** ShardedBloom over the seen table, probed with the pass's candidates. */
  private def bloom(ctx: Ctx, pages: DataFrame, seen: DataFrame, expectNovel: Long): Unit = {
    val cfg = graft.crawl.CrawlConfig()
    val dir = ctx.dir("bloom")
    val shards = cfg.bloomShards
    val (_, buildS) = ctx.timed("seen.bloom_build") {
      ShardedBloom.buildToDir(ctx.spark, seen, "url", shards,
        math.max(64L, cfg.bloomExpectedItems / shards), cfg.bloomFpp, dir)
    }
    val cand = candidates(pages)
    val tagged = cand.withColumn("hit",
      ShardedBloom.mightContainCol(ctx.spark, dir, shards, col("dst"), requireShards = true))
    val (hits, probeS) = ctx.timed("seen.bloom_probe")(tagged.filter(col("hit")).count())
    // rows the bloom lets through that the exact probe finds novel
    val fp = Scheduler.hashProbeNewUrls(tagged.filter(col("hit")).drop("hit"), seen.select("url")).count()
    // a bloom has no false negatives: every rejected row is novel
    val rejected = cand.count() - hits
    ctx.check(expectNovel == fp + rejected,
      s"bloom: $fp false positives + $rejected rejected != $expectNovel novel rows")
    ctx.layer("seen.bloom_build_s") = buildS
    ctx.layer("seen.bloom_probe_s") = probeS
    ctx.layer("seen.bloom_fp_rows") = fp.toDouble
  }

  /** The scalar kernels in a single-thread loop over generated pages, in
    * microseconds per page (parse, extract, hash) or per url (normalize). */
  private def functions(ctx: Ctx): Unit = {
    val site = this.site(ctx.seed)
    val pages = (0 until FunctionPages).map { i =>
      val h = i % site.hosts
      val p = i / site.hosts
      (Fixtures.pageUrl(site, h, p), Fixtures.pageHtml(site, h, p).getBytes("UTF-8"))
    }
    def perItem(name: String, items: Int)(body: => Unit): Double = {
      body // warm
      val (_, s) = ctx.timed(name)(body)
      s * 1e6 / items
    }
    var sink = 0L
    val parse = perItem("functions.pageParse", pages.length) {
      pages.foreach { case (_, b) =>
        val sniff = Sniff.detectContentType(b)
        sink += sniff.length + Option(LinkExtract.titleFromBody(b)).map(_.length).getOrElse(0)
      }
    }
    val links = pages.flatMap { case (u, b) => LinkExtract.extractLinksFromBody(u, b) }
    val extract = perItem("functions.extractLinks", pages.length) {
      pages.foreach { case (u, b) => sink += LinkExtract.extractLinksFromBody(u, b).length }
    }
    val normalize = perItem("functions.normalize", links.length) {
      links.foreach(l => sink += Normalize.normalizeUrlString(l).fold(_.length, _.length))
    }
    val hash = perItem("functions.multihash", pages.length) {
      pages.foreach { case (_, b) => sink += Hashing.multihash(b).length }
    }
    ctx.check(sink != 0, "functions loop did no work")
    ctx.layer("functions.page_parse_us") = parse
    ctx.layer("functions.extract_links_us") = extract
    ctx.layer("functions.normalize_us") = normalize
    ctx.layer("functions.multihash_us") = hash
  }
}
