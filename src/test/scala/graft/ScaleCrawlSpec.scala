package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.crawl._

/** Crawl correctness on the seeded scale web-graph: lane routing, robots
  * disallow, per-host FIFO, and politeness under per-host Crawl-delays. */
class ScaleCrawlSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val cfg = Fixtures.ScaleConfig(hosts = 6, pagesPerHost = 8,
    outDegree = 4, contentFraction = 0.25, fillerParagraphs = 2,
    adminPages = true)

  private lazy val sched: Scheduler = {
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val store = new TableStore(spark, SparkTestBase.tempDir("scale-crawl"))
    val s = new Scheduler(spark, store,
      CrawlConfig(waveWindowSec = 48.0, seedSourcesLimit = 200))
    val pages = Fixtures.scaleSitePages(spark, cfg).toDF()
      .unionByName(Fixtures.pagesDF(spark, Fixtures.adminPages(cfg)))
    s.bootstrap(pages, Fixtures.sourcesDF(spark,
      Fixtures.scaleSiteSources(cfg, crawlingHosts = 4))) // 4 of 8 hosts whitelisted
    s.run(maxWaves = 30)
    s
  }

  test("whitelisted-host html pages get fetched; off-whitelist only HEAD-attempted") {
    val urls = sched.urlsView.collect().map(r =>
      r.getAs[String]("url") -> r).toMap
    // every root of the 4 crawling hosts was GET'd
    (0 until 4).foreach { h =>
      val root = urls(s"http://${Fixtures.hostName(h)}")
      assert(root.getAs[java.sql.Timestamp]("last_get") != null, s"root $h not fetched")
    }
    // pages on non-crawling hosts may be stored (links) but never GET'd via lane A
    val offWl = urls.keys.filter(u => (4 until cfg.hosts).exists(h => u.contains(Fixtures.hostName(h))))
    val getsOffWl = sched.fetchLogView
      .filter($"lane" === "A" && $"method" === "GET" && $"outcome" === "ok")
      .select("url").as[String].collect()
      .filter(u => (4 until cfg.hosts).exists(h => u.contains(Fixtures.hostName(h))))
    assert(offWl.nonEmpty && getsOffWl.isEmpty,
      s"off-whitelist GETs happened: ${getsOffWl.take(3).mkString(",")}")
  }

  test("content urls (.csv/.pdf) route to lane B") {
    val laneB = sched.fetchLogView.filter($"lane" === "B" && $"outcome" === "ok")
      .select("url").as[String].collect()
    assert(laneB.nonEmpty)
    assert(laneB.forall(u => u.endsWith(".csv") || u.endsWith(".pdf")),
      s"non-content on lane B: ${laneB.filterNot(u => u.endsWith(".csv") || u.endsWith(".pdf")).take(3).mkString(",")}")
  }

  test("robots Disallow: /admin/ is enforced; the url is stored but never fetched") {
    val disallowed = sched.fetchLogView.filter($"outcome" === "disallowed")
      .select("url").as[String].collect()
    assert(disallowed.nonEmpty)
    assert(disallowed.forall(_.contains("/admin/")))
    val adminUrls = sched.urlsView.filter($"url".contains("/admin/")).collect()
    assert(adminUrls.nonEmpty) // stored by extraction
    assert(adminUrls.forall(r => r.getAs[java.sql.Timestamp]("last_get") == null &&
      r.getAs[java.sql.Timestamp]("last_head") == null))
  }

  test("per-host FIFO and politeness with per-host robots Crawl-delay") {
    val log = sched.fetchLogView
      .filter($"outcome".isin("ok", "error", "disallowed"))
      .select($"host", $"lane", $"vt", $"seq").collect()
      .groupBy(r => (r.getAs[String]("host"), r.getAs[String]("lane")))
    assert(log.nonEmpty)
    log.foreach { case ((host, lane), rows) =>
      val byVt = rows.sortBy(_.getAs[Double]("vt"))
      // FIFO: execution order (vt) is monotone in enqueue order (seq)
      val seqs = byVt.map(_.getAs[Long]("seq"))
      assert(seqs.sorted.sameElements(seqs), s"FIFO violated on $host/$lane")
      // politeness: effective delay from that host's robots (1..3 vsec)
      val h = host.split("\\.")(0).stripPrefix("host").toInt
      val delay = 1 + (math.abs(Fixtures.mix(cfg.seed, 777L + h).toInt) % 3)
      byVt.map(_.getAs[Double]("vt")).sliding(2).foreach {
        case Array(a, b) => assert(b - a >= delay - 1e-9,
          s"gap ${b - a} < delay $delay on $host/$lane")
        case _ => ()
      }
    }
  }

  test("steady-state waves read O(delta) rows from urls, not O(table)") {
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val store = new TableStore(spark, SparkTestBase.tempDir("odelta-crawl"))
    val s = new Scheduler(spark, store,
      CrawlConfig(waveWindowSec = 48.0, seedSourcesLimit = 200, urlBuckets = 16))
    val pages = Fixtures.scaleSitePages(spark, cfg).toDF()
      .unionByName(Fixtures.pagesDF(spark, Fixtures.adminPages(cfg)))
    s.bootstrap(pages, Fixtures.sourcesDF(spark,
      Fixtures.scaleSiteSources(cfg, crawlingHosts = 4)))
    val stats = s.run(maxWaves = 30)
    val tableRows = s.urlsView.count()
    // non-seed waves (wave > 0, frontier above watermark) must read only the
    // buckets their candidate urls hash into — strictly less than the table
    // once the table outgrows a single wave's candidate set
    val steady = stats.filter(st => st.wave > 0 && st.taken > 0 &&
      st.urlsRead > 0 && st.urlsRead < tableRows)
    assert(steady.nonEmpty,
      s"no wave read fewer urls rows than the table ($tableRows): " +
        stats.map(st => s"w${st.wave}:taken=${st.taken},read=${st.urlsRead}").mkString(" "))
    // and the pruned read is bucket-bounded: <= candidates/buckets share of
    // the table plus slack (each candidate opens at most one bucket)
    steady.foreach { st =>
      val cands = st.taken + st.enqueued + 64
      val maxBuckets = math.min(16L, cands)
      assert(st.urlsRead <= (tableRows * maxBuckets) / 16 + 64,
        s"wave ${st.wave} read ${st.urlsRead} of $tableRows with ~$cands candidates")
    }
  }

  test("frontier writes are O(delta) transitions, never O(queue depth)") {
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val store = new TableStore(spark, SparkTestBase.tempDir("frontier-delta"))
    // a deep backlog: 2 hosts x 48 pages, out-degree 10, short politeness
    // window — takes are budget-bound (<= window/delay per host) while the
    // queue accumulates, so depth >> per-wave delta after a few waves
    val deep = Fixtures.ScaleConfig(hosts = 2, pagesPerHost = 48,
      outDegree = 10, contentFraction = 0.0, fillerParagraphs = 1)
    val s = new Scheduler(spark, store,
      CrawlConfig(waveWindowSec = 8.0, compactEvery = 0))
    s.bootstrap(Fixtures.scaleSitePages(spark, deep).toDF(),
      Fixtures.sourcesDF(spark, Fixtures.scaleSiteSources(deep, crawlingHosts = 2)))
    val stats = s.run(maxWaves = 12)
    // per-wave frontier rows written, from the committed lineage evidence
    val fw = s.lineageView.filter($"table" === "frontier")
      .groupBy("wave").agg(sum("rows").as("rows")).collect()
      .map(r => r.getAs[Long]("wave") -> r.getAs[Long]("rows")).toMap
    // every wave's frontier write is bounded by its own transition delta
    // (seeds <= 610 caps, takes, blocked <= takes, enqueues) — independent
    // of the standing queue depth
    stats.foreach { st =>
      val bound = 2 * st.taken + st.enqueued + 620
      assert(fw.getOrElse(st.wave, 0L) <= bound,
        s"wave ${st.wave} wrote ${fw(st.wave)} frontier rows, delta bound $bound")
    }
    // and the backlog provably exceeded the written delta somewhere
    val deepWaves = stats.filter(st =>
      st.frontierDepth > 2 * fw.getOrElse(st.wave, Long.MaxValue))
    assert(deepWaves.nonEmpty,
      "no wave had depth > 2x frontier writes: " + stats.map(st =>
        s"w${st.wave}:depth=${st.frontierDepth},wrote=${fw.getOrElse(st.wave, -1L)}")
        .mkString(" "))
  }

  test("politeness budget: WindowGroupLimit prunes below the exchange; no robots text in the window") {
    val store = new TableStore(spark, SparkTestBase.tempDir("budget-plan"))
    val s = new Scheduler(spark, store, CrawlConfig())
    val queued = (0 until 300).map(i =>
      (s"http://h${i % 3}/p$i", "GET", s"h${i % 3}", "A", 0L, i.toLong, "queued"))
      .toDF("url", "method", "host", "lane", "wave", "seq", "state")
    val hostPlan = Seq(
      ("h0", "A", false, "User-agent: *\nDisallow: /x\n", 1.0, 0.0),
      ("h1", "A", false, "", 2.0, 0.0),
      ("h2", "A", true, "User-agent: *\n", 1.0, 0.0))
      .toDF("host", "lane", "robots_now", "eff_robots_txt", "eff_delay", "start_vt")
    val b = s.politeBudget(queued, hostPlan, waveEnd = 8.0, rankBound = 9)
    // plan: the rank pre-filter must reach the WindowGroupLimit operator
    assert(b.queryExecution.executedPlan.toString.contains("WindowGroupLimit"),
      "rank pre-filter did not produce a WindowGroupLimit")
    // plan: the window subtree must not carry the robots body
    val windows = b.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      assert(!w.output.exists(_.name.contains("robots_txt")),
        "robots text enters the window exchange")
    }
    // semantics: per-host budget = floor(window/delay) rows at delay spacing
    val rows = b.collect()
    val perHost = rows.groupBy(_.getAs[String]("host")).view.mapValues(_.length).toMap
    assert(perHost("h0") == 8)  // 8s window / 1s delay
    assert(perHost("h1") == 4)  // 8s / 2s
    assert(perHost("h2") == 7)  // robots fetch consumes the first slot
    // FIFO per host and robots text joined back for the gate
    rows.groupBy(_.getAs[String]("host")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Double]("vt"))
      assert(sorted.map(_.getAs[Long]("seq")).sameElements(
        sorted.map(_.getAs[Long]("seq")).sorted))
    }
    assert(rows.filter(_.getAs[String]("host") == "h0")
      .forall(_.getAs[String]("eff_robots_txt").contains("Disallow")))
  }

  test("a zero-delay host no longer disables WindowGroupLimit for the other hosts") {
    val store = new TableStore(spark, SparkTestBase.tempDir("budget-zero"))
    val s = new Scheduler(spark, store, CrawlConfig())
    val queued = (0 until 300).map(i =>
      (s"http://h${i % 3}/p$i", "GET", s"h${i % 3}", "A", 0L, i.toLong, "queued"))
      .toDF("url", "method", "host", "lane", "wave", "seq", "state")
    // h1 carries a robots Crawl-delay: 0 — the round-3 plan collapsed the
    // rank bound to Long.MaxValue for EVERY host in this situation
    val hostPlan = Seq(
      ("h0", "A", false, "", 1.0, 0.0),
      ("h1", "A", false, "User-agent: *\nCrawl-delay: 0\n", 0.0, 0.0),
      ("h2", "A", false, "", 2.0, 0.0))
      .toDF("host", "lane", "robots_now", "eff_robots_txt", "eff_delay", "start_vt")
    val b = s.politeBudget(queued, hostPlan, waveEnd = 8.0, rankBound = 9)
    assert(b.queryExecution.executedPlan.toString.contains("WindowGroupLimit"),
      "positive-delay hosts lost their WindowGroupLimit prune")
    val perHost = b.collect().groupBy(_.getAs[String]("host")).view.mapValues(_.length).toMap
    assert(perHost("h0") == 8)   // 8s window / 1s delay
    assert(perHost("h1") == 100) // zero delay: whole backlog inside the window
    assert(perHost("h2") == 4)   // 8s / 2s
  }

  test("one wave scans the committed frontier log exactly once") {
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val store = new TableStore(spark, SparkTestBase.tempDir("frontier-scan-count"))
    val s = new Scheduler(spark, store, CrawlConfig(waveWindowSec = 8.0))
    val deep = Fixtures.ScaleConfig(hosts = 2, pagesPerHost = 24,
      outDegree = 8, contentFraction = 0.0, fillerParagraphs = 1)
    s.bootstrap(Fixtures.scaleSitePages(spark, deep).toDF(),
      Fixtures.sourcesDF(spark, Fixtures.scaleSiteSources(deep, crawlingHosts = 2)))
    // a few waves so the committed frontier log has real history
    (0L to 2L).foreach(s.runWave)
    val committedDirs = {
      val d = new java.io.File(store.rootPath, "frontier")
      d.listFiles().map(_.getAbsolutePath).toSet
    }
    val scanCount = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      private def touches(qe: org.apache.spark.sql.execution.QueryExecution): Boolean =
        qe.analyzed.collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location.rootPaths.map(_.toString)
              case _ => Nil
            }
        }.flatten.exists(p => committedDirs.exists(p.contains))
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        if (touches(qe)) scanCount.incrementAndGet()
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      s.runWave(3L)
      // listener events dispatch asynchronously — wait for the bus to drain
      val deadline = System.nanoTime() + 15e9.toLong
      var last = -1
      while (System.nanoTime() < deadline &&
        (scanCount.get() == 0 || scanCount.get() != last)) {
        last = scanCount.get(); Thread.sleep(500)
      }
    } finally spark.listenerManager.unregister(listener)
    // exactly one execution (the per-wave localCheckpoint materialization)
    // reads the committed transition log; the gauge, the budget slice and
    // the active-set all reuse the checkpointed frame
    assert(scanCount.get() == 1,
      s"committed frontier log was scanned ${scanCount.get()} times in one wave")
  }

  test("uncrawlable urls are never enqueued or fetched") {
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val store = new TableStore(spark, SparkTestBase.tempDir("uncrawl-crawl"))
    val s = new Scheduler(spark, store, CrawlConfig(waveWindowSec = 48.0))
    val pages = Fixtures.scaleSitePages(spark, cfg).toDF()
      .unionByName(Fixtures.pagesDF(spark, Fixtures.adminPages(cfg)))
    s.bootstrap(pages, Fixtures.sourcesDF(spark,
      Fixtures.scaleSiteSources(cfg, crawlingHosts = 4)))
    // block a page that the reference crawl provably fetches (from `sched`)
    val victim = sched.fetchLogView
      .filter($"outcome" === "ok" && $"seq" >= 0 && $"wave" >= 1)
      .orderBy($"wave", $"vt").select("url").as[String].head()
    s.markUncrawlable(victim)
    s.run(maxWaves = 30)
    val fetched = s.fetchLogView.filter($"url" === victim && $"seq" >= 0).count()
    assert(fetched == 0L, s"uncrawlable $victim was scheduled")
    val inFrontier = s.frontierView.filter($"url" === victim).count()
    assert(inFrontier == 0L, s"uncrawlable $victim entered the frontier")
  }

  test("soft-deleted sources neither seed nor whitelist (qSourcesCrawling P9)") {
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val store = new TableStore(spark, SparkTestBase.tempDir("deleted-src"))
    val s = new Scheduler(spark, store, CrawlConfig(waveWindowSec = 48.0))
    val pages = Fixtures.scaleSitePages(spark, cfg).toDF()
      .unionByName(Fixtures.pagesDF(spark, Fixtures.adminPages(cfg)))
    val sources = Fixtures.scaleSiteSources(cfg, crawlingHosts = 4)
      .map(src => if (src.url == Fixtures.hostName(2)) src.copy(deleted = true) else src)
    s.bootstrap(pages, Fixtures.sourcesDF(spark, sources))
    s.run(maxWaves = 12)
    val gets = s.fetchLogView
      .filter($"method" === "GET" && $"outcome" === "ok" && $"lane" === "A")
      .select("url").as[String].collect().toSet
    assert(gets.contains(s"http://${Fixtures.hostName(0)}"), "live source did not seed")
    assert(!gets.exists(_.contains(Fixtures.hostName(2))),
      "soft-deleted source still seeded / whitelisted")
  }

  test("crawl converges: every whitelisted html page reachable from roots is fetched") {
    val okGets = sched.fetchLogView
      .filter($"method" === "GET" && $"outcome" === "ok" && $"lane" === "A")
      .select("url").as[String].collect().toSet
    // at minimum the 4 roots plus a healthy share of their graphs
    assert(okGets.size >= 4)
    val totalFetched = sched.urlsView.filter($"last_get".isNotNull).count()
    assert(totalFetched >= okGets.size)
  }

  test("J8 enqueue probe: hash semi-join reaches seen; candidates read once") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.types.{LongType, StringType}
    // candidate dsts with extra carried columns + a seen table that plants
    // a true member, a non-member, and duplicate cand rows
    val cand = Seq(("http://h0/a", 1L), ("http://h0/b", 2L),
      ("http://h0/b", 3L), ("http://h1/c", 4L)).toDF("dst", "tag")
    val seenDir = SparkTestBase.tempDir("j8-seen")
    Seq("http://h0/a", "http://h9/z", "http://h0/q").toDF("url")
      .write.mode("overwrite").parquet(seenDir)
    val seen = spark.read.parquet(seenDir)
    val probed = Scheduler.hashProbeNewUrls(cand, seen)
    // exact equivalence with the plain string anti-join, duplicates kept
    val expected = cand.join(seen.select(col("url").as("dst")),
      Seq("dst"), "left_anti")
    assert(probed.collect().map(_.toString).sorted.toSeq ==
      expected.collect().map(_.toString).sorted.toSeq)
    assert(probed.columns.toSeq == cand.columns.toSeq, "column order preserved")

    // plan shape, on the executed (adaptive) plan: AQE wraps materialized
    // subtrees in QueryStageExec nodes with no children — walk into them
    probed.write.format("noop").mode("overwrite").save()
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case other => other.children
    }
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(nodes)
    def isSeenScan(p: SparkPlan): Boolean = p match {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.exists(_.toString.contains(new java.io.File(seenDir).getName))
      case _ => false
    }
    // each scan of the seen table, with the nearest join above it and
    // whether the scan feeds that join's left side
    def seenReach(p: SparkPlan, via: Option[(BaseJoinExec, Boolean)])
        : Seq[Option[(BaseJoinExec, Boolean)]] = p match {
      case s if isSeenScan(s) => Seq(via)
      case j: BaseJoinExec =>
        seenReach(j.left, Some((j, true))) ++ seenReach(j.right, Some((j, false)))
      case other => kids(other).flatMap(seenReach(_, via))
    }
    val plan = probed.queryExecution.executedPlan
    val reach = seenReach(plan, None)
    assert(reach.size == 1, s"the seen table is scanned ${reach.size} times in:\n$plan")
    val (semi, seenLeft) = reach.head.getOrElse(fail(s"the seen scan feeds no join in:\n$plan"))
    assert(seenLeft && semi.joinType.sql == "LEFT SEMI" &&
      semi.leftKeys.nonEmpty && semi.leftKeys.forall(_.dataType == LongType),
      s"the seen table must feed a hash-keyed LeftSemi, got:\n$semi")
    assert(semi.right.output.map(_.dataType) == Seq(LongType),
      s"the semi-join's candidate side must be exactly one long column: ${semi.right.output}")
    val joins = nodes(plan).collect { case j: BaseJoinExec => j }
    assert(joins.exists(j => j.joinType.sql == "LEFT ANTI" &&
      j.leftKeys.nonEmpty && j.leftKeys.forall(_.dataType == StringType)),
      s"no string-keyed LeftAnti in:\n$plan")

    // the candidates are evaluated once per probe: a counting UDF in a
    // carried column fires |cand| times per call, on each of two calls
    val evals = spark.sparkContext.longAccumulator("j8-candidate-evals")
    val tick = udf { (t: Long) => evals.add(1); t }
    val counted = cand.withColumn("tag", tick(col("tag")))
    (1 to 2).foreach { call =>
      val before = evals.value
      val out = Scheduler.hashProbeNewUrls(counted, seen).collect()
      assert(out.length == expected.count())
      assert(evals.value - before == cand.count(),
        s"call $call evaluated ${evals.value - before} candidate rows, not ${cand.count()}")
    }
    assert(spark.sharedState.cacheManager.isEmpty, "the probe left a CacheManager entry")
  }

  test("J8 probe rejects a candidate frame that already carries a uh_ column") {
    // the probe's own hash column would silently overwrite the caller's
    val cand = Seq(("http://h0/a", 7L)).toDF("dst", "uh_")
    val seen = Seq("http://h0/a").toDF("url")
    val e = intercept[IllegalArgumentException](Scheduler.hashProbeNewUrls(cand, seen))
    assert(e.getMessage.contains("uh_"))
  }
}
