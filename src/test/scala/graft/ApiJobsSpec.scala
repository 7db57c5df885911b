package graft

import java.nio.file.{Files, Paths}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.crawl._
import graft.functions.Funcs

/** The Api at point cost: each call runs a pinned number of Spark jobs, all
  * tagged `api <call>`, and answers exactly what the full-view formulation
  * answers (a filter of `urlsView`, a broadcast join of the links against
  * it), through seeds, blocks and re-seeds. */
class ApiJobsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val site = Fixtures.ScaleConfig(hosts = 6, pagesPerHost = 8,
    outDegree = 4, contentFraction = 0.25, fillerParagraphs = 2,
    adminPages = true)

  private lazy val (sched, store) = {
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val store = new TableStore(spark, SparkTestBase.tempDir("api-jobs"))
    val s = new Scheduler(spark, store, CrawlConfig(waveWindowSec = 48.0))
    s.bootstrap(Fixtures.scaleSitePages(spark, site).toDF()
      .unionByName(Fixtures.pagesDF(spark, Fixtures.adminPages(site))),
      Fixtures.sourcesDF(spark, Fixtures.scaleSiteSources(site, crawlingHosts = 4)))
    s.run(2)
    (s, store)
  }
  private lazy val api = new Api(sched)

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** Runs `body`, asserts that it ran between 1 and `most` jobs, each
    * tagged `api <op>`, and returns its result. */
  private def call[T](op: String, most: Int)(body: => T): T = {
    var out: Option[T] = None
    val jobs = SparkTestBase.jobsDuring { out = Some(body) }
    assert(jobs.nonEmpty && jobs.size <= most, s"$op ran ${jobs.size} jobs: $jobs")
    assert(jobs.forall(_ == s"api $op"), s"$op ran untagged jobs: $jobs")
    out.get
  }

  /** Every read call against its full-view formulation, for one url, one
    * link source, one link target and one search term. */
  private def readsMatch(url: String, src: String, dst: String, q: String): Unit = {
    val u = sched.urlsView
    assert(call("urlByString", 1)(rows(api.urlByString(url))) ==
      rows(u.filter($"url" === url)))
    val out = sched.linksView.filter($"src" === src)
    assert(call("outboundLinks", 2)(rows(api.outboundLinks(src))) ==
      rows(broadcast(out).join(u, out("dst") === u("url"))
        .select(u("url"), $"title", $"status", $"content_sniff")))
    val in = sched.linksView.filter($"dst" === dst)
    assert(call("inboundLinks", 2)(rows(api.inboundLinks(dst))) ==
      rows(broadcast(in).join(u, in("src") === u("url")).select(u("url"), $"title", $"status")))
    assert(call("search", 2)(rows(api.search(q))) ==
      rows(u.filter(lower($"url").contains(lower(lit(q))))
        .orderBy("url").select("url", "title", "status").limit(50)))
    val page = call("listUrls", 2)(api.listUrls(7, 3))
    assert(page.collect().map(_.toString).toSeq ==
      u.orderBy(desc("created"), asc("url")).select(page.columns.map(col): _*)
        .offset(3).limit(7).collect().map(_.toString).toSeq)
  }

  private def versions(table: String): Int = {
    val dir = Paths.get(store.rootPath, table)
    if (!Files.exists(dir)) 0 else Files.list(dir).count().toInt
  }

  test("each call runs its pinned jobs, tagged, and answers as the full view does") {
    val links = sched.linksView.select("src", "dst").as[(String, String)].collect().sorted
    assert(links.nonEmpty)
    val (src, dst) = links(links.length / 2)
    val fetched = sched.urlsView.filter($"last_get".isNotNull).select("url").as[String]
      .collect().sorted
    readsMatch(fetched.head, src, dst, "HOST0001")

    val root = s"http://${Fixtures.hostName(1)}"
    val fresh = s"$root/serve-0.html"
    def slot(u: String) = sched.frontierView.filter($"url" === u).collect()
    def urlRows(u: String) = sched.urlsView.filter($"url" === u).count()
    def audits = store.readAppendOnly("archive_requests").fold(0L)(_.count())

    // a fresh url inside a source prefix: a slot on lane C, a url row, an audit
    assert(call("seedUrl", 2)(sched.seedUrl(fresh)))
    assert(slot(fresh).map(_.getAs[String]("lane")).toSeq == Seq("C"))
    assert(urlRows(fresh) == 1 && audits == 1)
    readsMatch(fresh, src, fresh, "SERVE")

    // blocked: the slot is evicted, and a seed is refused with no writes
    call("markUncrawlable", 2)(sched.markUncrawlable(fresh))
    assert(slot(fresh).isEmpty)
    val before = Seq("urls", "frontier", "archive_requests").map(versions)
    assert(!call("seedUrl", 2)(sched.seedUrl(fresh)))
    assert(Seq("urls", "frontier", "archive_requests").map(versions) == before)
    assert(slot(fresh).isEmpty && audits == 1)
    readsMatch(fresh, src, dst, "serve")

    // outside every source prefix: refused before any write
    assert(!call("seedUrl", 2)(sched.seedUrl("http://elsewhere.example.org/x")))
    assert(Seq("urls", "frontier", "archive_requests").map(versions) == before)

    // seeding a url the crawl already knows (and fetched): audited and
    // queued again, but its url row stands, so no urls version is added
    val known = fetched.filter(_.startsWith(root)).last
    val urlsBefore = versions("urls")
    assert(call("seedUrl", 2)(sched.seedUrl(known)))
    assert(versions("urls") == urlsBefore, "seeding a known url wrote a urls version")
    assert(urlRows(known) == 1 && slot(known).length == 1 && audits == 2)
    // seeding it again while it holds its slot adds only the audit row
    val frontierBefore = versions("frontier")
    assert(call("seedUrl", 2)(sched.seedUrl(known)))
    assert(versions("frontier") == frontierBefore && versions("urls") == urlsBefore)
    assert(slot(known).length == 1 && audits == 3)
    readsMatch(known, known, known, root.toUpperCase(java.util.Locale.ROOT))

    // a wave after the Api writes: the views it leaves still match
    sched.run(store.currentWave.toInt + 2)
    readsMatch(known, src, dst, "PAGE")
  }

  test("urlRows answers one live row per listed url, in list order") {
    val us = sched.urlsView.select("url").as[String].collect().sorted.take(3).toSeq
    val asked = us :+ us.head :+ "http://nowhere.example.org/none"
    var got = Array.empty[org.apache.spark.sql.Row]
    assert(SparkTestBase.jobsDuring { got = sched.urlRows(asked).collect() }.size == 1)
    assert(got.map(_.getString(0)).toSeq == us :+ us.head)
    assert(got.map(_.toString).toSeq == (us :+ us.head).map(u =>
      sched.urlsView.filter($"url" === u).collect().head.toString))
    assert(sched.urlRows(Nil).collect().isEmpty)
  }

  test("firstUrlRows reads a longer prefix when one ends inside a url's rows") {
    val store = new TableStore(spark, SparkTestBase.tempDir("first-rows"))
    val s = new Scheduler(spark, store, CrawlConfig())
    store.stageAppend("urls", ((1 to 9).map(w => ("http://a.example/", s"a$w", w.toLong, 1)) :+
      ("http://b.example/", "b1", 1L, 1)).toDF("url", "title", "w_wave", "w_prio"))
    store.commitWave(0)
    var got = Array.empty[org.apache.spark.sql.Row]
    // the first 4-row prefix holds only a's rows, so a is not whole: read 16
    val jobs = SparkTestBase.jobsDuring {
      got = s.firstUrlRows(lit(true), 1, Seq("url", "title")).collect()
    }
    assert(got.map(_.getString(1)).toSeq == Seq("a9") && jobs.size == 2, jobs)
    assert(s.firstUrlRows(lit(true), 5, Seq("title")).collect().map(_.getString(0)).toSeq ==
      Seq("a9", "b1"))
  }

  test("a merge-on-read view is built once per committed version") {
    val v = sched.urlsView
    assert(sched.urlsView eq v, "an unchanged urls table rebuilt its view")
    assert(sched.frontierView eq sched.frontierView)
    assert(sched.seedUrl(s"http://${Fixtures.hostName(2)}/memo.html"))
    val after = sched.urlsView
    assert(after ne v, "a committed urls version served the old view")
    assert(after.count() == v.count() + 1)
  }

  test("search folds case by Spark's rule, not the JVM's default locale") {
    val prev = java.util.Locale.getDefault
    java.util.Locale.setDefault(new java.util.Locale("tr"))
    try {
      // under tr, "ADMIN".toLowerCase is "admın" (dotless i), which no url has
      val hits = api.search("ADMIN").select("url").as[String].collect()
      assert(hits.nonEmpty && hits.forall(_.contains("/admin/")), hits.toSeq)
    } finally java.util.Locale.setDefault(prev)
  }

  test("foldCase equals lower row for row: ASCII, non-ASCII and invalid UTF-8") {
    val ascii = Gen.listOf(Gen.choose(0, 127).map(_.toChar)).map(_.mkString)
    // dotted capital I, capital sharp s, final and medial sigma, Cyrillic,
    // a surrogate pair, and characters whose lowercase changes length
    val special = Gen.oneOf("İ", "ẞ", "Σ", "ΟΔΟΣ", "ΣΑ", "Ǆ", "Ω", "ÀÉÎ", "Ж", "𐐀",
      "ﬀ", "Ⅻ", "\u212A", "\u212B")
    val text = Gen.listOf(Gen.frequency(4 -> ascii, 2 -> special)).map(_.mkString)
    val utf8 = text.map(_.getBytes("UTF-8"))
    // raw bytes: stray continuation bytes, truncated sequences, 0xFF
    val invalid = Gen.listOf(Gen.frequency(3 -> Gen.choose(0x41, 0x5a),
      1 -> Gen.oneOf(0x80, 0xbf, 0xc3, 0xe2, 0xf0, 0xff))).map(_.map(_.toByte).toArray)
    val bytes = Gen.frequency(2 -> ascii.map(_.getBytes("UTF-8")), 2 -> utf8, 1 -> invalid)
    val prop = Prop.forAll(Gen.listOf(bytes)) { bs =>
      val s = bs.map(Option(_)).appended(None).toDF("b").select($"b".cast("string").as("s"))
      s.select(Funcs.foldCase($"s").cast("binary"), lower($"s").cast("binary")).collect()
        .forall(r => java.util.Arrays.equals(r.getAs[Array[Byte]](0), r.getAs[Array[Byte]](1)) ||
          (r.isNullAt(0) && r.isNullAt(1)))
    }
    val params = Test.Parameters.default
      .withMinSuccessfulTests(25).withMaxSize(30).withWorkers(1)
    val result = Test.check(params, prop)
    assert(result.passed, Pretty.pretty(result))
    // a literal folds on the driver, by the same rule
    for (t <- Seq("HOST0001", "İSTANBUL", "ΟΔΟΣ", "ẞ"))
      assert(spark.range(1).select(Funcs.foldCase(lit(t))).as[String].head() ==
        spark.range(1).select(lower(lit(t))).as[String].head(), t)
  }
}
