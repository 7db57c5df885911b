package graft.crawl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Funcs.foldCase

/** Read-API surface (SURVEY §2.1 S9, §3.3): the query helpers behind the
  * reference's JSON endpoints (/urls, /sources, /que, /mem and the url
  * detail routes), expressed as DataFrame plans over the engine's tables.
  * Pagination follows the reference's page/pageSize → LIMIT/OFFSET plumbing
  * (page.go:13-39); orderings reproduce the SQL constants in
  * core/queries.go with deterministic url tiebreaks.
  *
  * Each call answers like the reference's one indexed query: it runs its
  * plan inside the call, every job tagged `api <call>`, and returns the
  * rows as a local frame, so reading the answer runs no further job. Keyed
  * calls read only the rows their key names. `urlByString` is one job
  * that reads the url's log rows, the newest picked on the driver; the
  * link calls first collect the link endpoints, then read their urls the
  * same way (two jobs); `search` is one top-k read of the matching urls'
  * log rows, ordered by url.
  */
final class Api(sched: Scheduler) {

  /** `df`'s rows, computed now under the job tag `api <op>`. */
  private def answer(op: String)(df: => DataFrame): DataFrame = sched.tagged(s"api $op") {
    val d = df
    d.sparkSession.createDataFrame(java.util.Arrays.asList(d.collect(): _*), d.schema)
  }

  private val urlCols = Seq("url", "created", "updated", "last_head", "last_get",
    "status", "content_type", "content_sniff", "content_length", "file_name",
    "title", "id", "headers_took", "download_took", "headers", "meta", "hash")

  /** GET /urls (qUrlsList: order by created desc limit/offset). */
  def listUrls(limit: Int, offset: Int): DataFrame = answer("listUrls") {
    sched.urlsView.orderBy(desc("created"), asc("url"))
      .select(urlCols.map(col): _*).offset(offset).limit(limit)
  }

  /** GET /urls?fetched=true (qUrlsFetched, queries.go:608-616). */
  def fetchedUrls(limit: Int, offset: Int): DataFrame = answer("fetchedUrls") {
    sched.urlsView.filter(col("last_get").isNotNull)
      .orderBy(desc("created"), asc("url"))
      .select(urlCols.map(col): _*).offset(offset).limit(limit)
  }

  /** unfetched urls (qUrlsUnfetched, queries.go:618-626). */
  def unfetchedUrls(limit: Int, offset: Int): DataFrame = answer("unfetchedUrls") {
    sched.urlsView.filter(col("last_get").isNull)
      .orderBy(desc("created"), asc("url"))
      .select(urlCols.map(col): _*).offset(offset).limit(limit)
  }

  /** point lookup by url string (S2, qUrlByUrlString). */
  def urlByString(url: String): DataFrame = sched.tagged("api urlByString")(sched.urlRows(Seq(url)))

  /** search (P13, qUrlSearch: url ilike '%q%' limit 50). Both sides fold
    * case by Spark's locale-free rule; the match is a predicate on the url
    * alone, so one top-k read of the matching urls log rows answers it. */
  def search(q: String, limit: Int = 50): DataFrame = sched.tagged("api search") {
    sched.firstUrlRows(foldCase(col("url")).contains(foldCase(lit(q))), limit,
      Seq("url", "title", "status"))
  }

  /** The url rows at the `to` end of the links whose `from` end is `url`:
    * two jobs, one collecting the link endpoints and one the urls' rows. */
  private def linked(op: String, from: String, to: String, url: String): DataFrame =
    sched.tagged(s"api $op") {
      val ends = sched.linksView.filter(col(from) === url).select(to).collect().map(_.getString(0))
      sched.urlRows(ends.toSeq)
    }

  /** outbound link docs (J1: links.src=$1 AND links.dst=urls.url). */
  def outboundLinks(srcUrl: String): DataFrame =
    linked("outboundLinks", "src", "dst", srcUrl).select("url", "title", "status", "content_sniff")

  /** inbound links (J2: links.dst=$1 AND links.src=urls.url). */
  def inboundLinks(dstUrl: String): DataFrame =
    linked("inboundLinks", "dst", "src", dstUrl).select("url", "title", "status")

  /** snapshots for a url (qSnapshotsByUrl). */
  def snapshotsForUrl(url: String): DataFrame = answer("snapshotsForUrl") {
    sched.snapshotsView.filter(col("url") === url).orderBy(asc("created"))
  }

  /** GET /que — current queued commands in per-host FIFO order. */
  def queue(limit: Int = 1000): DataFrame = answer("queue") {
    sched.frontierView.filter(col("state") === Model.StateQueued)
      .orderBy(asc("host"), asc("seq"))
      .select("url", "method", "host", "lane", "wave", "seq").limit(limit)
  }

  /** /mem-ish gauge (crawler.go:334-349): depths per lane + totals. */
  def stats(): DataFrame = answer("stats") {
    sched.urlsView.agg(
      count(lit(1)).as("urls"),
      count(col("last_get")).as("fetched"),
      sum(when(col("last_get").isNull, 1).otherwise(0)).as("unfetched"))
  }

  /** GET /sources (handlers.go:110-140; qSourcesList: created desc,
    * paginated). The sources table is the crawl's seed catalog. */
  def listSources(limit: Int, offset: Int): DataFrame = answer("listSources") {
    sched.sourcesDF.orderBy(desc("created"), asc("url"))
      .offset(offset).limit(limit)
  }

  /** GET /sources?crawling=true twin (qSourcesCrawling, queries.go:455-464). */
  def crawlingSources(limit: Int, offset: Int): DataFrame = answer("crawlingSources") {
    sched.sourcesDF.filter(col("crawl") === true)
      .orderBy(desc("created"), asc("url"))
      .offset(offset).limit(limit)
  }

  /** GET /uncrawlables (qUncrawlablesList, queries.go:753-765). */
  def listUncrawlables(limit: Int, offset: Int): DataFrame = answer("listUncrawlables") {
    sched.uncrawlablesView.orderBy(desc("created"), asc("url"))
      .offset(offset).limit(limit)
  }

  /** GET /repositories (qDataRepos, queries.go:149-156) over the real
    * catalog table (Mutations.createDataRepo writes it). */
  def listDataRepos(mut: Mutations, limit: Int, offset: Int): DataFrame =
    answer("listDataRepos") {
      mut.dataRepos.filter(!col("deleted"))
        .orderBy(desc("created"), asc("id"))
        .select("id", "created", "updated", "title", "description", "url")
        .offset(offset).limit(limit)
    }

  /** GET custom crawls (qCustomCrawlsList, queries.go:825-832). */
  def listCustomCrawls(mut: Mutations, limit: Int, offset: Int): DataFrame =
    answer("listCustomCrawls") {
      mut.customCrawls.orderBy(desc("created"), asc("id"))
        .offset(offset).limit(limit)
    }
}
