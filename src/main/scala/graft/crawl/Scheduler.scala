package graft.crawl

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import graft.functions.{Funcs, GoUrl}

/** Crawl configuration — reference defaults cited in BASELINE.md. */
final case class CrawlConfig(
    agent: String = "Fetchbot (https://github.com/PuerkitoBio/fetchbot)", // fetch.go:43-44
    crawlDelaySec: Double = 1.0, // cfg.CrawlDelaySeconds (config.go:52-56); lib default 5s
    polite: Boolean = true,      // robots respected unless Polite=false (crawler.go:123)
    staleDurationSec: Long = 72L * 3600, // StaleDuration 72h hardcoded (config.go:97-100)
    waveWindowSec: Double = 8.0, // virtual politeness window per wave
    seedSourcesLimit: Int = 200, // crawler.go:139
    seedUrlsInit: Int = 10,      // crawler.go:140
    seedUrlsRefill: Int = 400,   // crawler.go:150
    lowWatermark: Int = 100,     // crawler.go:147
    quiescent: Boolean = true,   // gate re-seeds on staleness so batch runs terminate
    /** Order each host's takes by recrawl staleness score (most-stale
      * first, seq tiebreak) instead of pure FIFO — the priority-queue mode
      * of the north star. Off by default: the reference's fetchbot queues
      * are FIFO and the golden crawl-order oracles pin that ordering. */
    stalenessPriority: Boolean = false,
    /** Geometry of the A9 sharded-bloom operator: items, false-positive
      * rate and shard count. The crawl wave reads none of these (its
      * URL-seen check is the exact probe alone); perfbench's SeenKernel
      * sizes its bloom from them. */
    bloomExpectedItems: Long = 1L << 20,
    bloomFpp: Double = 0.01,
    bloomShards: Int = 8,
    urlBuckets: Int = 16,   // urls table hash-bucket partitioning (O(delta) waves)
    compactEvery: Int = 8)

/** The crawl scheduler: sentry's three-fetcher pipeline
  * (/root/reference/crawler.go:36-156, content_crawler.go, seed_crawler.go +
  * vendor/github.com/PuerkitoBio/fetchbot/fetch.go) re-expressed as a
  * deterministic batch loop of DataFrame transformations — the foreachBatch
  * body of a Structured-Streaming deployment (SURVEY §3.1).
  *
  * One wave = one virtual politeness window:
  *   seed (T7 thresholds 200/10/400/100) → enqueue-dedup (J8 anti-join vs
  *   frontier) → per-host budget (T4 politeness, T3 FIFO by seq) → robots
  *   gate (P8) → offline fetch (join vs the page table, S6) → response
  *   handlers (GET/HEAD mux P12; link extraction F9; url/link/snapshot
  *   writes T9) → next-wave enqueues → atomic multi-table commit + lineage
  *   (T10).
  *
  * Time is virtual (vt = seconds since Model epoch): politeness is enforced
  * by budgeted takes — a host executes at most floor(window/delay) commands
  * per wave at vt spacing >= its effective delay — instead of sleeping in
  * executors. That yields a deterministic, parallelism-independent schedule
  * (the north rule's exact-match property holds at local[8] and local[32]
  * alike). Deliberate, documented determinism deviations from the reference
  * (which stamps wall-clock time, random uuids, and random Go-map header
  * order): deterministic sha-derived ids, fixed header k/v order, and
  * set-semantics enqueue (sentry's 30-min reseed tick can transiently
  * double-enqueue; final membership is identical).
  *
  * Scale notes (10^10-url frontier): every join/agg below keys on `url` or
  * `(host, lane)`; the frontier and urls tables are the only large state and
  * both are append/MOR parquet (Iceberg-shaped). Small sides (whitelist,
  * host plan, robots) broadcast. Per-host FIFO needs only a per-host window
  * over the *budgeted* rows (bounded by window/delay per host), never a
  * global sort. Mega-host skew is bounded by the politeness budget itself —
  * a host can contribute at most floor(window/delay) rows per wave — so the
  * fetch stage is skew-immune by construction; the enqueue anti-joins rely
  * on AQE skew handling.
  *
  * Driver cost: a wave is bound by Spark job latency, not compute, so it
  * materializes each intermediate once, takes its counts from the jobs
  * that materialize them, and writes all table deltas in one job — about
  * 39 jobs and 2 parquet writes per wave on the 112-host scale crawl. Every
  * job is tagged `wave <w> <phase>`; `runWave` lists the phases.
  */
/** Static query shapes shared by the wave loop and its plan-shape specs. */
object Scheduler {

  /** J8 URL-seen probe: the `cand` rows whose `dst` is not in `seen.url` —
    * multiset-identical to `cand.join(seen.withColumnRenamed("url", "dst"),
    * Seq("dst"), "left_anti")`, with duplicates, null dsts and every carried
    * column kept, in `cand`'s column order. Two joins, each input read once:
    *
    *   1. the candidates, hashed (xxhash64 of dst), are shared through ONE
    *      lazy local checkpoint — evaluated once per call, whatever their
    *      subtree costs; no cache entry, so no later probe reuses them.
    *      The checkpoint runs the candidates' shuffle stages when the probe
    *      is called; `own` receives its RDD for the caller to free (without
    *      an owner, Spark's ContextCleaner frees it once it is unreachable).
    *   2. the seen table, as `(xxhash64(url), url)`, is left-semi-joined
    *      against the candidates' hash set (one long column): the O(matched)
    *      seen rows sharing a candidate hash. A seen url equal to a
    *      candidate has the same hash, so it is in this slice; while the
    *      hash set broadcasts, the seen table's strings never cross an
    *      exchange.
    *   3. the candidates are string-anti-joined against that slice; a
    *      64-bit collision costs a slice row, never a lost url. */
  private[graft] def hashProbeNewUrls(cand: DataFrame, seen: DataFrame,
      own: RDD[_] => Unit = _ => ()): DataFrame = {
    require(!cand.columns.contains("uh_"),
      "hashProbeNewUrls: the candidate frame already has a uh_ column, which the probe would overwrite")
    val c = shareLazily(cand.withColumn("uh_", xxhash64(col("dst"))), own)
    val hitSeen = seen.select(xxhash64(col("url")).as("uh_"), col("url"))
      .join(c.select("uh_"), Seq("uh_"), "left_semi")
    c.join(hitSeen.select(col("url").as("dst")), Seq("dst"), "left_anti")
      .select(cand.columns.map(col): _*)
  }

  /** A lazy local checkpoint of `df`, whose RDD goes to `own`: its shuffle
    * stages run now, its first reader computes its rows and the other
    * readers share them. */
  private def shareLazily(df: DataFrame, own: RDD[_] => Unit): DataFrame = {
    val ck = df.localCheckpoint(eager = false)
    checkpointRdds(ck).foreach(own)
    ck
  }

  /** The RDDs a local checkpoint of `df` holds its rows in. */
  private[graft] def checkpointRdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.logical.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }
}

final class Scheduler(spark: SparkSession, store: TableStore, cfg: CrawlConfig) {

  import spark.implicits._
  import Model._

  private val SeqStride = 1L << 32
  private val EnqueueOffset = 1L << 24 // response-derived enqueues sort after next wave's seeds
  private val baseEpochSec: Long = Model.VirtualEpoch.getTime / 1000L

  /** The wave pool: a wave's INDEPENDENT actions (the concurrent
    * materializations and the delta plans' shuffle stages) submit from
    * here. A wave is dominated by driver-side job latency, not compute —
    * each action is one round trip through the scheduler — so independent
    * actions overlap (the standard Spark multi-job driver pattern; shared
    * materialized frames are safe, the BlockManager serializes
    * first-computation per block). Failures propagate: any action throwing
    * fails the wave before commitWave publishes. */
  private val waveExec = java.util.concurrent.Executors.newFixedThreadPool(12,
    (r: Runnable) => { val t = new Thread(r, "wave-par"); t.setDaemon(true); t })

  private def vtTs(vtCol: Column): Column = timestamp_seconds(lit(baseEpochSec) + floor(vtCol))

  private val robotsDelayUdf = udf { (txt: String, agent: String) =>
    if (txt == null || txt.isEmpty) null
    else RobotsCache.get(txt).crawlDelay(agent).map(Double.box).orNull
  }
  private val robotsAllowUdf = udf { (txt: String, path: String, agent: String) =>
    if (txt == null || txt.isEmpty) true
    else RobotsCache.get(txt).testAgent(if (path == null || path.isEmpty) "/" else path, agent)
  }
  /** Source.AsUrl: prepend http:// and round-trip the parser (source.go:123-147). */
  private val asUrlUdf = udf { (src: String) =>
    GoUrl.parse("http://" + src).map(_.serialize).toOption.orNull
  }

  // -------------------------------------------------------------- table views

  private def emptyDF[T <: Product : org.apache.spark.sql.Encoder]: DataFrame =
    spark.emptyDataset[T].toDF()

  /** Hash bucket of a url: the bucket column of the urls and frontier
    * tables. */
  private def bucketCol(c: Column): Column =
    pmod(xxhash64(c), lit(cfg.urlBuckets)).cast("int")

  /** The row a latest-wins window keeps among one key's `Mor.pointLog`
    * rows (the greatest `stamps_`, compared in order), if it is live. */
  private def newestLive(rows: Seq[Row]): Option[Row] =
    rows.maxOption(Ordering.by((r: Row) => r.getAs[scala.collection.Seq[Long]]("stamps_"))(
      Ordering.Implicits.seqOrdering[scala.collection.Seq, Long]))
      .filter(_.getAs[Boolean]("live_"))

  /** A merge-on-read table (Iceberg MOR equivalent): every write APPENDS
    * rows stamped with their wave and a priority within it, never
    * rewriting the backlog, and a reader keeps the newest row per `key` by
    * `stamps`, descending. That rule is the whole table format of urls,
    * frontier and host_state; every reader and writer of the three is
    * derived here.
    *
    * Files written before a column existed backfill on read (parquet
    * schema union reads them as nulls; a single-schema read lacks the
    * column): stamps read as 0, the bucket is recomputed from the url and
    * each of `defaults` reads as its value. Every writer stamps a priority
    * >= 1, so an unstamped row loses every tie to a stamped one of its
    * wave. `live` is the filter a winner passes to stay in the live view
    * and in a compacted table.
    *
    * A bucketed table keeps `bucket` = xxhash64(url) mod urlBuckets as a
    * data column, sorted inside each file at write time. Latest-wins per
    * url commutes with a filter on the url or its bucket, so slice reads
    * filter the log BEFORE the window, and parquet stats skip the other
    * buckets' row groups: a wave that touches k urls reads O(k/B · table)
    * rows, not O(table). Point reads (`rows`) need no window at all. */
  private final class Mor(table: String, key: Seq[String], stamps: Seq[String],
      bucket: Option[String], defaults: Seq[(String, Column)], live: Column,
      emptyRows: => DataFrame) {

    /** The empty live view. Deriving a Product encoder is runtime
      * reflection (hundreds of ms), so it is paid once per instance. */
    lazy val empty: DataFrame = emptyRows

    private def stampCols(wave: Long, prio: Int): Seq[(String, Column)] =
      stamps.zip(Seq(lit(wave), lit(prio))) ++ bucket.map(_ -> bucketCol(col("url")))

    private def backfill(raw: DataFrame): DataFrame =
      raw.withColumns(ListMap((stampCols(0L, 0) ++ defaults).map { case (c, d) =>
        c -> (if (raw.columns.contains(c)) coalesce(col(c), d) else d)
      }: _*))

    /** The newest row per key that passes `keep`, stamps kept. */
    private def winners(log: DataFrame, keep: Column = lit(true)): DataFrame =
      log.withColumn("rn_", row_number().over(
        Window.partitionBy(key.map(col): _*).orderBy(stamps.map(desc): _*)))
        .filter(col("rn_") === 1 && keep).drop("rn_")

    private def liveOf(log: DataFrame): DataFrame =
      winners(log, live).drop(stamps ++ bucket: _*)

    private def bucketIn(bs: Seq[Int]): DataFrame => DataFrame =
      _.filter(col(bucket.get).isin(bs: _*))

    /** The backfilled log and the live view over one raw frame, each
      * analyzed once, on first use. */
    private final class Built(val raw: DataFrame) {
      lazy val log: DataFrame = backfill(raw)
      lazy val view: DataFrame = liveOf(log)
    }

    /** The store serves one raw frame per committed version list and union
      * schema, so the frames built over the last one are kept, keyed on its
      * identity: reads of an unchanged table pay no Dataset analysis. An
      * atomic swap, because the wave pool reads views concurrently. */
    private val last = new java.util.concurrent.atomic.AtomicReference[Built]()

    private def built(raw: DataFrame): Built = {
      val b = last.get
      if (b != null && (b.raw eq raw)) b
      else { val nb = new Built(raw); last.set(nb); nb }
    }

    /** The live view: the newest live row per key. */
    def view: DataFrame = store.readAppendOnly(table).fold(empty)(built(_).view)

    /** The live view of the keys `slice` keeps, applied to the log before
      * the window (latest-wins per key commutes with a filter on the key). */
    def sliced(slice: DataFrame => DataFrame): DataFrame =
      store.readAppendOnly(table).fold(empty)(raw => liveOf(slice(built(raw).log)))

    def buckets(bs: Seq[Int]): DataFrame = sliced(bucketIn(bs))

    /** The log rows `urlPredicate` (a predicate on the url alone) keeps,
      * unwindowed. Each carries its stamps as `stamps_` and its `live` value
      * as `live_`, which is all `newestLive` needs to pick the row the
      * window keeps. */
    private def logWhere(urlPredicate: Column): DataFrame =
      store.readAppendOnly(table).fold(backfill(empty))(built(_).log)
        .filter(urlPredicate)
        .withColumns(ListMap("stamps_" -> array(stamps.map(col(_).cast("long")): _*),
          "live_" -> live))

    /** The log rows of `urls` (`logWhere`): one per write of a url, so a
      * handful each. The url predicate is pushed into the parquet scan. */
    def pointLog(urls: Seq[String]): DataFrame = logWhere(col("url").isin(urls: _*))

    /** The live rows of `urls`, one per entry (a url listed twice answers
      * twice; one with no live row, never), as a local frame of the view's
      * columns: one job collects their log rows and the newest of each url
      * wins on the driver, so the read plans no window and no exchange. */
    def rows(urls: Seq[String]): DataFrame = {
      val log = pointLog(urls)
      val cols = log.columns.filterNot((stamps ++ bucket ++ Seq("stamps_", "live_")).contains)
      val newest = log.collect().toSeq.groupBy(_.getAs[String]("url"))
        .flatMap { case (u, rs) => newestLive(rs).map(u -> _) }
      val out = urls.flatMap(newest.get).map(r => Row.fromSeq(cols.map(r.getAs[Any])))
      spark.createDataFrame(out.asJava, StructType(cols.map(log.schema(_))))
    }

    /** The live rows, as `cols`, of the first `n` urls in url order among
      * those `urlPredicate` (a predicate on the url alone) keeps, as a local
      * frame: one top-k read of the matching log rows ordered by url, with
      * no exchange. A url's rows are adjacent in that order, so a prefix
      * that runs past its `n`-th live url holds the first `n` whole; a
      * prefix that stops short is read again, four times longer. */
    def firstRows(urlPredicate: Column, n: Int, cols: Seq[String]): DataFrame = {
      val log = logWhere(urlPredicate)
        .select((("url" +: cols).distinct ++ Seq("stamps_", "live_")).map(col): _*)
      def read(k: Int): Seq[Row] = {
        val rows = log.orderBy("url").limit(k).collect().toSeq
        val byUrl = rows.foldLeft(Vector.empty[Vector[Row]]) { (acc, r) =>
          if (acc.nonEmpty && acc.last.head.getAs[String]("url") == r.getAs[String]("url"))
            acc.init :+ (acc.last :+ r)
          else acc :+ Vector(r)
        }
        val newest = byUrl.flatMap(newestLive)
        // a full prefix may end inside a url's rows: that url is not whole
        val whole = if (rows.length < k) newest
          else newest.filterNot(_.getAs[String]("url") == rows.last.getAs[String]("url"))
        if (whole.length >= n || rows.length < k) whole.take(n)
        else read(math.min(k.toLong * 4, Int.MaxValue).toInt)
      }
      val out = read(math.max(4 * n, 1)).map(r => Row.fromSeq(cols.map(r.getAs[Any])))
      spark.createDataFrame(out.asJava, StructType(cols.map(log.schema(_))))
    }

    /** Time travel (Iceberg VERSION AS OF): the live view over the version
      * list committed at `wave`; None if `wave` was never committed or
      * predates the snapshot log. Not kept: it would displace the live
      * view's frames. */
    def asOf(wave: Long): Option[DataFrame] =
      store.asOf(wave).map(_.readAppendOnly(table).fold(empty)(raw => new Built(raw).view))

    /** The write side: `df`'s rows stamped at (`wave`, `prio`), bucketed. */
    def stamp(df: DataFrame, wave: Long, prio: Int = 0): DataFrame =
      df.withColumns(ListMap(stampCols(wave, prio): _*))

    /** Incremental CDC read (Iceberg incremental-scan shape): every key
      * whose newest row is stamped after `since`, as that row (`live` not
      * applied: a consumer mirroring the table needs removals too) plus
      * `changed_wave`. The delta's buckets are found first by a scan
      * filtered on the RAW stamp column, so the predicate pushes into the
      * parquet scan and version dirs written before `since` are skipped
      * via their footer stats; for since >= 0 it equals the backfilled
      * predicate, because a null stamp reads as 0, and for since < 0 every
      * key has changed. The window then runs over those buckets only: a
      * small delta reads O(delta/B · log) rows, never a full-table window.
      * The ≤ urlBuckets collected ids mirror the wave loop's bucket set. */
    def changedSince(since: Long): DataFrame = {
      val wave = stamps.head
      val none = empty.withColumn("changed_wave", lit(0L))
      store.readAppendOnly(table).fold(none) { raw =>
        val slice: Option[DataFrame => DataFrame] =
          if (since < 0 || bucket.isEmpty) Some(identity)
          else if (!raw.columns.contains(wave)) None
          else backfill(raw.filter(col(wave) > since)).select(bucket.get).distinct()
            .collect().map(_.getInt(0)).toSeq match {
              case Seq() => None
              case bs => Some(bucketIn(bs))
            }
        slice.fold(none)(s => winners(s(built(raw).log), col(wave) > since)
          .withColumn("changed_wave", col(wave)).drop(stamps ++ bucket: _*))
      }
    }

    /** The compaction rewrite (Iceberg rewrite_data_files): the live
      * winners with their ORIGINAL stamps. Re-stamping them at the
      * compaction wave made every CDC reader report the whole table as
      * changed after each compaction; the original stamps stay
      * latest-wins-safe, because later deltas are stamped at a strictly
      * higher wave. Rows `live` rejects (the frontier's taken tombstones,
      * and the rows they supersede) fold away: truncating history is the
      * point of compaction. */
    def compacted: DataFrame = {
      val rows = store.readAppendOnly(table)
        .fold(backfill(empty))(raw => winners(built(raw).log, live))
      bucket.fold(rows)(b => rows.repartition(col(b)))
    }
  }

  /** urls: one row per url, stamped (w_wave, w_prio): 1 = created (source
    * roots, link dsts), 2 = fetched update. */
  private val urlsMor = new Mor("urls", Seq("url"), Seq("w_wave", "w_prio"),
    Some("ubucket"), Nil, lit(true), emptyDF[UrlRow])

  /** frontier: the queue's transition log per url, stamped (f_wave,
    * f_prio); a url whose newest transition is `taken` has left the queue.
    * Rows written before priority mode score 0. */
  private val frontierMor = new Mor("frontier", Seq("url"), Seq("f_wave", "f_prio"),
    Some("fbucket"), Seq("prio_score" -> lit(0L)), col("state") =!= StateTaken,
    emptyDF[FrontierRow])

  /** host_state: politeness and robots state per (host, lane), stamped
    * h_wave. A wave appends only the hosts it touched (bounded by the
    * politeness budget), never the host catalog. */
  private val hostMor = new Mor("host_state", Seq("host", "lane"), Seq("h_wave"),
    None, Nil, lit(true), emptyDF[HostStateRow])

  /** The urls live view: the newest row per url. */
  def urlsView: DataFrame = urlsMor.view

  /** The urls live view of the given buckets only (all of them for None). */
  def urlsViewBuckets(buckets: Option[Seq[Int]]): DataFrame =
    buckets.fold(urlsView)(urlsMor.buckets)

  /** The live row of each url of `urls`, read now as a local frame (one
    * job, no window): GET /urls/<url> and the link docs. */
  def urlRows(urls: Seq[String]): DataFrame = urlsMor.rows(urls)

  /** The live rows, as `cols`, of the first `n` urls in url order that
    * `urlPredicate` (a predicate on the `url` column alone) keeps, read now
    * as a local frame: one top-k job, no window. */
  def firstUrlRows(urlPredicate: Column, n: Int, cols: Seq[String]): DataFrame =
    urlsMor.firstRows(urlPredicate, n, cols)

  /** The urls live view as committed at `wave`. */
  def urlsViewAsOf(wave: Long): Option[DataFrame] = urlsMor.asOf(wave)

  /** Every url whose live row was written after `sinceWave`: exactly the
    * rows a consumer checkpointed at `sinceWave` must reprocess, with
    * `changed_wave`, the stamp that superseded the consumer's view. */
  def urlsChangedSince(sinceWave: Long): DataFrame = urlsMor.changedSince(sinceWave)

  /** The committed frontier (GET /que view): queued and blocked commands.
    *
    * Read discipline: a wave evaluates this view EXACTLY ONCE — `runWave`
    * localCheckpoints it into `frontier0` and every in-wave consumer
    * (queue gauge, budget slice, active-url set, seed anti-join) reads the
    * checkpointed frame, so the transition log is scanned and
    * latest-wins-shuffled once per wave, not once per consumer. Point
    * lookups (`seedUrl`, `markUncrawlable`) never touch the full view. */
  def frontierView: DataFrame = frontierMor.view

  /** The frontier as committed at `wave`: the exact queue the scheduler
    * saw after that wave's commit. */
  def frontierViewAsOf(wave: Long): Option[DataFrame] = frontierMor.asOf(wave)

  /** Frontier CDC: every url whose newest queue transition is stamped after
    * `sinceWave`, with its `state` — INCLUDING `taken` evictions, which
    * the live `frontierView` hides — and `changed_wave`. */
  def frontierChangedSince(sinceWave: Long): DataFrame =
    frontierMor.changedSince(sinceWave)

  /** Frontier transition priorities within one wave: a seed can be taken in
    * its own wave; a taken HEAD can be blocked; an eviction wins over all. */
  private val PrioSeed = 1
  private val PrioTaken = 2
  private val PrioBlocked = 3
  private val PrioEnqueued = 4
  private val PrioEvicted = 5

  /** Never-fetched / must-refetch staleness score: outranks any real age. */
  private val NeverFetchedScore = Long.MaxValue / 2

  /** links view: first (src,dst) row wins (Read-or-Insert, link.go:47-79). */
  def linksView: DataFrame =
    store.readAppendOnly("links").getOrElse(emptyDF[LinkRow])

  def snapshotsView: DataFrame =
    store.readAppendOnly("snapshots").getOrElse(emptyDF[SnapshotRow])
  def fetchLogView: DataFrame =
    store.readAppendOnly("fetch_log").getOrElse(emptyDF[FetchLogRow])
  def lineageView: DataFrame =
    store.readAppendOnly("lineage").getOrElse(emptyDF[LineageRow])
  /** The manual don't-crawl list (core/queries.go:729-751). */
  def uncrawlablesView: DataFrame =
    store.readAppendOnly("uncrawlables").getOrElse(noUncrawlables)
  private lazy val noUncrawlables =
    Seq.empty[(String, java.sql.Timestamp)].toDF("url", "created")
  def pagesDF: DataFrame = store.readLatest("pages").get
  /** sources catalog; pre-soft-delete snapshots are read as deleted=false
    * (schema backfill on read, same policy as the urls ubucket migration). */
  def sourcesDF: DataFrame = {
    val df = store.readLatest("sources").get
    if (df.columns.contains("deleted")) df
    else df.withColumn("deleted", lit(false))
  }

  // -------------------------------------------------------------- bootstrap

  def bootstrap(pages: DataFrame, sources: DataFrame): Unit = {
    store.stageRewrite("pages", pages)
    store.stageRewrite("sources", sources)
    store.commitWave(-1L)
  }

  // -------------------------------------------------------------- one wave

  final case class WaveStats(wave: Long, taken: Long, fetchedOk: Long,
      enqueued: Long, frontierDepth: Long, urlsRead: Long = 0L)

  /** Rows per output file of a staged delta: a wave's deltas are usually a
    * few thousand rows, and one file per small delta keeps the write to
    * one task and two files (data + checksum) instead of one per shuffle
    * partition. */
  private val RowsPerFile = 1L << 16

  private def filesFor(rows: Long): Int =
    math.max(1L, (rows + RowsPerFile - 1) / RowsPerFile).toInt

  private def long(m: Map[String, Any], key: String): Long = m.get(key) match {
    case Some(v: Long) => v
    case _ => 0L
  }

  /** Run `body` with the description of every job it submits from this
    * thread set to `desc` (a thread-local Spark property). */
  private[crawl] def tagged[T](desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(prev)
  }

  /** Observed aggregates of the url buckets an array column of urls
    * touches, as bitmasks: mask i has bit b set when bucket 64·i + b is
    * touched. A set of at most `urlBuckets` values, whatever the row count. */
  private def bucketMasks(urls: Column): Seq[Column] =
    (0 until (cfg.urlBuckets + 63) / 64).map { i =>
      bit_or(aggregate(urls, lit(0L), (acc, u) => {
        val b = bucketCol(u) - 64 * i
        acc.bitwiseOR(when(b >= 0 && b < 64, call_function("shiftleft", lit(1L), b))
          .otherwise(lit(0L)))
      })).as(s"bucket_mask_$i")
    }

  private def maskedBuckets(m: Map[String, Any]): Seq[Int] =
    (0 until (cfg.urlBuckets + 63) / 64).flatMap { i =>
      val mask = long(m, s"bucket_mask_$i")
      (0 until 64).filter(b => ((mask >>> b) & 1L) == 1L).map(_ + 64 * i)
    }

  /** One wave's job tags and materializations. Every job the wave submits
    * carries the description `wave <w> <phase>` (a thread-local property,
    * set on the calling thread and inside each pool thunk). Every frame
    * the wave checkpoints is recorded here and exactly those RDDs are freed
    * when the wave ends — never a cache another caller made meanwhile. */
  private final class Wave(val w: Long) {
    private val sc = spark.sparkContext
    private val owned = new java.util.concurrent.ConcurrentLinkedQueue[RDD[_]]()

    def phase[T](name: String)(body: => T): T = tagged(s"wave $w $name")(body)

    /** Independent thunks, concurrently on the wave pool under the calling
      * thread's tag (pool threads copy local properties only when they are
      * created, so each task sets its own); waits for all, then rethrows
      * the first failure. */
    def par[T](thunks: Seq[() => T]): Seq[T] = {
      val desc = sc.getLocalProperty("spark.job.description")
      thunks.map(t => waveExec.submit(new java.util.concurrent.Callable[T] {
        def call(): T = {
          sc.setJobDescription(desc)
          try t() finally sc.setJobDescription(null)
        }
      })).map(f => scala.util.Try(f.get())).map(_.get)
    }

    /** Local-checkpoint `df` (its shuffle stages plus one job) and return
      * the aggregates `metrics` observed by that same job, by name. */
    def materialize(name: String, df: DataFrame,
        metrics: Column*): (DataFrame, Map[String, Any]) = {
      val obs = new org.apache.spark.sql.Observation(s"wave${w}_$name")
      val ck = (if (metrics.isEmpty) df
        else df.observe(obs, metrics.head, metrics.tail: _*)).localCheckpoint()
      Scheduler.checkpointRdds(ck).foreach(own)
      (ck, if (metrics.isEmpty) Map.empty else obs.get)
    }

    /** Free `rdd` when the wave ends. */
    def own(rdd: RDD[_]): Unit = owned.add(rdd)

    def release(): Unit = owned.forEach(r => try r.unpersist(blocking = false)
      catch { case _: Throwable => () })
  }

  /** One crawl wave. Its Spark work, by phase (each job is tagged
    * `wave <w> <phase>`):
    *
    *   - frontier: the committed frontier log's ONE scan per wave,
    *     materialized; the same job counts the queued rows.
    *   - views: table views; a table's first read after a new version
    *     infers its schema from a footer (one job).
    *   - seeding (seed waves only): the full urls view, the whitelist, the
    *     seeds and the new source url rows.
    *   - host_plan: per-(host,lane) plan incl. robots fetches,
    *     materialized; its job also yields the minimum positive delay and
    *     the queued total.
    *   - fetch: budget, robots gate, page join, parse and link extraction
    *     in one materialization; its job counts takes, oks, blocks and
    *     links, and collects the url buckets the takes and links touch.
    *   - urls_wave (steady-state waves): the bucket-pruned urls slice.
    *   - url_delta: the wave's urls delta (creates + updates), with the
    *     J8 probe of the link dsts against the urls slice — the wave's one
    *     URL-seen check.
    *   - stage_writes: every table delta in ONE write job.
    *   - lineage: one small write of per-file row counts.
    *
    * Materializations: 5 on a steady-state wave, 8 on a seed wave, plus
    * the probe's lazy checkpoint of its candidates; parquet writes: 2. On
    * the 112-host scale crawl a wave runs about 39 jobs; a refill seed wave
    * (queue under lowWatermark, with history) runs about 50. */
  def runWave(w: Long): WaveStats = {
    store.resetPending()
    val wave = new Wave(w)
    try waveBody(wave) finally wave.release()
  }

  private def waveBody(wave: Wave): WaveStats = {
    import wave.{materialize, phase}
    val w = wave.w
    val waveStart = w * cfg.waveWindowSec
    val waveEnd = (w + 1) * cfg.waveWindowSec
    val nowSec = baseEpochSec + waveStart.toLong
    val nowTs = timestamp_seconds(lit(nowSec))
    val staleBefore = nowSec - cfg.staleDurationSec

    // ONE frontier-log scan + latest-wins shuffle per wave: the MOR view is
    // materialized here and every consumer below (budget slice, seed
    // anti-join, active-url set) reads the checkpointed frame. Without this
    // each consumer's action re-ran the full-log window — ×3 full shuffles
    // per wave at a 10^10-row backlog (round-3 finding #1).
    val (frontier0, queuedCount) = phase("frontier") {
      val (f, m) = materialize("frontier", frontierView,
        count(when($"state" === StateQueued, 1)).as("queued")) // A10 gauge
      (f, long(m, "queued"))
    }
    // table views: a table's first read in this instance (or after a
    // rewrite) infers its schema from a footer, which is a job
    val (uncrawl0, hostState0, pages) = phase("views") {
      (uncrawlablesView.select("url"), hostMor.view, pagesDF)
    }

    // ---- 1. seeding (crawler.go:139-153)
    val doSeed = w == 0 || queuedCount < cfg.lowWatermark
    val seedUrlCount = if (w == 0) cfg.seedUrlsInit else cfg.seedUrlsRefill
    // Full urls MOR view only on seed waves (seeding scans table-wide for
    // unfetched whitelisted urls); steady-state waves read only the hash
    // buckets their keys touch (see urlsWave below).
    val (urlsSeedFull, urlsFullRows, seedRows, seedCount, seedCreates, whitelist) =
      if (doSeed) phase("seeding") {
        val (urlsFull, um) = materialize("urls_full", urlsView, count(lit(1)).as("n"))
        // qSourcesCrawling (queries.go:455-464): crawl=true AND deleted=false,
        // order by created desc limit 200 (soft-deleted sources never seed, P9)
        val srcSeeds = sourcesDF
          .filter($"crawl" === true && !coalesce($"deleted", lit(false)))
          .orderBy(desc("created"), asc("url")).limit(cfg.seedSourcesLimit)
          .select(asUrlUdf($"url").as("s_url"),
            row_number().over(Window.orderBy(desc("created"), asc("url"))).as("ord"))
          .filter($"s_url".isNotNull)
          .withColumn("kind", lit(0))

        val (wl, _) = materialize("whitelist",
          srcSeeds.select(Funcs.hostUdf($"s_url").as("host")).distinct())

        // quiescent mode gates source re-seeds on GET staleness so batch runs
        // terminate (sentry re-fetches roots unconditionally forever, T7)
        val srcSeedsGated =
          if (cfg.quiescent && w > 0)
            srcSeeds.join(
              urlsFull.filter($"last_get".isNotNull &&
                unix_timestamp($"last_get") >= staleBefore).select($"url".as("s_url")),
              Seq("s_url"), "left_anti")
          else srcSeeds

        // seedUrls (crawler.go:211-234): whitelisted unfetched, created desc
        val unfetched = urlsFull.filter($"last_get".isNull)
          .withColumn("host", Funcs.hostUdf($"url"))
          .join(wl, Seq("host"), "left_semi")
          .orderBy(desc("created"), asc("url")).limit(seedUrlCount)
          .select($"url".as("s_url"),
            row_number().over(Window.orderBy(desc("created"), asc("url"))).as("ord"))
          .withColumn("kind", lit(1))

        val allSeeds = srcSeedsGated.unionByName(unfetched)
          .withColumn("rn_", row_number().over(Window.partitionBy($"s_url").orderBy($"kind", $"ord")))
          .filter($"rn_" === 1)
          // uncrawlables gate: manually-blocked urls never enter the frontier
          .join(broadcast(uncrawl0.select($"url".as("s_url"))),
            Seq("s_url"), "left_anti")
          .join(frontier0.select($"url".as("s_url")), Seq("s_url"), "left_anti") // enqued map
          .withColumn("seq", lit(w * SeqStride) +
            row_number().over(Window.orderBy($"kind", $"ord")).cast("long"))
          .select($"s_url".as("url"), lit("GET").as("method"),
            Funcs.hostUdf($"s_url").as("host"), lit("A").as("lane"),
            lit(w).as("wave"), $"seq", lit(StateQueued).as("state"),
            // seeds are stale-by-construction (unfetched, or past the
            // staleness gate that quiescent mode applies) → max score
            lit(NeverFetchedScore).as("prio_score"))

        // AsUrl Read-or-Save: unseen source roots become url rows
        val creates = srcSeedsGated.select($"s_url".as("url")).distinct()
          .join(urlsFull.select("url"), Seq("url"), "left_anti")
          .select(newUrlRowCols($"url", nowTs): _*)

        // seeds and creates are O(seed caps) rows; checkpoints truncate
        // their lineage into the wave
        val Seq((seeds, sm), (createsCk, _)) = wave.par(Seq(
          () => materialize("seeds", allSeeds, count(lit(1)).as("n")),
          () => materialize("seed_creates", creates)))
        (urlsFull, long(um, "n"), seeds, long(sm, "n"), createsCk, wl)
      } else phase("views") {
        val wl = store.readLatest("whitelist").getOrElse(Seq.empty[String].toDF("host"))
        (null, 0L, frontierMor.empty, 0L, urlsMor.empty, wl)
      }

    // ---- 2. politeness budget + robots plan (T4/T5)
    // queued commands visible to this wave = committed queued transitions
    // (MOR view) + this wave's seeds (already anti-joined vs the frontier)
    val queued = frontier0.filter($"state" === StateQueued).unionByName(seedRows)

    // one aggregation pass over the backlog yields depth AND the per-host
    // queue head (first_url) — the only two per-host facts a wave needs.
    // First sight of a host prepends its robots.txt fetch (fetch.go:289-310):
    // its robots url joins the page table here, so the plan carries both the
    // effective robots text/delay and the robots fetch-log facts. The plan is
    // O(hosts-in-play) rows, read by the budget, the robots rejoin, the
    // host-state delta and the fetch log.
    //
    // Its job also yields the budget's rank bound: the smallest POSITIVE
    // delay (zero-delay hosts are routed around the prune inside
    // politeBudget — they take their whole backlog within the window — so
    // one zero-delay robots line no longer disables WindowGroupLimit for
    // every other host; round-3 finding), and the total queued depth for
    // the post-wave gauge, so the backlog is never re-scanned to count it.
    val (hostPlan, minPosDelay, queuedTotal, hostsInPlay) = phase("host_plan") {
      val plan = queued.groupBy($"host", $"lane")
        .agg(count(lit(1)).as("qdepth"), min_by($"url", $"seq").as("first_url"))
        .join(hostState0, Seq("host", "lane"), "left")
        .withColumn("robots_fetched", coalesce($"robots_fetched", lit(false)))
        .withColumn("start_vt",
          greatest(coalesce($"next_fetch_vt", lit(waveStart)), lit(waveStart)))
        .withColumn("robots_now", lit(cfg.polite) && !$"robots_fetched" && $"start_vt" < waveEnd)
        .withColumn("robots_url", when($"robots_now",
          concat(coalesce(nullif(Funcs.schemeUdf($"first_url"), lit("")), lit("http")),
            lit("://"), $"host", lit("/robots.txt"))))
        // every robots_url ends in /robots.txt: only those pages can match,
        // so the broadcast side is the robots pages, not the page table
        .join(pages.filter($"url".endsWith("/robots.txt"))
          .select($"url".as("robots_url"), $"html".as("robots_body")),
          Seq("robots_url"), "left")
        .withColumn("new_robots_txt",
          when($"robots_body".isNotNull, decode($"robots_body", "UTF-8")).otherwise(lit("")))
        .withColumn("delay_override",
          when($"robots_now", robotsDelayUdf($"new_robots_txt", lit(cfg.agent))))
        .withColumn("eff_robots_txt",
          when($"robots_now", $"new_robots_txt").otherwise(coalesce($"robots_txt", lit(""))))
        .withColumn("eff_delay",
          when($"robots_now" && $"delay_override".isNotNull, $"delay_override")
            .otherwise(coalesce($"crawl_delay_sec", lit(cfg.crawlDelaySec))))
        .select($"host", $"lane", $"robots_now", $"eff_robots_txt", $"eff_delay",
          $"start_vt", $"qdepth", $"robots_url", $"robots_body".isNotNull.as("robots_found"))
      val (hp, m) = materialize("host_plan", plan,
        min(when($"eff_delay" > 0, $"eff_delay")).as("min_pos_delay"),
        sum($"qdepth").as("queued"), count(lit(1)).as("hosts"))
      val minPos = m.get("min_pos_delay") match {
        case Some(d: Double) => d
        case _ => cfg.crawlDelaySec
      }
      (hp, minPos, long(m, "queued"), long(m, "hosts"))
    }
    val rankBound: Long =
      math.ceil(cfg.waveWindowSec / math.max(minPosDelay, 1e-9)).toLong + 1

    // ---- 3-6. per-host FIFO take under the politeness budget (fetch.go:345-425
    // + iq_slice), robots path gate (P8), offline fetch against the page
    // table (S6), the GET/HEAD response fields (P12 mux) and link extraction
    // (F9: HandleGetResponse stores links for every doc GET in all lanes) —
    // ONE materialization holding every taken command. The page body is
    // parsed once (fused sniff/is_doc/title) and its links extracted in the
    // same pass; the body itself is dropped before the checkpoint. The job
    // also counts takes, ok fetches, blocked HEADs and links, and collects
    // the url buckets the takes and the links' dsts touch.
    val isGetOk = $"method" === "GET" && $"found"
    val isHeadHtml = $"method" === "HEAD" && $"found" && $"ct_base" === "text/html"
    val isHeadBlocked = $"method" === "HEAD" && $"found" && $"ct_base" =!= "text/html"
    val (fetched, takenCount, okCount, blockedCount, linkCount, touchedBuckets) =
      phase("fetch") {
      val all = politeBudget(queued, hostPlan, waveEnd, rankBound)
        .withColumn("allowed", !lit(cfg.polite) ||
          robotsAllowUdf($"eff_robots_txt", Funcs.pathUdf($"url"), lit(cfg.agent)))
        .drop("eff_robots_txt")
        .join(pages.select($"url", $"html"), Seq("url"), "left")
        .withColumn("found", $"allowed" && $"html".isNotNull)
        .withColumn("body_len", when($"found", length($"html")).otherwise(lit(0)).cast("long"))
        .withColumn("content_type",
          when($"found", Funcs.contentTypeUdf($"url", $"html")).otherwise(lit("")))
        .withColumn("ct_base", trim(split($"content_type", ";").getItem(0)))
        .withColumn("resp_headers", array(lit("Content-Length"), $"body_len".cast("string"),
          lit("Content-Type"), $"content_type"))
        .withColumn("pp_", when(isGetOk, Funcs.pageParseUdf($"html")))
        .withColumn("sniff", $"pp_._1")
        .withColumn("is_doc", $"pp_._2")
        .withColumn("title", $"pp_._3")
        .drop("pp_")
        .withColumn("file_name_new",
          when(!$"is_doc" && !$"sniff".isin(sniffUnwanted: _*), fileNameCol($"url"))
            .otherwise(lit(null)))
        .withColumn("hrefs", when(isGetOk && $"is_doc", Funcs.extractLinksUdf($"url", $"html")))
        .drop("html")
      val (f, m) = materialize("fetch", all, Seq(count(lit(1)).as("taken"),
        count(when($"found", 1)).as("ok"), count(when(isHeadBlocked, 1)).as("blocked"),
        sum(size($"hrefs")).as("links")) ++
        bucketMasks(concat(array($"url"), coalesce($"hrefs", array().cast("array<string>")))): _*)
      (f, long(m, "taken"), long(m, "ok"), long(m, "blocked"), long(m, "links"),
        maskedBuckets(m))
    }

    // the extracted links, re-exploded from the fetch checkpoint by each reader
    val linksRaw = fetched.filter(isGetOk && $"is_doc")
      .select($"url".as("src"), $"seq".as("src_seq"), $"vt".as("src_vt"),
        $"lane".as("src_lane"), posexplode($"hrefs").as(Seq("href_idx", "dst")))

    // ---- 6b. the wave's urls slice: bucket-pruned to the keys this wave
    // touches (taken urls + extracted dsts, whose buckets the fetch job
    // collected) — O(delta) read; seed waves already hold the full view
    val (urlsWave, urlsReadCount) =
      if (doSeed) (urlsSeedFull, urlsFullRows)
      else phase("urls_wave") {
        val (u, m) = materialize("urls_wave", urlsViewBuckets(Some(touchedBuckets)),
          count(lit(1)).as("n"))
        (u, long(m, "n"))
      }

    // ---- 7. url writes (MOR appends): one frame, materialized once — the
    // write and the next-wave enqueue lookups both read it
    val urlsEff = urlsWave.unionByName(seedCreates)

    // GET and text/html HEAD responses update their url row (u.Read must
    // succeed: inner join); a GET sets last_get and the parsed fields, a
    // HEAD sets last_head
    val isGet = col("g.method") === "GET"
    val updates = fetched.filter(isGetOk || isHeadHtml).alias("g")
      .join(urlsEff.alias("u"), col("g.url") === col("u.url"), "inner")
      .select(
        col("g.url").as("url"), col("u.created").as("created"), vtTs(col("g.vt")).as("updated"),
        when(isGet, col("u.last_head")).otherwise(vtTs(col("g.vt"))).as("last_head"),
        when(isGet, vtTs(col("g.vt"))).otherwise(col("u.last_get")).as("last_get"),
        lit(200).as("status"), col("g.content_type").as("content_type"),
        when(isGet, col("g.sniff")).otherwise(col("u.content_sniff")).as("content_sniff"),
        col("g.body_len").as("content_length"),
        when(isGet, coalesce(col("g.file_name_new"), col("u.file_name"), lit("")))
          .otherwise(col("u.file_name")).as("file_name"),
        when(isGet, coalesce(when(col("g.is_doc"), col("g.title")), col("u.title"), lit("")))
          .otherwise(col("u.title")).as("title"),
        col("u.id").as("id"), lit(0).as("headers_took"), lit(0).as("download_took"),
        col("g.resp_headers").as("headers"), col("u.meta").as("meta"),
        col("u.hash").as("hash"))

    // dst Read-or-Save (url.go:478-486)
    val dstFirst = linksRaw
      .withColumn("rn_", row_number().over(
        Window.partitionBy($"dst").orderBy($"src_seq", $"href_idx")))
      .filter($"rn_" === 1)
    // URL-seen check (J8): a dst that is neither one of this wave's source
    // roots nor in the urls slice is new. The slice (the full view on a seed
    // wave) holds every bucket a dst hashes to — the fetch job collected
    // them — so the exact probe (Scheduler.hashProbeNewUrls, plan-asserted
    // in ScaleCrawlSpec) decides against a frame the wave already holds:
    // the candidates are checkpointed once, the slice is semi-joined down
    // to the rows sharing a candidate's xxhash64, and the candidates are
    // string-anti-joined against those. The probe's checkpoint runs the
    // candidates' shuffle stages when it is called, so it is built inside
    // the phase (its jobs carry the tag) and the wave owns its RDD.
    val dstNotSeeded = dstFirst
      .join(seedCreates.select($"url".as("dst")), Seq("dst"), "left_anti")
    val (urlDelta, urlDeltaRows) = phase("url_delta") {
      val dstNew = Scheduler.hashProbeNewUrls(dstNotSeeded, urlsWave.select("url"), wave.own)
      val dstCreates = dstNew.select(newUrlRowCols($"dst", vtTs($"src_vt")): _*)
      val (d, m) = materialize("url_delta", urlsMor.stamp(seedCreates, w, 1)
        .unionByName(urlsMor.stamp(updates, w, 2))
        .unionByName(urlsMor.stamp(dstCreates, w, 1)),
        count(lit(1)).as("n"))
      (d, long(m, "n"))
    }

    // ---- 8. snapshots (T9): GET-only append
    val snapshotRows = fetched.filter(isGetOk).select($"url", vtTs($"vt").as("created"),
      lit(200).as("status"), lit(0L).as("duration"), $"resp_headers".as("headers"),
      lit("").as("hash"))

    // ---- 9. next-wave enqueues
    // urls state visible to same-wave reads: base ∪ this wave's delta,
    // latest (delta over base, update over create) per url
    val urlsAfter = urlsEff.withColumn("p_", lit(0))
      .unionByName(urlDelta.drop("w_wave", "ubucket").withColumnRenamed("w_prio", "p_"))
      .withColumn("rn_", row_number().over(Window.partitionBy("url").orderBy(desc("p_"))))
      .filter($"rn_" === 1).drop("rn_", "p_")

    // enqueueDstLinks (crawler.go:255-292): lanes A and C propagate; B doesn't
    val linkCands = linksRaw.filter($"src_lane".isin("A", "C"))
      .withColumn("rn_", row_number().over(
        Window.partitionBy($"dst").orderBy($"src_seq", $"href_idx")))
      .filter($"rn_" === 1)
      .join(urlsAfter.select($"url".as("dst"), $"last_head", $"content_sniff"),
        Seq("dst"), "left")
      .withColumn("fetchable", Funcs.isFetchableUdf($"dst"))
      .withColumn("head_stale", $"last_head".isNull ||
        unix_timestamp($"last_head") <
          ($"src_vt".cast("long") + lit(baseEpochSec) - lit(cfg.staleDurationSec)))
      .filter($"fetchable" && $"head_stale") // ShouldEnqueueHead (url.go:320-322)
      .withColumn("suspected",
        Funcs.suspectedContentUdf($"dst", coalesce($"content_sniff", lit(""))))
      .select($"dst".as("url"),
        when($"suspected", lit("GET")).otherwise(lit("HEAD")).as("method"),
        Funcs.hostUdf($"dst").as("host"),
        when($"suspected", lit("B")).otherwise(lit("A")).as("lane"),
        $"src_seq".as("ord1"), $"href_idx".cast("long").as("ord2"),
        // staleness frozen at enqueue: age of the dst's last HEAD (the
        // freshness signal this path already joined in); never-seen = max
        coalesce(lit(nowSec) - unix_timestamp($"last_head"),
          lit(NeverFetchedScore)).as("prio_score"))

    // HEAD→GET follow-up (crawler.go:236-252)
    val headFollow = fetched.filter(isHeadHtml)
      .join(whitelist, Seq("host"), "left_semi")
      .join(urlsAfter.select($"url", $"last_get".as("u_last_get")), Seq("url"), "left")
      .withColumn("get_stale", $"u_last_get".isNull ||
        unix_timestamp($"u_last_get") <
          ($"vt".cast("long") + lit(baseEpochSec) - lit(cfg.staleDurationSec)))
      .filter(Funcs.isFetchableUdf($"url") && $"get_stale") // ShouldEnqueueGet
      .select($"url", lit("GET").as("method"), $"host", lit("A").as("lane"),
        $"seq".as("ord1"), lit(-1L).as("ord2"),
        coalesce(lit(nowSec) - unix_timestamp($"u_last_get"),
          lit(NeverFetchedScore)).as("prio_score"))

    // unmatched HEADs hit the no-op DefaultHandler and keep their enqued slot
    // forever (handler.go:62-64) — blocked tombstones
    val headBlockedRows = fetched.filter(isHeadBlocked)
      .select($"url", $"method", $"host", $"lane", $"wave", $"seq",
        lit(StateBlocked).as("state"), $"prio_score")

    // the `enqued` map check set (crawler.go:27-29): a url still occupies a
    // frontier slot after this wave's takes if it held one before (an
    // active committed row — queued or blocked, one frontier scan — or
    // this wave's seed) and was not taken, or was taken and blocked (a
    // blocked HEAD keeps its slot). One aggregation per url decides it;
    // the fetch checkpoint holds every take. Never materialized as a
    // table: the frontier is MOR — only the transition rows below get
    // written.
    def slots(df: DataFrame, held: Boolean, taken: Column, blocked: Column) =
      df.select($"url", lit(held).as("held"), taken.as("taken"), blocked.as("blocked"))
    val frontierActiveUrls = slots(frontier0, held = true, lit(false), lit(false))
      .unionByName(slots(seedRows, held = true, lit(false), lit(false)))
      .unionByName(slots(fetched, held = false, lit(true), isHeadBlocked))
      .groupBy("url")
      .agg(max($"held").as("held"), max($"taken").as("taken"), max($"blocked").as("blocked"))
      .filter($"held" && (!$"taken" || $"blocked"))
      .select("url")

    val newEnqueues = linkCands.unionByName(headFollow)
      .withColumn("rn_", row_number().over(
        Window.partitionBy($"url").orderBy($"ord1", $"ord2")))
      .filter($"rn_" === 1)
      .join(frontierActiveUrls, Seq("url"), "left_anti") // enqued map check
      .join(broadcast(uncrawl0), Seq("url"), "left_anti") // uncrawlables gate
      // seq only needs to order within a host (per-host FIFO, T3) — a
      // per-host window keeps this parallel at any frontier size; a global
      // row_number here would single-partition the wave
      .withColumn("seq", lit((w + 1) * SeqStride + EnqueueOffset) +
        row_number().over(Window.partitionBy($"host").orderBy($"ord1", $"ord2", $"url")).cast("long"))
      .select($"url", $"method", $"host", $"lane", lit(w + 1).as("wave"), $"seq",
        lit(StateQueued).as("state"), $"prio_score")

    // this wave's frontier delta: O(seeds + takes + blocks + enqueues)
    // transition rows — queue depth never touches the write path (T1/T10
    // at 100x: the backlog can be billions of rows; the delta is bounded
    // by the politeness budget and the wave's link yield)
    val takenRows = fetched
      .select($"url", $"method", $"host", $"lane", $"wave", $"seq",
        lit(StateTaken).as("state"), $"prio_score")
    val frontierAppends = frontierMor.stamp(seedRows, w, PrioSeed)
      .unionByName(frontierMor.stamp(takenRows, w, PrioTaken))
      .unionByName(frontierMor.stamp(headBlockedRows, w, PrioBlocked))
      .unionByName(frontierMor.stamp(newEnqueues, w, PrioEnqueued))

    // ---- 10. host state
    val takenPerHost = fetched.groupBy($"host", $"lane")
      .agg(max($"vt").as("max_vt"))
    // MOR delta: only the hosts whose state actually CHANGED this wave —
    // a robots fetch or at least one take. A backlog host that merely sat
    // queued keeps its old row (or none), so the host_state log grows by
    // O(active hosts) per wave, bounded by the politeness budget — not by
    // O(hosts-with-backlog) (round-3 advice: hostPlan contains every
    // backlog host, and appending them all made the delta O(backlog
    // hosts) regardless of activity). Untouched hosts' next_fetch_vt is
    // in the past either way; the read side's greatest(start_vt,
    // waveStart) already treats a stale value and a missing row alike.
    val hostStateTouched = hostMor.stamp(hostPlan
      .join(takenPerHost, Seq("host", "lane"), "left")
      .filter($"robots_now" || $"max_vt".isNotNull)
      .withColumn("last_vt",
        when($"robots_now" && $"max_vt".isNull, $"start_vt") // only robots ran
          .otherwise(coalesce($"max_vt", $"start_vt" - $"eff_delay")))
      .select($"host", $"lane", lit(cfg.polite).as("robots_fetched"),
        $"eff_robots_txt".as("robots_txt"), $"eff_delay".as("crawl_delay_sec"),
        ($"last_vt" + $"eff_delay").as("next_fetch_vt")), w)

    // ---- 11. fetch log (crawl-order artifact, O4)
    val robotsLog = hostPlan.filter($"robots_now").select(lit(w).as("wave"),
      $"start_vt".as("vt"), $"host", $"lane", lit("GET").as("method"),
      $"robots_url".as("url"), lit(-1L).as("seq"),
      when($"robots_found", 200).otherwise(0).as("status"), lit("robots").as("outcome"))
    val cmdLog = fetched.filter($"allowed").select(lit(w).as("wave"), $"vt", $"host",
      $"lane", $"method", $"url", $"seq", when($"found", 200).otherwise(0).as("status"),
      when($"found", lit("ok")).otherwise(lit("error")).as("outcome"))
    val disallowedLog = fetched.filter(!$"allowed").select(lit(w).as("wave"), $"vt",
      $"host", $"lane", $"method", $"url", $"seq", lit(0).as("status"),
      lit("disallowed").as("outcome"))
    val fetchLogRows = robotsLog.unionByName(cmdLog).unionByName(disallowedLog)

    // ---- 12. stage, lineage, atomic commit
    // Every table delta goes out in ONE write job, each sized to its row
    // count (known from the jobs above, or bounded by them: enqueues <=
    // links + HEAD follow-ups). urls and frontier deltas are sorted by
    // bucket inside each file, so the bucket isin-filter of a point read
    // still skips row groups via parquet stats.
    import TableStore.Delta
    val deltas = Seq(
      Delta("urls", urlDelta, filesFor(urlDeltaRows), Seq("ubucket")),
      Delta("links", linkRows(linksRaw), filesFor(linkCount)),
      Delta("snapshots", snapshotRows, filesFor(okCount)),
      Delta("fetch_log", fetchLogRows, filesFor(takenCount + hostsInPlay)),
      Delta("frontier", frontierAppends,
        filesFor(seedCount + 2 * takenCount + linkCount), Seq("fbucket")),
      Delta("host_state", hostStateTouched, filesFor(hostsInPlay))
    ) ++ (if (doSeed) Seq(Delta("whitelist", whitelist, 1, rewrite = true)) else Nil)
    val staged = phase("stage_writes") {
      store.stage(deltas, wave.par[RDD[InternalRow]])
    }

    // per-file lineage of the committed files (T10 resumability evidence):
    // the row counts the write tasks returned — the same metadata an
    // Iceberg manifest records at commit time, with no re-scan
    phase("lineage") {
      store.stage(Seq(Delta("lineage", staged.flatMap(st => st.fileRows.zipWithIndex.map {
        case (rows, file) => (w, st.table, file, rows, st.version)
      }).toDF("wave", "table", "partition_id", "rows", "version"), 1)))
    }

    // the frontier delta is seeds + takes + blocks + enqueues, so the
    // enqueue count needs no job of its own
    val enqCount = staged.find(_.table == "frontier").get.rows -
      seedCount - takenCount - blockedCount
    // queue depth after this wave, from the deltas (never re-materializes
    // the frontier): queued-before-incl-seeds - taken + enqueued
    val depth = queuedTotal - takenCount + enqCount

    store.commitWave(w)

    WaveStats(w, takenCount, okCount, enqCount, depth, urlsReadCount)
  }

  /** The links delta: first (src, dst) per page in href order, minus the
    * pairs the links table already holds (Read-or-Insert, link.go:47-79). */
  private def linkRows(linksRaw: DataFrame): DataFrame =
    linksRaw
      .withColumn("rn_", row_number().over(
        Window.partitionBy($"src", $"dst").orderBy($"href_idx")))
      .filter($"rn_" === 1)
      .select(vtTs($"src_vt").as("created"), vtTs($"src_vt").as("updated"), $"src", $"dst")
      .join(linksView.select($"src", $"dst"), Seq("src", "dst"), "left_anti")

  // -------------------------------------------------------------- run loops

  /** Run waves until the frontier drains (quiescent mode) or maxWaves. */
  def run(maxWaves: Int): Seq[WaveStats] = {
    val stats = scala.collection.mutable.ArrayBuffer.empty[WaveStats]
    var w = store.currentWave + 1
    var continue = true
    while (continue && w < maxWaves) {
      val s = runWave(w)
      stats += s
      if (cfg.compactEvery > 0 && w > 0 && w % cfg.compactEvery == 0) compactTables()
      if (s.frontierDepth == 0 && s.taken == 0 && s.enqueued == 0 && w > 0) continue = false
      w += 1
    }
    stats.toSeq
  }

  /** Current queued-command count (A10 queue-depth gauge, crawler.go:143). */
  def frontierDepth: Long =
    frontierView.filter($"state" === StateQueued).count()

  /** POST /que equivalent (handlers.go:42-108): validate the url against
    * the registered source prefixes — `ValidArchivingUrl`
    * (core/urls.go:111-121, the J7 containment shape: candidate ILIKE
    * '%'||source.url||'%') — then audit the request, create the Url row if
    * unseen (SeedUrlHandler's Read-or-Create), and enqueue a GET on lane C,
    * the seed crawler whose extracted links feed lane A
    * (seed_crawler.go:58). Returns false — no audit row, no url row, no
    * enqueue, matching the reference's 400-before-insert order
    * (handlers.go:69-75) — when the url is inside no registered prefix.
    * Soft-deleted sources do not validate (engine policy consistent with
    * P9; the reference's legacy `suburls` table predates its soft-delete
    * column).
    *
    * Two jobs, tagged `api seedUrl`: one collect answers the four gates
    * (source prefix, uncrawlable, frontier slot, url row), its frontier and
    * urls branches reading the url's log rows for `newestLive` to resolve,
    * and one write stages the frontier, urls and archive_requests deltas,
    * leaving out a delta with no rows. */
  def seedUrl(url: String): Boolean = tagged("api seedUrl") {
    store.resetPending()
    val w = store.currentWave + 1
    def gate(name: String, df: DataFrame) =
      df.select(lit(name).as("gate"), typedLit(Seq.empty[Long]).as("stamps_"), lit(true).as("live_"))
    def newest(name: String, mor: Mor) =
      mor.pointLog(Seq(url)).select(lit(name).as("gate"), col("stamps_"), col("live_"))
    val gates = Seq(
      gate("source", sourcesDF.filter(!coalesce($"deleted", lit(false)) &&
        length($"url") > 0 && Funcs.foldCase(lit(url)).contains(Funcs.foldCase($"url")))),
      // uncrawlables gate, same invariant as the wave seeder's anti-join: a
      // manually-blocked url never re-enters the frontier, including via
      // POST /que — a seed after markUncrawlable would append a queued
      // transition at a higher f_wave that outranks the eviction tombstone.
      // (Deleting the uncrawlable row un-blocks the url — MutationsSpec.)
      gate("uncrawlable", uncrawlablesView.filter($"url" === url)),
      // enqued-map check: the url already holds a frontier slot
      newest("slot", frontierMor),
      // Read-or-Create the url row (handlers.go:83-101)
      newest("url", urlsMor)
    ).reduce(_ union _).collect().toSeq.groupBy(_.getString(0))
    def holds(name: String) = gates.get(name).flatMap(newestLive).nonEmpty
    val accepted = holds("source") && !holds("uncrawlable")
    if (accepted) {
      import TableStore.Delta
      val ts = timestamp_seconds(lit(baseEpochSec + (w * cfg.waveWindowSec).toLong))
      val slot = localRow(
        "url" -> url, "method" -> "GET", "host" -> GoUrl.hostOf(url), "lane" -> "C",
        "wave" -> w, "seq" -> (w * SeqStride + (1L << 20)), "state" -> StateQueued,
        "prio_score" -> NeverFetchedScore)
      val deltas = Seq(
        (!holds("slot"), Delta("frontier", frontierMor.stamp(slot, w, PrioSeed))),
        (!holds("url"), Delta("urls",
          urlsMor.stamp(slot.select(newUrlRowCols($"url", ts): _*), w, 1))),
        // audit log (archive_requests insert, handlers.go:75)
        (true, Delta("archive_requests", slot.select($"url", ts.as("created"), $"wave"))))
      store.stage(deltas.collect { case (true, d) => d })
      store.commitWave(store.currentWave)
    }
    accepted
  }

  /** A one-row local frame of string and long columns. (A tuple's `toDF`
    * derives its encoder by runtime reflection on every call.) */
  private def localRow(cells: (String, Any)*): DataFrame =
    spark.createDataFrame(java.util.List.of(Row.fromSeq(cells.map(_._2))),
      StructType(cells.map { case (name, v) =>
        if (v.isInstanceOf[String]) StructField(name, StringType)
        else StructField(name, LongType, nullable = false) }))

  /** POST /uncrawlables twin (UncrawlableHandler): record a manual
    * don't-crawl url and evict it from the queued frontier. Two jobs,
    * tagged `api markUncrawlable`: the frontier point read, then one write
    * of the uncrawlables row and the eviction. */
  def markUncrawlable(url: String): Unit = tagged("api markUncrawlable") {
    import TableStore.Delta
    store.resetPending()
    val w = store.currentWave
    val ts = timestamp_seconds(lit(baseEpochSec + ((w + 1) * cfg.waveWindowSec).toLong))
    // evict a queued command via a MOR tombstone (blocked rows keep their
    // state; the uncrawlables gate already blocks re-enqueue either way).
    // The eviction is STAMPED AT WAVE w+1: seedUrl and runWave stamp their
    // queued transitions at currentWave+1 and the MOR view orders f_wave
    // before f_prio, so a w-stamped eviction would be outranked by a seed
    // issued in the same API cycle (round-3 advice: seedUrl-then-
    // markUncrawlable left the url queued and fetchable). PrioEvicted=5
    // outranks every transition runWave(w+1) itself can write.
    val evicted = frontierMor.rows(Seq(url)).filter($"state" === StateQueued)
      .withColumn("state", lit(StateTaken))
    store.stage(Seq(
      Delta("uncrawlables", localRow("url" -> url).select($"url", ts.as("created"))),
      Delta("frontier", frontierMor.stamp(evicted, w + 1, PrioEvicted))))
    store.commitWave(w)
  }

  /** Compact the MOR tables (Iceberg rewrite_data_files equivalent): each
    * becomes one version of its live winners, bounding the log's read
    * amplification; the frontier's taken tombstones fold away. */
  def compactTables(): Unit = tagged(s"compact ${store.currentWave}") {
    import TableStore.Delta
    store.stage(Seq(
      Delta("urls", urlsMor.compacted, rewrite = true),
      Delta("links", linksView, rewrite = true),
      Delta("snapshots", snapshotsView, rewrite = true),
      Delta("frontier", frontierMor.compacted, rewrite = true),
      Delta("host_state", hostMor.compacted, rewrite = true)))
    store.commitWave(store.currentWave)
  }

  // -------------------------------------------------------------- helpers

  /** Per-host FIFO politeness take: rank the queue narrow (url, method,
    * host, lane, wave, seq + the per-host plan scalars — never the robots
    * body), pre-filter on a constant rank bound so WindowGroupLimit keeps
    * only each (host,lane) queue head below the exchange, stamp virtual
    * fetch times at eff_delay spacing, keep rows inside the wave window,
    * then join the robots text back per (host,lane) for the gate.
    *
    * `rankBound` must cover every POSITIVE-delay host (it is derived from
    * the minimum positive delay, so `ceil(window/minPosDelay)+1 >=
    * ceil(window/delay_h)+1` for each). Zero-delay hosts — a robots
    * `Crawl-delay: 0` line — legitimately take their whole backlog inside
    * the window, so they bypass the rank prune on a separate (normally
    * empty) branch; the bulk of the wave keeps its WindowGroupLimit
    * regardless of one pathological host (round-3 fix: the old constant
    * bound collapsed to Long.MaxValue globally when any host had delay 0). */
  private[graft] def politeBudget(queued: DataFrame, hostPlan: DataFrame,
      waveEnd: Double, rankBound: Long): DataFrame = {
    // priority mode ranks each host's queue most-stale-first (score frozen
    // at enqueue — no take-time scoring join), seq as the deterministic
    // tiebreak; default is the reference's FIFO. Same WindowGroupLimit
    // prune either way — only the ORDER inside each host changes.
    val takeOrder =
      if (cfg.stalenessPriority) Seq(desc("prio_score"), asc("seq"))
      else Seq(asc("seq"))
    val wSeq = Window.partitionBy($"host", $"lane").orderBy(takeOrder: _*)
    val hostPlanNarrow = hostPlan
      .select($"host", $"lane", $"robots_now", $"eff_delay", $"start_vt")
    val joined = queued.join(hostPlanNarrow, Seq("host", "lane"))
    val posRanked = joined.filter($"eff_delay" > 0)
      .withColumn("rn", row_number().over(wSeq))
      .filter($"rn" <= rankBound)
    val zeroRanked = joined.filter($"eff_delay" <= 0)
      .withColumn("rn", row_number().over(wSeq))
    posRanked.unionByName(zeroRanked)
      .withColumn("vt",
        when($"robots_now", $"start_vt" + $"rn" * $"eff_delay")
          .otherwise($"start_vt" + ($"rn" - 1) * $"eff_delay"))
      .filter($"vt" < waveEnd && $"start_vt" < waveEnd)
      .join(hostPlan.select($"host", $"lane", $"eff_robots_txt"),
        Seq("host", "lane"))
  }

  private val sniffUnwanted: Seq[String] =
    graft.functions.Sniff.unwantedMimetypes.toSeq.sorted

  private def fileNameCol(urlCol: Column): Column = {
    // HandleGetResponse filename branch (url.go:196-211): ext must be in the
    // ffi whitelist and not a notContent extension
    val fname = Funcs.filenameUdf(urlCol)
    val ext = Funcs.extUdf(urlCol)
    when(Funcs.extMimeUdf(ext).isNotNull &&
      !ext.isin(graft.functions.Sniff.notContentExtensions.toSeq.sorted: _*) && ext =!= "",
      fname).otherwise(lit(null))
  }

  /** Fresh UrlRow columns (dst Read-or-Save create, url.go:432-436). */
  private def newUrlRowCols(urlCol: Column, ts: Column): Seq[Column] = Seq(
    urlCol.as("url"), ts.as("created"), ts.as("updated"),
    lit(null).cast("timestamp").as("last_head"), lit(null).cast("timestamp").as("last_get"),
    lit(0).as("status"), lit("").as("content_type"), lit("").as("content_sniff"),
    lit(0L).as("content_length"), lit("").as("file_name"), lit("").as("title"),
    Funcs.urlIdUdf(urlCol).as("id"), lit(0).as("headers_took"), lit(0).as("download_took"),
    array().cast("array<string>").as("headers"),
    map().cast("map<string,string>").as("meta"), lit("").as("hash"))

}

/** Per-executor robots parse cache keyed by content (P8). Deliberately
  * stops caching (rather than evicting) past 10k distinct bodies: robots
  * bodies repeat per host and the parse is cheap, so an unbounded-growth
  * guard is all that's needed at sandbox scale; a M-host deployment would
  * swap this for an LRU keyed by body hash. */
object RobotsCache {
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Robots.RobotsData]()
  def get(txt: String): Robots.RobotsData = {
    var d = cache.get(txt)
    if (d == null) {
      d = Robots.parse(txt)
      if (cache.size() < 10000) cache.put(txt, d)
    }
    d
  }
}
