package graft.crawl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
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
    useBloomPrefilter: Boolean = true, // A9: bloom URL-seen prefilter ahead of the exact anti-join
    bloomExpectedItems: Long = 1L << 20,
    bloomFpp: Double = 0.01,
    bloomShards: Int = 8,   // per-shard Bloom files; never one driver-held filter
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
  * that materialize them, and writes all table deltas in one job — 39–41
  * jobs and 2 parquet writes per wave on the 112-host scale crawl. Every
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
  private def checkpointRdds(df: DataFrame): Seq[RDD[_]] =
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
    * materializations, the delta plans' shuffle stages, the seen-bloom
    * merge) submit from here. A wave is dominated by driver-side job
    * latency, not compute — each action is one round trip through the
    * scheduler — so independent actions overlap (the standard Spark
    * multi-job driver pattern; shared materialized frames are safe, the
    * BlockManager serializes first-computation per block). Failures
    * propagate: any action throwing fails the wave before commitWave
    * publishes. */
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

  /** Per-instance cached empty frames: deriving a Product ExpressionEncoder
    * is runtime reflection (hundreds of ms) and the wave loop needs these
    * constants every wave — pay the derivation once, not once per wave. */
  private lazy val emptyFrontierDF: DataFrame = emptyDF[FrontierRow]
  private lazy val emptyHostStateDF: DataFrame = emptyDF[HostStateRow]

  /** frontier merge-on-read view: latest (f_wave, f_prio) transition per
    * url wins; urls whose latest transition is `taken` have left the queue.
    * Same layout as the urls table — waves APPEND O(delta) transition rows
    * (seeds, takes, blocks, enqueues) and never rewrite the backlog; a
    * pre-MOR snapshot (single rewrite version, no f_wave column) reads as
    * wave-0 transitions, so resume from an old store keeps working.
    *
    * Read discipline (the round-3 read-amplification fix): a wave evaluates
    * this view EXACTLY ONCE — `runWave` localCheckpoints it into
    * `frontier0` and every in-wave consumer (queue gauge, budget slice,
    * active-url set, seed anti-join) reads the checkpointed frame, so the
    * transition log is scanned and latest-wins-shuffled once per wave, not
    * once per consumer. Point lookups (`seedUrl`, `markUncrawlable`) never
    * touch the full view: latest-wins-per-url commutes with a url filter,
    * so `frontierRowsFor` filters the log down to one `fbucket` (files are
    * clustered on it at write time — parquet stats skip the rest) BEFORE
    * the window. */
  private def frontierDF: DataFrame = frontierMorView(None)

  /** Frontier-log schema backfill: pre-MOR files get wave-0 stamps,
    * pre-bucketing files get their fbucket recomputed from the url,
    * pre-priority logs score 0 (same read-side migration policy as the
    * urls `ubucket`). Shared by the live view and time travel. */
  private def frontierBackfill(df0raw: DataFrame): DataFrame = {
    val stamped =
      if (df0raw.columns.contains("f_wave"))
        df0raw.withColumn("f_wave", coalesce($"f_wave", lit(0L)))
          .withColumn("f_prio", coalesce($"f_prio", lit(0)))
      else df0raw.withColumn("f_wave", lit(0L)).withColumn("f_prio", lit(0))
    val bucketed =
      if (stamped.columns.contains("fbucket"))
        stamped.withColumn("fbucket", coalesce($"fbucket", bucketCol($"url")))
      else stamped.withColumn("fbucket", bucketCol($"url"))
    if (bucketed.columns.contains("prio_score"))
      bucketed.withColumn("prio_score", coalesce($"prio_score", lit(0L)))
    else bucketed.withColumn("prio_score", lit(0L))
  }

  /** Latest-wins MOR collapse of a (backfilled) frontier transition log —
    * the ONE place the frontier's ordering contract lives. */
  private def frontierLatestWins(log: DataFrame): DataFrame = {
    val w = Window.partitionBy("url").orderBy(desc("f_wave"), desc("f_prio"))
    log.withColumn("rn_", row_number().over(w)).filter($"rn_" === 1)
      .drop("rn_", "f_wave", "f_prio", "fbucket")
      .filter($"state" =!= StateTaken)
  }

  private def frontierLog: Option[DataFrame] =
    store.readAppendOnly("frontier").map(frontierBackfill)

  private def frontierMorView(onlyUrl: Option[String]): DataFrame =
    frontierLog match {
      case None => emptyFrontierDF
      case Some(log) =>
        val df0 = onlyUrl match {
          case Some(u) =>
            log.filter($"fbucket" === urlBucketOf(u) && $"url" === u)
          case None => log
        }
        frontierLatestWins(df0)
    }

  /** Live frontier rows for one url — a bucket-pruned point read of the
    * transition log (the filter commutes with latest-wins-per-url). */
  private def frontierRowsFor(url: String): DataFrame =
    frontierMorView(Some(url))

  /** xxhash64 bucket of one url, computed driver-side by EVALUATING the
    * same Catalyst expression `bucketCol` builds (XxHash64 seed 42 +
    * floor-mod) — no Spark job. The old spelling ran a 1-row job per
    * admin point-lookup, which put a full scheduler round-trip in the
    * seedUrl/markUncrawlable hot path; expression eval is identical by
    * construction (it IS the executor-side code path) and parity is
    * additionally pinned by MutationsSpec/ApiCrawlSpec reading back
    * through the bucket-pruned views. */
  private def urlBucketOf(url: String): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Pmod, XxHash64, Cast}
    import org.apache.spark.sql.types.IntegerType
    val h = XxHash64(Seq(Literal.create(url,
      org.apache.spark.sql.types.StringType)), 42L)
    val b = Cast(Pmod(h, Literal.create(cfg.urlBuckets.toLong,
      org.apache.spark.sql.types.LongType)), IntegerType)
    b.eval(null).asInstanceOf[Int]
  }

  /** Frontier transition priorities within one wave: a seed can be taken in
    * its own wave; a taken HEAD can be blocked; an eviction wins over all. */
  private val PrioSeed = 1
  private val PrioTaken = 2
  private val PrioBlocked = 3
  private val PrioEnqueued = 4
  private val PrioEvicted = 5

  /** Never-fetched / must-refetch staleness score: outranks any real age. */
  private val NeverFetchedScore = Long.MaxValue / 2

  private def withFrontierMor(df: DataFrame, w: Long, prio: Int): DataFrame =
    df.select("url", "method", "host", "lane", "wave", "seq", "state", "prio_score")
      .withColumn("f_wave", lit(w)).withColumn("f_prio", lit(prio))
      .withColumn("fbucket", bucketCol(col("url")))

  /** host_state MOR view: latest transition per (host, lane) wins. Waves
    * append only the hosts they touched (bounded by the politeness budget),
    * never the full host catalog — at 10^7+ hosts the old per-wave rewrite
    * was the last O(catalog) write. Pre-MOR snapshots read as wave 0. */
  private def hostStateDF: DataFrame =
    store.readAppendOnly("host_state") match {
      case None => emptyHostStateDF
      case Some(df0raw) =>
        val df0 =
          if (df0raw.columns.contains("h_wave"))
            df0raw.withColumn("h_wave", coalesce($"h_wave", lit(0L)))
          else df0raw.withColumn("h_wave", lit(0L))
        val w = Window.partitionBy("host", "lane").orderBy(desc("h_wave"))
        df0.withColumn("rn_", row_number().over(w)).filter($"rn_" === 1)
          .drop("rn_", "h_wave")
    }

  /** urls hash bucket (partition column of the urls table). */
  private def bucketCol(c: Column): Column =
    pmod(xxhash64(c), lit(cfg.urlBuckets)).cast("int")

  /** urls merge-on-read view: latest (wave, prio) row per url wins. */
  def urlsView: DataFrame = urlsViewBuckets(None)

  /** Bucket-pruned MOR view: with `buckets` set, the filter on the
    * partition column prunes the parquet scan to just those directories
    * (Iceberg bucket-partition pruning equivalent) BEFORE the dedup window —
    * a wave that touches k urls reads O(k/B * table) rows, not O(table). */
  def urlsViewBuckets(buckets: Option[Seq[Int]]): DataFrame =
    urlsMorOver(store.readAppendOnly("urls"), buckets)

  /** Time travel (Iceberg VERSION AS OF): the urls MOR view exactly as
    * committed at `wave` — the same latest-wins read code over the
    * historical manifest's version list. None if `wave` was never
    * committed or predates the snapshot log. */
  def urlsViewAsOf(wave: Long): Option[DataFrame] =
    store.asOf(wave).map(s => urlsMorOver(s.readAppendOnly("urls"), None))

  /** Incremental CDC read (Iceberg incremental-scan shape): every url whose
    * CURRENT merge-on-read row was written after `sinceWave` — exactly the
    * rows a downstream consumer checkpointed at `sinceWave` must reprocess.
    * Returns the live row plus `changed_wave` (the stamp that superseded
    * the consumer's view).
    *
    * Scale shape: the delta's BUCKETS are discovered first by a
    * stamp-filtered scan (the `w_wave > since` predicate pushes into the
    * parquet scan, and version dirs written before `since` are skipped
    * whole via their max(w_wave) footer stats); the latest-wins window
    * then runs only over those buckets' files (the steady-state wave
    * treatment), so a small delta reads O(delta/B · log) rows — never a
    * full-table window. Falls back to the full view naturally when the
    * delta touches every bucket. The ≤`urlBuckets` collected ids mirror
    * the wave loop's bucket collect. */
  def urlsChangedSince(sinceWave: Long): DataFrame = {
    store.readAppendOnly("urls") match {
      case None => emptyDF[UrlRow].withColumn("changed_wave", lit(0L)).limit(0)
      case Some(raw) =>
        val df0 =
          if (raw.columns.contains("ubucket"))
            raw.withColumn("ubucket", coalesce($"ubucket", bucketCol($"url")))
          else raw.withColumn("ubucket", bucketCol($"url"))
        val touched = df0.filter($"w_wave" > sinceWave)
          .select($"ubucket").distinct().collect().map(_.getInt(0)).toSeq
        if (touched.isEmpty)
          emptyDF[UrlRow].withColumn("changed_wave", lit(0L)).limit(0)
        else {
          val slice = df0.filter($"ubucket".isin(touched: _*))
          val w = Window.partitionBy("url").orderBy(desc("w_wave"), desc("w_prio"))
          slice.withColumn("rn_", row_number().over(w))
            .filter($"rn_" === 1 && $"w_wave" > sinceWave)
            .withColumn("changed_wave", $"w_wave")
            .drop("rn_", "w_wave", "w_prio", "ubucket")
        }
    }
  }

  /** Frontier CDC — the queue-side twin of [[urlsChangedSince]]: every url
    * whose latest queue TRANSITION is stamped after `sinceWave`, carrying
    * the winning transition's `state` (INCLUDING `taken` evictions — a
    * consumer mirroring the queue needs removals, which the live
    * `frontierView` filters out) and `changed_wave`. Same bucket-discovery
    * + pruned latest-wins shape: O(delta/B · log) read for a small delta. */
  def frontierChangedSince(sinceWave: Long): DataFrame =
    frontierLog match {
      case None =>
        emptyDF[FrontierRow].withColumn("changed_wave", lit(0L)).limit(0)
      case Some(log) =>
        val touched = log.filter($"f_wave" > sinceWave)
          .select($"fbucket").distinct().collect().map(_.getInt(0)).toSeq
        if (touched.isEmpty)
          emptyDF[FrontierRow].withColumn("changed_wave", lit(0L)).limit(0)
        else {
          val slice = log.filter($"fbucket".isin(touched: _*))
          val w = Window.partitionBy("url").orderBy(desc("f_wave"), desc("f_prio"))
          slice.withColumn("rn_", row_number().over(w))
            .filter($"rn_" === 1 && $"f_wave" > sinceWave)
            .withColumn("changed_wave", $"f_wave")
            .drop("rn_", "f_wave", "f_prio", "fbucket")
        }
    }

  /** The committed frontier as of `wave` (time travel over the transition
    * log: latest-wins re-runs on the historical prefix, so the result is
    * the exact queue the scheduler saw after that wave's commit). */
  def frontierViewAsOf(wave: Long): Option[DataFrame] =
    store.asOf(wave).map { s =>
      s.readAppendOnly("frontier") match {
        case None => emptyFrontierDF
        case Some(raw) => frontierLatestWins(frontierBackfill(raw))
      }
    }

  private def urlsMorOver(src: Option[DataFrame],
      buckets: Option[Seq[Int]]): DataFrame =
    src match {
      case None => emptyDF[UrlRow]
      case Some(df0raw) =>
        // schema backfill on read: url deltas written before the bucketed
        // layout have no ubucket column (or parquet schema union reads their
        // rows as null) — recompute from the url so a resume from a
        // pre-bucketing snapshot neither fails resolution nor silently
        // drops pre-upgrade urls from bucket-pruned steady-state waves
        val df0 =
          if (df0raw.columns.contains("ubucket"))
            df0raw.withColumn("ubucket", coalesce($"ubucket", bucketCol($"url")))
          else df0raw.withColumn("ubucket", bucketCol($"url"))
        val df = buckets match {
          case Some(bs) => df0.filter($"ubucket".isin(bs: _*))
          case None     => df0
        }
        val w = Window.partitionBy("url").orderBy(desc("w_wave"), desc("w_prio"))
        df.withColumn("rn_", row_number().over(w)).filter($"rn_" === 1)
          .drop("rn_", "w_wave", "w_prio", "ubucket")
    }

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
    store.readAppendOnly("uncrawlables")
      .getOrElse(Seq.empty[(String, java.sql.Timestamp)].toDF("url", "created"))
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

  private def perShardItems: Long =
    math.max(64L, cfg.bloomExpectedItems / cfg.bloomShards)

  /** Store name of the seen-bloom shard dirs (a `stageDir` state). */
  private val BloomDir = "seen_bloom"

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

  private def ints(m: Map[String, Any], key: String): Seq[Int] = m.get(key) match {
    case Some(v: scala.collection.Seq[_]) => v.map(_.asInstanceOf[Int]).toSeq
    case _ => Nil
  }

  /** Run `body` with the description of every job it submits from this
    * thread set to `desc` (a thread-local Spark property). */
  private def tagged[T](desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(prev)
  }

  /** Observed aggregates of the url buckets an array column of urls
    * touches, as bitmasks: mask i has bit b set when bucket 64·i + b is
    * touched. A set of at most `urlBuckets` values, whatever the row count. */
  private def hrefBucketMasks: Seq[Column] =
    (0 until (cfg.urlBuckets + 63) / 64).map { i =>
      bit_or(aggregate($"hrefs", lit(0L), (acc, u) => {
        val b = bucketCol(u) - 64 * i
        acc.bitwiseOR(when(b >= 0 && b < 64, call_function("shiftleft", lit(1L), b))
          .otherwise(lit(0L)))
      })).as(s"href_mask_$i")
    }

  private def maskedBuckets(m: Map[String, Any]): Seq[Int] =
    (0 until (cfg.urlBuckets + 63) / 64).flatMap { i =>
      val mask = long(m, s"href_mask_$i")
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

    private def description: String = sc.getLocalProperty("spark.job.description")

    def phase[T](name: String)(body: => T): T = tagged(s"wave $w $name")(body)

    /** Run `body` on the wave pool under the calling thread's tag: pool
      * threads copy local properties only when they are created, so each
      * task sets its own. */
    def async[T](body: => T): java.util.concurrent.Future[T] = {
      val desc = description
      waveExec.submit(new java.util.concurrent.Callable[T] {
        def call(): T = {
          sc.setJobDescription(desc)
          try body finally sc.setJobDescription(null)
        }
      })
    }

    /** Independent thunks, concurrently; waits for all, then rethrows the
      * first failure. */
    def par[T](thunks: Seq[() => T]): Seq[T] =
      thunks.map(t => async(t())).map(f => scala.util.Try(f.get())).map(_.get)

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
    *   - bloom: the seen-bloom dir comes from the manifest and its geometry
    *     file — no job unless it must be rebuilt.
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
    *     J8 probe of the link dsts against the urls slice.
    *   - stage_writes: every table delta in ONE write job, concurrently
    *     with the seen-bloom merge.
    *   - lineage: one small write of per-file row counts.
    *
    * Materializations: 5 on a steady-state wave, 8 on a seed wave, plus
    * url_delta's two lazy checkpoints (the bloom-tagged dsts and the probe's
    * candidates); parquet writes: 2. On the 112-host scale crawl a wave
    * runs 39–41 jobs; a refill seed wave (queue under lowWatermark, with
    * history) runs about 50. */
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
      val (f, m) = materialize("frontier", frontierDF,
        count(when($"state" === StateQueued, 1)).as("queued")) // A10 gauge
      (f, long(m, "queued"))
    }
    // table views: a table's first read in this instance (or after a
    // rewrite) infers its schema from a footer, which is a job
    val (uncrawl0, hostState0, pages) = phase("views") {
      (uncrawlablesView.select("url"), hostStateDF, pagesDF)
    }

    // URL-seen sharded bloom (A9): the manifest names the live shard dir and
    // the dir's geometry file is validated against cfg on EVERY wave:
    // probing with mismatched parameters hashes urls to the wrong shard /
    // wrong bit positions — silent false negatives that re-create seen
    // urls. A mismatch (e.g. GRAFT_SHARDS changed between runs), a pruned
    // dir (resume from an old snapshot) or a pre-bloom store rebuilds the
    // shards from the urls table — the documented restart path (SURVEY
    // §7.4.6). The driver never holds a filter object.
    val bloomDir: Option[String] = phase("bloom") {
      if (!cfg.useBloomPrefilter) None
      else store.committedDir(BloomDir)
        .filter(d => ShardedBloom.geometry(spark, d)
          .contains((cfg.bloomShards, perShardItems, cfg.bloomFpp)))
        .orElse(if (!store.exists("urls")) None else {
          val dir = store.stageDir(BloomDir)
          ShardedBloom.buildToDir(spark, urlsView.select("url"), "url",
            cfg.bloomShards, perShardItems, cfg.bloomFpp, dir)
          Some(dir)
        })
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
        (null, 0L, emptyFrontierDF, 0L, emptyUrlRows, wl)
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
        .join(pages.select($"url".as("robots_url"), $"html".as("robots_body")),
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
        sum(size($"hrefs")).as("links"), collect_set(bucketCol($"url")).as("buckets")) ++
        hrefBucketMasks: _*)
      (f, long(m, "taken"), long(m, "ok"), long(m, "blocked"), long(m, "links"),
        (ints(m, "buckets") ++ maskedBuckets(m)).distinct.sorted)
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
    // write, the bloom merge and the next-wave enqueue lookups all read it
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
    // URL-seen check (J8/A9): sharded bloom prefilter over the committed
    // urls table — candidates the bloom rejects are definitely new (no false
    // negatives per shard) and skip the exact probe; only "maybe seen" pays
    // the anti-join. The same-wave seedCreates delta (not yet in the bloom)
    // is always checked.
    val dstNotSeeded = dstFirst
      .join(seedCreates.select($"url".as("dst")), Seq("dst"), "left_anti")
    // "maybe seen" candidates probe the urls slice exactly
    // (Scheduler.hashProbeNewUrls, plan-asserted in ScaleCrawlSpec): the
    // candidates are checkpointed once, the slice is semi-joined down to
    // the rows sharing a candidate's xxhash64, and the candidates are
    // string-anti-joined against those. The probe's checkpoint runs the
    // candidates' shuffle stages when it is called, so it is built inside
    // the phase (its jobs carry the tag) and the wave owns its RDD.
    // w_prio 1 = created (source roots, link dsts), 2 = fetched update
    val (urlDelta, urlDeltaRows, createdCount) = phase("url_delta") {
      val dstNew = bloomDir match {
        case Some(dir) =>
          val hit = ShardedBloom.mightContainCol(spark, dir, cfg.bloomShards,
            $"dst", requireShards = true)
          // both legs read the tagged candidates: one lazy checkpoint runs
          // their window exchange and the bloom probe once, not per leg
          val tagged = Scheduler.shareLazily(dstNotSeeded.withColumn("bloom_hit", hit), wave.own)
          val definitelyNew = tagged.filter(!$"bloom_hit")
          val maybeSeen = Scheduler.hashProbeNewUrls(
            tagged.filter($"bloom_hit"), urlsWave.select("url"), wave.own)
          definitelyNew.unionByName(maybeSeen).drop("bloom_hit")
        case _ =>
          Scheduler.hashProbeNewUrls(dstNotSeeded, urlsWave.select("url"), wave.own)
      }
      val dstCreates = dstNew.select(newUrlRowCols($"dst", vtTs($"src_vt")): _*)
      val (d, m) = materialize("url_delta", withMor(seedCreates, w, 1)
        .unionByName(withMor(updates, w, 2))
        .unionByName(withMor(dstCreates, w, 1)),
        count(lit(1)).as("n"), count(when($"w_prio" === 1, 1)).as("created"))
      (d, long(m, "n"), long(m, "created"))
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
    val frontierAppends = withFrontierMor(seedRows, w, PrioSeed)
      .unionByName(withFrontierMor(takenRows, w, PrioTaken))
      .unionByName(withFrontierMor(headBlockedRows, w, PrioBlocked))
      .unionByName(withFrontierMor(newEnqueues, w, PrioEnqueued))

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
    val hostStateTouched = hostPlan
      .join(takenPerHost, Seq("host", "lane"), "left")
      .filter($"robots_now" || $"max_vt".isNotNull)
      .withColumn("last_vt",
        when($"robots_now" && $"max_vt".isNull, $"start_vt") // only robots ran
          .otherwise(coalesce($"max_vt", $"start_vt" - $"eff_delay")))
      .select($"host", $"lane", lit(cfg.polite).as("robots_fetched"),
        $"eff_robots_txt".as("robots_txt"), $"eff_delay".as("crawl_delay_sec"),
        ($"last_vt" + $"eff_delay").as("next_fetch_vt"))
      .withColumn("h_wave", lit(w))

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
    // still skips row groups via parquet stats. The seen-bloom merge runs
    // beside it: per-shard delta blooms built distributed, OR-merged into
    // the previous version's shard files executor-side, published as a new
    // version dir with the wave's manifest (the url delta is materialized,
    // so the probe above saw the pre-merge filters — ordering is safe); a
    // wave that creates no url keeps the previous dir.
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
    val mergeBloom = cfg.useBloomPrefilter && (createdCount > 0 || bloomDir.isEmpty)
    val (staged, liveBloom) = phase("stage_writes") {
      val bloom = wave.async {
        if (!mergeBloom) bloomDir else {
          val d = store.stageDir(BloomDir)
          ShardedBloom.buildToDir(spark, urlDelta.filter($"w_prio" === 1).select("url"),
            "url", cfg.bloomShards, perShardItems, cfg.bloomFpp, d, bloomDir)
          Some(d)
        }
      }
      val s = scala.util.Try(store.stage(deltas, wave.par[RDD[InternalRow]]))
      val b = scala.util.Try(bloom.get()) // wait for both before failing
      (s.get, b.get)
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

    // prune superseded seen_bloom dirs now that the commit re-pointed the
    // manifest: each published dir is CUMULATIVE (the merge folds the
    // previous version's shards in), so only the referenced dir is live —
    // without this a W-wave crawl keeps W full copies of the filter set.
    // A resume from an older snapshot falls back to rebuild-from-urls.
    liveBloom.foreach(pruneBloomDirs)

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

  /** Delete every seen_bloom version dir except `keep` (the dir the
    * just-committed manifest references). Safe mid-crash: pruning runs
    * only AFTER commitWave, so an interrupted wave leaves the previous
    * manifest and its dir intact, and the orphaned new dir is swept on the
    * next successful wave. */
  private def pruneBloomDirs(keep: String): Unit = {
    import java.nio.file.{Files, Paths}
    val base = Paths.get(s"${store.rootPath}/$BloomDir")
    if (!Files.isDirectory(base)) return
    val keepName = Paths.get(keep).getFileName
    import scala.jdk.CollectionConverters._
    Files.list(base).iterator().asScala.toSeq
      .filter(d => Files.isDirectory(d) && d.getFileName != keepName)
      .foreach { d =>
        Files.walk(d).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p))
      }
  }

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
    frontierDF.filter($"state" === StateQueued).count()

  /** The committed frontier (GET /que view). */
  def frontierView: DataFrame = frontierDF

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
    * column). All reads are point lookups: the frontier check prunes to
    * one fbucket, the urls check to one ubucket. */
  def seedUrl(url: String): Boolean = {
    store.resetPending()
    val w = store.currentWave + 1
    val valid = !sourcesDF
      .filter(!coalesce($"deleted", lit(false)) && length($"url") > 0 &&
        lower(lit(url)).contains(lower($"url")))
      .isEmpty
    if (!valid) return false
    // uncrawlables gate, same invariant as the wave seeder's anti-join:
    // a manually-blocked url must never re-enter the frontier, including
    // via POST /que. Without this, a seed AFTER markUncrawlable would
    // append a queued transition at a higher f_wave that outranks the
    // eviction tombstone and the url would be fetched again. (Deleting
    // the uncrawlable row un-blocks the url — MutationsSpec.)
    if (!uncrawlablesView.filter($"url" === url).isEmpty) return false
    val ts = timestamp_seconds(lit(baseEpochSec + (w * cfg.waveWindowSec).toLong))
    val row = Seq((url, "GET", GoUrl.hostOf(url), "C", w,
        w * SeqStride + (1L << 20), StateQueued, NeverFetchedScore))
      .toDF("url", "method", "host", "lane", "wave", "seq", "state", "prio_score")
    // enqued-map check (Read-or-Create): only append the queued transition
    // if the url holds no frontier slot — an O(delta) append, not a rewrite
    val alreadyActive = frontierRowsFor(url).limit(1).count() > 0
    if (!alreadyActive)
      store.stageAppend("frontier", withFrontierMor(row, w, PrioSeed))
    // Read-or-Create the url row (handlers.go:83-101)
    val creates = row.select($"url")
      .join(urlsViewBuckets(Some(Seq(urlBucketOf(url)))).select("url"),
        Seq("url"), "left_anti")
      .select(newUrlRowCols($"url", ts): _*)
    store.stageAppend("urls", withMor(creates, w, 1))
    // audit log (archive_requests insert, handlers.go:75)
    store.stageAppend("archive_requests",
      Seq((url, w)).toDF("url", "wave").select($"url", ts.as("created"), $"wave"))
    store.commitWave(store.currentWave)
    true
  }

  /** POST /uncrawlables twin (UncrawlableHandler): record a manual
    * don't-crawl url and evict it from the queued frontier. */
  def markUncrawlable(url: String): Unit = {
    store.resetPending()
    val w = store.currentWave
    val ts = timestamp_seconds(lit(baseEpochSec + ((w + 1) * cfg.waveWindowSec).toLong))
    store.stageAppend("uncrawlables",
      Seq(Tuple1(url)).toDF("url").select($"url", ts.as("created")))
    // evict a queued command via a MOR tombstone (blocked rows keep their
    // state; the uncrawlables gate already blocks re-enqueue either way).
    // The eviction is STAMPED AT WAVE w+1: seedUrl and runWave stamp their
    // queued transitions at currentWave+1 and the MOR view orders f_wave
    // before f_prio, so a w-stamped eviction would be outranked by a seed
    // issued in the same API cycle (round-3 advice: seedUrl-then-
    // markUncrawlable left the url queued and fetchable). PrioEvicted=5
    // outranks every transition runWave(w+1) itself can write.
    val evicted = frontierRowsFor(url).filter($"state" === StateQueued)
      .withColumn("state", lit(StateTaken))
    store.stageAppend("frontier", withFrontierMor(evicted, w + 1, PrioEvicted))
    store.commitWave(w)
  }

  /** Compact MOR tables (Iceberg rewrite_data_files equivalent). The
    * frontier compaction materializes the live view (queued + blocked; all
    * taken tombstones fold away) as one wave-stamped version, bounding the
    * transition-log read amplification on the same cadence as urls. */
  def compactTables(): Unit = tagged(s"compact ${store.currentWave}") {
    // Winner rows keep their ORIGINAL MOR stamps. Re-stamping everything at
    // the compaction wave (the old behavior) made the CDC readers
    // (`urlsChangedSince`/`frontierChangedSince`, which filter on
    // w_wave/f_wave > checkpoint) report the WHOLE table as changed after
    // every compaction — with compactEvery=8 that collapsed the documented
    // O(delta) incremental read into a full-table reprocess every 8 waves.
    // Preserving stamps is latest-wins-safe: later deltas are always
    // stamped at a strictly higher wave, so they still outrank.
    import TableStore.Delta
    store.stage(Seq(
      Delta("urls", urlsWinnersStamped.repartition(col("ubucket")), rewrite = true),
      Delta("links", linksView, rewrite = true),
      Delta("snapshots", snapshotsView, rewrite = true),
      Delta("frontier", frontierWinnersStamped.repartition(col("fbucket")), rewrite = true),
      Delta("host_state", hostWinnersStamped, rewrite = true)))
    store.commitWave(store.currentWave)
  }

  /** urls latest-wins winners WITH their original (w_wave, w_prio, ubucket)
    * columns — the compaction shape (the live view drops the stamps). */
  private def urlsWinnersStamped: DataFrame =
    store.readAppendOnly("urls") match {
      case None => withMor(emptyDF[UrlRow], store.currentWave, 2).limit(0)
      case Some(df0raw) =>
        val withB =
          if (df0raw.columns.contains("ubucket"))
            df0raw.withColumn("ubucket", coalesce($"ubucket", bucketCol($"url")))
          else df0raw.withColumn("ubucket", bucketCol($"url"))
        val df0 = withB // pre-MOR files read as wave-0 stamps
          .withColumn("w_wave", coalesce($"w_wave", lit(0L)))
          .withColumn("w_prio", coalesce($"w_prio", lit(0)))
        val w = Window.partitionBy("url").orderBy(desc("w_wave"), desc("w_prio"))
        df0.withColumn("rn_", row_number().over(w)).filter($"rn_" === 1).drop("rn_")
    }

  /** Frontier latest-wins winners WITH stamps; taken tombstones (and the
    * urls they supersede) drop out of the compacted log entirely — history
    * truncation is the point of compaction. */
  private def frontierWinnersStamped: DataFrame =
    frontierLog match {
      case None =>
        withFrontierMor(emptyFrontierDF, store.currentWave, 0).limit(0)
      case Some(log) =>
        val w = Window.partitionBy("url").orderBy(desc("f_wave"), desc("f_prio"))
        log.withColumn("rn_", row_number().over(w)).filter($"rn_" === 1)
          .drop("rn_").filter($"state" =!= StateTaken)
    }

  /** host_state latest-wins winners WITH their h_wave stamp. */
  private def hostWinnersStamped: DataFrame =
    store.readAppendOnly("host_state") match {
      case None => emptyHostStateDF.withColumn("h_wave", lit(0L)).limit(0)
      case Some(df0raw) =>
        val df0 =
          if (df0raw.columns.contains("h_wave"))
            df0raw.withColumn("h_wave", coalesce($"h_wave", lit(0L)))
          else df0raw.withColumn("h_wave", lit(0L))
        val w = Window.partitionBy("host", "lane").orderBy(desc("h_wave"))
        df0.withColumn("rn_", row_number().over(w)).filter($"rn_" === 1).drop("rn_")
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

  private lazy val emptyUrlRows: DataFrame = {
    import Model._
    emptyDF[UrlRow]
  }

  private def withMor(df: DataFrame, w: Long, prio: Int): DataFrame =
    df.withColumn("w_wave", lit(w)).withColumn("w_prio", lit(prio))
      .withColumn("ubucket", bucketCol(col("url")))
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
