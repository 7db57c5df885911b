package graft.crawl

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets

/** Versioned parquet table store with atomic snapshot commits.
  *
  * The design target is an Iceberg catalog (CREATE TABLE / MERGE INTO /
  * snapshot isolation — SURVEY §2.1 S10, §4.2); this sandbox ships no Iceberg
  * runtime jar, so the same semantics are provided by a minimal
  * snapshot-versioned layout that an Iceberg catalog can replace 1:1:
  *
  *   root/<table>/v<N>/part-*.parquet     — immutable data versions
  *   root/_manifest.json                  — atomic pointer {table -> version, wave}
  *
  * A "commit" writes new version directories for every table touched by a
  * wave, then swaps the manifest via temp-file + atomic rename — so a killed
  * job always resumes from the last complete wave with identical state
  * (north_rule resumability). Append-only tables (snapshots, links, fetch_log,
  * lineage) append a new version containing only the delta and are read as the
  * union of all committed versions (merge-on-read, like Iceberg's append
  * manifests); small mutable tables (pages, sources, whitelist) rewrite.
  *
  * The state tables — `urls`, `frontier` and `host_state` — are
  * append-mostly with latest-row-wins merge-on-read (Iceberg MOR
  * equivalent, defined in `Scheduler`): each wave appends replacement or
  * transition rows and the read view keeps the latest row per key. At a 10^10-url frontier this is the layout that scales —
  * O(delta) write per wave instead of O(state) — with periodic compaction
  * bounding read amplification.
  */
final class TableStore(spark: SparkSession, rootDir: String) {

  /** Store root: one dir per table, `_manifest.json` and `_snapshots/`. */
  def rootPath: String = rootDir

  private val root: Path = Paths.get(rootDir)
  Files.createDirectories(root)

  private val manifestPath = root.resolve("_manifest.json")

  private val (wave0, committed0) =
    if (Files.exists(manifestPath)) TableStore.parseManifest(readUtf8(manifestPath))
    else (-1L, Map.empty[String, Seq[Long]])

  /** table -> committed versions (ascending). */
  @volatile private var committed: Map[String, Seq[Long]] = committed0
  @volatile private var pendingVersions: Map[String, Seq[Long]] = committed
  @volatile var currentWave: Long = wave0

  private def readUtf8(p: Path): String =
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)

  def versionPath(table: String, version: Long): String =
    tableDir(table, version).toString

  private def tableDir(table: String, version: Long): Path =
    root.resolve(table).resolve(f"v$version%06d")

  def exists(table: String): Boolean = committed.get(table).exists(_.nonEmpty)

  /** Union schema of each table's versions, so multi-version MOR reads
    * never re-scan parquet footers. A table that mixes pre-migration
    * versions (e.g. a frontier snapshot without f_wave/f_prio) with
    * post-migration deltas must be read with the UNION of the file schemas
    * — a plain multi-path read infers from one footer (often the oldest
    * version) and silently drops the newer stamp columns, turning
    * latest-wins ties nondeterministic. But `mergeSchema=true` launches a
    * footer-reading job per read, which at ~7 table reads/wave dominated
    * fixture-crawl wall time. So: the ONE cold multi-version open of a
    * resumed store pays the mergeSchema job; every staged write merges its
    * frame's schema in (the only writer is this store), and every later
    * read passes the cached schema explicitly — files missing a column
    * yield nulls, exactly the mergeSchema semantics, at zero footer cost. */
  private val unionSchema =
    scala.collection.concurrent.TrieMap.empty[String, org.apache.spark.sql.types.StructType]

  private def mergeInto(table: String, s: org.apache.spark.sql.types.StructType): Unit =
    unionSchema.updateWith(table) {
      case None => Some(s)
      case Some(acc) =>
        Some(s.fields.foldLeft(acc)((a, f) =>
          if (a.fieldNames.contains(f.name)) a else a.add(f)))
    }

  private def tryRead(table: String, paths: Seq[String]): Option[DataFrame] =
    try {
      val df = unionSchema.get(table) match {
        case Some(s) => spark.read.schema(s).parquet(paths: _*)
        case None if paths.size > 1 =>
          val d = spark.read.option("mergeSchema", "true").parquet(paths: _*)
          mergeInto(table, d.schema)
          d
        case None =>
          // populate the cache on single-version reads too, so a later
          // thin-schema stageAppend merges against the committed columns
          // instead of seeding the cache with only its own
          val d = spark.read.parquet(paths: _*)
          mergeInto(table, d.schema)
          d
      }
      Some(df)
    } catch {
      // a committed version can be schema-less when the delta was empty
      // (parquet dir with only _SUCCESS) — treat as absent
      case _: org.apache.spark.sql.AnalysisException => None
    }

  /** Per-table cache of the last-built read plan, keyed by the exact
    * version list it was built over and the union schema it was read with.
    * Version directories are IMMUTABLE (commits only add new ones), so a
    * DataFrame built over a given version list stays valid until a staged
    * write widens the table's schema — re-building it per read only repeats
    * the driver-side file listing + parquet footer/schema work (an Iceberg
    * catalog likewise serves scans from cached manifest metadata). Every
    * action on the cached frame still scans the parquet data itself; only
    * plan-construction metadata is reused, and callers may key their own
    * derived plans on the frame's identity. One live and one time-travel
    * entry per table, so memory stays O(tables) over any number of waves
    * and a time-travel read never displaces the live plan. */
  private val planCache = scala.collection.concurrent.TrieMap.empty[String,
    (Seq[Long], Option[StructType], DataFrame)]

  /** The read plan of `table` over a version list: the union of all the
    * versions as ONE multi-path scan (append-only and merge-on-read tables;
    * one codegen stage regardless of version count), or with `latest` only
    * the newest (rewrite tables). A latest read does NOT apply the cached
    * union schema: a rewrite table's schema is by definition its newest
    * version's, and backfilling legacy columns as nulls would widen it.
    * Plan-cached per (table, latest, `slot`) over the exact version list
    * and, for a union read, the union schema. The live store and its
    * time-travel views share this one read. */
  private def read(table: String, versions: Seq[Long], latest: Boolean,
      slot: String = ""): Option[DataFrame] = {
    val vs = if (latest) versions.lastOption.toSeq else versions
    val key = (if (latest) s"$table@latest" else table) + slot
    def schema = if (latest) None else unionSchema.get(table)
    if (vs.isEmpty) None
    else planCache.get(key) match {
      case Some((cached, s, df)) if cached == vs && s == schema => Some(df)
      case _ =>
        val paths = vs.map(v => tableDir(table, v).toString)
        val df =
          if (!latest) tryRead(table, paths)
          else try Some(spark.read.parquet(paths: _*))
          catch { case _: org.apache.spark.sql.AnalysisException => None }
        // keyed on the schema the read left cached: a first read seeds it
        df.foreach(d => planCache.update(key, (vs, schema, d)))
        df
    }
  }

  /** Read the union of all committed versions. Bucket-clustered tables
    * (urls, frontier) carry their bucket as a data column clustered per
    * file, so a bucket predicate prunes files/row-groups via parquet stats
    * without directory-partition discovery. */
  def readAppendOnly(table: String): Option[DataFrame] =
    read(table, committed.getOrElse(table, Nil), latest = false)

  /** Read only the newest committed version (rewrite tables). */
  def readLatest(table: String): Option[DataFrame] =
    read(table, committed.getOrElse(table, Nil), latest = true)

  /** Guards pendingVersions read-modify-write: a wave stages independent
    * tables from concurrent driver threads (standard Spark concurrent job
    * submission), so version reservation must be atomic. The reservation
    * happens BEFORE the parquet write — a failed write fails the wave
    * before commitWave publishes anything, so a reserved-but-dead version
    * is never visible. */
  private val stageLock = new Object

  /** Reserve the next version of `table`: appended to its version list, or
    * (`rewrite`) replacing it on commit. */
  private def reserve(table: String, rewrite: Boolean): Long = stageLock.synchronized {
    val n = pendingVersions.getOrElse(table, Seq(-1L)).lastOption.getOrElse(-1L) + 1
    pendingVersions = pendingVersions.updated(table,
      if (rewrite) Seq(n) else pendingVersions.getOrElse(table, Nil) :+ n)
    n
  }

  /** Seed the union-schema cache from the committed footers before the
    * first staged write to a table this session has never read: merging
    * only the (possibly thinner) delta schema into an empty cache would
    * make every later cached-schema read silently null the committed-only
    * columns — and a subsequent rewrite from that crippled view would
    * destroy them (e.g. a new session whose first touch of `uncrawlables`
    * is Scheduler.markUncrawlable's (url, created) delta, over a table
    * that Mutations.createUncrawlable committed with 7 columns). */
  private def primeSchema(table: String): Unit =
    if (!unionSchema.contains(table)) {
      val versions = committed.getOrElse(table, Nil)
      if (versions.nonEmpty)
        try mergeInto(table, spark.read.option("mergeSchema", "true")
          .parquet(versions.map(v => tableDir(table, v).toString): _*).schema)
        catch { case _: org.apache.spark.sql.AnalysisException => () }
    }

  /** Stage a batch of table deltas and write them ALL in one Spark job.
    * Each delta becomes a new version directory, durable immediately but
    * visible only once commitWave() swaps the manifest — the manifest is
    * the commit, so the tasks write their files straight into the
    * unpublished version dir with no per-write commit protocol (no
    * `_temporary` tree, no renames, no `_SUCCESS`). `par` prepares the
    * deltas' plans (their shuffle stages run here) — the Scheduler passes
    * its wave pool. Returns each delta's version and per-file row counts
    * (the record counts an Iceberg manifest keeps), in input order. */
  def stage(deltas: Seq[TableStore.Delta],
      par: Seq[() => RDD[InternalRow]] => Seq[RDD[InternalRow]] = _.map(_())
  ): Seq[TableStore.Staged] = {
    deltas.foreach(d => if (!d.rewrite) primeSchema(d.table))
    val versions = deltas.map(d => reserve(d.table, d.rewrite))
    val dirs = deltas.zip(versions).map { case (d, v) => freshDir(tableDir(d.table, v)) }
    val rdds = par(deltas.map(d => () => d.rdd(spark)))
    val fileRows = TableStore.writeFiles(spark, rdds, deltas.map(_.df.schema), dirs)
    deltas.foreach { d =>
      if (d.rewrite) unionSchema.update(d.table, d.df.schema) // prior versions are dropped
      // fold the delta's schema into the cached union BEFORE any read needs
      // it: the first read of a store populated in-session then never pays a
      // footer-merge job. (If this staged version is later dropped by
      // resetPending the cache may keep a phantom column — reads then
      // backfill it as nulls, which is the mergeSchema semantics anyway.)
      else mergeInto(d.table, d.df.schema)
    }
    deltas.indices.map(i => TableStore.Staged(deltas(i).table, versions(i), fileRows(i)))
  }

  /** Stage an append (new delta version). */
  def stageAppend(table: String, df: DataFrame): Long =
    stage(Seq(TableStore.Delta(table, df))).head.version

  /** Stage a full rewrite (replaces all prior versions on commit). */
  def stageRewrite(table: String, df: DataFrame): Long =
    stage(Seq(TableStore.Delta(table, df, rewrite = true))).head.version

  /** An empty directory for a reserved version: a dir already there is an
    * orphan of a wave that died before commit, and its files must not leak
    * into the new version. */
  private def freshDir(dir: Path): String = {
    if (Files.exists(dir))
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
    Files.createDirectories(dir)
    dir.toString
  }

  /** Atomically publish all staged versions as wave `wave`. Besides the
    * live `_manifest.json` pointer, the same content is written as an
    * immutable per-wave snapshot file under `_snapshots/` — the Iceberg
    * snapshot-log equivalent that makes every committed wave time-travel
    * readable (version dirs are never deleted, only superseded, so a
    * historical manifest's files are always still present). */
  def commitWave(wave: Long): Unit = {
    val tables = pendingVersions.map { case (t, vs) =>
      s""""$t":[${vs.mkString(",")}]"""
    }.mkString(",")
    val json = s"""{"wave":$wave,"tables":{$tables}}"""
    val tmp = root.resolve(s"_manifest.json.tmp")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    val snapDir = root.resolve("_snapshots")
    Files.createDirectories(snapDir)
    // snapshot file first, live pointer last: a crash between the two
    // leaves an extra snapshot that the next commit overwrites — never a
    // live pointer without its history entry
    Files.write(snapDir.resolve(f"w$wave%012d.json"),
      json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, manifestPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    committed = pendingVersions
    currentWave = wave
  }

  /** Committed waves available for time travel (ascending). Pre-snapshot
    * stores (no `_snapshots/` dir) report only what the live manifest
    * knows — time travel begins at the first commit after upgrade. */
  def snapshotWaves: Seq[Long] = {
    val snapDir = root.resolve("_snapshots")
    if (!Files.exists(snapDir)) Nil
    else {
      import scala.jdk.CollectionConverters._
      Files.list(snapDir).iterator().asScala
        .map(_.getFileName.toString)
        .collect { case s if s.startsWith("w") && s.endsWith(".json") =>
          s.stripPrefix("w").stripSuffix(".json").toLong }
        .toSeq.sorted
    }
  }

  /** Time-travel read: the table set exactly as committed at `wave`
    * (Iceberg `VERSION AS OF`). Returns None when `wave` predates the
    * snapshot log or was never committed. The returned view is read-only —
    * its reads resolve against the historical manifest's version lists
    * while sharing this store's files on disk. */
  def asOf(wave: Long): Option[SnapshotView] = {
    val p = root.resolve("_snapshots").resolve(f"w$wave%012d.json")
    if (!Files.exists(p)) None
    else Some(new SnapshotView(wave, TableStore.parseManifest(readUtf8(p))._2))
  }

  /** Expire time-travel history (Iceberg `expire_snapshots`): keep the
    * newest `keepLast` snapshots plus the live manifest, delete older
    * snapshot files, then delete every version directory no retained
    * manifest references. Bounds the disk growth that never-deleting
    * version dirs would otherwise accrue at 10^10-url scale — compaction
    * makes old deltas redundant, and this reclaims them once they fall out
    * of the retention window. */
  def expireSnapshots(keepLast: Int): Unit = {
    val waves = snapshotWaves
    val (drop, keep) = waves.splitAt(math.max(0, waves.size - keepLast))
    val snapDir = root.resolve("_snapshots")
    drop.foreach(w => Files.deleteIfExists(snapDir.resolve(f"w$w%012d.json")))
    // versions referenced by any retained snapshot, the live manifest, or
    // the staged-but-uncommitted set (an expire between stage and commit
    // must not sweep the wave's fresh deltas out from under commitWave)
    val retained: Map[String, Set[Long]] = {
      val snaps = keep.flatMap(asOf).map(_.tableVersions) :+ committed.map {
        case (t, vs) => t -> vs
      } :+ pendingVersions.map { case (t, vs) => t -> vs }
      snaps.flatten.groupBy(_._1).map { case (t, kvs) =>
        t -> kvs.flatMap(_._2).toSet
      }
    }
    committed.keys.foreach { t =>
      val tDir = root.resolve(t)
      if (Files.exists(tDir)) {
        import scala.jdk.CollectionConverters._
        Files.list(tDir).iterator().asScala.toSeq.foreach { vd =>
          val name = vd.getFileName.toString
          if (name.startsWith("v")) {
            val v = name.stripPrefix("v").toLong
            if (!retained.getOrElse(t, Set.empty).contains(v)) {
              Files.walk(vd).sorted(java.util.Comparator.reverseOrder())
                .forEach(p => Files.deleteIfExists(p))
            }
          }
        }
      }
    }
  }

  /** A read-only historical view of the store pinned to one wave's
    * manifest. MOR reads use the CURRENT union schema cache (a superset of
    * the historical schema: files missing newer columns backfill them as
    * nulls, the mergeSchema semantics, so e.g. a pre-`fbucket` frontier
    * snapshot still reads under the live view code). */
  final class SnapshotView private[TableStore] (
      val wave: Long, tables: Map[String, Seq[Long]]) {
    private[TableStore] def tableVersions: Map[String, Seq[Long]] = tables
    def exists(table: String): Boolean = tables.get(table).exists(_.nonEmpty)
    def readAppendOnly(table: String): Option[DataFrame] =
      read(table, tables.getOrElse(table, Nil), latest = false, slot = "@asOf")
    def readLatest(table: String): Option[DataFrame] =
      read(table, tables.getOrElse(table, Nil), latest = true, slot = "@asOf")
  }

  /** Drop uncommitted staged state (resume path). */
  def resetPending(): Unit = { pendingVersions = committed }
}

object TableStore {

  /** Parse a manifest, `{"wave":N,"tables":{"t":[1,2],...}}`: its wave (-1
    * when absent) and each table's version list. */
  private def parseManifest(json: String): (Long, Map[String, Seq[Long]]) = {
    val wave = "\"wave\"\\s*:\\s*(-?\\d+)".r.findFirstMatchIn(json)
      .map(_.group(1).toLong).getOrElse(-1L)
    val entry = "\"([^\"]+)\"\\s*:\\s*\\[([0-9,\\s]*)\\]".r
    val tables = json.split("\"tables\":", 2).drop(1).flatMap(entry.findAllMatchIn(_)).map { m =>
      m.group(1) -> m.group(2).split(",").map(_.trim).filter(_.nonEmpty).map(_.toLong).toSeq
    }.toMap
    (wave, tables)
  }

  /** One table delta of a staged batch. `files` caps its output file count
    * (0 keeps the frame's own partitioning, one file per partition); rows
    * are sorted by `sortBy` inside each file, so a small delta written as
    * one file still keeps its bucket column clustered for parquet min/max
    * skipping. `rewrite` replaces the table's versions on commit. */
  final case class Delta(table: String, df: DataFrame, files: Int = 0,
      sortBy: Seq[String] = Nil, rewrite: Boolean = false) {
    private[TableStore] def rdd(spark: SparkSession): RDD[InternalRow] = {
      val shaped0 = if (files > 0) df.coalesce(files) else df
      val shaped =
        if (sortBy.isEmpty) shaped0 else shaped0.sortWithinPartitions(sortBy.map(col): _*)
      val qe = shaped.queryExecution
      val r = SQLExecution.withNewExecutionId(qe, Some(s"stage $table"))(qe.toRdd)
      // an empty frame can plan to zero partitions: still write one
      // (empty) file so the version dir carries the delta's schema
      if (r.getNumPartitions > 0) r
      else spark.sparkContext.parallelize(Seq.empty[InternalRow], 1)
    }
  }

  /** A staged delta: its version and the row count of each file written. */
  final case class Staged(table: String, version: Long, fileRows: Seq[Long]) {
    def rows: Long = fileRows.sum
  }

  /** Write every partition of every delta as one parquet file under its
    * delta's directory, in ONE job over the union of the deltas' RDDs,
    * through Spark's own parquet writer (ParquetFileFormat's
    * OutputWriterFactory: same encoding, footer metadata and codec as a
    * DataFrame write). A retried task rewrites the same file name. Returns
    * per-delta, per-file row counts. */
  private def writeFiles(spark: SparkSession, rdds: Seq[RDD[InternalRow]],
      schemas: Seq[StructType], dirs: Seq[String]): Seq[Seq[Long]] = {
    val job = org.apache.hadoop.mapreduce.Job.getInstance(spark.sparkContext.hadoopConfiguration)
    val factories = schemas.map(s =>
      new ParquetFileFormat().prepareWrite(spark, job, Map.empty, s)).toArray
    val conf = new SerializableHadoopConf(job.getConfiguration)
    val offsets = rdds.map(_.getNumPartitions).scanLeft(0)(_ + _).toArray
    val schemaArr = schemas.toArray
    val dirArr = dirs.toArray
    val rows = spark.sparkContext.runJob(spark.sparkContext.union(rdds),
      (ctx: TaskContext, it: Iterator[InternalRow]) => {
        val p = ctx.partitionId()
        val d = offsets.lastIndexWhere(_ <= p)
        val taskConf = new org.apache.hadoop.conf.Configuration(conf.value)
        ParquetWriteSupport.setSchema(schemaArr(d), taskConf)
        val attempt = new org.apache.hadoop.mapreduce.TaskAttemptID(
          new org.apache.hadoop.mapreduce.TaskID("stage", 0,
            org.apache.hadoop.mapreduce.TaskType.MAP, p), ctx.attemptNumber())
        val tac = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(taskConf, attempt)
        val f = factories(d)
        val file = f"${dirArr(d)}/part-${p - offsets(d)}%05d${f.getFileExtension(tac)}"
        val w = f.newInstance(file, schemaArr(d), tac)
        var n = 0L
        try it.foreach { r => w.write(r); n += 1 } finally w.close()
        n
      })
    rdds.indices.map(i => rows.slice(offsets(i), offsets(i + 1)).toSeq)
  }
}
