package graft.crawl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Serializable carrier for the session's Hadoop configuration so shard
  * file I/O on executors resolves the SAME filesystem (defaultFS,
  * credentials) as the driver — a `new Configuration()` on an executor
  * drops programmatic session settings and can silently resolve a
  * different FS, turning shared-storage shard dirs into missing-file
  * false negatives. */
final class SerializableHadoopConf(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

/** Sharded distributed URL-seen set (A9 at 10^10-url scale).
  *
  * Round 1 materialized ONE Bloom filter on the driver (`.head()` of the
  * aggregate) — at a 10^10-url frontier a 1%-fpp filter is ~12 GB through
  * driver memory and a single broadcast. This implementation shards by url
  * hash range:
  *
  *   - build: one `groupByKey(shard)` aggregation — per-partition partial
  *     Bloom buffers merged in Catalyst's tree (same typed Aggregator as the
  *     single-shard path), one output row per shard, each shard's bitset
  *     written to its own file by the executor that owns it. The driver
  *     never holds a filter. Every shard id gets a file (empty shards
  *     included), so an absent file at probe time is an ERROR (wrong dir /
  *     non-shared storage), not an empty filter.
  *   - probe: a scalar kernel `url -> shardOf(url) -> registry lookup ->
  *     mightContain`. Executors lazily load only the shard files their rows
  *     touch (per-JVM cache); repartitioning candidates by shard makes each
  *     task touch exactly one shard. No broadcast of the full filter set.
  *   - merge: delta waves OR their shard bitsets into the previous version's
  *     files executor-side (same geometry), then publish a new version dir —
  *     the MOR pattern for filter state.
  *
  * Each complete shard dir records its geometry in a `_geometry` file,
  * written after the shards; readers validate it before probing.
  *
  * Multi-node requirement: shard dirs must live on storage every executor
  * can reach (the TableStore root / defaultFS) — the Scheduler roots them
  * under `store.rootPath`, and all I/O goes through the session's Hadoop
  * configuration (SerializableHadoopConf) so executors resolve the same FS
  * as the driver.
  *
  * Replaces sentry's in-memory `enqued` map (crawler.go:27-29) as the
  * scalable prefilter; exactness still comes from the anti-join confirm.
  */
object ShardedBloom {

  /** FNV-1a-derived shard of a url — computed identically at build and
    * probe (plain JVM function, usable inside any UDF). */
  def shardOf(s: String, shards: Int): Int = {
    var h = 0xcbf29ce484222325L
    val bs = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < bs.length) { h ^= (bs(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    // avalanche so shard bits are independent of the Bloom's base hash use
    var z = h + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d9eecb0b2b6e3bL
    z = z ^ (z >>> 31)
    java.lang.Math.floorMod(z, shards.toLong).toInt
  }

  def shardCol(c: Column, shards: Int): Column = {
    val f = udf((s: String) => if (s == null) 0 else shardOf(s, shards))
    f(c)
  }

  private def fs(dir: String, conf: Configuration): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(conf), p)
  }

  def shardFile(dir: String, shard: Int): String = s"$dir/shard-$shard.bloom"

  /** Build per-shard Blooms over `urls(urlCol)` and write one file per
    * shard under `dir`, optionally OR-merging the same shard's bits from
    * `prevDir` (must share geometry). Executor-side writes through the
    * session's Hadoop conf; the driver only triggers the job and fills in
    * files for empty shards (so the full geometry is always on disk). */
  def buildToDir(spark: SparkSession, urls: DataFrame, urlCol: String,
      shards: Int, perShardItems: Long, fpp: Double, dir: String,
      prevDir: Option[String] = None): Unit = {
    import spark.implicits._
    val sconf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    val (fsys, base) = fs(dir, sconf.value)
    fsys.mkdirs(base)
    val agg = new ShardBloomAgg(perShardItems, fpp)
    val sharded = urls.select(shardCol(col(urlCol), shards).as("shard"),
        col(urlCol).as("url"))
      .as[(Int, String)]
      .groupByKey(_._1)
      .agg(agg.toColumn.name("bloom"))
    sharded.foreachPartition { (it: Iterator[(Int, Array[Byte])]) =>
      it.foreach { case (shard, bytes) =>
        val bloom = Bloom.deserialize(bytes)
        val merged = prevDir.flatMap(p => readShard(p, shard, sconf.value)) match {
          case Some(prev) => prev.mergeInPlace(bloom)
          case None       => bloom
        }
        writeShard(dir, shard, merged, sconf.value)
      }
    }
    // shards with no new urls carry forward from prevDir; shards with no
    // urls at all still get a (tiny empty) file so probe-time absence is
    // unambiguous — missing file = wrong dir or invisible storage, fail loud
    val emptyShard = Bloom.create(perShardItems, fpp)
    (0 until shards).foreach { shard =>
      if (!fsys.exists(new Path(shardFile(dir, shard)))) {
        prevDir.flatMap(p => readShard(p, shard, sconf.value)) match {
          case Some(prev) => writeShard(dir, shard, prev, sconf.value)
          case None       => writeShard(dir, shard, emptyShard, sconf.value)
        }
      }
    }
    // geometry last: a dir without it (an interrupted build) never validates
    val out = fsys.create(new Path(geometryFile(dir)), true)
    try out.write(s"$shards $perShardItems $fpp".getBytes("UTF-8")) finally out.close()
  }

  private def geometryFile(dir: String): String = s"$dir/_geometry"

  /** The (shards, per-shard items, fpp) a complete shard dir was built with;
    * None for a missing or unfinished dir. Probing with any other geometry
    * hashes urls to the wrong shard or bit positions — silent false
    * negatives — so callers rebuild on a mismatch. */
  def geometry(spark: SparkSession, dir: String): Option[(Int, Long, Double)] = {
    val (fsys, _) = fs(dir, spark.sparkContext.hadoopConfiguration)
    val p = new Path(geometryFile(dir))
    if (!fsys.exists(p)) None
    else {
      val in = fsys.open(p)
      val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      txt.trim.split(" ") match {
        case Array(s, n, f) => Some((s.toInt, n.toLong, f.toDouble))
        case _ => None
      }
    }
  }

  private[crawl] def writeShard(dir: String, shard: Int, bloom: Bloom,
      conf: Configuration): Unit = {
    val (fsys, _) = fs(dir, conf)
    val target = new Path(shardFile(dir, shard))
    val tmp = new Path(shardFile(dir, shard) + ".tmp")
    val out = fsys.create(tmp, true)
    try out.write(bloom.serialize) finally out.close()
    if (fsys.exists(target)) fsys.delete(target, false) // idempotent retry
    fsys.rename(tmp, target)
  }

  private[crawl] def readShard(dir: String, shard: Int,
      conf: Configuration): Option[Bloom] = {
    val (fsys, _) = fs(dir, conf)
    val p = new Path(shardFile(dir, shard))
    if (!fsys.exists(p)) None
    else {
      val in = fsys.open(p)
      try {
        val len = fsys.getFileStatus(p).getLen.toInt
        val buf = new Array[Byte](len)
        in.readFully(buf)
        Some(Bloom.deserialize(buf))
      } finally in.close()
    }
  }

  /** Column probe: true iff the url's shard filter might contain it. Shard
    * files load lazily per executor via ShardRegistry through the session's
    * Hadoop conf. With `requireShards` (the Scheduler's mode — builds write
    * every shard id), a missing shard file throws instead of resolving to
    * an empty filter: silence there would be a bloom false negative that
    * re-creates seen urls and clobbers their fetch state. */
  def mightContainCol(spark: SparkSession, dir: String, shards: Int,
      c: Column, requireShards: Boolean = false): Column = {
    val sconf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    val f = udf { (url: String) =>
      if (url == null) false
      else ShardRegistry.get(dir, shardOf(url, shards), sconf.value,
        requireShards).mightContain(url)
    }
    f(c)
  }

  /** Typed Aggregator keyed by (shard, url) pairs. */
  final class ShardBloomAgg(expectedItems: Long, fpp: Double)
      extends org.apache.spark.sql.expressions.Aggregator[(Int, String), Bloom, Array[Byte]] {
    def zero: Bloom = Bloom.create(expectedItems, fpp)
    def reduce(b: Bloom, kv: (Int, String)): Bloom = {
      if (kv._2 != null) b.add(kv._2); b
    }
    def merge(a: Bloom, b: Bloom): Bloom = a.mergeInPlace(b)
    def finish(b: Bloom): Array[Byte] = b.serialize
    def bufferEncoder: org.apache.spark.sql.Encoder[Bloom] =
      org.apache.spark.sql.Encoders.kryo[Bloom]
    def outputEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
  }
}

/** Per-JVM lazy shard-filter cache; missing files resolve to an empty
  * filter unless `require` is set (then they throw). Bounded: once the
  * cache exceeds 256 entries, entries from OTHER version dirs are evicted
  * (new wave = new version dir = new keys) — never the requested version's
  * shards, so a rollover doesn't thunder-herd re-reads of the live
  * filters. */
object ShardRegistry {
  private val empty = new Bloom(new Array[Long](1), 1)
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Bloom]()
  /** Shard-file reads performed (test observability for eviction policy). */
  private[graft] val loads = new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] def size: Int = cache.size()

  def get(dir: String, shard: Int): Bloom =
    get(dir, shard, new Configuration(), require = false)

  def get(dir: String, shard: Int, conf: Configuration,
      require: Boolean): Bloom = {
    val key = ShardedBloom.shardFile(dir, shard)
    val hit = cache.get(key)
    if (hit != null) hit
    else {
      if (cache.size() > 256) {
        val prefix = dir + "/"
        val it = cache.keys()
        while (it.hasMoreElements) {
          val k = it.nextElement()
          if (!k.startsWith(prefix)) cache.remove(k)
        }
      }
      loads.incrementAndGet()
      val b = ShardedBloom.readShard(dir, shard, conf).getOrElse {
        if (require)
          throw new IllegalStateException(
            s"seen-bloom shard file absent at probe time: $key — shard dirs " +
              "must be on storage all executors can reach")
        empty
      }
      cache.put(key, b)
      b
    }
  }
}
