package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.crawl._

class ShardedBloomSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("sharded build: no false negatives across shards, distributed") {
    val urls = (0 until 5000).map(i => s"http://h${i % 37}.example.com/p$i")
    val dir = SparkTestBase.tempDir("sbloom")
    ShardedBloom.buildToDir(spark, urls.toDF("url"), "url", shards = 8,
      perShardItems = 1024, fpp = 0.01, dir = dir)
    val probed = urls.toDF("url")
      .withColumn("hit",
        ShardedBloom.mightContainCol(spark, dir, 8, $"url", requireShards = true))
      .filter(!$"hit").count()
    assert(probed == 0L, "false negative in sharded bloom")
  }

  test("multi-shard membership == single-shard membership (equivalence)") {
    val urls = (0 until 2000).map(i => s"http://host$i/x")
    val d1 = SparkTestBase.tempDir("sbloom1")
    val d8 = SparkTestBase.tempDir("sbloom8")
    ShardedBloom.buildToDir(spark, urls.toDF("url"), "url", 1, 2048, 0.01, d1)
    ShardedBloom.buildToDir(spark, urls.toDF("url"), "url", 8, 512, 0.01, d8)
    val outside = (0 until 2000).map(i => s"http://other$i/y")
    // both contain all members; fp rates in the same ballpark
    urls.foreach { u =>
      assert(ShardRegistry.get(d1, ShardedBloom.shardOf(u, 1)).mightContain(u))
      assert(ShardRegistry.get(d8, ShardedBloom.shardOf(u, 8)).mightContain(u))
    }
    val fp8 = outside.count(u =>
      ShardRegistry.get(d8, ShardedBloom.shardOf(u, 8)).mightContain(u))
    assert(fp8 < 100, s"sharded fp rate too high: $fp8/2000")
  }

  test("missing shard file means definitely-new (empty filter)") {
    val dir = SparkTestBase.tempDir("sbloom-empty")
    assert(!ShardRegistry.get(dir, 3).mightContain("http://x/"))
  }

  test("strict probe fails loudly on an absent shard file") {
    val dir = SparkTestBase.tempDir("sbloom-strict")
    val ex = intercept[Exception] {
      Seq("http://x/").toDF("url")
        .withColumn("hit",
          ShardedBloom.mightContainCol(spark, dir, 4, $"url", requireShards = true))
        .collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(ex).exists(_.getMessage != null) &&
      chain(ex).exists(t => t.getMessage != null &&
        t.getMessage.contains("shard file absent")))
  }

  test("builds write every shard id, empty shards included") {
    val dir = SparkTestBase.tempDir("sbloom-full")
    // 1 url across 16 shards: 15 shards are empty but must exist on disk
    ShardedBloom.buildToDir(spark, Seq("http://only/").toDF("url"), "url",
      16, 64, 0.01, dir)
    (0 until 16).foreach { sh =>
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(ShardedBloom.shardFile(dir, sh))), s"shard $sh missing")
    }
  }

  test("cache rollover evicts only other-version entries (live shards stay hot)") {
    val dirA = SparkTestBase.tempDir("sbloom-evict")
    val urls = (0 until 200).map(i => s"http://e$i/")
    ShardedBloom.buildToDir(spark, urls.toDF("url"), "url", 8, 256, 0.01, dirA)
    (0 until 4).foreach(sh => ShardRegistry.get(dirA, sh)) // warm live shards
    // grow the cache past the bound with other-version (missing-file) keys,
    // stopping before a get() call would see size > 256
    var i = 0
    while (ShardRegistry.size <= 256) {
      ShardRegistry.get(SparkTestBase.tempDir(s"sbloom-fake$i"), 0)
      i += 1
    }
    // next live-version miss triggers eviction: stale dirs go, dirA stays
    ShardRegistry.get(dirA, 5)
    assert(ShardRegistry.size <= 9, s"eviction kept ${ShardRegistry.size} entries")
    val before = ShardRegistry.loads.get()
    (0 until 4).foreach(sh => ShardRegistry.get(dirA, sh))
    assert(ShardRegistry.loads.get() == before,
      "live-version shards were re-read after eviction")
  }
}
