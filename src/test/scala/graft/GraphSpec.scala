package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Graph

/** Link-graph analytics: double PageRank vs a driver-side reference, the
  * exact-integer twin tied to the double version, BFS crawl depth vs a
  * driver-side BFS on a random graph. */
class GraphSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Deterministic pseudo-random digraph: 40 nodes, out-degree 1..3 with
    * degree pattern id%3, edges by modular arithmetic (sink-free: j=1 is a
    * bijection). Same family as the catalog fixture, small enough to solve
    * on the driver. */
  private val n = 40
  private lazy val edgeList: Seq[(Long, Long)] =
    (0 until n).flatMap { src =>
      (1 to 1 + src % 3).map(j => (src.toLong, ((src + j * j) % n).toLong))
    }
  private lazy val edges = edgeList.toDF("src", "dst")

  /** Driver-side reference PageRank (damping 0.85, no dangling nodes). */
  private def refRanks(iters: Int): Map[Long, Double] = {
    val out = edgeList.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var r = (0 until n).map(i => i.toLong -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val in = scala.collection.mutable.Map[Long, Double]().withDefaultValue(0.0)
      out.foreach { case (u, ds) => ds.foreach(v => in(v) += r(u) / ds.size) }
      r = (0 until n).map(i => i.toLong -> (0.15 / n + 0.85 * in(i.toLong))).toMap
    }
    r
  }

  test("pageRank matches driver-side reference and sums to 1") {
    val got = Graph.pageRank(edges, iters = 5).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = refRanks(5)
    assert(got.keySet == want.keySet)
    got.foreach { case (id, v) => assert(math.abs(v - want(id)) < 1e-12, s"node $id") }
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
  }

  test("pageRank redistributes dangling mass (ranks still sum to 1)") {
    // 0->1->2, 2 is a sink
    val e = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    val r = Graph.pageRank(e, iters = 10).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
    assert(r(2L) > r(1L) && r(1L) > r(0L)) // downstream accumulates
  }

  test("pageRankScaled is the exact twin: s_rank / (N * 120^k) == pageRank") {
    val scaled = Graph.pageRankScaled(edges, iters = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dbl = refRanks(5)
    val denom = n.toDouble * math.pow(120.0, 5)
    assert(scaled.keySet == dbl.keySet)
    scaled.foreach { case (id, s) =>
      assert(math.abs(s / denom - dbl(id)) < 1e-12, s"node $id")
    }
    // total mass is exactly N * 120^k (rank total exactly 1, integer-exact)
    assert(scaled.values.sum == n.toLong * 120L * 120L * 120L * 120L * 120L)
  }

  test("pageRankScaled rejects sinks and non-dividing degrees") {
    val sink = Seq((0L, 1L)).toDF("src", "dst") // node 1 has no out-edge
    intercept[IllegalArgumentException](Graph.pageRankScaled(sink, 2))
    val deg4 = (0 until 8).flatMap(s => (1 to 4).map(j => (s.toLong, ((s + j) % 8).toLong)))
      .toDF("src", "dst") // out-degree 4 does not divide 102
    intercept[IllegalArgumentException](Graph.pageRankScaled(deg4, 2))
  }

  /** Driver-side personalized (seeded-teleport) reference: r_0 uniform on
    * seeds, teleport (0.15/m) only to seeds. */
  private def refPersonalized(seeds: Set[Long], iters: Int): Map[Long, Double] = {
    val out = edgeList.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val m = seeds.size.toDouble
    var r = (0 until n).map(i =>
      i.toLong -> (if (seeds(i.toLong)) 1.0 / m else 0.0)).toMap
    for (_ <- 1 to iters) {
      val in = scala.collection.mutable.Map[Long, Double]().withDefaultValue(0.0)
      out.foreach { case (u, ds) => ds.foreach(v => in(v) += r(u) / ds.size) }
      r = (0 until n).map { i =>
        val tele = if (seeds(i.toLong)) 0.15 / m else 0.0
        i.toLong -> (tele + 0.85 * in(i.toLong))
      }.toMap
    }
    r
  }

  test("personalizedPageRankScaled is the exact seeded twin; mass conserved") {
    val seeds = Set(0L, 3L, 17L)
    val scaled = Graph.personalizedPageRankScaled(edges, seeds.toSeq.toDF("id"),
        iters = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dbl = refPersonalized(seeds, 5)
    val denom = seeds.size.toDouble * math.pow(120.0, 5)
    assert(scaled.keySet == dbl.keySet)
    scaled.foreach { case (id, s) =>
      assert(math.abs(s / denom - dbl(id)) < 1e-12, s"node $id")
    }
    // total mass exactly m * 120^k (personalized rank total stays 1)
    assert(scaled.values.sum == seeds.size.toLong * 120L * 120L * 120L * 120L * 120L)
    // seed bias: mass concentrates near seeds vs the global ranking
    assert(seeds.forall(s => scaled(s) > 0L))
  }

  test("crawlDepth matches driver-side BFS with depth cap") {
    val seeds = Seq(0L, 7L).toDF("id")
    val cap = 4
    val got = Graph.crawlDepth(edges, seeds, maxDepth = cap).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // driver BFS
    val adj = edgeList.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var dist = Map(0L -> 0, 7L -> 0)
    var frontier = Set(0L, 7L)
    for (d <- 1 to cap) {
      val next = frontier.flatMap(u => adj.getOrElse(u, Nil)).filterNot(dist.contains)
      dist = dist ++ next.map(_ -> d)
      frontier = next
    }
    assert(got == dist)
  }

  test("crawlDepth terminates early when the frontier empties") {
    val e = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    val got = Graph.crawlDepth(e, Seq(0L).toDF("id"), maxDepth = 50).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(0L -> 0, 1L -> 1, 2L -> 2))
  }

  /** Driver-side un-normalized HITS reference. */
  private def refHits(iters: Int): Map[Long, (Long, Long)] = {
    var a = (0 until n).map(i => i.toLong -> 1L).toMap
    var h = Map.empty[Long, Long].withDefaultValue(0L)
    for (_ <- 1 to iters) {
      val nh = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      edgeList.foreach { case (u, v) => nh(u) += a.getOrElse(v, 0L) }
      h = nh.toMap.withDefaultValue(0L)
      val na = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      edgeList.foreach { case (u, v) => na(v) += h(u) }
      a = na.toMap.withDefaultValue(0L)
    }
    (0 until n).map(i => i.toLong -> ((h(i.toLong), a.getOrElse(i.toLong, 0L)))).toMap
  }

  test("hitsScaled matches the driver-side power iteration exactly") {
    val got = Graph.hitsScaled(edges, iters = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == refHits(3))
  }

  test("hitsScaled: in-star center is the authority, spokes are hubs") {
    val star = ((1L to 5L).map(i => (i, 0L)) :+ ((0L, 9L))).toDF("src", "dst")
    val out = Graph.hitsScaled(star, iters = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val authOf0 = out(0L)._2
    assert((1L to 5L).forall(i => out(i)._2 < authOf0)) // center wins authority
    assert((1L to 5L).forall(i => out(i)._1 > out(9L)._1)) // spokes out-hub the leaf
    assert(out(9L)._1 == 0L) // no out-edges -> hub 0
  }

  test("hitsScaled overflow guard rejects too many iterations") {
    intercept[IllegalArgumentException] {
      Graph.hitsScaled(edges, iters = 40)
    }
  }

  test("hitsScaled on an empty edge frame returns empty, not an NPE") {
    // regression: max() over zero rows is null; a bare getLong threw an
    // opaque NullPointerException instead of yielding an empty result
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Graph.hitsScaled(empty, iters = 2).count() == 0L)
  }

  test("resolveRedirects: chains collapse, cycles and self-loops flagged, min-dst tie") {
    val r = Seq(
      ("a", "b"), ("b", "c"), ("c", "d"),  // chain -> d
      ("x", "y"), ("y", "x"),              // 2-cycle
      ("s", "s"),                          // self-loop
      ("m", "q"), ("m", "p")               // disagreeing re-crawls: min wins
    ).toDF("src", "dst")
    val out = Graph.resolveRedirects(r).collect()
      .map(row => row.getString(0) -> ((row.getString(1), row.getBoolean(2)))).toMap
    assert(out("a") == (("d", true)))
    assert(out("b") == (("d", true)))
    assert(out("c") == (("d", true)))
    assert(!out("x")._2 && !out("y")._2)
    assert(out("s") == (("s", false)))
    assert(out("m") == (("p", true)))
    assert(out.size == 7)
  }

  test("iterative ops keep bounded checkpoint storage (superseded blocks freed)") {
    // regression for the IterCheckpoint fix: a k-round power iteration must
    // NOT hold k node-set copies as persistent RDDs — superseded rounds are
    // freed once the successor is materialized. At 10^10 nodes, an unfreed
    // copy per round is executor-storage exhaustion, not a hygiene nit.
    val sc = spark.sparkContext
    def live: Int = sc.getPersistentRDDs.size
    val before = live
    Graph.pageRank(edges, iters = 12).count()
    // pageRank pins three frames for the whole run (node set, weighted
    // edges — both read every round — and the returned final ranks); all 12
    // superseded rank rounds must be gone. Slack of 1 for runtime caching.
    assert(live - before <= 4,
      s"pageRank(iters=12) left ${live - before} persistent RDDs (want <=4)")
    val after1 = live
    graft.ops.Dedup.connectedComponents(
      edgeList.toDF("a_id", "b_id"), maxRounds = 16).count()
    assert(live - after1 <= 3,
      s"connectedComponents left ${live - after1} persistent RDDs (want <=3)")
  }

  test("a frame another thread local-checkpoints while pageRank runs keeps its blocks") {
    // pageRank frees each superseded round's checkpoint; it must free only
    // its own RDDs, never one another thread persisted meanwhile — a local
    // checkpoint whose blocks are freed cannot be recomputed
    val theirs = new java.util.concurrent.ConcurrentLinkedQueue[
      (org.apache.spark.sql.DataFrame, Seq[org.apache.spark.rdd.RDD[_]])]()
    @volatile var running = true
    val other = new Thread(() => {
      var i = 0L
      while (running) {
        val ck = spark.range(0L, 100L + i).toDF("x").localCheckpoint(true)
        theirs.add((ck, ck.queryExecution.logical.collect {
          case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
        }))
        i += 1
      }
    })
    other.start()
    try Graph.pageRank(edges, iters = 12).count()
    finally { running = false; other.join() }
    import scala.jdk.CollectionConverters._
    val cks = theirs.asScala.toSeq
    assert(cks.size > 1, "the other thread checkpointed nothing during pageRank")
    val freed = cks.filterNot(_._2.forall(_.getStorageLevel.isValid))
    assert(freed.size == 0,
      s"pageRank freed ${freed.size} of ${cks.size} checkpoints it did not make")
    cks.zipWithIndex.foreach { case ((ck, _), i) => assert(ck.count() == 100L + i) }
    cks.foreach(_._2.foreach(_.unpersist()))
  }

  test("resolveRedirects: hop cap bounds chain length like a real fetcher") {
    // 40-hop chain: n0 -> n01 -> ... -> n40 (zero-padded so min-dst is a no-op)
    val chain = (0 until 40).map(i => (f"n$i%02d", f"n${i + 1}%02d")).toDF("src", "dst")
    val capped = Graph.resolveRedirects(chain, hopCap = 32).collect()
      .map(row => row.getString(0) -> row.getBoolean(2)).toMap
    assert(!capped("n00")) // 40 hops > 32-hop cap: reported unresolved
    assert(capped("n20")) // 20 hops to the terminal: fine
    val tall = Graph.resolveRedirects(chain, hopCap = 64).collect()
      .map(row => row.getString(0) -> ((row.getString(1), row.getBoolean(2)))).toMap
    assert(tall("n00") == (("n40", true)))
  }
}

class AnchorIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("anchorIndex: per-target top-k by count, text-ascending ties") {
    val anchors = Seq(
      ("t1", "home"), ("t1", "home"), ("t1", "docs"), ("t1", "docs"),
      ("t1", "blog"), // t1: home=2, docs=2, blog=1 -> k=2 keeps docs,home
      ("t2", "only")
    ).toDF("target", "anchor_text")
    val out = graft.ops.Graph.anchorIndex(anchors, k = 2).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3)))
      .toSet
    assert(out == Set(("t1", "docs", 2L, 1), ("t1", "home", 2L, 2),
      ("t2", "only", 1L, 1)))
  }

  test("anchorIndex: constant rank bound engages WindowGroupLimit") {
    val anchors = (0L until 100L)
      .map(i => (s"t${i % 5}", s"a${i % 7}")).toDF("target", "anchor_text")
    val plan = graft.ops.Graph.anchorIndex(anchors, k = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"))
  }
}
