package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Link-graph analytics over the crawl's `links` table — the ranking and
  * reachability passes a crawler actually runs on its own edge list
  * (frontier prioritization, seed-distance auditing). The reference stores
  * the link graph (core/link.go:20-31, PK (src,dst)) but never ranks it;
  * these are the beyond-reference ops a 100 TB corpus needs.
  *
  * Both algorithms are Pregel-style DataFrame iterations: each round is a
  * shuffle-on-key join + groupBy over the edge list, driver state is a
  * scalar per round, and `localCheckpoint` truncates the growing lineage
  * (the same treatment as [[Dedup.connectedComponents]]). Nothing here
  * collects a node or edge list to the driver.
  */
object Graph {

  /** Anchor-text index: for every link TARGET, the k most frequent anchor
    * texts pointing at it across the corpus — the classic ranking /
    * query-document feature ("what the web calls this page"), built from
    * [[graft.functions.HtmlTok.extractAnchors]] output. Input
    * `(target, anchor_text)` — one row per anchor occurrence; output
    * `(target, anchor_text, n, rank)` with rank ≤ k, ties broken by
    * anchor_text ascending so the index is identical at any parallelism.
    *
    * Scale shape: one (target, text) groupBy with map-side combine — the
    * only corpus-sized shuffle — then a per-target rank with a CONSTANT
    * bound, so WindowGroupLimit prunes each target's tail below the
    * exchange: a mega-hub with 10^6 distinct anchor texts contributes k
    * rows per input partition to the rank exchange, never its whole
    * histogram. */
  def anchorIndex(anchors: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    anchors.groupBy("target", "anchor_text").agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("target").orderBy(desc("n"), asc("anchor_text"))))
      .filter(col("rank") <= k)
  }

  /** Standard damped PageRank over directed edges (src, dst), double
    * precision. Dangling mass (rank parked on zero-out-degree nodes) is
    * redistributed uniformly each round, so ranks always sum to 1.
    *
    * Scale shape: per iteration one join of ranks against the edge list
    * (shuffle on src) and one groupBy(dst) sum (shuffle on dst) — both key
    * on node id, so bucketing the edge list by src co-locates the probe
    * side across iterations. The dangling term is a single scalar agg per
    * round (one tiny job, standard for distributed PageRank).
    *
    * Returns (id, rank). Float sums are shuffle-order-dependent in the last
    * ulps, so this version is spec-gated; the cross-engine oracle gates
    * [[pageRankScaled]], the exact-integer twin with the identical plan
    * shape, and GraphSpec ties the two together on the fixture.
    */
  def pageRank(edges: DataFrame, iters: Int, damping: Double = 0.85): DataFrame =
    // narrow (long, long/double) rows every round: data-sized reduce layout
    AdaptiveShuffle.narrowRows(edges.sparkSession) {
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct().localCheckpoint(true)
    val nodes = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id"))).distinct()
      .localCheckpoint(true)
    val n = nodes.count().toDouble
    val deg = e.groupBy("src").agg(count(lit(1)).as("d"))
    // weighted edges: contribution fraction carried per edge
    val we = e.join(deg, Seq("src")).localCheckpoint(true)

    // round-scoped checkpoints: each round's ranks supersede the last —
    // free the old blocks instead of accumulating one node-set copy/round
    val ic = new IterCheckpoint
    var ranks = ic.next(nodes.withColumn("rank", lit(1.0 / n)))
    for (_ <- 1 to iters) {
      val contribs = we.join(ranks, we("src") === ranks("id"))
        .select(col("dst").as("id"), (col("rank") / col("d")).as("c"))
        .groupBy("id").agg(sum("c").as("in_rank"))
      // rank parked on sinks this round (nodes with no out-edges)
      val dangling = ranks.join(deg, ranks("id") === deg("src"), "left_anti")
        .agg(coalesce(sum("rank"), lit(0.0))).head().getDouble(0)
      ranks = ic.next(nodes.join(contribs, Seq("id"), "left")
        .select(col("id"),
          (lit((1.0 - damping) / n) +
            lit(damping) * (coalesce(col("in_rank"), lit(0.0)) + lit(dangling / n)))
            .as("rank")))
    }
    ranks
  }

  /** Exact-integer PageRank twin of [[pageRank]] for cross-engine
    * verification: damping fixed at 17/20 and ranks kept as scaled
    * integers, so every engine computes bit-identical results regardless of
    * shuffle order (double sums differ in the last ulps between engines;
    * integers cannot).
    *
    * Derivation: with r_0 = 1/N and r_{k+1}(v) = 3/(20N) + (17/20) *
    * sum_{u->v} r_k(u)/d_u, define S_k = r_k * N * 120^k. Then S_0 = 1 and
    *   S_{k+1}(v) = 18 * 120^k + sum_{u->v} (102 / d_u) * S_k(u),
    * which is exact in integer arithmetic whenever every out-degree divides
    * 102 (d in {1,2,3,6,17,...}) — asserted on input. 102/d is the per-edge
    * weight, precomputed once; the plan per iteration (edge join on src,
    * groupBy dst, sum) is identical to the double version's.
    *
    * No dangling handling: requires every node to have an out-edge
    * (asserted) — the verification fixtures are sink-free by construction.
    * Returns (id, s_rank) with r_k = s_rank / (N * 120^k). Magnitude after
    * k rounds is ~120^k * (N * r_k), so k <= 8 stays far inside Long/BIGINT.
    */
  def pageRankScaled(edges: DataFrame, iters: Int): DataFrame =
    AdaptiveShuffle.narrowRows(edges.sparkSession) {
    require(iters <= 8, s"scaled ranks overflow past 8 iterations (got $iters)")
    // checkpointed once: nodes, deg, the divisibility/sink asserts and the
    // weighted-edge build all branch from e — without this each consumer
    // re-pays the upstream distinct
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct().localCheckpoint(true)
    val nodes = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id"))).distinct()
      .localCheckpoint(true)
    val deg = e.groupBy("src").agg(count(lit(1)).as("d"))
    val badDeg = deg.filter(lit(102) % col("d") =!= 0).limit(1).count()
    require(badDeg == 0, "pageRankScaled requires every out-degree to divide 102")
    val sinkCount = nodes.join(deg, nodes("id") === deg("src"), "left_anti").count()
    require(sinkCount == 0, s"pageRankScaled requires a sink-free graph ($sinkCount sinks)")
    val we = e.join(deg, Seq("src"))
      .select(col("src"), col("dst"), (lit(102L) / col("d")).cast("long").as("w"))
      .localCheckpoint(true)

    val ic = new IterCheckpoint
    var ranks = ic.next(nodes.withColumn("s", lit(1L)))
    var unit = 1L // 120^k: the teleport term 18 * 120^k
    for (_ <- 1 to iters) {
      val contribs = we.join(ranks, we("src") === ranks("id"))
        .select(col("dst").as("id"), (col("w") * col("s")).as("c"))
        .groupBy("id").agg(sum("c").as("in_s"))
      // sink-free + (src+1) %N-style fixtures leave no node without
      // in-edges, but stay total anyway: teleport term applies to all nodes
      ranks = ic.next(nodes.join(contribs, Seq("id"), "left")
        .select(col("id"),
          (lit(18L * unit) + coalesce(col("in_s"), lit(0L))).as("s")))
      unit *= 120L
    }
    ranks.select(col("id"), col("s").as("s_rank"))
  }

  /** Personalized PageRank (seeded teleport), exact-integer scaled twin —
    * the seed-proximity score a crawl frontier prioritizer actually wants:
    * teleport mass returns only to the SEED set, so rank measures "how
    * reachable from my seeds", not global popularity.
    *
    * Same scaled-integer derivation as [[pageRankScaled]] with the teleport
    * masked to seeds: r_0 uniform on the m seeds, r_{k+1}(v) =
    * (3/20m)·[v∈S] + (17/20)·Σ_{u→v} r_k(u)/d_u; with S_k = r_k·m·120^k,
    *   S_{k+1}(v) = 18·120^k·[v∈S] + Σ_{u→v} (102/d_u)·S_k(u)
    * — exact in integers under the same divisibility/sink-free
    * preconditions (asserted). Plan per iteration is identical to
    * pageRankScaled's: one edge join on src, one groupBy(dst) sum.
    * Returns (id, s_rank) with r_k = s_rank / (m · 120^k); unreached
    * nodes score 0 exactly. */
  def personalizedPageRankScaled(edges: DataFrame, seeds: DataFrame,
      iters: Int): DataFrame =
    AdaptiveShuffle.narrowRows(edges.sparkSession) {
    require(iters <= 8, s"scaled ranks overflow past 8 iterations (got $iters)")
    // checkpointed once — same multi-consumer rationale as pageRankScaled
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct().localCheckpoint(true)
    val nodes = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id"))).distinct()
      .localCheckpoint(true)
    val seedFlag = seeds.select(col("id").cast("long").as("id"))
      .distinct().withColumn("is_seed", lit(true))
    val flagged = nodes.join(seedFlag, Seq("id"), "left")
      .select(col("id"), coalesce(col("is_seed"), lit(false)).as("is_seed"))
      .localCheckpoint(true)
    val deg = e.groupBy("src").agg(count(lit(1)).as("d"))
    val badDeg = deg.filter(lit(102) % col("d") =!= 0).limit(1).count()
    require(badDeg == 0, "personalizedPageRankScaled requires every out-degree to divide 102")
    val sinkCount = nodes.join(deg, nodes("id") === deg("src"), "left_anti").count()
    require(sinkCount == 0, s"personalizedPageRankScaled requires a sink-free graph ($sinkCount sinks)")
    val we = e.join(deg, Seq("src"))
      .select(col("src"), col("dst"), (lit(102L) / col("d")).cast("long").as("w"))
      .localCheckpoint(true)

    val ic = new IterCheckpoint
    var ranks = ic.next(flagged
      .select(col("id"), when(col("is_seed"), lit(1L)).otherwise(lit(0L)).as("s")))
    var unit = 1L // 120^k: the per-round seed teleport term 18 * 120^k
    for (_ <- 1 to iters) {
      val contribs = we.join(ranks, we("src") === ranks("id"))
        .select(col("dst").as("id"), (col("w") * col("s")).as("c"))
        .groupBy("id").agg(sum("c").as("in_s"))
      ranks = ic.next(flagged.join(contribs, Seq("id"), "left")
        .select(col("id"),
          (when(col("is_seed"), lit(18L * unit)).otherwise(lit(0L)) +
            coalesce(col("in_s"), lit(0L))).as("s")))
      unit *= 120L
    }
    ranks.select(col("id"), col("s").as("s_rank"))
  }

  /** Crawl depth: minimum hop distance from a seed set along directed
    * edges, capped at `maxDepth` (BFS by frontier expansion — the audit
    * pass "how deep did the crawl get from its seeds", and the standard
    * prioritization feature for frontier scheduling).
    *
    * Each round expands the newly-reached frontier one hop (join on src,
    * shuffle on node id) and anti-joins against the visited set; rounds are
    * bounded by maxDepth, every frame is localCheckpointed, and the only
    * driver state is the frontier's emptiness flag. Output: (id, depth) for
    * every node reachable within maxDepth hops (seeds at depth 0) —
    * deterministic integers at any parallelism.
    */
  def crawlDepth(edges: DataFrame, seeds: DataFrame, maxDepth: Int): DataFrame =
    AdaptiveShuffle.narrowRows(edges.sparkSession) {
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct().localCheckpoint(true)
    // two round-scoped tracks: frontier(k) replaces frontier(k-1) once
    // expanded, visited(k) replaces visited(k-1) once unioned
    val icF = new IterCheckpoint
    val icV = new IterCheckpoint
    var visited = icV.next(seeds.select(col("id").cast("long").as("id")).distinct()
      .withColumn("depth", lit(0)))
    var frontier = visited
    var d = 0
    while (d < maxDepth && !frontier.isEmpty) {
      d += 1
      frontier = icF.next(e.join(frontier, e("src") === frontier("id"))
        .select(e("dst").as("id")).distinct()
        .join(visited, Seq("id"), "left_anti")
        .withColumn("depth", lit(d)))
      visited = icV.next(visited.unionByName(frontier))
    }
    visited
  }

  /** HITS hubs/authorities (Kleinberg, JACM 1999) as an exact-integer
    * power iteration — the link-quality signal pair PageRank does not give
    * (a hub LINKS TO good pages; an authority IS one): h ← A·a, a ← Aᵀ·h
    * from all-ones.
    *
    * Classic HITS L2-normalizes each half-step, which only rescales —
    * relative order is untouched. Skipping normalization keeps every score
    * an exact BIGINT, the same bit-deterministic cross-engine gate trick as
    * [[pageRankScaled]] (float twins cannot hash-compare). Magnitudes grow
    * by ≤ dmaxIn·dmaxOut per round, so a static pre-check bounds `iters`
    * against Long overflow from the measured degree maxima.
    *
    * Plan per round: two edge joins + two groupBy sums over narrow
    * (id, value) rows — the Pregel shape shared with pageRank; lineage is
    * truncated per half-step. Nodes with no out-edges (in-edges) emit hub
    * (authority) 0 via the final left joins. */
  def hitsScaled(edges: DataFrame, iters: Int): DataFrame =
    AdaptiveShuffle.narrowRows(edges.sparkSession) {
    require(iters >= 1, s"iters must be positive (got $iters)")
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct().localCheckpoint(true)
    val nodes = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id"))).distinct()
      .localCheckpoint(true)
    // coalesce to 0: max() over an EMPTY edge frame is null, and a bare
    // getLong would throw an opaque NPE — an empty graph should fall
    // through to an empty (correctly-schemed) result instead
    val dOut = e.groupBy("src").agg(count(lit(1)).as("c"))
      .agg(coalesce(max("c"), lit(0L))).head().getLong(0)
    val dIn = e.groupBy("dst").agg(count(lit(1)).as("c"))
      .agg(coalesce(max("c"), lit(0L))).head().getLong(0)
    require((BigInt(dOut) * BigInt(dIn)).pow(iters) <= BigInt(Long.MaxValue) / 4,
      s"hitsScaled overflows: (dmaxOut=$dOut * dmaxIn=$dIn)^$iters exceeds Long range")

    val icH = new IterCheckpoint
    val icA = new IterCheckpoint
    var a = nodes.withColumn("v", lit(1L))
    var h: DataFrame = null
    for (_ <- 1 to iters) {
      h = icH.next(e.join(a, e("dst") === a("id"))
        .groupBy(e("src")).agg(sum("v").as("v"))
        .select(col("src").as("id"), col("v")))
      a = icA.next(e.join(h, e("src") === h("id"))
        .groupBy(e("dst")).agg(sum("v").as("v"))
        .select(col("dst").as("id"), col("v")))
    }
    nodes
      .join(h.select(col("id"), col("v").as("hub_s")), Seq("id"), "left")
      .join(a.select(col("id"), col("v").as("auth_s")), Seq("id"), "left")
      .select(col("id"), coalesce(col("hub_s"), lit(0L)).as("hub_s"),
        coalesce(col("auth_s"), lit(0L)).as("auth_s"))
  }

  /** Resolve redirect CHAINS to final targets by pointer doubling —
    * canonicalization through 301/302 maps is the url-level dedup pass a
    * crawl corpus needs before any content join (a→b→c→d must all collapse
    * onto d). One hop per join round would take O(longest chain) shuffles;
    * squaring the pointer map (f ← f∘f) resolves every chain of length
    * ≤ `hopCap` in ceil(log2(hopCap)) rounds — 5 self-joins for the default
    * 32-hop cap (real fetchers stop at 10-20 hops), each a key-shuffle of
    * narrow (src, dst) string pairs; lineage truncated per round.
    *
    * Multiple recorded redirects per src (re-crawls disagreeing over time)
    * resolve deterministically to min(dst). Rows whose final target still
    * has an outgoing redirect after the rounds sit on a cycle or exceed the
    * hop cap — exactly what a fetcher reports as a redirect loop — and come
    * back `resolved = false`.
    *
    * @return one row per distinct src: (src, final_url, resolved) */
  def resolveRedirects(redirects: DataFrame, hopCap: Int = 32): DataFrame =
    AdaptiveShuffle.narrowRows(redirects.sparkSession) {
    require(hopCap >= 1, s"hopCap must be positive (got $hopCap)")
    val ic = new IterCheckpoint
    var f = ic.next(redirects.groupBy(col("src")).agg(min(col("dst")).as("dst")))
    val rounds = math.ceil(math.log(hopCap.toDouble) / math.log(2.0)).toInt
    for (_ <- 0 until rounds) {
      f = ic.next(f.alias("a")
        .join(f.alias("b"), col("a.dst") === col("b.src"), "left")
        .select(col("a.src").as("src"),
          coalesce(col("b.dst"), col("a.dst")).as("dst")))
    }
    f.join(f.select(col("src").as("dst")).distinct()
        .withColumn("open_", lit(true)), Seq("dst"), "left")
      .select(col("src"), col("dst").as("final_url"),
        coalesce(!col("open_"), lit(true)).as("resolved"))
  }
}
