package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Large-scale training-data deduplication operators over a `documents`
  * table (doc_id long, text string, ...).
  *
  * All hash families are deterministic (splitmix64-derived) so results are
  * identical at any parallelism. Scale design: every operator is a
  * shuffle-on-key pipeline — shingle/signature explode → band bucket →
  * within-bucket self-join — the standard MinHash-LSH layout that holds at
  * 100 TB because bucket sizes, not table sizes, bound the join fan-out.
  */
object Dedup {

  @inline private def mix(seed: Long, i: Long): Long = {
    var z = seed + i * 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d9eecb0b2b6e3bL
    z ^ (z >>> 31)
  }

  private def tokenHash(s: String): Long = {
    // FNV-1a 64 over UTF-8 — stable across JVMs (String.hashCode is 32-bit)
    var h = 0xcbf29ce484222325L
    val bs = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < bs.length) { h ^= (bs(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    h
  }

  /** word k-shingle hashes of a text (distinct). */
  def shingleHashes(text: String, k: Int): Array[Long] = {
    if (text == null) return Array.empty
    val toks = text.toLowerCase.split("\\W+").filter(_.nonEmpty)
    if (toks.length < k) {
      if (toks.isEmpty) Array.empty else Array(tokenHash(toks.mkString(" ")))
    } else {
      val out = new scala.collection.mutable.HashSet[Long]
      var i = 0
      while (i + k <= toks.length) {
        out += tokenHash(toks.slice(i, i + k).mkString(" "))
        i += 1
      }
      out.toArray
    }
  }

  /** MinHash signature: numHashes permutations h_i(x) = mix(i, x). */
  def minhashSignature(text: String, k: Int, numHashes: Int): Array[Long] = {
    val sh = shingleHashes(text, k)
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < sh.length) {
      var j = 0
      while (j < numHashes) {
        val v = mix(j + 1L, sh(i))
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    sig
  }

  /** 64-bit SimHash over word-level token hashes. */
  def simhash64(text: String): Long = {
    if (text == null) return 0L
    val counts = new Array[Int](64)
    text.toLowerCase.split("\\W+").filter(_.nonEmpty).foreach { t =>
      val h = tokenHash(t)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Exact n-gram Jaccard between two texts. */
  def jaccard(a: String, b: String, k: Int): Double = {
    val sa = shingleHashes(a, k).toSet
    val sb = shingleHashes(b, k).toSet
    if (sa.isEmpty && sb.isEmpty) 1.0
    else {
      val inter = sa.intersect(sb).size
      inter.toDouble / (sa.size + sb.size - inter)
    }
  }

  private val minhashUdf = udf((t: String, k: Int, n: Int) => minhashSignature(t, k, n))
  private val simhashUdf = udf((t: String) => simhash64(t))
  private val jaccardUdf = udf((a: String, b: String, k: Int) => jaccard(a, b, k))

  /** Exact dedup by content hash: one row per distinct text with the kept
    * (minimum) doc_id and the duplicate count — the hash-groupBy layout
    * (map-side partial agg, single shuffle on the 64-hex key). */
  def exactGroups(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), sha2(col("text").cast("binary"), 256).as("text_hash"))
      .groupBy("text_hash")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dup_count"))

  /** Cap LSH bucket width before a self-join: buckets wider than `cap` are
    * dropped from the candidate generation (a corpus with millions of
    * byte-identical docs otherwise makes one bucket and an O(b^2) self-join
    * — the round-1 scale hazard). Exact duplicates inside an oversized
    * bucket are still found by `exactGroups`, which is the prescribed
    * first-stage route for identical texts; LSH is for *near* duplicates.
    */
  private[ops] def capBuckets(banded: DataFrame, cap: Int,
      keys: Seq[String]): DataFrame = {
    if (cap <= 0) banded
    else {
      val w = Window.partitionBy(keys.map(col): _*)
      banded.withColumn("bwidth_", count(lit(1)).over(w))
        .filter(col("bwidth_") <= cap).drop("bwidth_")
    }
  }

  /** MinHash-LSH near-duplicate candidate pairs.
    * shingle → minhash(numHashes) → band (bands × rowsPerBand) → bucket join.
    * Returns (a_id, b_id, est_jaccard) with a_id < b_id, deduped.
    * Buckets wider than `maxBucket` are excluded (see capBuckets).
    */
  def minhashPairs(docs: DataFrame, k: Int = 5, numHashes: Int = 64,
      bands: Int = 16, minEstJaccard: Double = 0.5,
      maxBucket: Int = 4096): DataFrame = {
    val rowsPer = numHashes / bands
    // signatures are consumed THREE times (banding + both pair rejoins);
    // the minhash UDF (tokenize + numHashes mixes per shingle) is the
    // expensive map of this pipeline, so materialize the narrow
    // (doc_id, sig) frame once instead of re-running it per consumer —
    // the mirrorHosts/semDedup staged-frame rule
    val sigs = docs.select(col("doc_id"),
      minhashUdf(col("text"), lit(k), lit(numHashes)).as("sig"))
      .localCheckpoint(true)

    // band key = hash of the band's slice — explode to (band, bucket, doc)
    val bandStructs = array((0 until bands).map(b =>
      struct(lit(b).as("band"),
        hash(slice(col("sig"), b * rowsPer + 1, rowsPer), lit(b)).cast("long")
          .as("bucket"))): _*)
    // candidate generation/dedup on narrow (id, band, bucket) rows; the
    // numHashes-long signatures rejoin by id only for the surviving pairs
    val banded = capBuckets(
      sigs.select(col("doc_id"), explode(bandStructs).as("bc"))
        .select(col("doc_id"), col("bc.band").as("band"),
          col("bc.bucket").as("bucket")),
      maxBucket, Seq("band", "bucket"))

    val pairIds = banded.alias("a").join(banded.alias("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .dropDuplicates("a_id", "b_id")

    val sigOnly = sigs.select(col("doc_id"), col("sig"))
    val pairs = pairIds
      .join(sigOnly.select(col("doc_id").as("a_id"), col("sig").as("sig_a")), Seq("a_id"))
      .join(sigOnly.select(col("doc_id").as("b_id"), col("sig").as("sig_b")), Seq("b_id"))

    pairs.withColumn("est_jaccard",
        aggregate(zip_with(col("sig_a"), col("sig_b"), (x, y) =>
          when(x === y, 1).otherwise(0)), lit(0),
          (acc, x) => acc + x).cast("double") / numHashes)
      .filter(col("est_jaccard") >= minEstJaccard)
      .select("a_id", "b_id", "est_jaccard")
  }

  /** Incremental (delta-vs-corpus) MinHash dedup — the shape a PRODUCTION
    * pipeline actually runs: each crawl wave dedups its NEW documents
    * against the accumulated corpus without recomputing corpus-internal
    * pairs. [[minhashPairs]]' self-join re-pays O(corpus) banding every
    * run; here the corpus's banded (doc_id, band, bucket) table is computed
    * once (and in production persisted/bucket-clustered across waves — it
    * is append-only exactly like the urls table), and a wave joins only its
    * delta's bands against it: the per-wave cost is O(delta + matched
    * buckets), independent of corpus size.
    *
    * Hot corpus buckets (boilerplate shingles shared by millions of docs)
    * are capped on the corpus side before the join — same guardrail as the
    * self-join path. Signatures rejoin by id only for surviving candidate
    * pairs; the bucket join itself carries narrow id rows.
    *
    * @return (corpus_id, delta_id, est_jaccard) — delta docs whose
    *         signature agreement with an existing corpus doc clears
    *         `minEstJaccard`; a delta doc absent here is NEW */
  def minhashDeltaPairs(corpus: DataFrame, delta: DataFrame, k: Int = 5,
      numHashes: Int = 64, bands: Int = 16, minEstJaccard: Double = 0.5,
      maxBucket: Int = 4096): DataFrame = {
    val rowsPer = numHashes / bands
    def sigsOf(docs: DataFrame): DataFrame = docs.select(col("doc_id"),
      minhashUdf(col("text"), lit(k), lit(numHashes)).as("sig"))
    def bandedOf(sigs: DataFrame): DataFrame = {
      val bandStructs = array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          hash(slice(col("sig"), b * rowsPer + 1, rowsPer), lit(b)).cast("long")
            .as("bucket"))): _*)
      sigs.select(col("doc_id"), explode(bandStructs).as("bc"))
        .select(col("doc_id"), col("bc.band").as("band"),
          col("bc.bucket").as("bucket"))
    }
    // both signature frames are consumed twice (banding + the pair rejoin)
    // — materialize the narrow (doc_id, sig) rows once (see minhashPairs);
    // in production the corpus side persists across waves anyway
    val corpusSigs = sigsOf(corpus).localCheckpoint(true)
    val deltaSigs = sigsOf(delta).localCheckpoint(true)
    val corpusBanded =
      capBuckets(bandedOf(corpusSigs), maxBucket, Seq("band", "bucket"))
    val pairIds = bandedOf(deltaSigs).alias("d")
      .join(corpusBanded.alias("c"),
        col("d.band") === col("c.band") && col("d.bucket") === col("c.bucket"))
      .select(col("c.doc_id").as("corpus_id"), col("d.doc_id").as("delta_id"))
      .dropDuplicates("corpus_id", "delta_id")
    pairIds
      .join(corpusSigs.select(col("doc_id").as("corpus_id"),
        col("sig").as("sig_c")), Seq("corpus_id"))
      .join(deltaSigs.select(col("doc_id").as("delta_id"),
        col("sig").as("sig_d")), Seq("delta_id"))
      .withColumn("est_jaccard",
        aggregate(zip_with(col("sig_c"), col("sig_d"), (x, y) =>
          when(x === y, 1).otherwise(0)), lit(0),
          (acc, x) => acc + x).cast("double") / numHashes)
      .filter(col("est_jaccard") >= minEstJaccard)
      .select("corpus_id", "delta_id", "est_jaccard")
  }

  /** SimHash near-dup pairs: 4×16-bit chunk banding guarantees recall for
    * hamming distance <= 3 (pigeonhole), then exact hamming filter. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = 4096): DataFrame =
    signaturePairs(
      docs.select(col("doc_id"), simhashUdf(col("text")).as("sim")),
      maxHamming, maxBucket)

  /** Banded near-dup pairing for ANY 64-bit signature frame (doc_id, sim) —
    * the machinery under [[simhashPairs]], reusable by every 64-bit
    * perceptual signature (image dHash in m4, audio chromaprints, …):
    * 4×16-bit chunk banding (pigeonhole: any pair within hamming 3 shares
    * at least one untouched chunk, so recall is guaranteed), hot-bucket
    * cap, id-only candidate shuffle, exact bit_count hamming filter. */
  def signaturePairs(sigs: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = 4096): DataFrame = {
    val chunkStructs = array((0 until 4).map(b =>
      struct(lit(b).as("band"),
        shiftright(col("sim"), b * 16).bitwiseAND(lit(0xffffL)).as("chunk"))): _*)
    val banded = capBuckets(
      sigs.select(col("doc_id"), col("sim"), explode(chunkStructs).as("bc"))
        .select(col("doc_id"), col("sim"), col("bc.band").as("band"),
          col("bc.chunk").as("chunk")),
      maxBucket, Seq("band", "chunk"))
    banded.alias("a").join(banded.alias("b"),
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.sim").as("sim_a"), col("b.sim").as("sim_b"))
      .dropDuplicates("a_id", "b_id")
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("a_id", "b_id", "hamming")
  }

  /** Exact n-gram Jaccard verification of candidate pairs (the re-rank stage
    * after LSH; joins texts back by id — two broadcast-or-shuffle hash joins). */
  def verifyJaccard(pairs: DataFrame, docs: DataFrame, k: Int = 5,
      minJaccard: Double = 0.8): DataFrame = {
    val t = docs.select(col("doc_id"), col("text"))
    pairs
      .join(t.select(col("doc_id").as("a_id"), col("text").as("text_a")), Seq("a_id"))
      .join(t.select(col("doc_id").as("b_id"), col("text").as("text_b")), Seq("b_id"))
      .withColumn("jaccard", jaccardUdf(col("text_a"), col("text_b"), lit(k)))
      .filter(col("jaccard") >= minJaccard)
      .select("a_id", "b_id", "jaccard")
  }

  /** Embedding cosine near-dup pairs: banded hyperplane LSH (OR of `bands`
    * AND-bands of `rowsPerBand` hyperplanes each) + exact cosine verify.
    *
    * Recall math (round-1 fix): the banded OR-construction gives
    * P(candidate) = 1-(1-p^r)^b with p = 1-theta/pi — at cosine 0.95
    * (theta <= 0.318, p >= 0.899) and r=4, b=24 the per-true-pair miss
    * probability is ~2e-12. Candidates pass an exact cosine filter, so
    * false positives cost time, never correctness.
    *
    * Structure (round-2 cliff fix): the corpus is first collapsed to
    * DISTINCT vectors — content-hash groups with a representative id — and
    * the LSH banding, bucket cap and pairwise verify run over the
    * representatives only. Duplicate-dense corpora (the realistic 100 TB
    * hazard: millions of byte-identical embeddings) previously filled a
    * bucket past `maxBucket` with copies of one vector and were silently
    * dropped — a recall cliff that grew with corpus size. Now bucket width
    * measures near-dup DIVERSITY (distinct vectors), multiplicity is
    * handled by exact grouping, and member pairs are expanded from the
    * verified representative pairs at the end:
    *   - same-key pairs: exact duplicates, cosine 1 by definition;
    *   - cross-key pairs: inherit their representatives' exact cosine
    *     (members are bit-identical to their representative).
    * All joins before the final expansion move narrow (key, id, band,
    * bucket) rows; vectors rejoin by representative id only for the
    * verify. */
  /** The near-dup structure in O(members + rep-pairs) OUTPUT rows — the
    * 100 TB API. Returns (members, repPairs):
    *   - members:  (vkey, rep_id, vec_id) — one row per input vector,
    *     linking it to its exact-duplicate group (content-hash key) and the
    *     group's representative (min vec_id). Within-group relations are
    *     implied (every member is bit-identical to the rep, cosine 1).
    *   - repPairs: (ka, kb, rep_a, rep_b, cosine) — verified near-dup edges
    *     BETWEEN groups, one row per group pair regardless of group sizes.
    * Together these carry exactly the information of the dense pair
    * expansion in linear size: a corpus with millions of byte-identical
    * embeddings yields millions of member rows, not ~10^12 pairs
    * (round-3 advice: the dense expansion is an output-size cliff). */
  def embeddingDupStructure(emb: DataFrame, dim: Int, rowsPerBand: Int = 4,
      bands: Int = 24, minCosine: Double = 0.95, seed: Long = 7L,
      maxBucket: Int = 4096): (DataFrame, DataFrame) = {
    // fixed-width digest as the duplicate-group key (never join raw arrays).
    // `keyed` feeds the rep election AND the member expansion, and the
    // digest (json-serialize + sha256 per vector) is the expensive map —
    // materialize the narrow (vec_id, vkey) frame once
    val keyed = emb.select(col("vec_id"),
      sha2(to_json(col("embedding")).cast("binary"), 256).as("vkey"))
      .localCheckpoint(true)
    val reps = keyed.groupBy("vkey").agg(min("vec_id").as("rep_id"))
    val repVecs = reps
      .join(emb.select(col("vec_id").as("rep_id"), col("embedding")), Seq("rep_id"))

    val banded = capBuckets(
      repVecs.select(col("vkey"),
          Similarity.bandedSig(col("embedding"), dim, rowsPerBand, bands, seed)
            .as("bc"))
        .select(col("vkey"), col("bc.band").as("band"),
          col("bc.bucket").as("bucket")),
      maxBucket, Seq("band", "bucket"))
    val keyPairs = banded.alias("a").join(banded.alias("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.vkey") < col("b.vkey"))
      .select(col("a.vkey").as("ka"), col("b.vkey").as("kb"))
      .dropDuplicates("ka", "kb")
    // exact cosine verify on representative vectors (two id-keyed joins)
    val v = repVecs.select(col("vkey"), col("rep_id"), col("embedding"))
    val repPairs = keyPairs
      .join(v.select(col("vkey").as("ka"), col("rep_id").as("rep_a"),
        col("embedding").as("ea")), Seq("ka"))
      .join(v.select(col("vkey").as("kb"), col("rep_id").as("rep_b"),
        col("embedding").as("eb")), Seq("kb"))
      .withColumn("cosine", Similarity.cosineCol(col("ea"), col("eb")))
      .filter(col("cosine") >= minCosine)
      .select("ka", "kb", "rep_a", "rep_b", "cosine")
    val members = keyed.join(reps, Seq("vkey"))
      .select("vkey", "rep_id", "vec_id")
    (members, repPairs)
  }

  /** Dense member-pair view of [[embeddingDupStructure]]: every within-group
    * exact-duplicate pair (cosine 1) plus every cross-group member pair
    * inheriting its representatives' verified cosine.
    *
    * OUTPUT-SIZE WARNING: the pair contract is inherently quadratic in
    * duplicate-group size — a group of m identical vectors owns m(m-1)/2
    * pairs, so a corpus with millions of byte-identical embeddings
    * materializes ~10^12 rows no matter how it is computed. This view is
    * for small-scale / oracle use; pipelines at 100 TB should consume
    * `embeddingDupStructure`'s linear (members, repPairs) form directly. */
  def embeddingDupPairs(emb: DataFrame, dim: Int, rowsPerBand: Int = 4,
      bands: Int = 24, minCosine: Double = 0.95, seed: Long = 7L,
      maxBucket: Int = 4096): DataFrame = {
    val (members, repPairs) =
      embeddingDupStructure(emb, dim, rowsPerBand, bands, minCosine, seed, maxBucket)
    val m = members.select(col("vkey"), col("vec_id"))
    val dupPairs = m.alias("a").join(m.alias("b"),
        col("a.vkey") === col("b.vkey") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        lit(1.0d).as("cosine"))
    val crossPairs = repPairs
      .join(m.select(col("vkey").as("ka"), col("vec_id").as("ia")), Seq("ka"))
      .join(m.select(col("vkey").as("kb"), col("vec_id").as("ib")), Seq("kb"))
      .select(least(col("ia"), col("ib")).as("a_id"),
        greatest(col("ia"), col("ib")).as("b_id"), col("cosine"))
    dupPairs.unionByName(crossPairs).select("a_id", "b_id", "cosine")
  }

  /** Connected components over a near-duplicate pair list — the step that
    * turns pairwise candidates (minhashPairs / simhashPairs /
    * embeddingDupPairs output) into duplicate CLUSTERS so a corpus can keep
    * one representative per component (pairs alone under-delete: a~b and
    * b~c must collapse a,b,c together even when a~c was never emitted).
    *
    * Algorithm: alternating large-star / small-star (the MapReduce CC
    * algorithm of Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — each round is two shuffle-on-node groupBy/join
    * passes over the EDGE list, and the edge set contracts toward stars in
    * O(log n) rounds even on diameter-n chains (plain min-label propagation
    * needs diameter rounds). No driver-side state: the driver loop only
    * compares a per-round (count, hash-xor) checksum; all data stays
    * distributed, and `localCheckpoint` truncates the growing plan lineage
    * each round (the standard treatment for iterative DataFrame algorithms).
    *
    * Input: (a_id, b_id) rows (any orientation, self-pairs and duplicates
    * tolerated). Output: (doc_id, component_id) for every node that appears
    * in the input, where component_id = min doc_id of the component —
    * deterministic at any parallelism.
    */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 64): DataFrame =
    // every round's exchange carries two longs per row — run the eager
    // round loop under the data-sized reduce layout (AdaptiveShuffle), not
    // the session's core-count constant
    AdaptiveShuffle.narrowRows(pairs.sparkSession) {
    // canonical undirected edge list, oriented u > v
    val init = pairs
      .select(col("a_id").cast("long").as("u"), col("b_id").cast("long").as("v"))
    val nodes = init.select(col("u").as("doc_id"))
      .unionByName(init.select(col("v").as("doc_id"))).distinct()
    // round-scoped checkpoints: each round's edge set replaces the last —
    // free the superseded blocks instead of accumulating one copy per round
    val ic = new IterCheckpoint
    var edges = ic.next(init.filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct())

    // large-star: every node links its strictly-larger neighbors to the
    // minimum of its neighborhood (incl. itself); small-star: every node
    // links its smaller neighbors (and itself) to the neighborhood minimum.
    // Each star computes the per-node neighborhood minimum as a WINDOW over
    // the edge rows (one exchange on the node key) instead of the
    // groupBy+join spelling (two exchanges carrying the same rows) — same
    // row set, half the shuffles per round (guide §2.4: two operations
    // keyed the same way share one exchange). largeStar emits un-distinct'd
    // rows: smallStar's window min and the round-ending distinct are
    // duplicate-insensitive, so the intermediate distinct only re-shuffled
    // the round's rows a third time.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      sym.withColumn("m",
          least(min(col("v")).over(Window.partitionBy("u")), col("u")))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
    }
    def smallStar(e: DataFrame): DataFrame = {
      val withMin = e.withColumn("m",
        min(col("v")).over(Window.partitionBy("u")))
      withMin.filter(col("v") =!= col("m"))
        .select(col("v").as("a"), col("m").as("b"))
        .unionByName(withMin.select(col("u").as("a"), col("m").as("b")))
        .filter(col("a") =!= col("b"))
        .select(greatest(col("a"), col("b")).as("u"),
          least(col("a"), col("b")).as("v"))
        .distinct()
    }
    // (count, xor-of-hashes): order-independent, no ANSI sum overflow; the
    // edge set is distinct so xor cancellation cannot hide a real change
    def checksum(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        expr("bit_xor(xxhash64(u, v))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    var prev = checksum(edges)
    var converged = edges.isEmpty
    var round = 0
    while (!converged && round < maxRounds) {
      edges = ic.next(smallStar(largeStar(edges)))
      val cur = checksum(edges)
      converged = cur == prev
      prev = cur
      round += 1
    }
    require(converged, s"connectedComponents did not converge in $maxRounds rounds")

    // at the star fixed point every edge is (member, root); roots and
    // isolated nodes map to themselves
    nodes.join(edges.select(col("u").as("doc_id"), col("v").as("root")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("root"), col("doc_id")).as("component_id"))
  }

  /** One-representative-per-cluster dedup summary over a pair list:
    * component id (= min member), kept doc, and cluster size. */
  def componentDedup(pairs: DataFrame): DataFrame =
    connectedComponents(pairs)
      .groupBy("component_id")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("cluster_size"))

  /** Keep-BEST-per-cluster dedup — the production keep rule: given the
    * near-dup pair list and a per-doc quality score (classifier margin,
    * length, recency — any ORDERABLE type, kept as-is: a double margin in
    * [0,1) is compared as a double, never truncated), each duplicate
    * cluster keeps its highest-scoring member instead of [[componentDedup]]'s
    * min-id (min-id systematically keeps whichever copy was crawled first,
    * which for syndicated content is often the scraper, not the origin).
    * Ties break to the smallest doc_id; docs missing a score rank below
    * every scored doc (an unscored winner reports keep_score null, never
    * an internal sentinel). Output (component_id, keep_id, keep_score,
    * cluster_size) — one row per cluster, keep_score in the input score
    * type. One extra id-keyed join + the same min-struct aggregation
    * shape as the id rule. */
  def componentDedupBy(pairs: DataFrame, scores: DataFrame): DataFrame = {
    val scoreType = scores.schema("score").dataType
    connectedComponents(pairs)
      .join(scores.select(col("doc_id"), col("score")), Seq("doc_id"), "left")
      .groupBy("component_id")
      // `scored` leads the struct order, so the 0-sentinel never decides
      // a comparison: scored rows always outrank unscored, and unscored
      // rows (all sentinel-equal) fall through to the id tie-break
      .agg(max(struct(col("score").isNotNull.as("scored"),
          coalesce(col("score"), lit(0).cast(scoreType)).as("s"),
          (-col("doc_id")).as("negid"))).as("w"),
        count(lit(1)).as("cluster_size"))
      .select(col("component_id"), (-col("w.negid")).as("keep_id"),
        when(col("w.scored"), col("w.s")).as("keep_score"),
        col("cluster_size"))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540):
    * cluster-scoped semantic dedup over an embedding column. K-means
    * partitions the corpus into `nlist` cells; ONLY within-cell pairs are
    * candidates; pairs with cosine ≥ `minCosine` chain into duplicate
    * groups; each group keeps its most ATYPICAL member — the one with the
    * LOWEST cosine to its cluster centroid (the paper's keep rule: typical
    * members are the redundant ones).
    *
    * Input `(vec_id, embedding: array<float>)`; output one row per input
    * vector: `(vec_id, rep_id, group_id, kept)` — rep_id = min id of the
    * vector's EXACT-duplicate group, group_id = min rep id of its semantic
    * component, kept = this vector survives the dedup.
    *
    * Scale shape (each step bounded, never corpus × corpus):
    *   - exact duplicates collapse to one representative per content hash
    *     BEFORE any pairing (identical vectors always share a cell — the
    *     assignment is a pure function of the vector — so collapsing first
    *     loses nothing and a million-identical-vector corpus never
    *     self-joins);
    *   - the within-cell self-join is the paper's O(cellWidth²) pairwise
    *     pass; `nlist` is the control (the paper uses ~√N clusters) and
    *     cells wider than `maxCellWidth` are TRUNCATED to their
    *     maxCellWidth hash-smallest reps for pairing (the rest pass
    *     through unpaired, kept) — partial recall in a degenerate cell,
    *     never O(width²) and never a silent whole-cell no-op; size nlist
    *     so expected cell width N/nlist stays under the cap;
    *   - candidate rows are narrow (two ids); vectors rejoin BY ID for the
    *     exact cosine verify;
    *   - duplicate groups close transitively via [[connectedComponents]]
    *     (O(log n) rounds);
    *   - the keep rule is one per-group min(struct) aggregation.
    * Determinism: centroid similarity is a float, so the keep rule ties
    * break by (cdot, rep_id) min-struct; exact duplicates share cdot
    * bit-identically, and distinct reps in a group differ in cdot by more
    * than float noise on any real corpus (the ivfTopK centroid caveat
    * applies to cell-boundary vectors). */
  def semDedup(emb: DataFrame, dim: Int, minCosine: Double, nlist: Int = 8,
      lloydIters: Int = 4, maxCellWidth: Int = 4096): DataFrame =
    // the eager stages (Lloyd collects, assignment checkpoint, component
    // rounds) all exchange narrow rows — data-sized reduce layout
    AdaptiveShuffle.narrowRows(emb.sparkSession) {
    // exact-dup collapse: one representative (min vec_id) per content hash;
    // the digest frame feeds the rep election AND the final member join —
    // materialize the narrow (vec_id, vkey) rows once (embeddingDupStructure
    // treatment)
    val keyed = emb.select(col("vec_id"),
      sha2(to_json(col("embedding")).cast("binary"), 256).as("vkey"))
      .localCheckpoint(true)
    val reps = keyed.groupBy("vkey").agg(min("vec_id").as("rep_id"))
    val repVecs = reps
      .join(emb.select(col("vec_id").as("rep_id"), col("embedding")),
        Seq("rep_id"))

    // k-means over the collapsed reps (training on duplicates would only
    // bias centroids toward the most-copied content)
    val centroids = Similarity.trainCentroids(
      repVecs.select(col("rep_id").as("vec_id"), col("embedding")),
      dim, nlist, lloydIters)
    // evaluated ONCE: the cells window, the verify's vector rejoin, and
    // the keep rule all branch from this frame — without the checkpoint
    // each branch re-runs the content-hash groupBy + rep join + assignment
    val assigned = repVecs.withColumn("_a",
        Similarity.assignUdf(centroids)(col("embedding")))
      .select(col("rep_id"), col("embedding"),
        col("_a._1").as("cell"), col("_a._2").as("cdot"))
      .localCheckpoint()

    // within-cell candidate pairs on narrow (cell, rep_id) rows; over-wide
    // cells truncate to their cap hash-smallest reps (constant rank bound →
    // WindowGroupLimit prunes below the exchange); cap <= 0 = uncapped,
    // the capBuckets convention this parameter follows
    val cells0 = assigned.select(col("cell"), col("rep_id"))
    val cells =
      if (maxCellWidth <= 0) cells0
      else {
        val wCell = Window.partitionBy("cell")
          .orderBy(xxhash64(lit("semdedup-cap"), col("rep_id")), col("rep_id"))
        cells0.withColumn("crank_", row_number().over(wCell))
          .filter(col("crank_") <= maxCellWidth).drop("crank_")
      }
    val candPairs = cells.alias("a").join(cells.alias("b"),
        col("a.cell") === col("b.cell") && col("a.rep_id") < col("b.rep_id"))
      .select(col("a.rep_id").as("ra"), col("b.rep_id").as("rb"))
    // exact cosine verify: vectors rejoin by id
    val v = assigned.select(col("rep_id"), col("embedding"))
    val dupPairs = candPairs
      .join(v.select(col("rep_id").as("ra"), col("embedding").as("ea")), Seq("ra"))
      .join(v.select(col("rep_id").as("rb"), col("embedding").as("eb")), Seq("rb"))
      .filter(Similarity.cosineCol(col("ea"), col("eb")) >= minCosine)
      .select(col("ra").as("a_id"), col("rb").as("b_id"))

    // transitive closure → groups; ungrouped reps are their own group
    val comps = connectedComponents(dupPairs)
      .select(col("doc_id").as("rep_id"), col("component_id"))
    val grouped = assigned.select(col("rep_id"), col("cdot"))
      .join(comps, Seq("rep_id"), "left")
      .withColumn("group_id", coalesce(col("component_id"), col("rep_id")))
    // paper keep rule: lowest centroid similarity survives (ties by rep_id)
    val winners = grouped.groupBy("group_id")
      .agg(min(struct(col("cdot"), col("rep_id"))).getField("rep_id")
        .as("keep_rep"))
    val repOut = grouped.join(winners, Seq("group_id"))
      .select(col("rep_id"), col("group_id"), col("keep_rep"))

    keyed.join(reps, Seq("vkey")).join(repOut, Seq("rep_id"))
      .select(col("vec_id"), col("rep_id"), col("group_id"),
        (col("vec_id") === col("keep_rep")).as("kept"))
  }
}
