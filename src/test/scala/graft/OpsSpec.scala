package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops._

class DedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again today"),
    (1L, "the quick brown fox jumps over the lazy dog again and again today"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy dog again and again tomorrow"), // near dup
    (3L, "completely different content about apache spark distributed joins and shuffles"),
    (4L, "another unrelated snippet mentioning minhash signatures and banding")
  ).toDF("doc_id", "text")

  test("exact dedup groups") {
    val g = Dedup.exactGroups(docs).collect()
    assert(g.length == 4) // 0 and 1 collapse
    val dup = g.find(_.getAs[Long]("dup_count") == 2L).get
    assert(dup.getAs[Long]("keep_id") == 0L)
  }

  test("minhash LSH finds exact and near duplicates, not unrelated") {
    val pairs = Dedup.minhashPairs(docs, k = 3, numHashes = 64, bands = 16,
      minEstJaccard = 0.4).collect()
    val ids = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ids.contains((0L, 1L)))
    assert(ids.contains((0L, 2L)) || ids.contains((1L, 2L)))
    assert(!ids.exists(p => p._1 == 3L || p._2 == 3L))
    val exact = pairs.find(r => r.getLong(0) == 0L && r.getLong(1) == 1L).get
    assert(exact.getAs[Double]("est_jaccard") == 1.0)
  }

  test("minhashDeltaPairs: delta matches corpus, corpus-internal pairs never emitted") {
    val corpus = docs // ids 0-4; 0 and 1 identical, 2 near, 3/4 unrelated
    val delta = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again today"), // dup of 0/1
      (11L, "totally novel never before seen zeta tokens qux")
    ).toDF("doc_id", "text")
    val out = Dedup.minhashDeltaPairs(corpus, delta, k = 3, numHashes = 64,
      bands = 16, minEstJaccard = 0.4).collect()
    val ids = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ids.contains((0L, 10L)) && ids.contains((1L, 10L)))
    assert(!ids.exists(_._2 == 11L))        // new doc: no match
    assert(ids.forall(p => p._1 < 10L && p._2 >= 10L)) // never corpus-corpus
    val exact = out.find(r => r.getLong(0) == 0L && r.getLong(1) == 10L).get
    assert(exact.getAs[Double]("est_jaccard") == 1.0)
  }

  test("minhashDeltaPairs: no signature array crosses the bucket-join exchanges") {
    val corpus = docs
    val delta = Seq((10L, "the quick brown fox jumps over the lazy dog again and again today"))
      .toDF("doc_id", "text")
    val out = Dedup.minhashDeltaPairs(corpus, delta, k = 3)
    val exchanges = out.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // the (band, bucket) candidate join and the (corpus_id, delta_id) dedup
    // must carry narrow id rows only; the 64-long signatures rejoin by id
    exchanges.foreach { e =>
      val part = e.outputPartitioning.toString
      if (part.contains("band") || part.contains("corpus_id")) {
        val arrays = e.output.filter(
          _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
        assert(arrays.isEmpty,
          s"arrays ${arrays.map(_.name)} cross a candidate exchange ($part)")
      }
    }
  }

  test("jaccard verification keeps true near-dups") {
    val cands = Dedup.minhashPairs(docs, k = 3, numHashes = 64, bands = 16, 0.3)
    val verified = Dedup.verifyJaccard(cands, docs, k = 3, minJaccard = 0.5).collect()
    assert(verified.exists(r => r.getLong(1) == 0L || r.getLong(0) == 0L || r.getLong(1) == 1L))
    verified.foreach(r => assert(r.getAs[Double]("jaccard") >= 0.5))
  }

  test("simhash pairs: identical texts have hamming 0") {
    val pairs = Dedup.simhashPairs(docs, maxHamming = 3).collect()
    val p01 = pairs.find(r => r.getLong(0) == 0L && r.getLong(1) == 1L)
    assert(p01.isDefined)
    assert(p01.get.getAs[Int]("hamming") == 0)
  }

  test("signaturePairs: generic 64-bit banding — exact radius, no false pairs") {
    // hand-built signatures: 10/11 at hamming 2, 12 at hamming 1 from 10,
    // 13 differs in all four 16-bit chunks (hamming 8) — never a candidate
    val sigs = Seq(
      (10L, 0x0f0f0f0f0f0f0f0fL),
      (11L, 0x0f0f0f0f0f0f0f0cL),            // 2 low bits flipped
      (12L, 0x0f0f0f0f0f0f0f0eL),            // 1 low bit flipped
      (13L, 0x1e0f170f0d0f0f4fL)             // >=1 bit per chunk
    ).toDF("doc_id", "sim")
    val pairs = Dedup.signaturePairs(sigs, maxHamming = 3).collect()
    val got = pairs.map(r => ((r.getLong(0), r.getLong(1)),
      r.getAs[Int]("hamming"))).toMap
    assert(got == Map((10L, 11L) -> 2, (10L, 12L) -> 1, (11L, 12L) -> 1))
  }

  test("simhash determinism") {
    assert(Dedup.simhash64("hello world") == Dedup.simhash64("hello world"))
    assert(Dedup.jaccard("a b c d e", "a b c d e", 3) == 1.0)
  }

  test("embedding dup pairs via banded hyperplane LSH") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.1f)),
      (1L, Array(1.0f, 0.01f, 0.0f, 0.1f)), // near 0
      (2L, Array(-1.0f, 0.2f, 0.9f, -0.3f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingDupPairs(emb, dim = 4, rowsPerBand = 2, bands = 8,
      minCosine = 0.99).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((0L, 1L)))
  }

  test("banded embedding LSH recalls planted 0.95-cosine near-dups") {
    // 40 clusters of 3 vectors within ~2.3deg (cosine >= 0.999), clusters
    // ~18deg apart (cosine <= 0.95 across) on the unit circle in 8-d
    val emb = (0L until 120L).map { i =>
      val theta = (i / 3) * 0.32 + (i % 3) * 0.02
      (i, Array(math.cos(theta).toFloat, math.sin(theta).toFloat,
        0f, 0f, 0f, 0f, 0f, 0f))
    }.toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingDupPairs(emb, dim = 8, rowsPerBand = 4,
      bands = 24, minCosine = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // ground truth by exact cosine (angles wrap the circle, so distant ids
    // can also be genuinely close — expected = all pairs at cos >= 0.99)
    def theta(i: Long): Double = (i / 3) * 0.32 + (i % 3) * 0.02
    val expected = (0L until 120L).flatMap(a => (a + 1 until 120L)
      .filter(b => math.cos(theta(a) - theta(b)) >= 0.9901)
      .map(b => (a, b))).toSet
    val boundary = (0L until 120L).flatMap(a => (a + 1 until 120L)
      .filter { b =>
        val c = math.cos(theta(a) - theta(b))
        c >= 0.9899 && c < 0.9901 // float-noise margin at the threshold
      }.map(b => (a, b))).toSet
    assert((pairs -- boundary) == (expected -- boundary),
      s"missing=${(expected -- boundary) -- pairs} extra=${(pairs -- boundary) -- expected -- boundary}")
  }

  test("bucket cap bounds LSH blowup on mass-identical docs") {
    // 10k byte-identical docs: uncapped banding would self-join one bucket
    // into ~50M pairs; the cap drops the degenerate bucket entirely and
    // exactGroups (the prescribed route for identical text) still finds them
    val many = spark.range(10000)
      .selectExpr("id AS doc_id", "'same text for every single doc here' AS text")
    val pairs = Dedup.minhashPairs(many, k = 3, numHashes = 16, bands = 4,
      minEstJaccard = 0.5, maxBucket = 1000)
    assert(pairs.count() == 0L)
    val sim = Dedup.simhashPairs(many, maxHamming = 3, maxBucket = 1000)
    assert(sim.count() == 0L)
    val g = Dedup.exactGroups(many).collect()
    assert(g.length == 1 && g.head.getAs[Long]("dup_count") == 10000L)
  }

  test("mass-identical embeddings bypass the bucket cap via exact grouping") {
    // 1000 byte-identical vectors: round 2 capped the (1-vector-wide,
    // 1000-member) bucket and returned ZERO pairs — the recall cliff. Reps
    // collapse to one, LSH sees a 1-wide bucket, and the exact-duplicate
    // expansion emits every member pair.
    val many = (0L until 1000L).map(i =>
      (i, Array(1.0f, 0.25f, -0.5f, 0.125f))).toDF("vec_id", "embedding")
    val n = Dedup.embeddingDupPairs(many, dim = 4, rowsPerBand = 2, bands = 8,
      minCosine = 0.95, maxBucket = 100).count()
    assert(n == 1000L * 999 / 2, s"expected all identical pairs, got $n")
  }

  private def ccOf(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Dedup.connectedComponents(edges.toDF("a_id", "b_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Driver-side union-find reference for randomized comparison. */
  private def ufComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.map(n => n -> find(n)).toMap
  }

  test("connected components: deep chain needs true multi-hop transitivity") {
    // a 100-node path has diameter 99 — min-label propagation would need 99
    // rounds; large-star/small-star must still converge (maxRounds 64)
    val chain = (0L until 99L).map(i => (i, i + 1))
    val cc = ccOf(chain)
    assert(cc.size == 100 && cc.values.forall(_ == 0L))
  }

  test("connected components: orientation, duplicates, self-pairs, singletons") {
    val edges = Seq((5L, 3L), (3L, 5L), (5L, 3L), (7L, 7L), (10L, 11L))
    val cc = ccOf(edges)
    assert(cc == Map(3L -> 3L, 5L -> 3L, 7L -> 7L, 10L -> 10L, 11L -> 10L))
  }

  test("connected components match union-find on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 3) {
      val n = 200
      val edges = (0 until 250).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val expected = ufComponents(edges)
      assert(ccOf(edges) == expected, s"trial $trial mismatch")
    }
  }

  test("componentDedup summarizes clusters") {
    val edges = Seq((1L, 2L), (2L, 3L), (9L, 8L), (4L, 4L))
    val rows = Dedup.componentDedup(edges.toDF("a_id", "b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set((1L, 1L, 3L), (8L, 8L, 2L), (4L, 4L, 1L)))
  }
}

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("brute force top-k: self is rank 1 with cosine 1") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val q = emb.filter($"vec_id" === 0L)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val top = Similarity.bruteForceTopK(emb, q, k = 3).collect()
    assert(top.length == 3)
    val r1 = top.find(_.getAs[Int]("rank") == 1).get
    assert(r1.getAs[Long]("vec_id") == 0L)
    assert(math.abs(r1.getAs[Double]("cosine") - 1.0) < 1e-9)
    val r2 = top.find(_.getAs[Int]("rank") == 2).get
    assert(r2.getAs[Long]("vec_id") == 1L)
  }

  test("LSH top-k (single probe) recalls the true neighbor for clustered vectors") {
    val emb = (0L until 50L).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0.2f, 0.0f) else Array(0.0f, 0.3f, 1.0f)
      (i, base.map(v => v + (i % 5) * 0.01f))
    }.toDF("vec_id", "embedding")
    val q = emb.filter($"vec_id" === 0L)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    // one band of 3 planes = the single-probe construction
    val top = Similarity.lshTopK(emb, q, dim = 3, k = 5, rowsPerBand = 3, bands = 1)
    val ids = top.select("vec_id").as[Long].collect().toSet
    assert(ids.contains(0L))
    // single-probe candidates must come from the same (even) cluster
    assert(ids.forall(_ % 2 == 0))
  }

  test("banded LSH top-k recall >= 0.9 vs brute force on clustered data") {
    // Hyperplane LSH retrieves NEAR neighbors; on uniform-random vectors the
    // true top-10 sit at cosine ~0.3 (measured on the driver fixture) where
    // no sublinear method has signal — so recall is asserted on a corpus
    // with real neighbor structure (50 clusters x 10 near-identical points),
    // the training-data near-dup retrieval contract.
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(50)(Array.fill(64)(rnd.nextGaussian().toFloat))
    val emb = (0L until 500L).map { i =>
      val c = centers((i / 10).toInt)
      (i, c.map(v => v + rnd.nextGaussian().toFloat * 0.01f))
    }.toDF("vec_id", "embedding")
    val q = emb.filter($"vec_id" % 50L === 3L).limit(10)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val truth = Similarity.bruteForceTopK(emb, q, k = 10)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val got = Similarity.lshTopK(emb, q, dim = 64, k = 10, rowsPerBand = 4,
        bands = 24)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (truth intersect got).size.toDouble / truth.size
    assert(recall >= 0.9, s"recall $recall")
  }

  test("no array column crosses the LSH candidate exchange (plan assertion)") {
    val emb = (0L until 200L).map { i =>
      (i, Array.tabulate(8)(j => ((i * 31 + j * 7) % 13).toFloat))
    }.toDF("vec_id", "embedding")
    val q = emb.limit(3)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val top = Similarity.lshTopK(emb, q, dim = 8, k = 5)
    val exchanges = top.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // the candidate-dedup exchange partitions on (query_id, vec_id); it must
    // carry no array column (round-2 anti-pattern: both vectors rode along)
    exchanges.foreach { e =>
      val part = e.outputPartitioning.toString
      if (part.contains("query_id") && part.contains("vec_id")) {
        val arrays = e.output.filter(
          _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
        assert(arrays.isEmpty,
          s"arrays ${arrays.map(_.name)} cross the candidate exchange")
      }
    }
  }

  test("IVF top-k matches brute force exactly on the circle fixture") {
    // the Verify/oracle fixture shape: unit-circle vectors at 97 residue
    // angles; trained IVF cells are contiguous arcs, so nprobe=3 of nlist=8
    // covers every true top-10 — recall must be exactly 1
    def circle(id: Long, off: Double): Array[Float] = {
      val theta = ((id % 97).toDouble + off) * math.Pi / 97
      Array(math.cos(theta).toFloat, math.sin(theta).toFloat) ++ Array.fill(62)(0.0f)
    }
    val emb = (0L until 300L).map(i => (i, circle(i, 0.0))).toDF("vec_id", "embedding")
    val q = (0L until 5L).map(i => (i, circle(i, 0.37))).toDF("query_id", "query_vec")
    val truth = Similarity.bruteForceTopK(emb, q, k = 10)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet
    val got = Similarity.ivfTopK(emb, q, dim = 64, k = 10, nlist = 8, nprobe = 3)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(got == truth)
  }

  test("IVF candidates are cell-bound: probed fraction ~ nprobe/nlist") {
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(16)(Array.fill(32)(rnd.nextGaussian().toFloat))
    val emb = (0L until 800L).map { i =>
      val c = centers((i % 16).toInt)
      (i, c.map(v => v + rnd.nextGaussian().toFloat * 0.01f))
    }.toDF("vec_id", "embedding")
    val q = emb.limit(4)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val top = Similarity.ivfTopK(emb, q, dim = 32, k = 5, nlist = 16, nprobe = 2)
    assert(top.groupBy("query_id").count().as[(Long, Long)].collect()
      .forall(_._2 == 5))
    // recall on strongly clustered data: the query's own cluster cell is
    // always probed, so its 5 nearest clones must all be returned
    val truth = Similarity.bruteForceTopK(emb, q, k = 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val got = top.select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    assert((truth intersect got).size.toDouble / truth.size >= 0.9)
  }

  test("PQ top-k matches brute force exactly on the circle fixture") {
    def circle(id: Long, off: Double): Array[Float] = {
      val theta = ((id % 97).toDouble + off) * math.Pi / 97
      Array(math.cos(theta).toFloat, math.sin(theta).toFloat) ++ Array.fill(62)(0.0f)
    }
    val emb = (0L until 300L).map(i => (i, circle(i, 0.0))).toDF("vec_id", "embedding")
    val q = (0L until 5L).map(i => (i, circle(i, 0.37))).toDF("query_id", "query_vec")
    val truth = Similarity.bruteForceTopK(emb, q, k = 10)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet
    val got = Similarity.pqTopK(emb, q, dim = 64, k = 10, m = 4, ksub = 16,
      rerank = 128)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(got == truth)
  }

  test("IVFPQ top-k matches brute force exactly on the circle fixture") {
    def circle(id: Long, off: Double): Array[Float] = {
      val theta = ((id % 97).toDouble + off) * math.Pi / 97
      Array(math.cos(theta).toFloat, math.sin(theta).toFloat) ++ Array.fill(62)(0.0f)
    }
    val emb = (0L until 300L).map(i => (i, circle(i, 0.0))).toDF("vec_id", "embedding")
    val q = (0L until 5L).map(i => (i, circle(i, 0.37))).toDF("query_id", "query_vec")
    val truth = Similarity.bruteForceTopK(emb, q, k = 10)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet
    val got = Similarity.ivfpqTopK(emb, q, dim = 64, k = 10, nlist = 8,
        nprobe = 3, m = 4, ksub = 16, rerank = 128)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(got == truth)
  }

  test("IVFPQ ADC stage scans only the probed cells' codes (~nprobe/nlist)") {
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(16)(Array.fill(32)(rnd.nextGaussian().toFloat))
    val emb = (0L until 800L).map { i =>
      val c = centers((i % 16).toInt)
      (i, c.map(v => v + rnd.nextGaussian().toFloat * 0.01f))
    }.toDF("vec_id", "embedding")
    val q = emb.limit(4)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val scanned = graft.ops.Similarity.ivfpqAdcScan(emb, q, dim = 32,
      nlist = 16, nprobe = 2, lloydIters = 4, m = 4, ksub = 8,
      pqIters = 8, trainSample = 4096).count()
    // flat PQ would score 4 x 800 = 3200 rows; the composition must score
    // ~nprobe/nlist = 1/8 of that per query (slack 2x for uneven cells)
    assert(scanned <= 2 * 800L * 4 * 2 / 16,
      s"ADC scanned $scanned rows — not cell-bound")
    assert(scanned > 0)
  }

  test("near-boundary vector: exact re-rank returns identical top-k at any parallelism") {
    // The documented ivfTopK caveat: distributed Lloyd sums floats in
    // shuffle order, so a vector sitting (near-)exactly on a cell boundary
    // can flip cells between plans. The GUARANTEE is that when the probe
    // set covers the flip candidates, the exact re-rank returns identical
    // top-k regardless of which side the boundary vector landed on. Plant
    // four well-separated arcs, one vector ON the 0/1 arc midpoint, a
    // query between arcs 0 and 1 (so its top-2 probe cells are exactly
    // the two cells the boundary vector can flip between), and assert
    // identical, brute-force-equal top-k at 1 and 8 input partitions.
    def vecAt(deg: Double): Array[Float] = {
      val th = math.toRadians(deg)
      Array(math.cos(th).toFloat, math.sin(th).toFloat) ++ Array.fill(6)(0.0f)
    }
    val rows = (0 until 4).flatMap { c =>
      (0 until 12).map(j => ((c * 12 + j).toLong, vecAt(c * 30.0 + j * 0.2)))
    } :+ (99L, vecAt(15.0 + 1e-7)) // epsilon off the exact 0/1 midpoint
    val q = Seq((0L, vecAt(14.0))).toDF("query_id", "query_vec")
    def run(parts: Int): Set[(Long, Long, Int)] =
      Similarity.ivfTopK(rows.toDF("vec_id", "embedding").repartition(parts),
          q, dim = 8, k = 5, nlist = 4, nprobe = 2)
        .select("query_id", "vec_id", "rank").as[(Long, Long, Int)]
        .collect().toSet
    val r1 = run(1)
    val r8 = run(8)
    val truth = Similarity.bruteForceTopK(
        rows.toDF("vec_id", "embedding"), q, k = 5)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(r1 == truth, s"parallelism-1 top-k diverges: $r1 vs $truth")
    assert(r8 == truth, s"parallelism-8 top-k diverges: $r8 vs $truth")
    // the boundary vector is cosine-nearest to the query — it must be in
    // the answer, whichever cell it was assigned to
    assert(truth.exists { case (_, vid, rank) => vid == 99L && rank == 1 })
  }

  test("PQ codes table is narrow and deterministic at any parallelism") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 200L).map(i => (i, Array.fill(32)(rnd.nextGaussian().toFloat)))
    val emb1 = vecs.toDF("vec_id", "embedding").repartition(1)
    val emb8 = vecs.toDF("vec_id", "embedding").repartition(8)
    val q = vecs.take(3).map { case (i, v) => (i, v) }
      .toDF("query_id", "query_vec")
    val r1 = Similarity.pqTopK(emb1, q, dim = 32, k = 5, m = 4, ksub = 8,
      rerank = 64).select("query_id", "vec_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val r8 = Similarity.pqTopK(emb8, q, dim = 32, k = 5, m = 4, ksub = 8,
      rerank = 64).select("query_id", "vec_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    // driver-trained codebooks + hash-ranked sample: identical at 1 or 8
    // partitions (distributed k-means could not promise this)
    assert(r1 == r8)
    // a query must find its own exact clone first
    val self = r1.filter { case (qid, vid, rank) => rank == 1 }
    assert(self.forall { case (qid, vid, _) => qid == vid })
  }
}

class TextAnalysisSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("language id heuristic") {
    assert(TextAnalysis.detectLanguage(
      "the cat sat on the mat and it was the best day for the dog") == "en")
    assert(TextAnalysis.detectLanguage(
      "der hund und die katze sind nicht mit dem auto auf der strasse") == "de")
    assert(TextAnalysis.detectLanguage(
      "le chat est dans la maison avec les enfants et le chien pour une") == "fr")
    assert(TextAnalysis.detectLanguage("xyzzy qwerty plugh") == "und")
    assert(TextAnalysis.detectLanguage("") == "und")
  }

  test("language id: non-Latin scripts detected without stopwords") {
    assert(TextAnalysis.detectLanguage("これは日本語のテストです") == "ja")
    assert(TextAnalysis.detectLanguage("日本語の文章です ひらがな混じり") == "ja")
    assert(TextAnalysis.detectLanguage("这是一个中文测试文档") == "zh")
    assert(TextAnalysis.detectLanguage("이것은 한국어 문서입니다") == "ko")
    assert(TextAnalysis.detectLanguage("это русский текст для проверки") == "ru")
    assert(TextAnalysis.detectLanguage("هذا نص عربي للاختبار") == "ar")
    assert(TextAnalysis.detectLanguage("ελληνικό κείμενο δοκιμής") == "el")
    assert(TextAnalysis.detectLanguage("זהו טקסט בעברית לבדיקה") == "he")
    assert(TextAnalysis.detectLanguage("นี่คือข้อความภาษาไทย") == "th")
    assert(TextAnalysis.detectLanguage("यह हिंदी में एक परीक्षण है") == "hi")
    // Latin text with a couple of CJK chars stays on the stopword path
    assert(TextAnalysis.detectLanguage(
      "the cat and the dog of the house was for them 漢字") == "en")
  }

  test("c4 line filter keeps punctuated prose, drops boilerplate") {
    val docs = Seq(
      (0L, "This sentence is properly terminated.\nshort.\nno punctuation here\n" +
        "Please enable JavaScript to view.\nfunction f() { return 1; }\n" +
        "We value your privacy and use cookie banners.\nAnother good line stays here!"),
      (1L, "nothing survives here\nok.\n{ }")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.c4LineFilter(docs).collect()
    assert(out.length == 1) // doc 1 loses every line and is dropped
    val r = out.head
    assert(r.getAs[Long]("doc_id") == 0L)
    assert(r.getAs[String]("clean_text") ==
      "This sentence is properly terminated.\nAnother good line stays here!")
    assert(r.getAs[Int]("n_kept_lines") == 2)
  }

  test("gopher quality gate: signals and rule thresholds") {
    val good = (1 to 60).map(i => s"word$i").mkString(" ") +
      " the of and that" // 64 words, all alphabetic, 4 stopword hits
    val docs = Seq(
      (0L, good),                                        // passes every rule
      (1L, "tiny doc the of"),                           // < 50 words
      (2L, good + (1 to 19).map(i => s"\n- b$i").mkString + "\nx."), // 19/21 bullet lines > 0.9
      (3L, good + " " + Seq.fill(20)("#").mkString(" ")) // symbol ratio > 0.1
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherSignals(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(0L).getAs[Boolean]("keep"))
    assert(out(0L).getAs[Long]("g_words") == 64L)
    assert(out(0L).getAs[Long]("g_stops") == 4L)
    assert(!out(1L).getAs[Boolean]("keep"))
    assert(!out(2L).getAs[Boolean]("keep"))
    assert(out(2L).getAs[Double]("g_bullet_frac") > 0.9)
    assert(!out(3L).getAs[Boolean]("keep"))
    assert(out(3L).getAs[Double]("g_symbol_ratio") > 0.1)
    assert(out(3L).getAs[Double]("g_alpha_frac") < 0.8)
  }

  test("decontamination flags docs sharing an n-gram with the benchmark") {
    val bench = Seq("alpha beta gamma delta epsilon").toDF("text")
    val docs = Seq(
      (0L, "prefix alpha beta gamma delta epsilon suffix"), // 1 colliding 5-gram
      (1L, "alpha beta gamma delta epsilon alpha beta gamma delta epsilon"), // windows incl. wraps; distinct collisions = 1
      (2L, "totally unrelated words here nothing shared at all"),
      (3L, "short doc")) // fewer tokens than n
      .toDF("doc_id", "text")
    val out = TextAnalysis.decontaminate(docs, bench, n = 5).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(0L) == ((1L, true)))
    assert(out(1L) == ((1L, true)))
    assert(out(2L) == ((0L, false)))
    assert(out(3L) == ((0L, false)))
  }

  test("window dedup stats count shared n-token windows across docs") {
    val docs = Seq(
      (0L, "a b c d e f x0"), // shares windows over "a b c d e f" with doc 1
      (1L, "a b c d e f x1"),
      (2L, "p q r s t u v"), // no partner
      (3L, "tiny")) // fewer tokens than n
      .toDF("doc_id", "text")
    val out = TextAnalysis.windowDedupStats(docs, n = 3).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    // 7 tokens -> 5 windows; docs 0/1 share the 4 windows inside "a b c d e f"
    assert(out(0L) == ((5L, 4L)))
    assert(out(1L) == ((5L, 4L)))
    assert(out(2L) == ((5L, 0L)))
    assert(out(3L) == ((0L, 0L)))
  }

  test("quality signals arithmetic") {
    val docs = Seq((0L, "aa bb cc"), (1L, ""), (2L, "single")).toDF("doc_id", "text")
    val rows = TextAnalysis.qualitySignals(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows(0L).getAs[Long]("n_tokens") == 3L)
    assert(math.abs(rows(0L).getAs[Double]("mean_tok_len") - math.rint(8.0 / 3 * 10000) / 10000) < 1e-9)
    assert(rows(2L).getAs[Long]("n_tokens") == 1L)
  }

  test("paragraph dedup groups identical paragraphs across docs") {
    val docs = Seq(
      (0L, "common intro\nunique tail zero"),
      (1L, "common intro\nunique tail one"),
      (2L, "all alone here\n\n  ")).toDF("doc_id", "text")
    val rows = TextAnalysis.paragraphDedup(docs).collect()
      .map(r => r.getAs[String]("paragraph") ->
        (r.getAs[Long]("keep_id"), r.getAs[Long]("n"))).toMap
    assert(rows("common intro") == (0L, 2L))
    assert(rows("unique tail zero") == (0L, 1L))
    assert(rows("all alone here") == (2L, 1L))
    assert(rows.size == 4) // blank/whitespace paragraphs dropped
  }

  test("top n-grams: sliding window counts and deterministic top-k order") {
    val docs = Seq((0L, "a b c a b"), (1L, "a b x"), (2L, "z")).toDF("doc_id", "text")
    val rows = TextAnalysis.topNgrams(docs, "text", n = 2, k = 3).collect()
      .map(r => (r.getAs[String]("ngram"), r.getAs[Long]("n")))
    // "a b" x3 (twice in doc0, once in doc1); ties broken by ngram asc
    assert(rows.head == ("a b", 3L))
    assert(rows.toSeq == rows.toSeq.sortBy(r => (-r._2, r._1)))
    assert(rows.length == 3)
  }

  test("PII scrub replaces emails and phones, leaves prose intact") {
    val out = Seq(
      "mail me at jo.doe+x@sub.example.org or call +44-555-1234 today",
      "no pii here at all").toDF("text")
      .select(TextAnalysis.piiScrub($"text")).as[String].collect()
    assert(out(0) == "mail me at [EMAIL] or call [PHONE] today")
    assert(out(1) == "no pii here at all")
  }

  test("repetition ratio: 1 - distinct/total lines") {
    val out = Seq("a\na\na\nb", "x\ny\nz", "only").toDF("text")
      .select(TextAnalysis.repetitionRatio($"text")).as[Double].collect()
    assert(math.abs(out(0) - 0.5) < 1e-9) // 4 lines, 2 distinct
    assert(out(1) == 0.0 && out(2) == 0.0)
  }

  test("fingerprint: stable, shifts only locally under edits") {
    val a = TextAnalysis.fingerprint("some long document text with many characters inside it")
    val b = TextAnalysis.fingerprint("some long document text with many characters inside it")
    assert(a == b)
    assert(TextAnalysis.fingerprint("short") == TextAnalysis.fingerprint("short"))
  }

  test("tfidf top-k: rare terms outrank common ones, integer-exact") {
    val docs = Seq(
      (0L, "apple banana cherry apple"),
      (1L, "apple banana durian"),
      (2L, "apple elderberry elderberry")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopK(docs, k = 2).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rank")) ->
        (r.getAs[String]("term"), r.getAs[Long]("score_micro"))).toMap
    // doc 0: apple tf=2 df=3 → 666666; banana tf=1 df=2 → 500000;
    // cherry tf=1 df=1 → 1000000 wins
    assert(out((0L, 1L)) == ("cherry", 1000000L))
    assert(out((0L, 2L)) == ("apple", 666666L))
    // doc 2: elderberry tf=2 df=1 → 2000000 beats apple 333333
    assert(out((2L, 1L)) == ("elderberry", 2000000L))
  }

  test("rarity buckets: frequent-vocab docs head, rare-vocab docs tail") {
    // vocab of 8 terms: c0 appears in every doc (rank 1), u1..u7 once each
    val docs = Seq(
      (0L, "c0 c0 c0 c0"), // mean rank 1 → head
      (1L, "c0 u1"),
      (2L, "c0 u2"),
      (3L, "u3 u4 u5 u6 u7")) // mean rank ~6 of vocab 8 → tail
      .toDF("doc_id", "text")
    val out = TextAnalysis.rarityBuckets(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("bucket")).toMap
    assert(out(0L) == "head")
    assert(out(3L) == "tail")
  }

  test("rarity buckets: bucketed rank == naive global row_number; no vocab-wide partition-less window") {
    // crafted vocabulary: tied counts spanning different 2-char prefixes,
    // 1-char terms (prefix == whole term), multibyte terms, and same-prefix
    // ties — every seam of the (n, first-2-chars) range-bucket decomposition
    val docs = Seq(
      (0L, "aa aa aa ab ab b über über zz th the the them a"),
      (1L, "aa ab ac b a th the them zz über ü"),
      (2L, "the the the them th zz zz a b ü")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.rarityBuckets(docs)
    // exactness: recompute per-doc mean_rank_micro from a driver-side naive
    // ranking (count desc, term asc) over the same tokenizer
    val toks: Seq[(Long, String)] = Seq(
      0L -> "aa aa aa ab ab b über über zz th the the them a",
      1L -> "aa ab ac b a th the them zz über ü",
      2L -> "the the the them th zz zz a b ü")
      .flatMap { case (id, t) =>
        t.toLowerCase.split("\\W+").filter(_.nonEmpty).map(id -> _) }
    val rank = toks.groupBy(_._2).view.mapValues(_.size).toSeq
      .sortBy { case (term, n) => (-n, term) }
      .zipWithIndex.map { case ((term, _), i) => term -> (i + 1L) }.toMap
    val expected = toks.groupBy(_._1).map { case (id, ts) =>
      val sum = ts.map(t => rank(t._2)).sum
      id -> (sum * 1000000L / ts.size)
    }
    val gotMap = got.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("mean_rank_micro")).toMap
    assert(gotMap == expected, s"got $gotMap expected $expected")
    // plan gate (round-4 verdict #2): the only partition-less WindowExec is
    // the bucket-offset cumsum over BUCKET-COUNT rows (it emits _roff); the
    // vocabulary rank window must be partitioned by (n, _rb)
    // descend through AQE wrappers (AdaptiveSparkPlanExec / QueryStageExec
    // are leaf-like: TreeNode.collect does not reach their inner plans)
    def flatten(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val inner = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(q.plan)
        case other => other.children
      }
      p +: inner.flatMap(flatten)
    }
    val wins = flatten(got.queryExecution.executedPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.nonEmpty)
    wins.filter(_.partitionSpec.isEmpty).foreach { w =>
      // identified by its input: the (n, _rb, _rn) bucket-count aggregate
      assert(w.child.output.exists(_.name == "_rn"),
        s"partition-less window over non-bucket rows: ${w.child.output.map(_.name)}")
    }
    assert(wins.exists(_.partitionSpec.nonEmpty),
      "the per-bucket rank window is missing")
  }

  test("encoding signals: ascii/utf8/bom/invalid classes, byte-precise") {
    def bytes(hex: String): Array[Byte] =
      hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val docs = Seq(
      (0L, bytes("68656c6c6f")),       // ascii
      (1L, bytes("68c3a96c6c6f")),     // valid 2-byte seq
      (2L, bytes("f09f9880")),         // valid 4-byte emoji
      (3L, bytes("efbbbf68")),         // BOM + ascii
      (4L, bytes("68ff6c")),           // 0xff never valid
      (5L, bytes("68c3")),             // truncated tail
      (6L, bytes("80686f")),           // bare continuation
      (7L, bytes("c0af")),             // overlong lead C0 rejected (2 bad)
      (8L, Array.emptyByteArray)       // empty: valid ascii of 0 bytes
    ).toDF("doc_id", "raw")
    val out = TextAnalysis.encodingSignals(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bytes"), r.getAs[Long]("n_invalid"),
          r.getAs[String]("encoding")))).toMap
    assert(out(0L) == ((5L, 0L, "ascii")))
    assert(out(1L) == ((6L, 0L, "utf8")))
    assert(out(2L) == ((4L, 0L, "utf8")))
    assert(out(3L) == ((4L, 0L, "utf8-bom")))
    assert(out(4L) == ((3L, 1L, "invalid")))
    assert(out(5L) == ((2L, 1L, "invalid")))
    assert(out(6L) == ((3L, 1L, "invalid")))
    assert(out(7L) == ((2L, 2L, "invalid"))) // C0 rejected, AF bare cont
    assert(out(8L) == ((0L, 0L, "ascii")))
  }

  test("containment: quoted-wholesale doc scores 1.0 one-way, not symmetric") {
    val base = "alpha bravo charlie delta echo foxtrot golf hotel"
    val docs = Seq(
      (0L, base),                                   // fully quoted inside 1
      (1L, base + " plus unique trailing words here and more of them"),
      (2L, "totally different content with nothing shared at all ok")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.containmentPairs(docs, n = 4, minContainMicro = 0L)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Long]("containment_micro")).toMap
    assert(out((0L, 1L)) == 1000000L) // 5 of 5 windows of doc 0 in doc 1
    assert(out((1L, 0L)) < 1000000L)  // doc 1 has extra windows
    assert(!out.contains((0L, 2L)) && !out.contains((2L, 0L)))
  }

  test("containment: hot-window cap drops boilerplate windows") {
    // 80 docs all sharing one boilerplate sentence + unique tails: with the
    // cap at 64, the shared windows are dropped and no pair is emitted
    val docs = (0L until 80L).map(i =>
      (i, s"standard footer legal text here unique$i tail$i")).toDF("doc_id", "text")
    val out = TextAnalysis.containmentPairs(docs, n = 4,
      minContainMicro = 0L, maxDocsPerWindow = 64)
    assert(out.count() == 0L)
    // raising the cap above the corpus restores the pairs
    val out2 = TextAnalysis.containmentPairs(docs, n = 4,
      minContainMicro = 0L, maxDocsPerWindow = 128)
    assert(out2.count() > 0L)
  }

  test("dsir: target-like docs score above off-domain docs") {
    val corpus = Seq(
      (0L, "quantum physics of entangled states and wave functions"),
      (1L, "quantum mechanics and wave equations in physics"),
      (2L, "cheap pills buy now discount offer click here"),
      (3L, "discount offer buy cheap pills now")).toDF("doc_id", "text")
    val target = Seq(
      Tuple1("quantum physics wave functions and entangled states"),
      Tuple1("physics of quantum wave mechanics")).toDF("text")
    val out = TextAnalysis.dsirScores(corpus, target).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("dsir_score")).toMap
    assert(out(0L) > out(2L) && out(0L) > out(3L))
    assert(out(1L) > out(2L) && out(1L) > out(3L))
  }

  test("dsir: hashed variant equals exact on a collision-free corpus") {
    val corpus = Seq(
      (0L, "alpha beta gamma"),
      (1L, "beta gamma delta"),
      (2L, "zeta eta theta iota")).toDF("doc_id", "text")
    val target = Seq(Tuple1("alpha beta gamma delta")).toDF("text")
    // verify the fixture really is collision-free at this bucket count
    import org.apache.spark.sql.functions.{countDistinct, explode, lower, pmod, split, trim, xxhash64}
    val grams = corpus.select(explode(split(lower(trim($"text")), "\\s+")).as("g"))
    val (nGrams, nBuckets) = {
      val r = grams.agg(countDistinct($"g"),
        countDistinct(pmod(xxhash64($"g"), lit(1 << 20)))).head()
      (r.getLong(0), r.getLong(1))
    }
    assert(nGrams == nBuckets, "fixture must be collision-free")
    val exact = TextAnalysis.dsirScores(corpus, target).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("dsir_score")).toMap
    val hashed = TextAnalysis.dsirScores(corpus, target, buckets = 1 << 20).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("dsir_score")).toMap
    assert(exact == hashed)
  }

  test("dsir: bigrams participate (word order matters)") {
    // same unigram multiset, different bigrams — scores must differ
    val corpus = Seq(
      (0L, "new york city weather"),
      (1L, "york new weather city")).toDF("doc_id", "text")
    val target = Seq(Tuple1("new york city weather report")).toDF("text")
    val out = TextAnalysis.dsirScores(corpus, target).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("dsir_score")).toMap
    assert(out(0L) > out(1L))
  }
}

class DHashSpec extends AnyFunSuite {
  import graft.ops.Multimodal

  private def png(w: Int, h: Int)(v: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val p = v(x, y); img.setRGB(x, y, (p << 16) | (p << 8) | p)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("decode and dHash leave ImageIO's cache setting as the caller set it") {
    val img = png(9, 8)((x, _) => x * 20)
    val prev = javax.imageio.ImageIO.getUseCache
    try Seq(true, false).foreach { use =>
      javax.imageio.ImageIO.setUseCache(use)
      assert(Multimodal.decode(img).width == 9)
      assert(Multimodal.dHash(img) == -1L)
      assert(javax.imageio.ImageIO.getUseCache == use)
    } finally javax.imageio.ImageIO.setUseCache(prev)
  }

  test("closed-form hashes: increasing, decreasing, alternating columns") {
    assert(Multimodal.dHash(png(9, 8)((x, _) => x * 20)) == -1L)
    assert(Multimodal.dHash(png(9, 8)((x, _) => 160 - x * 20)) == 0L)
    assert(Multimodal.dHash(png(9, 8)((x, _) => if (x % 2 == 0) 0 else 200))
      == -6148914691236517206L) // 0xAA per row
  }

  test("block-average downscale: a 10x-scaled image hashes identically") {
    val small = Multimodal.dHash(png(9, 8)((x, _) => x * 20))
    val big = Multimodal.dHash(png(90, 80)((x, _) => (x / 10) * 20))
    assert(small == big)
  }

  test("re-encode invariance: same pixels as PNG and BMP hash alike") {
    def enc(fmt: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(18, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 18) {
        val p = (x * 13) % 251; img.setRGB(x, y, (p << 16) | (p << 8) | p)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    assert(Multimodal.dHash(enc("png")) == Multimodal.dHash(enc("bmp")))
  }

  test("corrupt bytes hash to null, never throw") {
    assert(Multimodal.dHash("not an image".getBytes) == null)
    assert(Multimodal.dHash(null) == null)
    assert(Multimodal.dHash(Array.emptyByteArray) == null)
  }
}

class UrlFiltersSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("blocklist: entry blocks its domain and every subdomain, nothing else") {
    val urls = Seq(
      (0L, "http://example.com/a"),
      (1L, "https://ads.example.com/b"),
      (2L, "http://deep.ads.example.com/c"),
      (3L, "http://notexample.com/d"),      // no partial-string match
      (4L, "http://EXAMPLE.COM/e"),         // case-insensitive host
      (5L, "http://user@tracker.net:8080/f"), // userinfo + port stripped
      (6L, "http://safe.org/g")).toDF("doc_id", "url")
    val bl = Seq("example.com", "tracker.net").toDF("domain")
    val kept = UrlFilters.blocklistFilter(spark, urls, bl)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(3L, 6L))
  }

  test("blocklist: query/fragment directly after the host still match") {
    // regression: hostCol split only on '/', so "http://h?x" kept the
    // query in the host and the blocked url slipped through
    val urls = Seq(
      (0L, "http://ads.example.com?track=1"),
      (1L, "http://ads.example.com#frag"),
      (2L, "http://safe.org?x=1")).toDF("doc_id", "url")
    val bl = Seq("example.com").toDF("domain")
    val kept = UrlFilters.blocklistFilter(spark, urls, bl)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L))
  }

  test("allowlist is the exact complement on the same list") {
    val urls = Seq(
      (0L, "http://example.com/a"),
      (1L, "http://sub.example.com/b"),
      (2L, "http://other.net/c")).toDF("doc_id", "url")
    val al = Seq("example.com").toDF("domain")
    val in = UrlFilters.allowlistFilter(spark, urls, al)
      .select("doc_id").as[Long].collect().toSet
    val out = UrlFilters.blocklistFilter(spark, urls, al)
      .select("doc_id").as[Long].collect().toSet
    assert(in == Set(0L, 1L) && out == Set(2L))
  }

  test("blocklist filter plan is a pure map pass: no join, no exchange") {
    val urls = Seq((0L, "http://a.com/x")).toDF("doc_id", "url")
    val bl = Seq("b.com").toDF("domain")
    val plan = UrlFilters.blocklistFilter(spark, urls, bl)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"))
  }

  test("hostSuffixesCol enumerates dot-suffixes") {
    val out = Seq(Tuple1("a.b.example.com")).toDF("h")
      .select(UrlFilters.hostSuffixesCol($"h")).as[Seq[String]].head()
    assert(out == Seq("a.b.example.com", "b.example.com", "example.com", "com"))
  }

  test("registrableDomain: plain, longest-wins, wildcard, exception, default") {
    val rules = Seq("com", "co.uk", "uk", "*.ck", "!www.ck").toDF("rule")
    val hosts = Seq(
      "example.com",           // plain rule
      "a.b.example.com",       // deep subdomain, same registrable
      "example.co.uk",         // longest match wins over "uk"
      "blog.example.CO.UK",    // case-folded
      "foo.bar.ck",            // wildcard: "bar.ck" is public -> foo.bar.ck
      "www.ck",                // exception: public suffix is "ck" -> www.ck
      "sub.www.ck",            // exception still prevails
      "host.unknown",          // default "*": last label public
      "com"                    // host IS a public suffix -> null registrable
    ).toDF("host")
    val out = UrlFilters.registrableDomain(hosts, rules).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(out("example.com") == (("com", "example.com")))
    assert(out("a.b.example.com") == (("com", "example.com")))
    assert(out("example.co.uk") == (("co.uk", "example.co.uk")))
    assert(out("blog.example.co.uk") == (("co.uk", "example.co.uk")))
    assert(out("foo.bar.ck") == (("bar.ck", "foo.bar.ck")))
    assert(out("www.ck") == (("ck", "www.ck")))
    assert(out("sub.www.ck") == (("ck", "www.ck")))
    assert(out("host.unknown") == (("unknown", "host.unknown")))
    assert(out("com") == (("com", null)))
  }

  test("registrableDomain: wildcard spans exactly one label") {
    val rules = Seq("*.ck").toDF("rule")
    // "a.b.ck": candidate "b.ck" matches *.ck (public), so registrable is
    // "a.b.ck"; the 3-label candidate "a.b.ck" must NOT match *.ck
    val out = UrlFilters.registrableDomain(
        Seq("a.b.ck").toDF("host"), rules).collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(out("a.b.ck") == "a.b.ck")
  }

  test("registrableDomain plan: both rule joins broadcast, never sort-merge") {
    val rules = Seq("com", "*.ck").toDF("rule")
    val hosts = Seq("a.example.com").toDF("host")
    val plan = UrlFilters.registrableDomain(hosts, rules)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"))
  }
}

class SitemapSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._
  import graft.functions.Sitemap

  test("robots Sitemap: directives — mixed case, indentation, multiples") {
    val robots =
      "User-agent: *\nDisallow: /x\nSitemap: http://a.com/s.xml\n" +
        "\tSITEMAP:\thttp://a.com/t.xml\nnot-a-sitemap: http://no\n"
    val out = Seq(Tuple1(robots)).toDF("r")
      .select(Sitemap.robotsSitemapsCol($"r")).as[Seq[String]].head()
    assert(out == Seq("http://a.com/s.xml", "http://a.com/t.xml"))
  }

  test("<loc> extraction trims whitespace; index detection routes") {
    val urlset = "<urlset><url><loc>  http://a.com/1 </loc></url>" +
      "<url><loc>http://a.com/2</loc></url></urlset>"
    val index = "<sitemapindex xmlns=\"x\"><sitemap><loc>http://a.com/s1.xml" +
      "</loc></sitemap></sitemapindex>"
    val rows = Seq((0, urlset), (1, index)).toDF("i", "x")
      .select($"i", Sitemap.sitemapLocsCol($"x").as("locs"),
        Sitemap.isSitemapIndexCol($"x").as("idx"))
      .as[(Int, Seq[String], Boolean)].collect()
      .map { case (i, l, b) => i -> ((l, b)) }.toMap
    assert(rows(0) == ((Seq("http://a.com/1", "http://a.com/2"), false)))
    assert(rows(1) == ((Seq("http://a.com/s1.xml"), true)))
  }

  test("<loc> decodes the five XML entities the protocol mandates") {
    // regression: sitemaps.org REQUIRES '&' in a loc to arrive as &amp;,
    // so the raw capture was a literally-wrong crawl target
    val xml = "<urlset><url><loc>http://a.com/p?x=1&amp;y=2</loc></url>" +
      "<url><loc>http://a.com/&lt;odd&gt;&quot;q&quot;&apos;s&apos;</loc></url>" +
      "<url><loc>http://a.com/&amp;lt;literal</loc></url></urlset>"
    val out = Seq(Tuple1(xml)).toDF("x")
      .select(Sitemap.sitemapLocsCol($"x")).as[Seq[String]].head()
    assert(out == Seq(
      "http://a.com/p?x=1&y=2",
      "http://a.com/<odd>\"q\"'s'",
      "http://a.com/&lt;literal")) // &amp;lt; is the ESCAPED literal "&lt;"
  }
}

class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("decode: real PNG header decode via javax.imageio") {
    val img = new java.awt.image.BufferedImage(
      20, 11, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val m = Multimodal.decode(bos.toByteArray)
    assert(m.format == "png")
    assert(m.width == 20 && m.height == 11)
    assert(m.n_bytes == bos.size().toLong)
  }

  test("decode: corrupt image bytes degrade to zero dims, never throw") {
    val jpeg = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 1, 2, 3)
    val m = Multimodal.decode(jpeg)
    assert(m.format == "jpeg")
    assert(m.width == 0 && m.height == 0)
    assert(m.n_bytes == 6L)
    assert(Multimodal.decode(jpeg) == m)
  }

  test("batched decode over a Dataset keeps schema and row count") {
    val rows = Seq(
      Multimodal.MediaRow(0L, Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 9)),
      Multimodal.MediaRow(1L, "GIF89a....".getBytes),
      Multimodal.MediaRow(2L, Array.emptyByteArray))
    val out = Multimodal.decodeAll(spark, spark.createDataset(rows)).collect()
    assert(out.length == 3)
    assert(out.find(_.media_id == 1L).get.format == "gif")
    assert(out.forall(_.feature.length == 16))
  }

  test("WAV header duration: data bytes / byte rate, truncated body ok") {
    def wav(byteRate: Int, dataLen: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(44)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes).putInt(36 + dataLen).put("WAVE".getBytes)
      bb.put("fmt ".getBytes).putInt(16).putShort(1).putShort(2)
        .putInt(44100).putInt(byteRate).putShort(4).putShort(16)
      bb.put("data".getBytes).putInt(dataLen)
      bb.array()
    }
    val m = Multimodal.decode(wav(176400, 882000)) // 5 s of CD stereo
    assert(m.format == "wave" && m.duration_ms == 5000L)
    assert(Multimodal.decode(wav(8000, 4000)).duration_ms == 500L)
    // malformed: truncated mid-header → 0, no throw
    val trunc = wav(8000, 4000).take(20)
    assert(Multimodal.decode(trunc).duration_ms == 0L)
  }

  test("MP4 mvhd duration: v0 and v1 layouts") {
    def mp4(version: Int, timescale: Int, duration: Long): Array[Byte] = {
      val mvhdBody = if (version == 0) 100 else 112
      val bb = java.nio.ByteBuffer.allocate(16 + 8 + 8 + mvhdBody)
      bb.putInt(16).put("ftyp".getBytes).put("mp42".getBytes).putInt(0)
      bb.putInt(16 + mvhdBody).put("moov".getBytes)
      bb.putInt(8 + mvhdBody).put("mvhd".getBytes)
      bb.putInt(version << 24)
      if (version == 0)
        bb.putInt(0).putInt(0).putInt(timescale).putInt(duration.toInt)
      else
        bb.putLong(0L).putLong(0L).putInt(timescale).putLong(duration)
      bb.array()
    }
    val v0 = Multimodal.decode(mp4(0, 600, 1800))
    assert(v0.format == "mp4" && v0.duration_ms == 3000L)
    val v1 = Multimodal.decode(mp4(1, 90000, 450000L))
    assert(v1.duration_ms == 5000L)
    // no moov box → 0
    val noMoov = mp4(0, 600, 1800).take(16)
    assert(Multimodal.decode(noMoov).duration_ms == 0L)
  }

  test("mediaMeta DataFrame projection") {
    val df = Seq((0L, "GIF89axyz".getBytes)).toDF("media_id", "content")
    val meta = Multimodal.mediaMeta(df, "content").collect().head
    assert(meta.getAs[String]("format") == "gif")
    assert(meta.getAs[String]("media_hash").startsWith("1220"))
  }
}

class SeedCandidatesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._
  import graft.functions.Sitemap

  test("dedup across sitemaps, scheme gate, containment eligibility") {
    val maps = Seq(
      "<urlset><url><loc>http://a.com/x</loc></url><url><loc>ftp://a.com/f</loc></url></urlset>",
      "<urlset><url><loc>http://a.com/x</loc></url><url><loc>https://b.org/y</loc></url></urlset>",
      "<urlset><url><loc>http://nomatch.net/z</loc></url></urlset>"
    ).toDF("xml")
    val sources = Seq("a.com", "b.org").toDF("prefix")
    val out = Sitemap.seedCandidates(maps, sources).collect()
      .map(r => r.getString(0) -> ((Option(r.getString(1)), r.getBoolean(2))))
      .toMap
    // the repeated loc deduped; the ftp loc SURFACES (auditable) but is
    // ineligible — the scheme test lives in the eligibility expression
    assert(out.size == 4)
    assert(out("http://a.com/x") == ((Some("a.com"), true)))
    assert(out("https://b.org/y") == ((Some("b.org"), true)))
    assert(out("http://nomatch.net/z") == ((None, false)))
    assert(out("ftp://a.com/f") == ((Some("a.com"), false)))
  }

  test("multi-prefix match resolves to the smallest prefix deterministically") {
    val maps = Seq("<urlset><url><loc>http://a.com/deep/page</loc></url></urlset>")
      .toDF("xml")
    val sources = Seq("a.com/deep", "a.com").toDF("prefix")
    val out = Sitemap.seedCandidates(maps, sources).head()
    assert(out.getString(1) == "a.com")
  }

  test("containment is literal: '_' in a prefix is not a wildcard") {
    val maps = Seq("<urlset><url><loc>http://mysite.com/a</loc></url>" +
      "<url><loc>http://my_site.com/b</loc></url></urlset>").toDF("xml")
    val sources = Seq("my_site.com").toDF("prefix")
    val out = Sitemap.seedCandidates(maps, sources).collect()
      .map(r => r.getString(0) -> r.getBoolean(2)).toMap
    assert(out("http://my_site.com/b"))
    assert(!out("http://mysite.com/a")) // LIKE's _ wildcard would match this
  }

  test("blank prefixes never match; matching is case-insensitive like seedUrl") {
    val maps = Seq("<urlset><url><loc>http://A.COM/x</loc></url>" +
      "<url><loc>http://other.net/y</loc></url></urlset>").toDF("xml")
    val sources = Seq("", "  ", "a.com").toDF("prefix")
    val out = Sitemap.seedCandidates(maps, sources).collect()
      .map(r => r.getString(0) -> ((Option(r.getString(1)), r.getBoolean(2))))
      .toMap
    assert(out("http://A.COM/x") == ((Some("a.com"), true)))
    assert(out("http://other.net/y") == ((None, false))) // '' must not match
  }
}
