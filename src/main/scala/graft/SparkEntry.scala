package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Funcs
import graft.ops.{AsOf, Dedup, Graph, Sampling, Similarity, Skew, TextAnalysis, Multimodal}
import graft.crawl.{Metadata, Collections, Uncrawlables}

/** Driver contract: the operator catalog (SURVEY.md §2) exposed as named
  * queries over the driver-provided parquet tables, each with a DuckDB
  * oracle where the semantics are ANSI-SQL-expressible. Crawl-engine
  * operators that have no SQL twin (UDF kernels, LSH pipelines, the crawl
  * loop itself) are surfaced as rows-only queries.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Synthetic url column shared by the url-shaped operators; the DuckDB
    * oracle reconstructs the identical strings (see urlsSql). */
  private def urlCol(docId: Column): Column = concat(
    when(docId % 10 === 0, lit("ftp")).when(docId % 10 === 1, lit("mailto"))
      .otherwise(lit("http")),
    lit("://site"), (docId % 50).cast("string"), lit(".example.com/doc/"),
    docId.cast("string"),
    when(docId % 7 === 0, lit(".pdf")).otherwise(lit(".html")))

  private val urlsSql =
    """concat(CASE WHEN doc_id % 10 = 0 THEN 'ftp' WHEN doc_id % 10 = 1 THEN 'mailto' ELSE 'http' END,
      | '://site', CAST(doc_id % 50 AS VARCHAR), '.example.com/doc/', CAST(doc_id AS VARCHAR),
      | CASE WHEN doc_id % 7 = 0 THEN '.pdf' ELSE '.html' END)""".stripMargin.replace("\n", "")

  // ------------------------------------------------------------------
  // Derived deterministic inputs shared by oracle-checked operators. The
  // driver's parquet tables are the only source rows; every synthesized
  // column below is reconstructed identically by the DuckDB oracle SQL.
  // ------------------------------------------------------------------

  /** 2017-01-01T00:00:00Z — epoch for synthesized timestamps. */
  private val metaEpoch = 1483228800L

  /** Dedup corpus: clusters of 4 docs sharing 24 cluster-scoped words plus
    * one per-doc word → intra-cluster word-set Jaccard = 24/26, cross-cluster
    * Jaccard = 0 (disjoint vocabularies). The planted truth is pure doc_id
    * arithmetic, so DuckDB can verify LSH output without re-deriving
    * signatures. */
  private def clusterText(docId: Column): Column =
    array_join(transform(sequence(lit(0), lit(23)),
      j => concat(lit("t"), floor(docId / 4).cast("string"), lit("x"),
        j.cast("string"))), " ")

  private def corpusText(docId: Column): Column =
    concat(clusterText(docId), lit(" u"), docId.cast("string"))

  /** Synthetic embeddings on the unit circle: angle theta = (vec_id % 97) *
    * pi/97, vector = [cos theta, sin theta, 0 x 62]. Cosine similarity
    * between two vectors is exactly cos(delta-theta) — 97 well-separated
    * levels (min gap ~5e-4 >> float error), and residue-equal ids are exact
    * duplicates, so ranks/thresholds are stable across engines and ties
    * break identically. */
  private def circleVec(vecId: Column, queryOffset: Double = 0.0): Column = {
    val theta = ((vecId % 97).cast("double") + lit(queryOffset)) * lit(math.Pi / 97)
    concat(array(cos(theta), sin(theta)), array_repeat(lit(0.0), 62))
      .cast("array<float>")
  }

  private def synthEmb(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings").select(col("vec_id"), circleVec(col("vec_id")).as("embedding"))

  /** ANN query vectors sit 0.37 grid units OFF the corpus angle grid, so
    * every query-to-corpus distance level is distinct with >=1e-4 cosine
    * margin (no cross-engine float-noise tie flips); residue-equal corpus
    * ids remain bit-exact ties broken by vec_id in both engines. */
  private def synthQueries(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings").filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"),
        circleVec(col("vec_id"), queryOffset = 0.37).as("query_vec"))

  /** SemDeDup near-dup fixture: residues cluster into PODS of three
    * adjacent angles on a pi/193 grid separated by a 3-step gap — 1-step
    * neighbours (cos ~ 0.999868) chain a pod transitively at tau = 0.9998
    * while 2-step pod endpoints (cos ~ 0.999470) and 3-step pod gaps
    * (cos ~ 0.998812) never pair. Components = pods, closed-form. */
  private def podVec(vecId: Column): Column = {
    val r = vecId % 97
    val idx = floor(r / lit(3)).cast("long") * 5 + (r % 3)
    val theta = idx.cast("double") * lit(math.Pi / 193)
    concat(array(cos(theta), sin(theta)), array_repeat(lit(0.0), 62))
      .cast("array<float>")
  }

  private val annOracleSql =
    """WITH v AS (SELECT vec_id, (vec_id % 97) * pi() / 97 AS th FROM embeddings),
      | q AS (SELECT vec_id AS query_id, (vec_id % 97 + 0.37) * pi() / 97 AS qth FROM embeddings WHERE vec_id < 5)
      | SELECT query_id, vec_id, rank FROM (
      |   SELECT q.query_id, v.vec_id,
      |     row_number() OVER (PARTITION BY q.query_id ORDER BY cos(v.th - q.qth) DESC, v.vec_id) AS rank
      |   FROM q CROSS JOIN v) ranked
      | WHERE rank <= 10""".stripMargin.replace("\n", "")

  /** `img` as PNG bytes, through a memory-cached stream opened for this
    * call (ImageIO's default cache is a temp file per stream). */
  private def pngBytes(img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    javax.imageio.ImageIO.write(img, "png", ios)
    ios.close()
    bos.toByteArray
  }

  /** Deterministic PNG bytes per doc: a width x height black RGB image with
    * doc_id-derived dimensions, encoded by the JDK PNG writer. The m1 query
    * decodes these back with the REAL javax.imageio header path. */
  private val pngUdf = udf { (id: Long) =>
    val w = 16 + (id % 32).toInt
    val h = 8 + (id % 16).toInt
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    pngBytes(img)
  }

  /** 9x8 PNGs with doc_id-derived COLUMN patterns (increasing / decreasing /
    * alternating brightness) — at the dHash grid size, so every cell is one
    * pixel and the expected hash is closed-form per class. */
  private val patternPngUdf = udf { (id: Long) =>
    val img = new java.awt.image.BufferedImage(9, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val cls = (id % 3).toInt
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 9) {
        val v = cls match {
          case 0 => x * 20
          case 1 => 160 - x * 20
          case _ => if (x % 2 == 0) 0 else 200
        }
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    pngBytes(img)
  }

  /** 9x8 PNGs whose dHash equals a CONSTRUCTED 64-bit signature: groups of
    * 6 docs share a parity-protected 16-bit value replicated across all 4
    * chunks (any two groups differ by ≥8 signature bits), and each member
    * flips its own bit r∈0..5 — so within-group pairs sit at hamming 2 and
    * cross-group pairs at ≥6, making m4's expected pair set closed-form.
    * Pixels: per row, walk left→right ±10 around 128 following the row's 8
    * signature bits (MSB-first scan order — the dHash bit layout). */
  private val sigPngUdf = udf { (id: Long) =>
    val g = id / 6
    val v = ((g & 0x7fffL) << 1) | (java.lang.Long.bitCount(g & 0x7fffL) % 2)
    val sig = (v | (v << 16) | (v << 32) | (v << 48)) ^ (1L << (id % 6).toInt)
    val img = new java.awt.image.BufferedImage(9, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < 8) {
      var p = 128
      img.setRGB(0, y, (p << 16) | (p << 8) | p)
      var x = 0
      while (x < 8) {
        val bit = (sig >>> (63 - (y * 8 + x))) & 1L
        p = if (bit == 1L) p + 10 else p - 10
        img.setRGB(x + 1, y, (p << 16) | (p << 8) | p)
        x += 1
      }
      y += 1
    }
    pngBytes(img)
  }

  /** Deterministic WAV header bytes: byteRate 1000 B/s, declared data-chunk
    * length 100+doc_id%1000 bytes ⇒ duration_ms = 100+doc_id%1000 by header
    * arithmetic (no payload needed — header-only parse). */
  private val wavUdf = udf { (id: Long) =>
    val dataLen = (100 + id % 1000).toInt
    val bb = java.nio.ByteBuffer.allocate(44)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("ISO-8859-1")).putInt(36 + dataLen)
      .put("WAVE".getBytes("ISO-8859-1"))
    bb.put("fmt ".getBytes("ISO-8859-1")).putInt(16)
      .putShort(1).putShort(1).putInt(1000).putInt(1000).putShort(1).putShort(8)
    bb.put("data".getBytes("ISO-8859-1")).putInt(dataLen)
    bb.array()
  }

  /** Deterministic MP4 header bytes: ftyp + moov/mvhd v0 with timescale
    * 1000 and duration 500+doc_id%5000 ⇒ duration_ms = 500+doc_id%5000. */
  private val mp4Udf = udf { (id: Long) =>
    val duration = (500 + id % 5000).toInt
    val bb = java.nio.ByteBuffer.allocate(132) // big-endian (ISO BMFF)
    bb.putInt(16).put("ftyp".getBytes("ISO-8859-1"))
      .put("mp42".getBytes("ISO-8859-1")).putInt(0)
    bb.putInt(116).put("moov".getBytes("ISO-8859-1"))
    bb.putInt(108).put("mvhd".getBytes("ISO-8859-1"))
    bb.putInt(0).putInt(0).putInt(0) // version/flags, ctime, mtime
    bb.putInt(1000).putInt(duration) // timescale, duration
    bb.array() // remaining mvhd fields stay zeroed
  }

  /** t4 fixture texts (the oracle reconstructs them arithmetically and
    * recomputes the rolling hash from scratch — see t4OracleSql). */
  private val t4Texts: Seq[String] = (0 until 8).map(i =>
    s"doc $i alpha${i * 7} beta${i * 13} gamma${i * 29} delta${i * 31} epsilon zeta eta theta iota kappa lambda")

  /** DuckDB twin of TextAnalysis.fingerprint over the t4 fixture texts:
    * byte-level Rabin-Karp roll (h' = h*257 + b_in - 257^16*b_out mod 2^64)
    * via a recursive CTE, splitmix-style finalizer multiply done in 32-bit
    * halves (hl*C + ((hh*C) mod 2^32)*2^32 mod 2^64 — a direct 64x64
    * product can exceed signed HUGEINT), min over all windows, reinterpreted
    * as signed 64-bit. 257^16 mod 2^64 is itself computed by a CTE. */
  private val t4OracleSql = {
    val M = "CAST(18446744073709551616 AS HUGEINT)" // 2^64
    s"""WITH RECURSIVE
      | texts(tid, text) AS (SELECT i, 'doc ' || CAST(i AS VARCHAR) || ' alpha' || CAST(i*7 AS VARCHAR) || ' beta' || CAST(i*13 AS VARCHAR) || ' gamma' || CAST(i*29 AS VARCHAR) || ' delta' || CAST(i*31 AS VARCHAR) || ' epsilon zeta eta theta iota kappa lambda' FROM range(8) t(i)),
      | bytes AS (SELECT tid, CAST(p.p AS INT) AS p, CAST(ord(substr(text, CAST(p.p AS INT), 1)) AS HUGEINT) AS b FROM texts, range(1, 201) p(p) WHERE p.p <= length(text)),
      | pw(n, v) AS (SELECT 0, CAST(1 AS HUGEINT) UNION ALL SELECT n + 1, (v * 257) % $M FROM pw WHERE n < 16),
      | roll(tid, p, h) AS (
      |   SELECT b.tid, 1, b.b FROM bytes b WHERE b.p = 1
      |   UNION ALL
      |   SELECT r.tid, r.p + 1,
      |     ((r.h * 257 + cur.b - CASE WHEN r.p + 1 >= 17 THEN ((SELECT v FROM pw WHERE n = 16) * old.b) % $M ELSE CAST(0 AS HUGEINT) END) % $M + $M) % $M
      |   FROM roll r
      |   JOIN bytes cur ON cur.tid = r.tid AND cur.p = r.p + 1
      |   LEFT JOIN bytes old ON old.tid = r.tid AND old.p = r.p + 1 - 16),
      | mixed AS (SELECT tid, ((h % CAST(4294967296 AS HUGEINT)) * CAST(11400714819323198485 AS HUGEINT) + (((h // CAST(4294967296 AS HUGEINT)) * CAST(11400714819323198485 AS HUGEINT)) % CAST(4294967296 AS HUGEINT)) * CAST(4294967296 AS HUGEINT)) % $M AS m FROM roll WHERE p >= 16),
      | fp AS (SELECT tid, CAST(min(CASE WHEN m >= CAST(9223372036854775808 AS HUGEINT) THEN m - $M ELSE m END) AS BIGINT) AS fingerprint FROM mixed GROUP BY tid)
      | SELECT d.doc_id, fp.fingerprint FROM documents d JOIN fp ON fp.tid = d.doc_id % 8""".stripMargin.replace("\n", "")
  }

  /** t5 fixture texts — one per Latin stopword profile + und + one per
    * non-Latin script family (round-3 breadth: script-based detection). */
  private val t5Texts: Seq[String] = Seq(
    "the cat and the dog of the house is that it was for them",
    "der hund die katze und das haus ist nicht mit ein auf sich",
    "les chats des chiens et est une dans que qui pour pas",
    "el gato los perros las casas y que en un una es no",
    "il gatto di cane che e un per non con del si da",
    "zzz qqq xxx yyy www vvv",
    "これは日本語のテスト文書です ひらがなとカタカナと漢字",
    "这是一个中文测试文档 内容全部都是汉字写成的",
    "это тестовый документ на русском языке для проверки",
    "هذا نص تجريبي باللغة العربية لاختبار الكشف",
    "αυτό είναι ένα δοκιμαστικό κείμενο στα ελληνικά",
    "이것은 한국어 테스트 문서입니다 한글 내용")
  private val t5Expected: Seq[String] =
    Seq("en", "de", "fr", "es", "it", "und", "ja", "zh", "ru", "ar", "el", "ko")

  private def pickByMod(c: Column, texts: Seq[String]): Column =
    texts.zipWithIndex.foldLeft(lit(texts.head)) { case (acc, (txt, i)) =>
      when(c % texts.length === i, lit(txt)).otherwise(acc)
    }

  /** Metadata entity rows derived from documents (hash-chained versions;
    * see graft.crawl.Metadata). doc_id %4==0 docs have no metadata; %10==5
    * plants the empty-content sentinel; %9==0 v2 has a NULL body; %11==0 v1
    * is soft-deleted. */
  private def metaFrame(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val base = docs.filter(col("doc_id") % 4 =!= 0).select(col("doc_id"),
      concat(lit("1220"), sha2(col("text").cast("binary"), 256)).as("subject"),
      concat(lit("key"), (col("doc_id") % 5).cast("string")).as("key_id"))
    def link(j: Int, prev: Column): Column = concat(lit("1220"),
      sha2(concat(col("key_id"), col("subject"), lit(j.toString), prev)
        .cast("binary"), 256))
    val withH = base
      .withColumn("h0", when(col("doc_id") % 10 === 5,
        lit(Metadata.EmptyContentHash)).otherwise(link(0, lit(""))))
      .withColumn("h1", link(1, col("h0")))
      .withColumn("h2", link(2, col("h1")))
    withH.select(col("doc_id"), col("subject"), col("key_id"), explode(array(
        struct(lit(0).as("j"), col("h0").as("hash"), lit("").as("prev")),
        struct(lit(1).as("j"), col("h1").as("hash"), col("h0").as("prev")),
        struct(lit(2).as("j"), col("h2").as("hash"), col("h1").as("prev"))))
        .as("v"))
      .select(col("v.hash").as("hash"),
        timestamp_seconds(lit(metaEpoch) + col("doc_id") * 3 + col("v.j"))
          .as("time_stamp"),
        col("key_id"), col("subject"), col("v.prev").as("prev"),
        when(col("doc_id") % 9 === 0 && col("v.j") === 2, lit(null).cast("string"))
          .otherwise(concat(lit("{\"title\":\"doc "), col("doc_id").cast("string"),
            lit(" v"), col("v.j").cast("string"), lit("\"}"))).as("meta"),
        (col("doc_id") % 11 === 0 && col("v.j") === 1).as("deleted"))
  }

  /** DuckDB twin of metaFrame as a WITH-clause body (tables inlined). */
  private val metaSqlCtes =
    """md AS (SELECT d.doc_id, '1220' || sha256(d.text) AS subject, 'key' || CAST(d.doc_id % 5 AS VARCHAR) AS key_id FROM documents d WHERE d.doc_id % 4 <> 0),
      | mh AS (SELECT *, CASE WHEN doc_id % 10 = 5 THEN '1220e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855' ELSE '1220' || sha256(key_id || subject || '0' || '') END AS h0 FROM md),
      | mh2 AS (SELECT *, '1220' || sha256(key_id || subject || '1' || h0) AS h1 FROM mh),
      | mh3 AS (SELECT *, '1220' || sha256(key_id || subject || '2' || h1) AS h2 FROM mh2),
      | meta AS (SELECT doc_id, subject, key_id,
      |   CASE v.j WHEN 0 THEN h0 WHEN 1 THEN h1 ELSE h2 END AS hash,
      |   CASE v.j WHEN 0 THEN '' WHEN 1 THEN h0 ELSE h1 END AS prev,
      |   TIMESTAMP '2017-01-01 00:00:00' + INTERVAL (doc_id * 3 + v.j) SECOND AS time_stamp,
      |   CASE WHEN doc_id % 9 = 0 AND v.j = 2 THEN NULL ELSE '{"title":"doc ' || CAST(doc_id AS VARCHAR) || ' v' || CAST(v.j AS VARCHAR) || '"}' END AS meta,
      |   (doc_id % 11 = 0 AND v.j = 1) AS deleted
      | FROM mh3 CROSS JOIN (VALUES (0),(1),(2)) AS v(j))""".stripMargin.replace("\n", "")

  /** Collections / collection_items / url-id side derived from documents. */
  private def collectionItemsFrame(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(
      concat(lit("coll"), (col("doc_id") % 10).cast("string")).as("collection_id"),
      concat(lit("1220"), sha2(urlCol(col("doc_id")).cast("binary"), 256)).as("url_id"),
      floor(col("doc_id") / 10).cast("long").as("idx"),
      lit("").as("description"))

  private def urlIdFrame(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(
      concat(lit("1220"), sha2(urlCol(col("doc_id")).cast("binary"), 256)).as("id"),
      urlCol(col("doc_id")).as("url"),
      concat(lit("doc "), col("doc_id").cast("string")).as("title"))

  private val collectionSqlCtes =
    s"""items AS (SELECT 'coll' || CAST(doc_id % 10 AS VARCHAR) AS collection_id, '1220' || sha256($urlsSql) AS url_id, doc_id // 10 AS idx FROM documents),
      | urlids AS (SELECT '1220' || sha256($urlsSql) AS id, $urlsSql AS url, 'doc ' || CAST(doc_id AS VARCHAR) AS title FROM documents)""".stripMargin.replace("\n", "")

  /** Flagship: multi-aggregate scan (driver smoke-checks rows > 0). */
  def entry(spark: SparkSession): DataFrame = {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    li.groupBy("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("cnt"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------------- scans / sorts / pagination (S1, O1, O2)
    "s1_scan_paginate" -> ((s, d) => {
      t(s, d, "orders")
        .orderBy(desc("o_orderdate"), asc("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        .offset(50).limit(100)
    }),
    "s2_point_lookup" -> ((s, d) => {
      t(s, d, "lineitem").filter(col("l_orderkey") === 1)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
    }),
    "o1_topk" -> ((s, d) => {
      t(s, d, "orders").orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .select("o_orderkey", "o_totalprice").limit(100)
    }),

    // ---------------- filters / predicates (P2, P3, P10, P13)
    "p2_scheme_filter" -> ((s, d) => {
      t(s, d, "documents").select(col("doc_id"), urlCol(col("doc_id")).as("url"))
        .filter(col("url").startsWith("http://") || col("url").startsWith("https://"))
    }),
    "p3_staleness_gate" -> ((s, d) => {
      val ev = t(s, d, "events")
      val cutoff = ev.agg((max(col("ts")) - expr("INTERVAL 7 DAY")).as("cutoff"))
      ev.crossJoin(broadcast(cutoff)).filter(col("ts") < col("cutoff"))
        .select("event_id", "user_id", "ts")
    }),
    "p10_null_split" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0, lit(null)).otherwise(col("source")).as("maybe_src"))
        .filter(col("maybe_src").isNotNull)
    }),
    "p13_ilike_search" -> ((s, d) => {
      t(s, d, "documents")
        .filter(lower(col("source")).contains("src1"))
        .orderBy("doc_id").select("doc_id", "source").limit(50)
    }),

    // P16: domain blocklist — an entry blocks its domain and every
    // subdomain. Hosts get a planted "ads." subdomain on doc_id%4==0 so
    // both match modes are exercised: "site3.example.com" must block plain
    // AND ads. variants (suffix), "ads.site10.example.com" only the exact
    // subdomain; "blocked.example.org" matches nothing. The oracle states
    // the surviving set in closed form.
    "p16_domain_blocklist" -> ((s, d) => {
      import s.implicits._
      val url = concat(lit("http://"),
        when(col("doc_id") % 4 === 0, lit("ads.")).otherwise(lit("")),
        lit("site"), (col("doc_id") % 50).cast("string"),
        lit(".example.com/doc/"), col("doc_id").cast("string"))
      val urls = t(s, d, "documents").select(col("doc_id"), url.as("url"))
      val bl = Seq("site3.example.com", "ads.site10.example.com",
        "blocked.example.org").toDF("domain")
      graft.ops.UrlFilters.blocklistFilter(s, urls, bl)
    }),
    // P17: URL features for frontier-policy ML — path depth, query-param
    // count, digit fraction, tracking-param flag, all built-ins (the cheap
    // per-url signals a learned scheduler ranks on); oracle recomputes with
    // DuckDB string ops
    "p17_url_features" -> ((s, d) => {
      val url = concat(urlCol(col("doc_id")),
        when(col("doc_id") % 4 === 0, lit("?utm_source=x&ref=1"))
          .when(col("doc_id") % 4 === 1, lit("?q=1"))
          .otherwise(lit("")))
      val withUrl = t(s, d, "documents").select(col("doc_id"), url.as("url"))
      val rest = substring_index(col("url"), "://", -1)
      val q = when(col("url").contains("?"),
        substring_index(col("url"), "?", -1)).otherwise(lit(""))
      withUrl.select(col("doc_id"), col("url"),
        length(col("url")).cast("long").as("url_len"),
        (length(rest) - length(regexp_replace(rest, "/", "")))
          .cast("long").as("path_depth"),
        when(length(q) === 0, lit(0L))
          .otherwise((length(q) - length(regexp_replace(q, "&", "")) + 1)
            .cast("long")).as("n_params"),
        expr("length(regexp_replace(url, '[^0-9]', '')) * 1000000L div length(url)")
          .as("digits_micro"),
        col("url").contains("utm_").as("has_tracking"))
    }),
    // P5: SuspectedContentUrl UDF validated against the synthesized truth
    // (.pdf urls are content; .html is a notContent extension)
    "p5_suspected_content" -> ((s, d) => {
      t(s, d, "documents").select(col("doc_id"),
        Funcs.suspectedContentUdf(urlCol(col("doc_id")), lit("")).as("suspected"))
    }),
    // P6: host whitelist semi-join; host extracted by the Go-parity parser,
    // oracle reconstructs hosts arithmetically
    "p6_host_whitelist" -> ((s, d) => {
      val urls = t(s, d, "documents").select(col("doc_id"), urlCol(col("doc_id")).as("url"))
        .withColumn("host", Funcs.hostUdf(col("url")))
      val wl = s.createDataFrame(Seq(Tuple1("site7.example.com"), Tuple1("site9.example.com"),
        Tuple1("site23.example.com"))).toDF("host")
      urls.join(broadcast(wl), Seq("host"), "left_semi").select("doc_id", "url", "host")
    }),
    // P7: Source.MatchesUrl containment (strings.Contains, source.go:112-119)
    "p7_matches_url" -> ((s, d) => {
      t(s, d, "documents").select(col("doc_id"), urlCol(col("doc_id")).as("url"))
        .filter(col("url").contains("doc/1"))
    }),
    // F2: Go net/url component extraction validated against constructed truth
    "f2_url_parts" -> ((s, d) => {
      val u = urlCol(col("doc_id"))
      t(s, d, "documents").select(col("doc_id"),
        Funcs.schemeUdf(u).as("scheme"), Funcs.hostUdf(u).as("host"),
        Funcs.pathUdf(u).as("path"))
    }),
    // S5: WARC-shaped record emit (core/url.go:146-158)
    "s5_warc_emit" -> ((s, d) => {
      t(s, d, "documents").select(col("doc_id"),
        concat(lit("<urn:sha256:"), sha2(col("text").cast("binary"), 256), lit(">"))
          .as("warc_record_id"),
        urlCol(col("doc_id")).as("warc_target_uri"),
        col("n_chars").as("content_length"))
    }),
    // S5b: FULL WARC/1.0 response-record serialization (warc/writer.go
    // framing; fixed field order — see functions/Warc.scala)
    "s5b_warc_record" -> ((s, d) => {
      t(s, d, "documents").select(col("doc_id"),
        graft.functions.Warc.responseRecordCol(
          urlCol(col("doc_id")),
          lit("2017-01-01T00:00:00Z"),
          concat(lit("<urn:sha256:"), sha2(col("text").cast("binary"), 256), lit(">")),
          col("text")).as("warc_record"))
    }),
    // S7: WARC record PARSE — emit the full record (the s5b serialization),
    // parse it back with the built-in column parser, and surface the parsed
    // fields. The oracle states the parsed fields directly from the table
    // (ground truth), so this gates parse(emit(x)) == x without the oracle
    // ever reimplementing the parser.
    "s7_warc_parse" -> ((s, d) => {
      val rec = graft.functions.Warc.responseRecordCol(
        urlCol(col("doc_id")),
        lit("2017-01-01T00:00:00Z"),
        concat(lit("<urn:sha256:"), sha2(col("text").cast("binary"), 256), lit(">")),
        col("text"))
      t(s, d, "documents")
        .select(col("doc_id"), graft.functions.Warc.parsedRecordCol(rec).as("p"))
        .select(col("doc_id"),
          col("p.version").as("version"),
          col("p.warc_type").as("warc_type"),
          col("p.target_uri").as("target_uri"),
          col("p.record_id").as("record_id"),
          col("p.content_length").as("content_length"),
          col("p.body").as("body"))
    }),
    // S8: WARC segment sink + cdx index + point reads — write every doc as
    // a record-per-gzip-member segment, then re-hydrate EVERY record via
    // distributed byte-range point reads off the returned cdx index. The
    // oracle states the records from the table directly, so the gate covers
    // the full write→index→seek→parse loop.
    "s8_warc_cdx" -> ((s, d) => {
      import graft.sources.WarcWriter
      val rows = t(s, d, "documents").select(
        urlCol(col("doc_id")).as("url"),
        lit("2017-01-01T00:00:00Z").as("date_iso"),
        concat(lit("<urn:sha256:"), sha2(col("text").cast("binary"), 256),
          lit(">")).as("record_id"),
        col("text").cast("binary").as("body"))
      val dir = java.nio.file.Files.createTempDirectory("s8cdx").toString
      val idx = WarcWriter.writeSegments(rows.repartition(4), dir)
      WarcWriter.readIndexed(idx.toDF())
        .select(col("target_uri").as("url"), col("record_id"),
          col("content_length"), col("body").cast("string").as("body"))
    }),
    // S9: WET-style conversion-record emit (the WARC→WET shape of a
    // Common-Crawl text-extraction pass): extracted text framed as a
    // WARC/1.0 `conversion` record, WARC-Refers-To linking back to the s5b
    // response record. All built-ins — the full-archive WET emit codegens.
    "s9_wet_emit" -> ((s, d) => {
      t(s, d, "documents").select(col("doc_id"),
        graft.functions.Warc.conversionRecordCol(
          urlCol(col("doc_id")),
          lit("2017-01-01T00:00:00Z"),
          concat(lit("<urn:sha256:"),
            sha2(concat(lit("wet:"), col("text")).cast("binary"), 256), lit(">")),
          concat(lit("<urn:sha256:"), sha2(col("text").cast("binary"), 256),
            lit(">")),
          col("text")).as("wet_record"))
    }),
    // H5: per-host crawl-budget apportionment (largest-remainder, exact
    // integer arithmetic — the oracle reimplements Hamilton independently
    // in SQL, so the gate covers base shares, remainder ranking, and the
    // exact-total property)
    "h5_crawl_budget" -> ((s, d) => {
      val hosts = t(s, d, "documents")
        .groupBy(concat(lit("site"), (col("doc_id") % 50).cast("string"),
          lit(".example.com")).as("host"))
        .agg(sum(col("n_chars") % 97 + 1).as("weight"))
      graft.ops.HostAnalysis.crawlBudget(hosts, budget = 1000L)
    }),
    // S10: payload-deduplicated archive emit — first capture per distinct
    // body becomes a full response record, every re-capture a revisit
    // record (identical-payload-digest profile) pointing at it. Bodies are
    // the planted cluster corpus (groups of 4 share bytes), so the oracle
    // reconstructs BOTH record shapes and the election closed-form.
    "s10_warc_revisit" -> ((s, d) => {
      val pages = t(s, d, "documents").select(
        urlCol(col("doc_id")).as("url"),
        date_format((col("doc_id") + metaEpoch).cast("timestamp"),
          "yyyy-MM-dd'T'HH:mm:ss'Z'").as("date_iso"),
        clusterText(col("doc_id")).as("body"))
      graft.functions.Warc.archiveDedupRecords(pages)
    }),
    // S11: the REST of the reference's WARC record-type family (request /
    // resource / metadata / continuation — record.go declares eight types;
    // response, warcinfo, conversion, revisit are gated by s5/s9/s10) —
    // one row carries all four serializations, byte-compared to a SQL
    // reconstruction
    "s11_warc_records" -> ((s, d) => {
      val u = urlCol(col("doc_id"))
      val date = lit("2017-01-01T00:00:00Z")
      def rid(p: String) = concat(lit("<urn:sha256:"),
        sha2(concat(lit(p), u).cast("binary"), 256), lit(">"))
      t(s, d, "documents").select(col("doc_id"),
        graft.functions.Warc.requestRecordCol(u, date, rid("req:"),
          concat(lit("GET /doc/"), col("doc_id").cast("string"),
            lit(" HTTP/1.1"))).as("request_rec"),
        graft.functions.Warc.resourceRecordCol(u, date, rid("res:"),
          lit("text/plain"), col("text")).as("resource_rec"),
        graft.functions.Warc.metadataRecordCol(u, date, rid("meta:"),
          rid("req:"), concat(lit("via: "), u)).as("metadata_rec"),
        graft.functions.Warc.continuationRecordCol(u, date, rid("cont:"),
          concat(lit("<urn:sha256:"), sha2(col("text").cast("binary"), 256),
            lit(">")),
          lit(2), substring(col("text"), 1, 10)).as("continuation_rec"))
    }),
    // A9: sharded-bloom URL-seen prefilter + exact confirm — must equal the
    // exact anti-join (the j8 oracle re-used as this query's oracle). Uses
    // the scale path: per-shard filters built by executors, probed via the
    // lazy shard registry; the driver never holds a filter.
    "a9_bloom_seen" -> ((s, d) => {
      import graft.crawl.ShardedBloom
      val docs = t(s, d, "documents")
      val cand = docs.filter(col("doc_id") < 300).select(urlCol(col("doc_id")).as("url"))
      val seen = docs.filter(col("doc_id") % 3 === 0).select(urlCol(col("doc_id")).as("url"))
      val dir = java.nio.file.Files.createTempDirectory("a9shard").toString
      ShardedBloom.buildToDir(s, seen, "url", shards = 4,
        perShardItems = 16384, fpp = 0.01, dir = dir)
      val hit = ShardedBloom.mightContainCol(s, dir, 4, col("url"),
        requireShards = true)
      val tagged = cand.withColumn("hit", hit)
      tagged.filter(!col("hit")).select("url")
        .unionByName(tagged.filter(col("hit")).select("url")
          .join(seen, Seq("url"), "left_anti"))
    }),
    // F10: headers [k,v,...] slice <-> map round trip (url.go:139-144,514-522).
    // Emitted as JSON scalars: the driver's pandas compare cannot sort
    // array/map columns (round-1 harness err), and to_json is a faithful,
    // order-preserving serialization of both shapes.
    "f10_headers_map" -> ((s, d) => {
      val hdrs = array(lit("Content-Length"), col("n_chars").cast("string"),
        lit("Content-Type"), lit("text/plain; charset=utf-8"))
      t(s, d, "documents").select(col("doc_id"),
        to_json(hdrs).as("headers_json"),
        to_json(map_from_arrays(
          filter(transform(hdrs, (x, i) => when(i % 2 === 0, x)), _.isNotNull),
          filter(transform(hdrs, (x, i) => when(i % 2 === 1, x)), _.isNotNull)))
          .as("headers_map_json"))
    }),

    // F13: anchor-text extraction — link CONTEXT (href + visible text),
    // planted HTML with nested markup, entities, and an href-less <a>;
    // closed-form oracle
    "f13_anchor_text" -> ((s, d) => {
      val id = col("doc_id").cast("string")
      val html = concat(
        lit("<html><body><p>pre</p><a href=\"/doc/"), id,
        lit(".html\">Doc <b>"), id,
        lit("</b> link</a> between <a href='http://ext.example.org/"), id,
        lit("'>ext &amp; more</a><a name=\"x\">no href</a></body></html>"))
      t(s, d, "documents")
        .select(col("doc_id"),
          explode(Funcs.extractAnchorsUdf(html.cast("binary"))).as("a"))
        .select(col("doc_id"), col("a._1").as("href"), col("a._2").as("anchor_text"))
    }),
    // F12: sitemap discovery — robots.txt `Sitemap:` directives (mixed
    // case, indented), sitemap-vs-index routing, <loc> extraction with
    // whitespace trim. The oracle states expected JSON in closed form.
    "f12_sitemaps" -> ((s, d) => {
      import graft.functions.Sitemap
      val site = concat(lit("http://site"), (col("doc_id") % 50).cast("string"),
        lit(".example.com"))
      val robots = concat(lit("User-agent: *\nDisallow: /private\nSitemap: "),
        site, lit("/sitemap.xml\n  sitemap: "), site, lit("/news.xml\n"))
      val xml = when(col("doc_id") % 3 === 0,
        concat(lit("<sitemapindex><sitemap><loc>"), site,
          lit("/s1.xml</loc></sitemap></sitemapindex>")))
        .otherwise(concat(lit("<urlset><url><loc> "), site, lit("/doc/"),
          col("doc_id").cast("string"), lit(".html </loc></url><url><loc>"),
          site, lit("/about.html</loc></url><url><loc>"), site,
          // entity-escaped loc, as the protocol mandates for '&'
          lit("/search?q=a&amp;b</loc></url></urlset>")))
      t(s, d, "documents").select(col("doc_id"),
        to_json(Sitemap.robotsSitemapsCol(robots)).as("sitemaps_json"),
        to_json(Sitemap.sitemapLocsCol(xml)).as("locs_json"),
        Sitemap.isSitemapIndexCol(xml).as("is_index"))
    }),

    // ---------------- joins (J1, J4, J5, J6, J7, J8)
    "j1_equi_join" -> ((s, d) => {
      val o = t(s, d, "orders"); val c = t(s, d, "customer")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .select("o_orderkey", "c_name", "o_totalprice")
    }),
    "j4_join_sort_limit" -> ((s, d) => {
      val o = t(s, d, "orders"); val c = t(s, d, "customer")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .orderBy(desc("o_orderdate"), asc("o_orderkey"))
        .select("o_orderkey", "c_name", "o_orderdate").limit(20)
    }),
    "j5_semi_exists" -> ((s, d) => {
      val c = t(s, d, "customer"); val o = t(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    }),
    "j6_anti_not_exists" -> ((s, d) => {
      val c = t(s, d, "customer"); val o = t(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    }),
    "j7_containment_theta" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val cand = docs.filter(col("doc_id") < 200)
        .select(urlCol(col("doc_id")).as("c_url"))
      val prefs = docs.filter(col("doc_id") < 20)
        .select(concat(lit("doc/"), col("doc_id").cast("string")).as("pref"))
      cand.join(broadcast(prefs), expr("c_url LIKE concat('%', pref, '%')"))
        .select("c_url", "pref")
    }),
    "j8_frontier_seen_anti" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val cand = docs.filter(col("doc_id") < 300)
        .select(urlCol(col("doc_id")).as("url"))
      val seen = docs.filter(col("doc_id") % 3 === 0)
        .select(urlCol(col("doc_id")).as("url"))
      cand.join(seen, Seq("url"), "left_anti")
    }),

    // ---------------- aggregates (A1, A2, A3, A5, A6, A7)
    "a1_count_global" -> ((s, d) =>
      t(s, d, "lineitem").agg(count(lit(1)).as("n_rows"))),
    "a2_groupby_count" -> ((s, d) =>
      t(s, d, "documents").groupBy("source").agg(count(lit(1)).as("n"))),
    "a3_multi_agg" -> ((s, d) => {
      t(s, d, "lineitem").groupBy("l_returnflag", "l_linestatus").agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("cnt"))
    }),
    "a5_hierarchical_rollup" -> ((s, d) => {
      val c = t(s, d, "customer"); val n = t(s, d, "nation"); val r = t(s, d, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name").agg(count(lit(1)).as("n_customers"),
          round(sum("c_acctbal"), 2).as("sum_acctbal"))
    }),
    "a6_latest_per_key" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(desc("ts"), desc("event_id"))
      t(s, d, "events").withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("user_id", "event_id", "event_type", "ts")
    }),
    "a7_filtered_count" -> ((s, d) =>
      t(s, d, "events").groupBy("event_type").agg(count(lit(1)).as("n"))),

    // ---------------- set ops (§2.6)
    "u1_union_dedup" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val a = docs.filter(col("doc_id") < 100).select(urlCol(col("doc_id")).as("url"))
      val b = docs.filter(col("doc_id").between(50, 150)).select(urlCol(col("doc_id")).as("url"))
      a.unionByName(b).distinct()
    }),

    // ---------------- windows / streaming-shaped (A6 twin, T-series)
    "w1_running_count" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "events")
        .select(col("event_id"), col("user_id"),
          count(lit(1)).over(w).as("running_n"))
    }),
    "st1_tumbling_window" -> ((s, d) => {
      t(s, d, "events")
        .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("win.start").as("win_start"), col("event_type"), col("n"))
    }),
    // event-time sessionization (the mapGroupsWithState/session_window shape
    // of a streaming deployment, run as its batch twin here): per-user
    // sessions close after a 30-min gap; window end = last event + gap.
    // value sums as exact integer cents so the oracle compare never rides
    // on float association order.
    "st2_session_window" -> ((s, d) => {
      t(s, d, "events")
        .groupBy(session_window(col("ts"), "30 minutes").as("win"), col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("cents"))
        .select(col("win.start").as("session_start"),
          col("win.end").as("session_end"), col("user_id"), col("n"), col("cents"))
    }),
    // ST3: the streaming near-dup gate run FOR REAL — a MemoryStream feeds
    // the planted dedup corpus (clusters of 4, intra-cluster shingle
    // Jaccard 24/26) docId-ascending across four micro-batches through
    // nearDupStream's checkpointed banded-bucket state, so intra-cluster
    // pairs straddle batch boundaries and must match via PERSISTED state.
    // After the documented downstream pair-dedup, the emission set is
    // exactly the planted truth d2 gates: every intra-cluster (a<b) pair
    // (est ~0.92 >> 0.5), no cross-cluster pair (disjoint vocabularies:
    // est 0). Only the oracle side is closed-form; the Spark side is a
    // genuine streaming query with state-store-backed cross-batch state.
    "st3_neardup_stream" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import graft.streaming.StreamingOps
      val docs = t(s, d, "documents")
        .select(col("doc_id"), corpusText(col("doc_id")).as("text"))
        .collect() // bounded gate fixture; the stream feed is a test harness
        .map(r => StreamingOps.SigIn(r.getLong(0),
          new java.sql.Timestamp((metaEpoch + r.getLong(0)) * 1000L),
          Dedup.minhashSignature(r.getString(1), k = 1, numHashes = 64).toSeq))
        .sortBy(_.docId)
      implicit val sqlCtx = s.sqlContext
      val in = MemoryStream[StreamingOps.SigIn]
      val sink = s"st3_sink_${st3Runs.incrementAndGet()}"
      // state-store partition count is fixed at query start from
      // spark.sql.shuffle.partitions; size it to the gate fixture's band-row
      // volume (≈ docs × bands ≈ 8k narrow rows/run) instead of the
      // session's core-count constant — 32 HDFS-backed state stores each
      // commit delta+metadata files EVERY micro-batch, and at this state
      // size that is pure file-system overhead (guide §2.2: size reduce
      // partitions to the data). A production stream sizes this the same
      // way, via its own shuffle-partition conf at first start; grouping is
      // logical, so the emitted hit set is identical at any partition count.
      val partsKey = "spark.sql.shuffle.partitions"
      val savedParts = s.conf.get(partsKey)
      s.conf.set(partsKey, "4")
      try {
        val q = StreamingOps.nearDupStream(in.toDS(), numHashes = 64,
            bands = 16, minEstJaccard = 0.5, cap = 64,
            watermarkDelay = "10 minutes", stateTtlMs = 24L * 3600 * 1000)
          .writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try {
          val per = math.max(docs.length / 4, 1)
          docs.grouped(per).foreach { chunk =>
            in.addData(chunk.toSeq); q.processAllAvailable()
          }
        } finally q.stop()
      } finally s.conf.set(partsKey, savedParts) // restore only after the
      // stream is fully stopped: start() is async and the first batch plans
      // (and pins the state layout) after it returns
      s.table(sink)
        .select(col("matchId").as("a_id"), col("docId").as("b_id"))
        .dropDuplicates("a_id", "b_id")
    }),

    // ---------------- scalar functions (F3, F6, F9, F11)
    "f3_filename" -> ((s, d) => {
      t(s, d, "documents").select(col("doc_id"),
        regexp_extract(urlCol(col("doc_id")), "[^/]*$", 0).as("file_name"))
    }),
    "f6_multihash" -> ((s, d) => {
      t(s, d, "documents").select(col("doc_id"),
        concat(lit("1220"), sha2(col("text").cast("binary"), 256)).as("doc_hash"))
    }),
    "f9_extract_links" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id") < 100)
      val base = concat(lit("http://site"), (col("doc_id") % 50).cast("string"),
        lit(".example.com/doc/"), col("doc_id").cast("string"), lit(".html"))
      val html = concat(
        lit("<html><body><a href=\"/d/"), col("doc_id").cast("string"),
        lit("\">x</a><a href=\"rel"), (col("doc_id") % 7).cast("string"),
        lit(".html\">y</a></body></html>"))
      docs.select(col("doc_id"), posexplode(
          Funcs.extractLinksUdf(base, html.cast("binary"))).as(Seq("href_idx", "link")))
        .select("doc_id", "href_idx", "link")
    }),
    // F4 reverse: MIME -> extension (ffi.MimeTypeExtension) over a pinned
    // MIME list; expected extensions pinned in the oracle (explicit curated
    // entries + deterministic backfill)
    "f4_mime_ext" -> ((s, d) => {
      val mimes = Seq("application/pdf", "text/html", "video/mp4",
        "image/jpeg", "audio/aac", "application/x-unknown")
      t(s, d, "documents").select(col("doc_id"),
        Funcs.mimeExtUdf(pickByMod(col("doc_id"), mimes)).as("ext"))
    }),
    "f11_date_trunc" -> ((s, d) => {
      t(s, d, "events").select(col("event_id"),
        date_trunc("second", col("ts")).as("ts_sec"),
        date_trunc("hour", col("ts")).as("ts_hour"))
    }),

    // ---------------- dedup suite (training-data ops)
    "d1_dedup_exact" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"), sha2(col("text").cast("binary"), 256).as("text_hash"))
        .groupBy("text_hash")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dup_count"))
    }),
    // D2: MinHash-LSH candidate pairs over the planted dedup corpus
    // (intra-cluster word Jaccard 24/26 ~ 0.92 → est >= 0.5 with huge
    // margin; cross-cluster vocab is disjoint → no candidates)
    "d2_minhash_pairs" -> ((s, d) => {
      val corpus = t(s, d, "documents")
        .select(col("doc_id"), corpusText(col("doc_id")).as("text"))
      Dedup.minhashPairs(corpus, k = 1, numHashes = 64, bands = 16,
        minEstJaccard = 0.5).select("a_id", "b_id")
    }),
    // D3: SimHash pairs — cluster texts are byte-identical → hamming 0;
    // cross-cluster sigs are ~32 bits apart (disjoint token sets)
    "d3_simhash_pairs" -> ((s, d) => {
      val corpus = t(s, d, "documents")
        .select(col("doc_id"), clusterText(col("doc_id")).as("text"))
      Dedup.simhashPairs(corpus, maxHamming = 3)
        .select(col("a_id"), col("b_id"), col("hamming").cast("int").as("hamming"))
    }),
    // D4: LSH candidates re-ranked by exact k=1 shingle Jaccard — the value
    // is pure counting arithmetic (24/26), identical in DuckDB
    "d4_jaccard_verified" -> ((s, d) => {
      val corpus = t(s, d, "documents")
        .select(col("doc_id"), corpusText(col("doc_id")).as("text"))
      val cands = Dedup.minhashPairs(corpus, k = 1, numHashes = 64, bands = 16,
        minEstJaccard = 0.0)
      Dedup.verifyJaccard(cands, corpus, k = 1, minJaccard = 0.5)
        .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
    }),
    // D5: exact embedding dup — join on the vector's content hash (never the
    // raw array: at scale the join key must be a fixed-width digest), then
    // confirm with exact array equality
    "d5_embed_exact_dup" -> ((s, d) => {
      val e = synthEmb(s, d)
        .withColumn("vkey", sha2(to_json(col("embedding")).cast("binary"), 256))
      e.alias("a").join(e.alias("b"),
          col("a.vkey") === col("b.vkey") && col("a.vec_id") < col("b.vec_id") &&
            col("a.embedding") === col("b.embedding"))
        .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
    }),
    // D6: banded hyperplane LSH + exact cosine verify over the circle
    // fixture (true pairs: residue distance <= 9 ⇔ cosine >= 0.95)
    "d6_embed_cosine_pairs" -> ((s, d) =>
      Dedup.embeddingDupPairs(synthEmb(s, d), dim = 64, rowsPerBand = 4,
        bands = 24, minCosine = 0.95).select("a_id", "b_id")),
    // D9: the linear-output near-dup structure (the 100 TB API): one
    // member→representative edge per vector — O(corpus) rows even when
    // every vector is a byte-identical duplicate
    "d9_embed_dup_members" -> ((s, d) =>
      Dedup.embeddingDupStructure(synthEmb(s, d), dim = 64, rowsPerBand = 4,
        bands = 24, minCosine = 0.95)._1.select("vec_id", "rep_id")),
    // D9b: verified BETWEEN-group edges, one row per group pair regardless
    // of group sizes (with D9 this carries the dense D6 view in linear size)
    "d9b_embed_rep_pairs" -> ((s, d) => {
      val repPairs = Dedup.embeddingDupStructure(synthEmb(s, d), dim = 64,
        rowsPerBand = 4, bands = 24, minCosine = 0.95)._2
      repPairs.select(least(col("rep_a"), col("rep_b")).as("a_id"),
        greatest(col("rep_a"), col("rep_b")).as("b_id"))
    }),
    // D16: keep-BEST-per-cluster dedup — minhash pairs over the planted
    // quadruple corpus, clusters keep the highest planted quality score
    // ((37*doc_id) % 101 — coprime, so scores are distinct within a group)
    // instead of min id; the oracle recomputes the argmax independently
    "d16_keep_best" -> ((s, d) => {
      val corpus = t(s, d, "documents")
        .select(col("doc_id"), corpusText(col("doc_id")).as("text"))
      val pairs = Dedup.minhashPairs(corpus, k = 1, numHashes = 64,
        bands = 16, minEstJaccard = 0.5)
      val scores = t(s, d, "documents")
        .select(col("doc_id"), (col("doc_id") * 37 % 101).as("score"))
      Dedup.componentDedupBy(pairs, scores)
    }),
    // D17: cross-document exact-substring REMOVAL (Lee et al. EXACTSUBSTR
    // cut pass): the 24 shared cluster tokens strip from every non-first
    // group member (8-token windows at starts 0..16 cover tokens 0..23),
    // leaving only the per-doc unique token; the first member and the
    // window overlapping the unique token survive untouched
    "d17_substr_strip" -> ((s, d) =>
      TextAnalysis.windowDedupRemove(
        t(s, d, "documents")
          .select(col("doc_id"), corpusText(col("doc_id")).as("text")),
        n = 8)),
    // D15: SemDeDup (Abbas et al. 2023) at exact-duplicate threshold — on
    // the circle fixture distinct residues top out at cos(pi/97) ~ 0.99948
    // < tau, so semantic groups are exactly the residue classes and the
    // keep rule degenerates to min id (one rep per group): the pipeline
    // (cluster assign -> within-cell pair -> verify -> components -> keep)
    // gates closed-form end to end.
    // (lloydIters trimmed: both gates' outcomes are provably invariant to
    // the cell layout — d15 groups are exact-dup classes whatever the
    // cells, d15b runs one cell — so training rounds are pure latency here)
    "d15_semdedup" -> ((s, d) =>
      Dedup.semDedup(synthEmb(s, d), dim = 64, minCosine = 0.9998, nlist = 8,
        lloydIters = 2)),
    // D15b: SemDeDup grouping with real NEAR-dup transitivity: pods of
    // three adjacent angles chain via 1-step pairs (cos(pi/193) ~ 0.99987
    // >= tau) while pod endpoints never pair directly (2 steps ~ 0.99947 <
    // tau) — the component closure does the work; nlist=1 so no trained
    // cell boundary can split a pod (SemDeDup's documented approximation).
    "d15b_semdedup_groups" -> ((s, d) =>
      Dedup.semDedup(t(s, d, "embeddings").select(col("vec_id"),
          podVec(col("vec_id")).as("embedding")),
        dim = 64, minCosine = 0.9998, nlist = 1, lloydIters = 1)
        .select("vec_id", "group_id")),

    // ---------------- similarity search (circle fixture: distinct,
    // well-separated cosine levels; ties only between identical vectors,
    // broken by vec_id in both engines)
    "ann1_bruteforce_topk" -> ((s, d) =>
      Similarity.bruteForceTopK(synthEmb(s, d), synthQueries(s, d), k = 10)
        .select(col("query_id"), col("vec_id"), col("rank"))),
    "ann2_lsh_topk" -> ((s, d) =>
      Similarity.lshTopK(synthEmb(s, d), synthQueries(s, d), dim = 64, k = 10,
          rowsPerBand = 4, bands = 24)
        .select(col("query_id"), col("vec_id"), col("rank"))),
    // ANN3: the IVF coarse-quantizer path (probe 3/8 cells; on the circle
    // fixture the trained cells are contiguous arcs, so 3 adjacent cells
    // cover every true top-10 — recall 1 by construction, same oracle)
    "ann3_ivf_topk" -> ((s, d) =>
      Similarity.ivfTopK(synthEmb(s, d), synthQueries(s, d), dim = 64, k = 10,
          nlist = 8, nprobe = 3)
        .select(col("query_id"), col("vec_id"), col("rank"))),
    // ANN4: product-quantization ADC scan + exact re-rank — must equal the
    // brute-force oracle. The corpus is a 97-class angle grid, so the
    // re-rank pool is sized to hold ~10 whole classes at sf0.1 (ADC scores
    // are class-constant; the pool must span every class that can reach
    // the true top-k).
    "ann4_pq_topk" -> ((s, d) =>
      Similarity.pqTopK(synthEmb(s, d), synthQueries(s, d), dim = 64, k = 10,
          m = 4, ksub = 16, rerank = 1024)
        .select(col("query_id"), col("vec_id"), col("rank"))),
    // ANN5: the billion-vector composition — PQ codec UNDER the IVF coarse
    // quantizer, ADC scanning only nprobe/nlist of the codes (row-count
    // asserted in SimilaritySpec). Same oracle: on the circle fixture the
    // trained cells are contiguous arcs, 3 adjacent cells cover every true
    // top-10, and the class-sized rerank pool + exact re-rank recover the
    // brute-force ranking exactly.
    "ann5_ivfpq_topk" -> ((s, d) =>
      Similarity.ivfpqTopK(synthEmb(s, d), synthQueries(s, d), dim = 64,
          k = 10, nlist = 8, nprobe = 3, m = 4, ksub = 16, rerank = 1024)
        .select(col("query_id"), col("vec_id"), col("rank"))),

    // A11: adaptive recrawl — change-rate estimation over a planted
    // observation history (4 visits per url: static / always-changing /
    // changed-once classes) and the derived revisit interval; closed-form
    // oracle
    "a11_change_rates" -> ((s, d) => {
      val obs = t(s, d, "documents")
        .select(urlCol(col("doc_id")).as("url"), col("doc_id"),
          explode(sequence(lit(0), lit(3))).as("vt"))
        .withColumn("hash",
          when(col("doc_id") % 3 === 0, lit("h-static"))
            .when(col("doc_id") % 3 === 1,
              concat(lit("h-"), col("doc_id"), lit("-"), col("vt")))
            .otherwise(concat(lit("h-"), (col("vt") / 2).cast("int"))))
        .select("url", "vt", "hash")
      graft.crawl.Recrawl.changeRates(obs,
        baseSec = 86400L, minSec = 3600L, maxSec = 2592000L)
    }),

    // ---------------- text analysis
    "t1_lang_dist" -> ((s, d) =>
      t(s, d, "documents").groupBy("lang").agg(count(lit(1)).as("n"))),
    "t2_quality_signals" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val txt = col("text")
      val chars = length(txt).cast("long")
      val toks = when(length(trim(txt)) === 0, lit(0L))
        .otherwise((length(trim(txt)) - length(replace(trim(txt), lit(" "), lit(""))) + 1).cast("long"))
      docs.select(col("doc_id"), chars.as("n_chars_c"), toks.as("n_tokens"),
        when(toks > 0, round(chars.cast("double") / toks, 4)).otherwise(lit(0.0))
          .as("mean_tok_len"))
    }),
    "t3_token_count" -> ((s, d) => {
      val txt = col("text")
      t(s, d, "documents").select(col("doc_id"),
        when(length(trim(txt)) === 0, lit(0L))
          .otherwise((length(trim(txt)) - length(replace(trim(txt), lit(" "), lit(""))) + 1).cast("long"))
          .as("n_tokens"))
    }),
    "t6_extract_text" -> ((s, d) => {
      // visible-text extraction over synthesized html; oracle reconstructs
      // the expected text arithmetically
      val html = concat(lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit("</title><script>var x=1;</script></head><body><p>alpha "),
        col("doc_id").cast("string"), lit("</p><!-- hidden --><p>beta</p></body></html>"))
      t(s, d, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"),
          Funcs.extractTextUdf(html.cast("binary")).as("page_text"))
    }),
    // T4: rolling-hash fingerprint over 8 pinned fixture texts — the oracle
    // carries the precomputed literals (deterministic function, values
    // pinned in the SQL so behavior drift fails the gate)
    "t4_fingerprint" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.fingerprintUdf(pickByMod(col("doc_id"), t4Texts))
          .as("fingerprint"))),
    // T5: language id over one pinned text per profile language
    "t5_langid_detect" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.langIdUdf(pickByMod(col("doc_id"), t5Texts))
          .as("lang_detected"))),
    // T21: per-paragraph language-consistency vote — planted multi-
    // paragraph docs from the t5 language fixtures: pure (2x en), mixed
    // majority (en en de -> 666666 ppm), a tie (fr+de -> min-lang 'de'),
    // and a single-paragraph doc; the oracle recomputes every signal from
    // doc_id arithmetic
    "t21_mixed_lang" -> ((s, d) => {
      val m = col("doc_id") % 4
      val text = when(m === 0, lit(t5Texts(0) + "\n\n" + t5Texts(0)))
        .when(m === 1,
          lit(t5Texts(0) + "\n\n" + t5Texts(0) + "\n\n" + t5Texts(1)))
        .when(m === 2, lit(t5Texts(2) + "\n\n" + t5Texts(1)))
        .otherwise(lit(t5Texts(8)))
      TextAnalysis.mixedLanguageSignals(
        t(s, d, "documents").select(col("doc_id"), text.as("text")))
    }),

    // T22: PII localization counts — planted repeats make every class
    // count a closed-form function of doc_id
    "t22_pii_counts" -> ((s, d) => {
      val text = concat(
        repeat(lit("reach j.doe@example.com now "),
          (col("doc_id") % 3 + 1).cast("int")),
        repeat(lit("call +1-555-0199 "), (col("doc_id") % 2).cast("int")),
        lit("server 192.168.0.1 done"))
      TextAnalysis.piiCounts(
        t(s, d, "documents").select(col("doc_id"), text.as("text")))
    }),

    // ---------------- multimodal: REAL image decode — synthesize PNGs with
    // doc_id-derived dimensions, decode them back via javax.imageio
    "m1_media_meta" -> ((s, d) =>
      Multimodal.mediaMeta(
        t(s, d, "documents").select(col("doc_id"), pngUdf(col("doc_id")).as("content")),
        "content").select("doc_id", "format", "width", "height")),
    // M2: REAL A/V container-header probe — synthesized WAV/RIFF and
    // MP4 moov/mvhd headers with doc_id-derived durations, decoded back by
    // the pure-JVM header parsers (no codecs; arithmetic oracle)
    "m2_av_meta" -> ((s, d) =>
      Multimodal.mediaMeta(
        t(s, d, "documents").select(col("doc_id"),
          when(col("doc_id") % 2 === 0, wavUdf(col("doc_id")))
            .otherwise(mp4Udf(col("doc_id"))).as("content")),
        "content").select("doc_id", "format", "duration_ms")),
    // M3: perceptual image dedup signature — REAL raster decode + integer
    // dHash over planted 9x8 column-pattern PNGs; closed-form per-class
    // hash constants in the oracle (increasing → all bits 1, decreasing →
    // 0, alternating → 0xAA per row)
    "m3_image_dhash" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        Multimodal.dHashUdf(patternPngUdf(col("doc_id"))).as("dhash"))),
    // M4: image NEAR-dup pairs — dHash signatures through the generic
    // 4x16-bit banding (the d3 machinery): groups of 6 perturbed images
    // pair at hamming 2, cross-group images sit at >=6 and never pair
    "m4_image_neardup" -> ((s, d) =>
      Dedup.signaturePairs(
        t(s, d, "documents").select(col("doc_id"),
          Multimodal.dHashUdf(sigPngUdf(col("doc_id"))).as("sim")),
        maxHamming = 3)),

    // ---------------- host-level crawl hygiene (ops/HostAnalysis.scala)
    // H1: crawl-trap signals — hosts site0..4 are planted traps (every url
    // serves one content key); every third url carries a session param
    "h1_trap_signals" -> ((s, d) => {
      val doc = col("doc_id")
      val urls = t(s, d, "documents").select(
        concat(lit("site"), (doc % 50).cast("string")).as("host"),
        concat(lit("http://site"), (doc % 50).cast("string"),
          lit(".example.com/p/"), doc.cast("string"),
          when(doc % 3 === 0, concat(lit("?session="), doc.cast("string")))
            .otherwise(lit(""))).as("url"),
        when(doc % 50 < 5, concat(lit("T"), (doc % 50).cast("string")))
          .otherwise(concat(lit("c"), doc.cast("string"))).as("content_key"))
      graft.ops.HostAnalysis.trapSignals(urls)
    }),
    // H2: mirror-host detection — hosts h and h+25 are planted exact
    // mirrors (content key depends only on (doc_id%25, doc_id/50)), other
    // host pairs are content-disjoint; MinHash banding proposes, exact set
    // Jaccard (integer micro-units) verifies
    "h2_mirror_hosts" -> ((s, d) => {
      val doc = col("doc_id")
      val pages = t(s, d, "documents").select(
        concat(lit("site"), (doc % 50).cast("string")).as("host"),
        concat(lit("c"), (doc % 25).cast("string"), lit("_"),
          floor(doc / 50).cast("string")).as("content_key"))
      graft.ops.HostAnalysis.mirrorHosts(pages)
        .orderBy("host_a", "host_b")
    }),
    // T18: per-host boilerplate stripping (CCNet template removal) — NAV
    // and FOOTER lines repeat on every page of a host (stripped); PROMO
    // appears on half the pages (under the 0.8 fraction — kept); the body
    // line is unique per doc (kept)
    "t18_boilerplate_strip" -> ((s, d) => {
      val doc = col("doc_id")
      val h = (doc % 50).cast("string")
      val docs = t(s, d, "documents").select(doc,
        concat(lit("site"), h).as("host"),
        concat(lit("NAV site"), h, lit("\nFOOTER site"), h,
          when(floor(doc / 50) % 2 === 0, lit("\nPROMO")).otherwise(lit("")),
          lit("\nbody "), doc.cast("string")).as("text"))
      graft.ops.HostAnalysis.boilerplateStrip(docs)
    }),
    // T19: unigram-LM cross-entropy — the absolute-perplexity leg of the
    // CCNet quality trio (t15 rank proxy, t16 DSIR ratio); +1-smoothed
    // corpus LM, per-doc (rounded nll sum, token count)
    "t19_unigram_nll" -> ((s, d) =>
      TextAnalysis.unigramCrossEntropy(t(s, d, "documents"))),
    // H3: per-host URL templates — hex runs -> H then digit runs -> N;
    // three planted shapes per host (/p/N, /cal/N/N?sid=N, /x/H)
    "h3_url_templates" -> ((s, d) => {
      val doc = col("doc_id")
      val urls = t(s, d, "documents").select(
        concat(lit("site"), (doc % 50).cast("string")).as("host"),
        concat(lit("http://site"), (doc % 50).cast("string"),
          lit(".example.com"),
          when(doc % 3 === 0, concat(lit("/p/"), doc.cast("string")))
            .when(doc % 3 === 1, concat(lit("/cal/2020/"),
              (doc % 12).cast("string"), lit("?sid="), doc.cast("string")))
            .otherwise(concat(lit("/x/deadbeefdeadbeef"),
              doc.cast("string")))).as("url"))
      graft.ops.HostAnalysis.urlTemplates(urls)
    }),
    // T20: linear quality-classifier inference (fastText-style) — exact
    // integer margins over a fixed micro-unit weight table; keep =
    // mean margin >= 0.1 by cross-multiplication
    "t20_quality_classifier" -> ((s, d) => {
      import s.implicits._
      val w = Seq(("data", 500000L), ("query", 300000L),
        ("slow", -400000L), ("the", -100000L)).toDF("term", "w_micro")
      graft.ops.Classify.linearScores(t(s, d, "documents"), w,
        thrMicro = 100000L)
    }),
    // F14: registrable domain (eTLD+1) under PSL rule semantics — five
    // planted host shapes exercise plain/longest/wildcard/exception/default
    "f14_registrable_domain" -> ((s, d) => {
      import s.implicits._
      val doc = col("doc_id")
      val i = doc.cast("string")
      val hosts = t(s, d, "documents").select(
        when(doc % 5 === 0, concat(lit("w"), i, lit(".shop.com")))
          .when(doc % 5 === 1, concat(lit("x"), i, lit(".site.co.uk")))
          .when(doc % 5 === 2, concat(lit("y"), i, lit(".zone.ck")))
          .when(doc % 5 === 3, concat(lit("z"), i, lit(".www.ck")))
          .otherwise(concat(lit("q"), i, lit(".edge.unknown"))).as("host"))
      val rules = Seq("com", "co.uk", "uk", "*.ck", "!www.ck").toDF("rule")
      graft.ops.UrlFilters.registrableDomain(hosts, rules)
    }),
    // G5: redirect-chain resolution by pointer doubling — 4-hop planted
    // chains collapse to their terminal; every 10th group closes into a
    // 4-cycle, whose pointers return to themselves after 32 (= 0 mod 4)
    // hops and are flagged unresolved
    "g5_resolve_redirects" -> ((s, d) => {
      val doc = col("doc_id")
      val g = floor(doc / 4).cast("string")
      val pos = (doc % 4).cast("int")
      def node(p: Column) = concat(lit("http://r"), g, lit("/p"), p.cast("string"))
      val redirects = t(s, d, "documents").select(
        node(pos).as("src"),
        when(floor(doc / 4) % 10 === 0 && pos === 3, node(lit(0)))
          .otherwise(node(pos + 1)).as("dst"))
      graft.ops.Graph.resolveRedirects(redirects)
    }),
    // H4: retroactive robots-compliance audit — hosts site0-24 disallow
    // /private, hosts site25-49 publish no robots; docs%4==0 live under
    // /private
    "h4_robots_audit" -> ((s, d) => {
      import s.implicits._
      val doc = col("doc_id")
      val pages = t(s, d, "documents").select(
        concat(lit("site"), (doc % 50).cast("string")).as("host"),
        concat(lit("http://site"), (doc % 50).cast("string"),
          lit(".example.com"),
          when(doc % 4 === 0, concat(lit("/private/"), doc.cast("string")))
            .otherwise(concat(lit("/pub/"), doc.cast("string")))).as("url"))
      val robots = (0 until 25)
        .map(k => (s"site$k", "User-agent: *\nDisallow: /private"))
        .toDF("host", "robots_txt")
      graft.ops.HostAnalysis.robotsAudit(pages, robots, agent = "GraftBot")
    }),
    // G6: anchor-text index — 10 hub targets x 3 planted anchor texts;
    // k=2 prunes each hub's least-frequent text; counts and the
    // (n desc, text asc) tie order are pure doc_id arithmetic
    "g6_anchor_index" -> ((s, d) => {
      val target = concat(lit("http://hub"), (col("doc_id") % 10).cast("string"),
        lit(".example.com/"))
      val text = concat(lit("anchor"), (col("doc_id") % 3).cast("string"))
      graft.ops.Graph.anchorIndex(
        t(s, d, "documents").select(target.as("target"),
          text.as("anchor_text")),
        k = 2)
    }),
    // H6: robots-policy drift — sites 0-24 RETIRE their /private rule while
    // sites 25-49 (previously rule-less) ADD a /pub one: /pub pages on
    // high sites become newly disallowed, /private pages on low sites are
    // newly re-allowed, everything else is stable
    "h6_robots_drift" -> ((s, d) => {
      import s.implicits._
      val doc = col("doc_id")
      val pages = t(s, d, "documents").select(
        concat(lit("site"), (doc % 50).cast("string")).as("host"),
        concat(lit("http://site"), (doc % 50).cast("string"),
          lit(".example.com"),
          when(doc % 4 === 0, concat(lit("/private/"), doc.cast("string")))
            .otherwise(concat(lit("/pub/"), doc.cast("string")))).as("url"))
      val robotsOld = (0 until 25)
        .map(k => (s"site$k", "User-agent: *\nDisallow: /private"))
        .toDF("host", "robots_txt")
      val robotsNew = (25 until 50)
        .map(k => (s"site$k", "User-agent: *\nDisallow: /pub"))
        .toDF("host", "robots_txt")
      graft.ops.HostAnalysis.robotsDrift(pages, robotsOld, robotsNew,
        agent = "GraftBot")
    }),
    // S12: sitemap-to-seed pipeline — discovered <loc> urls gated by
    // fetchable scheme (the ftp loc drops) and source-prefix containment
    // (sites 0-24 are registered): the J7/SeedUrlHandler composition
    "s12_sitemap_seed" -> ((s, d) => {
      import s.implicits._
      val xml = concat(lit("<urlset><url><loc>http://site"),
        (col("doc_id") % 50).cast("string"), lit(".example.com/page/"),
        col("doc_id").cast("string"), lit("</loc></url><url><loc>ftp://site"),
        (col("doc_id") % 50).cast("string"), lit(".example.com/bad/"),
        col("doc_id").cast("string"), lit("</loc></url></urlset>"))
      val sources = (0 until 25).map(k => s"site$k.example.com").toDF("prefix")
      graft.functions.Sitemap.seedCandidates(
        t(s, d, "documents").select(xml.as("xml")), sources)
    }),
    // D14: incremental delta-vs-corpus dedup — the per-wave production
    // shape: each cluster's %4==0 member re-arrives (id-shifted) as the
    // delta and must match all 4 of its cluster's corpus members; no
    // corpus-internal pair is ever recomputed
    "d14_delta_dedup" -> ((s, d) => {
      val corpus = t(s, d, "documents")
        .select(col("doc_id"), corpusText(col("doc_id")).as("text"))
      // text computed BEFORE the id shift: a same-select rename would make
      // the higher-order-function lambda inside corpusText resolve doc_id
      // against the shifted OUTPUT column (t250000x... clusters), not input
      val delta = t(s, d, "documents").filter(col("doc_id") % 4 === 0)
        .select(col("doc_id"), corpusText(col("doc_id")).as("text"))
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      Dedup.minhashDeltaPairs(corpus, delta, k = 1, numHashes = 64,
        bands = 16, minEstJaccard = 0.5).select("corpus_id", "delta_id")
    }),

    // ---------------- metadata entity (core/metadata.go, queries.go:202-257)
    // A4: content docs (planted: doc_id%7==0) having live metadata
    "a4_meta_semi" -> ((s, d) => {
      val content = t(s, d, "documents").filter(col("doc_id") % 7 === 0)
      Metadata.contentWithMetadataCount(content,
        concat(lit("1220"), sha2(col("text").cast("binary"), 256)),
        metaFrame(s, d))
    }),
    // A6 twin over real metadata: DISTINCT ON (subject) latest for key
    "a6b_latest_meta" -> ((s, d) =>
      Metadata.latestForKey(metaFrame(s, d), "key1", limit = 40, offset = 5)),
    // A8: count for key, excluding the empty-content sentinel hash
    "a8_meta_count" -> ((s, d) =>
      Metadata.countForKey(metaFrame(s, d), "key0")),

    // ---------------- collections (core/collection.go, queries.go:4-110)
    "j4b_collection_items" -> ((s, d) =>
      Collections.items(collectionItemsFrame(s, d), urlIdFrame(s, d),
        "coll3", limit = 20, offset = 5)),
    "a7b_collection_length" -> ((s, d) =>
      Collections.lengths(collectionItemsFrame(s, d))),

    // P15: fetchbot Mux dispatch (handler.go:126-233) — full ResponseMatcher
    // surface incl. longest-path-prefix wins and registration-order ties;
    // compiled to one codegen'd when-chain over response rows
    "p15_mux_dispatch" -> ((s, d) => {
      import graft.crawl.Mux
      val rules = Seq(
        Mux.ResponseRule("deep", method = Some("GET"), pathPrefix = Some("/doc/1")),
        Mux.ResponseRule("docs", method = Some("GET"), pathPrefix = Some("/doc/")),
        Mux.ResponseRule("head_html", method = Some("HEAD"),
          contentType = Some("text/html")),
        Mux.ResponseRule("heads", method = Some("HEAD")))
      t(s, d, "documents").select(col("doc_id"),
          when(col("doc_id") % 3 === 0, lit("HEAD")).otherwise(lit("GET")).as("method"),
          urlCol(col("doc_id")).as("url"),
          lit(200).as("status"),
          when(col("doc_id") % 2 === 0, lit("text/html; charset=utf-8"))
            .otherwise(lit("application/pdf")).as("content_type"))
        .select(col("doc_id"), Mux.dispatch(rules).as("handler"))
    }),

    // ---------------- uncrawlables (queries.go:729-751): enqueue anti-gate
    "p14_uncrawlable_gate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val cands = docs.select(col("doc_id"), urlCol(col("doc_id")).as("url"))
      val unc = docs.filter(col("doc_id") % 13 === 0)
        .select(urlCol(col("doc_id")).as("url"))
      Uncrawlables.gate(cands, unc).select("doc_id", "url")
    }),

    // ---------------- sources read API (handlers.go:110-230 list shape)
    // qSourcesCrawling semantics: crawl=true AND deleted=false (P9; the
    // planted n%7==3 sources are soft-deleted and must not appear)
    "s3_list_sources" -> ((s, d) => {
      val sources = t(s, d, "documents")
        .select((col("doc_id") % 50).as("n")).distinct()
        .select(concat(lit("site"), col("n").cast("string"), lit(".example.com"))
          .as("host"),
          timestamp_seconds(lit(metaEpoch) + col("n")).as("created"),
          (col("n") % 2 === 0).as("crawl"),
          (col("n") % 7 === 3).as("deleted"))
      sources.filter(col("crawl") && !col("deleted"))
        .orderBy(desc("created"), asc("host"))
        .select("host", "created").offset(5).limit(10)
    }),
    // peripheral catalogs (core/queries.go:387-395, 810-821): list shapes
    "s4_list_datarepos" -> ((s, d) => {
      val repos = t(s, d, "documents").select((col("doc_id") % 8).as("m")).distinct()
        .select(concat(lit("repo"), col("m").cast("string")).as("id"),
          timestamp_seconds(lit(metaEpoch) + col("m") * 60).as("created"),
          concat(lit("data repo "), col("m").cast("string")).as("title"),
          concat(lit("http://repos.example.com/"), col("m").cast("string")).as("url"))
      repos.orderBy(desc("created"), asc("id"))
        .select("id", "created", "title", "url").offset(2).limit(5)
    }),
    "s6_list_customcrawls" -> ((s, d) => {
      val crawls = t(s, d, "documents").select((col("doc_id") % 6).as("m")).distinct()
        .select(concat(lit("crawl"), col("m").cast("string")).as("id"),
          timestamp_seconds(lit(metaEpoch) + col("m") * 30).as("created"),
          concat(lit("custom crawl "), col("m").cast("string")).as("name"))
      crawls.orderBy(desc("created"), asc("id"))
        .select("id", "created", "name").offset(1).limit(4)
    }),

    // ---------------- corpus-statistics operators
    // D7: paragraph-level exact dedup (CCNet-style): planted shared + unique
    // paragraphs per doc, newline-joined
    "d7_paragraph_dedup" -> ((s, d) => {
      val text2 = concat(lit("shared para "), (col("doc_id") % 20).cast("string"),
        lit("\n"), lit("unique para "), col("doc_id").cast("string"))
      TextAnalysis.paragraphDedup(
        t(s, d, "documents").select(col("doc_id"), text2.as("text")))
    }),
    // T7: top-k bigrams over the cluster corpus (counts are doc_id arithmetic)
    "t7_top_ngrams" -> ((s, d) => {
      val corpus = t(s, d, "documents")
        .select(col("doc_id"), corpusText(col("doc_id")).as("text"))
      TextAnalysis.topNgrams(corpus, "text", n = 2, k = 50)
    }),
    // T8: composite quality filter over real document text
    "t8_quality_filter" -> ((s, d) =>
      TextAnalysis.qualityScore(t(s, d, "documents"))
        .filter(col("quality") >= 0.8).select("doc_id", "quality")),
    // T9: PII scrubbing over planted emails/phones (codegen'd
    // regexp_replace; RE2-compatible patterns shared with the oracle)
    "t9_pii_scrub" -> ((s, d) => {
      val planted = concat(lit("contact user"), col("doc_id").cast("string"),
        lit("@example.com or +1-555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" about "), col("source"))
      t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.piiScrub(planted).as("scrubbed"))
    }),
    // T10: line-repetition ratio over planted boilerplate (arithmetic truth)
    "t10_repetition" -> ((s, d) => {
      val text2 = concat(
        expr("repeat('dup line\\n', cast(doc_id % 4 + 1 as int))"),
        lit("unique "), col("doc_id").cast("string"))
      t(s, d, "documents").select(col("doc_id"),
        round(TextAnalysis.repetitionRatio(text2), 4).as("rep_ratio"))
    }),
    // D10: connected components over a duplicate-pair list (large-star/
    // small-star) — planted chain edges link consecutive ids inside each
    // 16-id block, so the component minimum is only reachable through up to
    // 15 hops: the oracle's arithmetic truth (doc_id - doc_id % 16) holds
    // ONLY if multi-hop transitivity actually works. Self-pairs are fed for
    // every doc to exercise the singleton path.
    "d10_dup_components" -> ((s, d) => {
      val ids = t(s, d, "documents").select(col("doc_id"))
      val chain = ids.select(col("doc_id").as("a_id"))
        .join(ids.select(col("doc_id").as("b_id")),
          col("b_id") === col("a_id") + 1 &&
            floor(col("b_id") / 16) === floor(col("a_id") / 16))
      val selfs = ids.select(col("doc_id").as("a_id"), col("doc_id").as("b_id"))
      Dedup.connectedComponents(chain.unionByName(selfs))
    }),
    // D10b: cluster summary (keep-one-per-component dedup decision)
    "d10b_component_dedup" -> ((s, d) => {
      val ids = t(s, d, "documents").select(col("doc_id"))
      val chain = ids.select(col("doc_id").as("a_id"))
        .join(ids.select(col("doc_id").as("b_id")),
          col("b_id") === col("a_id") + 1 &&
            floor(col("b_id") / 16) === floor(col("a_id") / 16))
      val selfs = ids.select(col("doc_id").as("a_id"), col("doc_id").as("b_id"))
      Dedup.componentDedup(chain.unionByName(selfs))
    }),
    // D8: canonical-url dedup — groups of 3 docs share a base url behind
    // per-doc fragments; stripping the fragment merges them, keep-first
    // T11: C4-style line filter — five planted lines per doc exercise every
    // rule (terminal punctuation, min words, javascript marker, even-doc
    // extra line); the oracle states the hand-derived surviving text
    "t11_c4_filter" -> ((s, d) => {
      val planted = concat(
        lit("This is a good sentence number "), col("doc_id").cast("string"),
        lit(".\nshort.\nNo terminal punctuation here\n"),
        lit("Please enable javascript to continue now.\n"),
        when(col("doc_id") % 2 === 0,
          lit("Another fine line for even docs."))
          .otherwise(lit("odd filler")))
      TextAnalysis.c4LineFilter(
        t(s, d, "documents").select(col("doc_id"), planted.as("text")))
    }),
    // T12: benchmark decontamination — docs with doc_id%5==0 embed a
    // 10-token benchmark phrase before their unique filler, so with n=8
    // exactly the 3 in-phrase windows collide; all other windows carry
    // per-doc tokens and cannot
    "t12_decontamination" -> ((s, d) => {
      val phrase = "the quick brown fox jumps over the lazy dog tonight"
      val docText = when(col("doc_id") % 5 === 0,
        concat(lit(phrase + " doc"), col("doc_id").cast("string"),
          lit(" filler"), col("doc_id").cast("string")))
        .otherwise(concat(lit("unrelated content for doc"),
          col("doc_id").cast("string")))
      val bench = s.range(1).select(lit(phrase).as("text"))
      TextAnalysis.decontaminate(
        t(s, d, "documents").select(col("doc_id"), docText.as("text")),
        bench, n = 8)
    }),
    // T13: Gopher-style quality gate — the real document text supplies the
    // word/stopword/symbol signals; planted line suffixes keyed on doc_id%3
    // exercise the bullet and ellipsis line rules. The oracle recomputes
    // every signal independently with DuckDB list lambdas — no
    // implementation-derived literals
    "t13_gopher_quality" -> ((s, d) => {
      val planted = concat(col("text"),
        when(col("doc_id") % 3 === 0,
          lit("\n- bullet item one\n- bullet item two"))
          .when(col("doc_id") % 3 === 1,
            lit("\nthis trails off...\nand more..."))
          .otherwise(lit("")))
      TextAnalysis.gopherSignals(
        t(s, d, "documents").select(col("doc_id"), planted.as("text")))
    }),
    // D11: the full MinHash dedup pipeline a corpus actually runs — LSH
    // candidate pairs → connected components → keep-one-per-cluster. Planted
    // clusters are the d2 quadruples (doc_id//4 share 24/26 vocab), so the
    // cluster decision is the arithmetic group; self-pairs keep singletons
    "d11_minhash_dedup" -> ((s, d) => {
      val corpus = t(s, d, "documents")
        .select(col("doc_id"), corpusText(col("doc_id")).as("text"))
      val pairs = Dedup.minhashPairs(corpus, k = 1, numHashes = 64,
        bands = 16, minEstJaccard = 0.5).select("a_id", "b_id")
      val selfs = corpus.select(col("doc_id").as("a_id"),
        col("doc_id").as("b_id"))
      Dedup.componentDedup(pairs.unionByName(selfs))
    }),
    "d8_url_canonical_dedup" -> ((s, d) => {
      val base = col("doc_id") - col("doc_id") % 3
      val u = concat(urlCol(base),
        when(col("doc_id") % 3 =!= 0,
          concat(lit("#v"), (col("doc_id") % 3).cast("string")))
          .otherwise(lit("")))
      t(s, d, "documents")
        .select(col("doc_id"), regexp_replace(u, "#.*$", "").as("canonical"))
        .groupBy("canonical")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n"))
    }),
    // A10: per-domain rollup over the synthesized url universe
    "a10_domain_rollup" -> ((s, d) => {
      t(s, d, "documents")
        .select(concat(lit("site"), (col("doc_id") % 50).cast("string"),
            lit(".example.com")).as("host"),
          (col("doc_id") % 7 === 0).as("is_content"))
        .groupBy("host")
        .agg(count(lit(1)).as("n_urls"),
          sum(when(col("is_content"), 1L).otherwise(0L)).as("n_content"))
    }),

    // D12: exact-substring duplication stats (Lee et al. EXACTSUBSTR shape)
    // over planted texts: quadruple clusters share a 24-token prefix (20
    // five-token windows in common), docs with doc_id%7==0 are rewritten
    // fully unique (10 tokens, 6 windows, zero shared) — the truth is pure
    // doc_id arithmetic, so the oracle needs no window hashing
    "d12_window_dedup" -> ((s, d) => {
      val text = when(col("doc_id") % 7 === 0,
        array_join(transform(sequence(lit(0), lit(9)),
          j => concat(lit("s"), col("doc_id").cast("string"), lit("q"),
            j.cast("string"))), " "))
        .otherwise(corpusText(col("doc_id")))
      TextAnalysis.windowDedupStats(
        t(s, d, "documents").select(col("doc_id"), text.as("text")), n = 5)
    }),

    // D13: one-sided containment — groups of 8 docs: 3 carry an identical
    // base passage (A), 3 carry base + a unique suffix (B), 2 are solo.
    // Expected ≥0.9 pairs: A↔A (identical) and A→B (fully quoted), never
    // B→A / B↔B / solo (the oracle states them in closed form; cross-group
    // base windows are either hot-capped or below threshold at every SF —
    // see the group arithmetic in the oracle comment)
    "d13_containment" -> ((s, d) => {
      // every base token carries the group id, so base windows live in
      // exactly 6 docs (under the hot cap at any SF) and never match
      // across groups; suffix/solo tokens carry the doc id
      val g = expr("doc_id div 8").cast("string")
      val base = array_join(transform(sequence(lit(0), lit(11)),
        i => concat(lit("w"), i.cast("string"), lit("g"), g)), " ")
      val suffix = array_join(transform(sequence(lit(0), lit(4)),
        i => concat(lit("x"), i.cast("string"), lit("d"),
          col("doc_id").cast("string"))), " ")
      val solo = array_join(transform(sequence(lit(0), lit(9)),
        i => concat(lit("s"), i.cast("string"), lit("d"),
          col("doc_id").cast("string"))), " ")
      val text = when(col("doc_id") % 8 < 3, base)
        .when(col("doc_id") % 8 < 6, concat(base, lit(" "), suffix))
        .otherwise(solo)
      TextAnalysis.containmentPairs(
        t(s, d, "documents").select(col("doc_id"), text.as("text")),
        n = 4, minContainMicro = 900000L)
    }),

    // ---------------- link-graph analytics (ops/Graph.scala) over a
    // synthesized sink-free edge list: src=doc_id, dst=(doc_id+j*j)%N for
    // j in 1..(1+doc_id%3) — out-degrees 1..3, every node reached via the
    // j=1 bijection, all reconstructable by pure doc_id arithmetic in SQL
    "g1_pagerank" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"))
      val nDf = docs.agg(count(lit(1)).as("n"))
      val edges = docs.crossJoin(nDf)
        .select(col("doc_id").as("src"),
          explode(sequence(lit(1), (lit(1) + col("doc_id") % 3).cast("int"))).as("j"),
          col("n"))
        .select(col("src"), ((col("src") + col("j") * col("j")) % col("n")).as("dst"))
      Graph.pageRankScaled(edges, iters = 5)
    }),
    // G4: HITS hubs/authorities — exact-integer un-normalized power
    // iteration over the g1 graph (normalization only rescales; integer
    // scores hash-compare bit-exact cross-engine)
    "g4_hits" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"))
      val nDf = docs.agg(count(lit(1)).as("n"))
      val edges = docs.crossJoin(nDf)
        .select(col("doc_id").as("src"),
          explode(sequence(lit(1), (lit(1) + col("doc_id") % 3).cast("int"))).as("j"),
          col("n"))
        .select(col("src"), ((col("src") + col("j") * col("j")) % col("n")).as("dst"))
      Graph.hitsScaled(edges, iters = 3)
    }),
    // G3: personalized (seeded-teleport) PageRank — seed-proximity scores
    // for frontier prioritization; same synthetic graph as g1, seeds are
    // doc_id < 3, exact-integer scaled twin vs an unrolled-CTE oracle
    "g3_personalized_pagerank" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"))
      val nDf = docs.agg(count(lit(1)).as("n"))
      val edges = docs.crossJoin(nDf)
        .select(col("doc_id").as("src"),
          explode(sequence(lit(1), (lit(1) + col("doc_id") % 3).cast("int"))).as("j"),
          col("n"))
        .select(col("src"), ((col("src") + col("j") * col("j")) % col("n")).as("dst"))
      Graph.personalizedPageRankScaled(edges,
        docs.filter(col("doc_id") < 3).select(col("doc_id").as("id")), iters = 5)
    }),
    "g2_crawl_depth" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"))
      val nDf = docs.agg(count(lit(1)).as("n"))
      val edges = docs.crossJoin(nDf)
        .select(col("doc_id").as("src"),
          explode(sequence(lit(1), (lit(1) + col("doc_id") % 3).cast("int"))).as("j"),
          col("n"))
        .select(col("src"), ((col("src") + col("j") * col("j")) % col("n")).as("dst"))
      Graph.crawlDepth(edges, docs.filter(col("doc_id") < 3)
        .select(col("doc_id").as("id")), maxDepth = 6)
    }),

    // ---------------- deterministic sampling / data mixing (ops/Sampling)
    // X1: Bernoulli hash sample at rate 0.25 keyed on (doc_id, salt). The
    // sample is a pure function of the data — the oracle re-selects the
    // IDENTICAL rows from the hash; Spark's own .sample() could never be
    // oracle-checked this way (its row set depends on partition layout)
    "x1_hash_sample" -> ((s, d) =>
      Sampling.hashSample(t(s, d, "documents"), col("doc_id"), rate = 0.25,
        salt = "s1").select("doc_id", "source")),
    // X8: deterministic 80/10/10 train/val/test split — one hash, adjacent
    // intervals: disjoint + exhaustive by construction; the oracle
    // recomputes both interval cuts from the same sha prefix
    "x8_split" -> ((s, d) =>
      Sampling.splitByHash(t(s, d, "documents").select(col("doc_id")),
        col("doc_id"), fractions = Seq(0.8, 0.1),
        labels = Seq("train", "val", "test"), salt = "sp")),
    // X2: weighted per-source mixing — srcN keeps at rate N*0.05 (src0
    // drops entirely); broadcast weights, map-side filter, no corpus shuffle
    "x2_weighted_mix" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val weights = docs.select(col("source").as("group")).distinct()
        .withColumn("rate",
          substring(col("group"), 4, 10).cast("int") * lit(0.05))
      Sampling.weightedSample(docs, col("source"), weights, col("doc_id"),
        salt = "mix").select("doc_id", "source")
    }),
    // X3: per-source quota (k=10) chosen by hash order — the stratified
    // domain cap; constant rank bound engages WindowGroupLimit
    "x3_source_quota" -> ((s, d) =>
      Sampling.groupQuota(t(s, d, "documents"), col("source"), col("doc_id"),
        k = 10, salt = "q").select("doc_id", "source")),
    // X4: epoch mixing — src0-4 repeat 3 epochs, src5-9 repeat 2, rest 1
    // (the "Wikipedia x3" over-representation pattern)
    "x4_epoch_mix" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val n = substring(col("group"), 4, 10).cast("int")
      val epochs = docs.select(col("source").as("group")).distinct()
        .withColumn("epochs",
          when(n < 5, lit(3)).when(n < 10, lit(2)).otherwise(lit(1)))
      Sampling.epochMix(docs, col("source"), epochs)
        .select("doc_id", "source", "epoch")
    }),

    // X5: deterministic output sharding — the write-side twin of X1: shard
    // membership is a pure function of doc_id, so re-runs and resumes emit
    // byte-identical shards; checked as a per-shard rollup
    "x5_output_shards" -> ((s, d) =>
      Sampling.assignShards(t(s, d, "documents"), col("doc_id"), n = 10,
          salt = "sh")
        .groupBy("shard").agg(count(lit(1)).as("n_docs"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))),

    // X6: sequence packing — concat-and-chunk into 256-token training
    // sequences across 4 independent pack shards; order inside a shard is
    // (hash, doc_id), a pure function of the data, so the oracle replays
    // the identical running sum and every engine packs identically
    "x6_seq_pack" -> ((s, d) => {
      val txt = trim(col("text"))
      val docs = t(s, d, "documents").withColumn("n_tokens",
        when(length(txt) === 0, lit(0L))
          .otherwise((length(txt) - length(replace(txt, lit(" "), lit(""))) + 1).cast("long")))
      Sampling.packSequences(docs, col("doc_id"), col("n_tokens"),
          budget = 256L, nShards = 4, salt = "pk")
        .select("doc_id", "shard", "seq_id", "seq_offset", "n_tokens")
    }),

    // X7: deterministic global row enumeration — contiguous corpus-wide
    // ids in hash-canonical order WITHOUT a single-partition sort (hash
    // first-byte range buckets + offsets + per-bucket window); the oracle
    // is the naive one-partition row_number the op refuses to run
    "x7_global_ids" -> ((s, d) =>
      Sampling.globalRowNumbers(t(s, d, "documents"), col("doc_id"), salt = "g")
        .select("doc_id", "global_id")),

    // J11: explicit salted join for known-skew keys (ops/Skew) — the
    // events side is collapsed to 5 mega-keys; the salted plan must return
    // EXACTLY the plain join's rows (salting only re-partitions work)
    "j11_salted_join" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(col("event_id"), (col("user_id") % 5).as("bucket5"))
      val dim = ev.select(col("bucket5")).distinct()
        .select(col("bucket5"),
          concat(lit("shard-"), col("bucket5").cast("string")).as("bucket_name"))
      Skew.saltedJoin(ev, dim, "bucket5", salts = 8)
        .select("event_id", "bucket5", "bucket_name")
    }),

    // J10: as-of (point-in-time) join — for each error event the latest
    // click by the same user at-or-before its ts; single union+window pass
    // (ops/AsOf), never an inequality-join pair explosion. Oracle: DuckDB's
    // native ASOF LEFT JOIN
    "j10_asof_join" -> ((s, d) => {
      val ev = t(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "ts", "value")
      val errs = ev.filter(col("event_type") === "error")
        .select("event_id", "user_id", "ts")
      AsOf.asOfJoin(errs, clicks, key = "user_id", leftTs = "ts",
          rightTs = "ts",
          rightCols = Map("ts" -> "click_ts", "value" -> "click_value"))
        .select(col("event_id"), col("user_id"), col("ts").as("error_ts"),
          col("click_ts"), col("click_value"))
    }),

    // T14: TF-IDF top-3 terms per document in exact integer arithmetic
    // (score_micro = tf*10^6 div df — engine-exact where float idf is not)
    "t14_tfidf_topk" -> ((s, d) =>
      TextAnalysis.tfidfTopK(t(s, d, "documents"), k = 3)),
    // T15: rarity bucketing (rank-based CCNet head/middle/tail split) —
    // thresholds are broadcast scalars, never a global ntile sort
    "t15_rarity_buckets" -> ((s, d) =>
      TextAnalysis.rarityBuckets(t(s, d, "documents"))),
    // T16: DSIR importance scores — corpus = all documents, target domain =
    // the src1 slice (the p13 filter); exact-gram variant so the oracle can
    // independently recompute the whole likelihood-ratio pipeline
    "t16_dsir_scores" -> ((s, d) => {
      val docs = t(s, d, "documents")
      TextAnalysis.dsirScores(docs,
        docs.filter(lower(col("source")).contains("src1")))
    }),
    // T17: encoding quality over planted raw bytes — ascii / multibyte
    // utf8 / invalid continuation / BOM / truncated multibyte tail, one
    // class per doc_id%5; the oracle states every signal in closed form
    "t17_encoding" -> ((s, d) => {
      val hex = when(col("doc_id") % 5 === 0, lit("68656c6c6f"))      // hello
        .when(col("doc_id") % 5 === 1, lit("68c3a96c6c6f"))           // héllo
        .when(col("doc_id") % 5 === 2, lit("68ff6c6c6f"))             // 0xff
        .when(col("doc_id") % 5 === 3, lit("efbbbf68"))               // BOM+h
        .otherwise(lit("68c3"))                                       // truncated
      TextAnalysis.encodingSignals(
        t(s, d, "documents").select(col("doc_id"), unhex(hex).as("raw")))
    }),

    // ---------------- crawl-native operators (no SQL twin; rows-only)
    "f1_normalize" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        Funcs.normalizeUdf(concat(lit("HTTP://Site"), (col("doc_id") % 50).cast("string"),
          lit(".Example.COM:80//a/./doc/../d/"), col("doc_id").cast("string"))).as("normalized"))),
    // F5: Go http.DetectContentType over bodies whose sniffed type is
    // planted by construction (html tag / pdf magic / plain text)
    "f5_sniff" -> ((s, d) => {
      val body = when(col("doc_id") % 3 === 0,
          concat(lit("<html><body>"), col("text"), lit("</body></html>")))
        .when(col("doc_id") % 3 === 1, concat(lit("%PDF-"), col("text")))
        .otherwise(col("text"))
      t(s, d, "documents").select(col("doc_id"),
        Funcs.sniffUdf(body.cast("binary")).as("content_sniff"))
    }),
    "crawl1_fixture_urls" -> ((s, _) =>
      CrawlFixture.urls(s)),
    "crawl2_fixture_links" -> ((s, _) =>
      CrawlFixture.links(s)),
    "crawl3_fixture_order" -> ((s, _) =>
      CrawlFixture.fetchLog(s)),
    // CRAWL4: a graph op composed on the crawl engine's OWN output schema —
    // BFS link depth from the seed over the fixture crawl's links table
    // (the 16 crawl2 rows). String urls map to dense ids through the
    // deterministic hash enumeration (Sampling.globalRowNumbers — the
    // production url→id assignment), the iterative crawlDepth runs on
    // those ids, and urls rejoin for the result. Oracle: recursive CTE
    // over the same 16 pinned links.
    "crawl4_link_depth" -> ((s, _) => {
      val links = CrawlFixture.links(s).select("src", "dst")
      val nodes = links.select(col("src").as("url"))
        .unionByName(links.select(col("dst").as("url"))).distinct()
      val ids = Sampling.globalRowNumbers(nodes, col("url"))
      val edges = links
        .join(ids.select(col("url").as("src"), col("global_id").as("src_id")),
          Seq("src"))
        .join(ids.select(col("url").as("dst"), col("global_id").as("dst_id")),
          Seq("dst"))
        .select(col("src_id").as("src"), col("dst_id").as("dst"))
      val seeds = ids.filter(col("url") === "http://127.0.0.1:8002")
        .select(col("global_id").as("id"))
      graft.ops.Graph.crawlDepth(edges, seeds, maxDepth = 4)
        .join(ids.select(col("global_id").as("id"), col("url")), Seq("id"))
        .select(col("url"), col("depth"))
    })
  )

  /** Monotone sink-name counter for st3's per-invocation memory sink. */
  private val st3Runs = new java.util.concurrent.atomic.AtomicInteger(0)

  def oracleSql: Map[String, String] = Map(
    "s1_scan_paginate" ->
      "SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders ORDER BY o_orderdate DESC, o_orderkey LIMIT 100 OFFSET 50",
    "s2_point_lookup" ->
      "SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM lineitem WHERE l_orderkey = 1",
    "o1_topk" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100",
    "p2_scheme_filter" ->
      s"SELECT doc_id, url FROM (SELECT doc_id, $urlsSql AS url FROM documents) WHERE url LIKE 'http://%' OR url LIKE 'https://%'",
    "p3_staleness_gate" ->
      "SELECT event_id, user_id, ts FROM events WHERE ts < (SELECT max(ts) FROM events) - INTERVAL 7 DAY",
    "p10_null_split" ->
      "SELECT doc_id, maybe_src FROM (SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN NULL ELSE source END AS maybe_src FROM documents) WHERE maybe_src IS NOT NULL",
    "p13_ilike_search" ->
      "SELECT doc_id, source FROM documents WHERE lower(source) LIKE '%src1%' ORDER BY doc_id LIMIT 50",
    "j1_equi_join" ->
      "SELECT o_orderkey, c_name, o_totalprice FROM orders JOIN customer ON o_custkey = c_custkey",
    "j4_join_sort_limit" ->
      "SELECT o_orderkey, c_name, o_orderdate FROM orders JOIN customer ON o_custkey = c_custkey ORDER BY o_orderdate DESC, o_orderkey LIMIT 20",
    "j5_semi_exists" ->
      "SELECT c_custkey, c_name FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)",
    "j6_anti_not_exists" ->
      "SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)",
    "j7_containment_theta" ->
      s"""SELECT c_url, pref FROM (SELECT $urlsSql AS c_url FROM documents WHERE doc_id < 200) c JOIN (SELECT concat('doc/', CAST(doc_id AS VARCHAR)) AS pref FROM documents WHERE doc_id < 20) p ON c_url LIKE concat('%', pref, '%')""",
    "j8_frontier_seen_anti" ->
      s"""SELECT url FROM (SELECT $urlsSql AS url FROM documents WHERE doc_id < 300) WHERE url NOT IN (SELECT $urlsSql AS url FROM documents WHERE doc_id % 3 = 0)""",
    "p5_suspected_content" ->
      "SELECT doc_id, (doc_id % 7 = 0) AS suspected FROM documents",
    "p6_host_whitelist" ->
      s"""SELECT doc_id, url, host FROM (SELECT doc_id, $urlsSql AS url, concat('site', CAST(doc_id % 50 AS VARCHAR), '.example.com') AS host FROM documents) WHERE host IN ('site7.example.com', 'site9.example.com', 'site23.example.com')""",
    "p7_matches_url" ->
      s"SELECT doc_id, url FROM (SELECT doc_id, $urlsSql AS url FROM documents) WHERE url LIKE '%doc/1%'",
    "f2_url_parts" ->
      """SELECT doc_id,
        | CASE WHEN doc_id % 10 = 0 THEN 'ftp' WHEN doc_id % 10 = 1 THEN 'mailto' ELSE 'http' END AS scheme,
        | concat('site', CAST(doc_id % 50 AS VARCHAR), '.example.com') AS host,
        | concat('/doc/', CAST(doc_id AS VARCHAR), CASE WHEN doc_id % 7 = 0 THEN '.pdf' ELSE '.html' END) AS path
        | FROM documents""".stripMargin.replace("\n", ""),
    "s5_warc_emit" ->
      s"SELECT doc_id, concat('<urn:sha256:', sha256(text), '>') AS warc_record_id, $urlsSql AS warc_target_uri, n_chars AS content_length FROM documents",
    "s5b_warc_record" ->
      s"""SELECT doc_id, concat(
        | 'WARC/1.0', chr(13), chr(10),
        | 'WARC-Type: response', chr(13), chr(10),
        | 'WARC-Record-ID: <urn:sha256:', sha256(text), '>', chr(13), chr(10),
        | 'WARC-Date: 2017-01-01T00:00:00Z', chr(13), chr(10),
        | 'WARC-Target-URI: ', $urlsSql, chr(13), chr(10),
        | 'Content-Type: application/http; msgtype=response', chr(13), chr(10),
        | 'Content-Length: ', CAST(octet_length(encode(text)) AS VARCHAR), chr(13), chr(10),
        | chr(13), chr(10), text, chr(13), chr(10), chr(13), chr(10)) AS warc_record FROM documents""".stripMargin.replace("\n", ""),
    "p17_url_features" ->
      (s"""WITH u AS (SELECT doc_id, concat($urlsSql,
        | CASE WHEN doc_id % 4 = 0 THEN '?utm_source=x&ref=1'
        |      WHEN doc_id % 4 = 1 THEN '?q=1' ELSE '' END) AS url FROM documents)
        | SELECT doc_id, url, CAST(length(url) AS BIGINT) AS url_len,
        | CAST(length(split_part(url, '://', 2)) - length(replace(split_part(url, '://', 2), '/', '')) AS BIGINT) AS path_depth,
        | CAST(CASE WHEN url NOT LIKE '%?%' THEN 0
        |   ELSE length(split_part(url, '?', 2)) - length(replace(split_part(url, '?', 2), '&', '')) + 1 END AS BIGINT) AS n_params,
        | CAST(length(regexp_replace(url, '[^0-9]', '', 'g')) * 1000000 // length(url) AS BIGINT) AS digits_micro,
        | contains(url, 'utm_') AS has_tracking
        | FROM u""".stripMargin.replace("\n", "")),
    "f13_anchor_text" ->
      ("SELECT doc_id, concat('/doc/', CAST(doc_id AS VARCHAR), '.html') AS href, " +
        "concat('Doc ', CAST(doc_id AS VARCHAR), ' link') AS anchor_text FROM documents " +
        "UNION ALL " +
        "SELECT doc_id, concat('http://ext.example.org/', CAST(doc_id AS VARCHAR)), 'ext & more' FROM documents"),
    "f12_sitemaps" ->
      """SELECT doc_id,
        | concat('["http://site', CAST(doc_id % 50 AS VARCHAR), '.example.com/sitemap.xml","http://site', CAST(doc_id % 50 AS VARCHAR), '.example.com/news.xml"]') AS sitemaps_json,
        | CASE WHEN doc_id % 3 = 0
        |   THEN concat('["http://site', CAST(doc_id % 50 AS VARCHAR), '.example.com/s1.xml"]')
        |   ELSE concat('["http://site', CAST(doc_id % 50 AS VARCHAR), '.example.com/doc/', CAST(doc_id AS VARCHAR), '.html","http://site', CAST(doc_id % 50 AS VARCHAR), '.example.com/about.html","http://site', CAST(doc_id % 50 AS VARCHAR), '.example.com/search?q=a&b"]')
        | END AS locs_json,
        | doc_id % 3 = 0 AS is_index
        | FROM documents""".stripMargin.replace("\n", ""),
    "p16_domain_blocklist" ->
      """SELECT doc_id, concat('http://', CASE WHEN doc_id % 4 = 0 THEN 'ads.' ELSE '' END,
        | 'site', CAST(doc_id % 50 AS VARCHAR), '.example.com/doc/', CAST(doc_id AS VARCHAR)) AS url
        | FROM documents
        | WHERE NOT (doc_id % 50 = 3 OR (doc_id % 4 = 0 AND doc_id % 50 = 10))""".stripMargin.replace("\n", ""),
    "s7_warc_parse" ->
      s"""SELECT doc_id, 'WARC/1.0' AS version, 'response' AS warc_type,
        | $urlsSql AS target_uri,
        | concat('<urn:sha256:', sha256(text), '>') AS record_id,
        | CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
        | text AS body FROM documents""".stripMargin.replace("\n", ""),
    "s8_warc_cdx" ->
      s"""SELECT $urlsSql AS url, concat('<urn:sha256:', sha256(text), '>') AS record_id,
        | CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
        | text AS body FROM documents""".stripMargin.replace("\n", ""),
    "s9_wet_emit" ->
      s"""SELECT doc_id, concat(
        | 'WARC/1.0', chr(13), chr(10),
        | 'WARC-Type: conversion', chr(13), chr(10),
        | 'WARC-Record-ID: <urn:sha256:', sha256(concat('wet:', text)), '>', chr(13), chr(10),
        | 'WARC-Refers-To: <urn:sha256:', sha256(text), '>', chr(13), chr(10),
        | 'WARC-Date: 2017-01-01T00:00:00Z', chr(13), chr(10),
        | 'WARC-Target-URI: ', $urlsSql, chr(13), chr(10),
        | 'Content-Type: text/plain', chr(13), chr(10),
        | 'Content-Length: ', CAST(octet_length(encode(text)) AS VARCHAR), chr(13), chr(10),
        | chr(13), chr(10), text, chr(13), chr(10), chr(13), chr(10)) AS wet_record FROM documents""".stripMargin.replace("\n", ""),
    "h5_crawl_budget" ->
      """WITH w AS (
        |   SELECT concat('site', CAST(doc_id % 50 AS VARCHAR), '.example.com') AS host,
        |          CAST(sum(n_chars % 97 + 1) AS HUGEINT) AS weight
        |   FROM documents GROUP BY 1),
        | tot AS (SELECT sum(weight) AS t FROM w),
        | b AS (SELECT host, (1000::HUGEINT * weight) // t AS base,
        |              (1000::HUGEINT * weight) % t AS rem
        |       FROM w, tot),
        | d AS (SELECT 1000 - sum(base) AS deficit FROM b),
        | r AS (SELECT host, base, row_number() OVER (ORDER BY rem DESC, host) AS rk FROM b)
        | SELECT host, CAST(base + CASE WHEN rk <= (SELECT deficit FROM d) THEN 1 ELSE 0 END AS BIGINT) AS alloc
        | FROM r""".stripMargin.replace("\n", ""),
    "s11_warc_records" ->
      s"""WITH p AS (SELECT doc_id, $urlsSql AS url, text,
        |     concat('GET /doc/', CAST(doc_id AS VARCHAR), ' HTTP/1.1') AS reqbody,
        |     substr(text, 1, 10) AS contbody FROM documents)
        | SELECT doc_id,
        |   concat('WARC/1.0', chr(13), chr(10), 'WARC-Type: request', chr(13), chr(10),
        |     'WARC-Record-ID: <urn:sha256:', sha256(concat('req:', url)), '>', chr(13), chr(10),
        |     'WARC-Date: 2017-01-01T00:00:00Z', chr(13), chr(10),
        |     'WARC-Target-URI: ', url, chr(13), chr(10),
        |     'Content-Type: application/http; msgtype=request', chr(13), chr(10),
        |     'Content-Length: ', CAST(octet_length(encode(reqbody)) AS VARCHAR), chr(13), chr(10),
        |     chr(13), chr(10), reqbody, chr(13), chr(10), chr(13), chr(10)) AS request_rec,
        |   concat('WARC/1.0', chr(13), chr(10), 'WARC-Type: resource', chr(13), chr(10),
        |     'WARC-Record-ID: <urn:sha256:', sha256(concat('res:', url)), '>', chr(13), chr(10),
        |     'WARC-Date: 2017-01-01T00:00:00Z', chr(13), chr(10),
        |     'WARC-Target-URI: ', url, chr(13), chr(10),
        |     'Content-Type: text/plain', chr(13), chr(10),
        |     'Content-Length: ', CAST(octet_length(encode(text)) AS VARCHAR), chr(13), chr(10),
        |     chr(13), chr(10), text, chr(13), chr(10), chr(13), chr(10)) AS resource_rec,
        |   concat('WARC/1.0', chr(13), chr(10), 'WARC-Type: metadata', chr(13), chr(10),
        |     'WARC-Record-ID: <urn:sha256:', sha256(concat('meta:', url)), '>', chr(13), chr(10),
        |     'WARC-Refers-To: <urn:sha256:', sha256(concat('req:', url)), '>', chr(13), chr(10),
        |     'WARC-Date: 2017-01-01T00:00:00Z', chr(13), chr(10),
        |     'WARC-Target-URI: ', url, chr(13), chr(10),
        |     'Content-Type: application/warc-fields', chr(13), chr(10),
        |     'Content-Length: ', CAST(octet_length(encode(concat('via: ', url))) AS VARCHAR), chr(13), chr(10),
        |     chr(13), chr(10), 'via: ', url, chr(13), chr(10), chr(13), chr(10)) AS metadata_rec,
        |   concat('WARC/1.0', chr(13), chr(10), 'WARC-Type: continuation', chr(13), chr(10),
        |     'WARC-Record-ID: <urn:sha256:', sha256(concat('cont:', url)), '>', chr(13), chr(10),
        |     'WARC-Segment-Origin-ID: <urn:sha256:', sha256(text), '>', chr(13), chr(10),
        |     'WARC-Segment-Number: 2', chr(13), chr(10),
        |     'WARC-Date: 2017-01-01T00:00:00Z', chr(13), chr(10),
        |     'WARC-Target-URI: ', url, chr(13), chr(10),
        |     'Content-Length: ', CAST(octet_length(encode(contbody)) AS VARCHAR), chr(13), chr(10),
        |     chr(13), chr(10), contbody, chr(13), chr(10), chr(13), chr(10)) AS continuation_rec
        | FROM p""".stripMargin.replace("\n", ""),
    "s10_warc_revisit" ->
      s"""WITH p AS (
        |   SELECT doc_id, $urlsSql AS url,
        |     strftime(to_timestamp(1483228800 + doc_id)::TIMESTAMP, '%Y-%m-%dT%H:%M:%SZ') AS d,
        |     array_to_string(list_transform(range(0,24), j -> concat('t', CAST(doc_id//4 AS VARCHAR), 'x', CAST(j AS VARCHAR))), ' ') AS body,
        |     doc_id - doc_id % 4 AS og
        |   FROM documents)
        | SELECT a.url, a.d AS date_iso,
        |   CASE WHEN a.doc_id = a.og THEN 'response' ELSE 'revisit' END AS record_type,
        |   CASE WHEN a.doc_id = a.og THEN
        |     concat('WARC/1.0', chr(13), chr(10), 'WARC-Type: response', chr(13), chr(10),
        |       'WARC-Record-ID: <urn:sha256:', sha256(concat(a.url, '|', a.d, '|', sha256(a.body))), '>', chr(13), chr(10),
        |       'WARC-Date: ', a.d, chr(13), chr(10),
        |       'WARC-Target-URI: ', a.url, chr(13), chr(10),
        |       'Content-Type: application/http; msgtype=response', chr(13), chr(10),
        |       'Content-Length: ', CAST(octet_length(encode(a.body)) AS VARCHAR), chr(13), chr(10),
        |       chr(13), chr(10), a.body, chr(13), chr(10), chr(13), chr(10))
        |   ELSE
        |     concat('WARC/1.0', chr(13), chr(10), 'WARC-Type: revisit', chr(13), chr(10),
        |       'WARC-Profile: http://netpreserve.org/warc/1.0/revisit/identical-payload-digest', chr(13), chr(10),
        |       'WARC-Record-ID: <urn:sha256:', sha256(concat(a.url, '|', a.d, '|', sha256(a.body))), '>', chr(13), chr(10),
        |       'WARC-Refers-To: <urn:sha256:', sha256(concat(b.url, '|', b.d, '|', sha256(b.body))), '>', chr(13), chr(10),
        |       'WARC-Refers-To-Target-URI: ', b.url, chr(13), chr(10),
        |       'WARC-Refers-To-Date: ', b.d, chr(13), chr(10),
        |       'WARC-Date: ', a.d, chr(13), chr(10),
        |       'WARC-Target-URI: ', a.url, chr(13), chr(10),
        |       'WARC-Payload-Digest: sha256:', sha256(a.body), chr(13), chr(10),
        |       'Content-Type: application/http; msgtype=response', chr(13), chr(10),
        |       'Content-Length: 0', chr(13), chr(10),
        |       chr(13), chr(10), chr(13), chr(10), chr(13), chr(10))
        |   END AS record
        | FROM p a JOIN p b ON b.doc_id = a.og""".stripMargin.replace("\n", ""),
    "a9_bloom_seen" ->
      s"""SELECT url FROM (SELECT $urlsSql AS url FROM documents WHERE doc_id < 300) WHERE url NOT IN (SELECT $urlsSql AS url FROM documents WHERE doc_id % 3 = 0)""",
    "a1_count_global" -> "SELECT count(*) AS n_rows FROM lineitem",
    "a2_groupby_count" -> "SELECT source, count(*) AS n FROM documents GROUP BY source",
    "a3_multi_agg" ->
      "SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, count(*) AS cnt FROM lineitem GROUP BY l_returnflag, l_linestatus",
    "a5_hierarchical_rollup" ->
      "SELECT r_name, count(*) AS n_customers, round(sum(c_acctbal), 2) AS sum_acctbal FROM customer JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey GROUP BY r_name",
    "a6_latest_per_key" ->
      "SELECT user_id, event_id, event_type, ts FROM events QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1",
    "a7_filtered_count" -> "SELECT event_type, count(*) AS n FROM events GROUP BY event_type",
    "u1_union_dedup" ->
      s"""SELECT DISTINCT url FROM (SELECT $urlsSql AS url FROM documents WHERE doc_id < 100 UNION ALL SELECT $urlsSql AS url FROM documents WHERE doc_id BETWEEN 50 AND 150)""",
    // sampling/mixing oracles recompute the hash decision from scratch:
    // sha256 hex prefixes compare lexicographically exactly like the 32-bit
    // integers they encode, in both engines
    "x1_hash_sample" ->
      "SELECT doc_id, source FROM documents WHERE substr(sha256(CAST(doc_id AS VARCHAR) || 's1'), 1, 8) < '40000000'",
    "x2_weighted_mix" ->
      "SELECT doc_id, source FROM documents WHERE substr(sha256(CAST(doc_id AS VARCHAR) || 'mix'), 1, 8) < printf('%08x', LEAST(CAST(floor(CAST(substr(source, 4) AS INT) * CAST(0.05 AS DOUBLE) * 4294967296.0) AS BIGINT), 4294967295))",
    "x8_split" ->
      ("""SELECT doc_id,
        | CASE WHEN substr(sha256(CAST(doc_id AS VARCHAR) || 'sp'), 1, 8) < 'cccccccc' THEN 'train'
        |      WHEN substr(sha256(CAST(doc_id AS VARCHAR) || 'sp'), 1, 8) < 'e6666666' THEN 'val'
        |      ELSE 'test' END AS split
        | FROM documents""".stripMargin.replace("\n", "")),
    "x3_source_quota" ->
      "SELECT doc_id, source FROM documents QUALIFY row_number() OVER (PARTITION BY source ORDER BY substr(sha256(CAST(doc_id AS VARCHAR) || 'q'), 1, 8), doc_id) <= 10",
    "x4_epoch_mix" ->
      "SELECT doc_id, source, CAST(unnest(generate_series(1, CASE WHEN CAST(substr(source, 4) AS INT) < 5 THEN 3 WHEN CAST(substr(source, 4) AS INT) < 10 THEN 2 ELSE 1 END)) AS INT) AS epoch FROM documents",
    "x5_output_shards" ->
      ("SELECT shard, count(*) AS n_docs, min(doc_id) AS min_doc, max(doc_id) AS max_doc FROM " +
       "(SELECT doc_id, ((strpos('0123456789abcdef', substr(sha256(CAST(doc_id AS VARCHAR) || 'sh'), 1, 1)) - 1) * 16 + " +
       "(strpos('0123456789abcdef', substr(sha256(CAST(doc_id AS VARCHAR) || 'sh'), 2, 1)) - 1)) % 10 AS shard FROM documents) " +
       "GROUP BY shard"),
    "x7_global_ids" ->
      "SELECT doc_id, row_number() OVER (ORDER BY substr(sha256(CAST(doc_id AS VARCHAR) || 'g'), 1, 8), doc_id) - 1 AS global_id FROM documents",
    "x6_seq_pack" ->
      ("WITH docs AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0 ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 END AS n_tokens, " +
       "((strpos('0123456789abcdef', substr(sha256(CAST(doc_id AS VARCHAR) || 'pk'), 1, 1)) - 1) * 16 + " +
       "(strpos('0123456789abcdef', substr(sha256(CAST(doc_id AS VARCHAR) || 'pk'), 2, 1)) - 1)) % 4 AS shard, " +
       "substr(sha256(CAST(doc_id AS VARCHAR) || 'pk'), 1, 8) AS h FROM documents), " +
       "c AS (SELECT doc_id, shard, n_tokens, COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev FROM docs) " +
       "SELECT doc_id, shard, CAST(prev // 256 AS BIGINT) AS seq_id, CAST(prev % 256 AS BIGINT) AS seq_offset, n_tokens FROM c"),
    "j11_salted_join" ->
      "SELECT event_id, user_id % 5 AS bucket5, 'shard-' || CAST(user_id % 5 AS VARCHAR) AS bucket_name FROM events",
    "j10_asof_join" ->
      "WITH clicks AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click'), errs AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') SELECT e.event_id, e.user_id, e.ts AS error_ts, c.ts AS click_ts, c.value AS click_value FROM errs e ASOF LEFT JOIN clicks c ON e.user_id = c.user_id AND c.ts <= e.ts",
    "t14_tfidf_topk" ->
      ("WITH toks AS (SELECT doc_id, t.t AS term FROM documents, unnest(regexp_split_to_array(lower(text), '\\W+')) AS t(t) WHERE t.t <> ''), " +
       "tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2), " +
       "dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), " +
       "scored AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df, (tf.tf * 1000000) // dfq.df AS score_micro FROM tf JOIN dfq USING (term)) " +
       "SELECT doc_id, term, tf, df, score_micro, rank FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score_micro DESC, term) AS rank FROM scored) WHERE rank <= 3"),
    "t15_rarity_buckets" ->
      ("WITH toks AS (SELECT doc_id, t.t AS term FROM documents, unnest(regexp_split_to_array(lower(text), '\\W+')) AS t(t) WHERE t.t <> ''), " +
       "dict AS (SELECT term, count(*) AS n FROM toks GROUP BY 1), " +
       "ranked AS (SELECT term, row_number() OVER (ORDER BY n DESC, term) AS rank FROM dict), " +
       "vocab AS (SELECT count(*) AS vocab FROM dict), " +
       "perdoc AS (SELECT doc_id, count(*) AS n_toks, sum(rank) AS sum_rank FROM toks JOIN ranked USING (term) GROUP BY 1) " +
       "SELECT doc_id, n_toks, CAST((sum_rank * 1000000) // n_toks AS BIGINT) AS mean_rank_micro, " +
       "CASE WHEN ((sum_rank * 1000000) // n_toks) * 100 <= vocab * 25000000 THEN 'head' WHEN ((sum_rank * 1000000) // n_toks) * 100 <= vocab * 60000000 THEN 'middle' ELSE 'tail' END AS bucket " +
       "FROM perdoc CROSS JOIN vocab"),
    // independent DSIR replay: whitespace unigrams+bigrams, +1 smoothing
    // over the observed feature space, ln likelihood ratio — engine-native
    // DuckDB list ops, shares no code with the Spark side
    "a11_change_rates" ->
      (s"SELECT $urlsSql AS url, CAST(4 AS BIGINT) AS n_obs, " +
        "CAST(CASE doc_id % 3 WHEN 0 THEN 0 WHEN 1 THEN 3 ELSE 1 END AS BIGINT) AS n_changes, " +
        "CAST(CASE doc_id % 3 WHEN 0 THEN 0 WHEN 1 THEN 1000000 ELSE 333333 END AS BIGINT) AS change_rate_micro, " +
        "CAST(CASE doc_id % 3 WHEN 1 THEN 86400 ELSE 259200 END AS BIGINT) AS suggested_interval_sec " +
        "FROM documents"),
    "t16_dsir_scores" ->
      ("WITH w AS (SELECT doc_id, source, list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> length(x) > 0) AS w FROM documents), " +
       "grams AS (SELECT doc_id, source, g.g AS g FROM w, unnest(list_concat(w, list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]))) AS g(g)), " +
       "q AS (SELECT g, count(*) AS qc FROM grams GROUP BY 1), " +
       "p AS (SELECT g, count(*) AS pc FROM grams WHERE contains(lower(source), 'src1') GROUP BY 1), " +
       "feats AS (SELECT coalesce(q.g, p.g) AS g, coalesce(qc, 0) AS qc, coalesce(pc, 0) AS pc FROM q FULL OUTER JOIN p ON q.g = p.g), " +
       "stats AS (SELECT count(*) AS v, sum(qc) AS qt, sum(pc) AS pt FROM feats), " +
       "lut AS (SELECT g, ln((pc + 1.0) / (pt + v)) - ln((qc + 1.0) / (qt + v)) AS l FROM feats CROSS JOIN stats) " +
       "SELECT doc_id, round(sum(l), 4) AS dsir_score, count(*) AS n_grams FROM grams JOIN lut USING (g) GROUP BY 1"),
    "t17_encoding" ->
      ("SELECT doc_id, " +
        "CAST(CASE doc_id % 5 WHEN 0 THEN 5 WHEN 1 THEN 6 WHEN 2 THEN 5 WHEN 3 THEN 4 ELSE 2 END AS BIGINT) AS n_bytes, " +
        "CAST(CASE WHEN doc_id % 5 IN (2, 4) THEN 1 ELSE 0 END AS BIGINT) AS n_invalid, " +
        "CASE doc_id % 5 WHEN 0 THEN 'ascii' WHEN 1 THEN 'utf8' WHEN 3 THEN 'utf8-bom' ELSE 'invalid' END AS encoding " +
        "FROM documents"),
    "w1_running_count" ->
      "SELECT event_id, user_id, count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n FROM events",
    "st1_tumbling_window" ->
      "SELECT date_trunc('hour', ts) AS win_start, event_type, count(*) AS n FROM events GROUP BY 1, 2",
    // independent gaps-and-islands twin of session_window: a session break
    // is a >30-min gap from the previous event of the same user
    // boundary semantics verified empirically against Spark 4.1: events
    // exactly `gap` apart MERGE into one session (second ts == first
    // window end), so the island break is `<=`, not `<`
    // the streaming gate's emission set, after the documented pair-dedup,
    // is the same planted truth d2 gates (intra-cluster pairs only) —
    // arrival is docId-ascending, so matchId (stored) < docId (arriving)
    "st3_neardup_stream" ->
      "SELECT a.doc_id AS a_id, b.doc_id AS b_id FROM documents a JOIN documents b ON a.doc_id // 4 = b.doc_id // 4 AND a.doc_id < b.doc_id",
    "st2_session_window" ->
      """WITH gapped AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS brk
        |  FROM events),
        | islands AS (
        |  SELECT user_id, ts, value,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM gapped)
        | SELECT min(ts) AS session_start, max(ts) + INTERVAL 30 MINUTE AS session_end,
        |   user_id, count(*) AS n, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        | FROM islands GROUP BY user_id, sid""".stripMargin.replace("\n", ""),
    "f3_filename" ->
      s"SELECT doc_id, regexp_extract($urlsSql, '[^/]*$$', 0) AS file_name FROM documents",
    "f6_multihash" ->
      "SELECT doc_id, concat('1220', sha256(text)) AS doc_hash FROM documents",
    "f9_extract_links" ->
      """SELECT doc_id, 0 AS href_idx, concat('http://site', CAST(doc_id % 50 AS VARCHAR), '.example.com/d/', CAST(doc_id AS VARCHAR)) AS link FROM documents WHERE doc_id < 100
        | UNION ALL
        | SELECT doc_id, 1 AS href_idx, concat('http://site', CAST(doc_id % 50 AS VARCHAR), '.example.com/doc/rel', CAST(doc_id % 7 AS VARCHAR), '.html') AS link FROM documents WHERE doc_id < 100""".stripMargin.replace("\n", ""),
    "f4_mime_ext" ->
      "SELECT doc_id, CASE doc_id % 6 WHEN 0 THEN '.pdf' WHEN 1 THEN '.html' WHEN 2 THEN '.mp4' WHEN 3 THEN '.jpg' WHEN 4 THEN '.AAC' ELSE NULL END AS ext FROM documents",
    "f11_date_trunc" ->
      "SELECT event_id, date_trunc('second', ts) AS ts_sec, date_trunc('hour', ts) AS ts_hour FROM events",
    "d1_dedup_exact" ->
      "SELECT text_hash, min(doc_id) AS keep_id, count(*) AS dup_count FROM (SELECT doc_id, sha256(text) AS text_hash FROM documents) GROUP BY text_hash",
    // planted-corpus dedup truths: intra-cluster (doc_id//4) pairs only
    "d2_minhash_pairs" ->
      "SELECT a.doc_id AS a_id, b.doc_id AS b_id FROM documents a JOIN documents b ON a.doc_id // 4 = b.doc_id // 4 AND a.doc_id < b.doc_id",
    "d3_simhash_pairs" ->
      "SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(0 AS INT) AS hamming FROM documents a JOIN documents b ON a.doc_id // 4 = b.doc_id // 4 AND a.doc_id < b.doc_id",
    "d4_jaccard_verified" ->
      "SELECT a.doc_id AS a_id, b.doc_id AS b_id, round(24.0 / 26.0, 4) AS jaccard FROM documents a JOIN documents b ON a.doc_id // 4 = b.doc_id // 4 AND a.doc_id < b.doc_id",
    "d5_embed_exact_dup" ->
      "SELECT a.vec_id AS a_id, b.vec_id AS b_id FROM embeddings a JOIN embeddings b ON a.vec_id % 97 = b.vec_id % 97 AND a.vec_id < b.vec_id",
    "d6_embed_cosine_pairs" ->
      "SELECT a.vec_id AS a_id, b.vec_id AS b_id FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id AND abs((a.vec_id % 97) - (b.vec_id % 97)) <= 9",
    "d9_embed_dup_members" ->
      "SELECT vec_id, min(vec_id) OVER (PARTITION BY vec_id % 97) AS rep_id FROM embeddings",
    "d9b_embed_rep_pairs" ->
      "WITH r AS (SELECT DISTINCT min(vec_id) OVER (PARTITION BY vec_id % 97) AS rep, vec_id % 97 AS res FROM embeddings) SELECT least(a.rep, b.rep) AS a_id, greatest(a.rep, b.rep) AS b_id FROM r a JOIN r b ON a.res < b.res AND abs(a.res - b.res) <= 9",
    "d16_keep_best" ->
      """WITH m AS (SELECT doc_id, doc_id // 4 AS g, (37 * doc_id) % 101 AS score FROM documents),
        | s AS (SELECT g, count(*) AS n FROM m GROUP BY g),
        | r AS (SELECT m.*, row_number() OVER (PARTITION BY g ORDER BY score DESC, doc_id) AS rk FROM m)
        | SELECT CAST(4 * r.g AS BIGINT) AS component_id, r.doc_id AS keep_id,
        |   CAST(r.score AS BIGINT) AS keep_score, s.n AS cluster_size
        | FROM r JOIN s USING (g) WHERE rk = 1 AND s.n >= 2""".stripMargin.replace("\n", ""),
    "d17_substr_strip" ->
      """WITH g AS (SELECT doc_id, count(*) OVER (PARTITION BY doc_id // 4) AS n,
        |   min(doc_id) OVER (PARTITION BY doc_id // 4) AS own FROM documents)
        | SELECT doc_id,
        |   CASE WHEN n >= 2 AND doc_id <> own THEN concat('u', CAST(doc_id AS VARCHAR))
        |     ELSE concat(array_to_string(list_transform(range(0,24), j -> concat('t', CAST(doc_id//4 AS VARCHAR), 'x', CAST(j AS VARCHAR))), ' '), ' u', CAST(doc_id AS VARCHAR)) END AS clean_text,
        |   CAST(CASE WHEN n >= 2 AND doc_id <> own THEN 17 ELSE 0 END AS BIGINT) AS n_removed_windows
        | FROM g""".stripMargin.replace("\n", ""),
    "d15_semdedup" ->
      """SELECT vec_id, min(vec_id) OVER (PARTITION BY vec_id % 97) AS rep_id,
        | min(vec_id) OVER (PARTITION BY vec_id % 97) AS group_id,
        | vec_id = min(vec_id) OVER (PARTITION BY vec_id % 97) AS kept
        | FROM embeddings""".stripMargin.replace("\n", ""),
    "d15b_semdedup_groups" ->
      "SELECT vec_id, min(vec_id) OVER (PARTITION BY (vec_id % 97) // 3) AS group_id FROM embeddings",
    "ann1_bruteforce_topk" -> annOracleSql,
    "ann2_lsh_topk" -> annOracleSql,
    "ann3_ivf_topk" -> annOracleSql,
    "ann4_pq_topk" -> annOracleSql,
    "ann5_ivfpq_topk" -> annOracleSql,
    "t1_lang_dist" -> "SELECT lang, count(*) AS n FROM documents GROUP BY lang",
    "t6_extract_text" ->
      "SELECT doc_id, concat('Doc ', CAST(doc_id AS VARCHAR), ' alpha ', CAST(doc_id AS VARCHAR), ' beta') AS page_text FROM documents WHERE doc_id < 200",
    "t2_quality_signals" ->
      "SELECT doc_id, length(text) AS n_chars_c, CASE WHEN length(trim(text)) = 0 THEN 0 ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 END AS n_tokens, CASE WHEN length(trim(text)) = 0 THEN 0.0 ELSE round(CAST(length(text) AS DOUBLE) / (length(trim(text)) - length(replace(trim(text), ' ', '')) + 1), 4) END AS mean_tok_len FROM documents",
    "t3_token_count" ->
      "SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0 ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 END AS n_tokens FROM documents",
    // INDEPENDENT oracle reimplementation of the Rabin-Karp window
    // fingerprint (window 16, base 257, splitmix finalizer, min over
    // windows): DuckDB recursive CTE with 64-bit wrap-around emulated via
    // HUGEINT mod 2^64 (the finalizer multiply is split into 32-bit halves
    // because two full 64-bit operands can overflow signed HUGEINT). The
    // fixture texts are reconstructed arithmetically — no literal is copied
    // from the implementation (closes the round-2/3 "impl-derived literals"
    // carry-over; the computed values matched the previously pinned ones).
    "t4_fingerprint" -> t4OracleSql,
    "t5_langid_detect" ->
      "SELECT doc_id, CASE doc_id % 12 WHEN 0 THEN 'en' WHEN 1 THEN 'de' WHEN 2 THEN 'fr' WHEN 3 THEN 'es' WHEN 4 THEN 'it' WHEN 5 THEN 'und' WHEN 6 THEN 'ja' WHEN 7 THEN 'zh' WHEN 8 THEN 'ru' WHEN 9 THEN 'ar' WHEN 10 THEN 'el' ELSE 'ko' END AS lang_detected FROM documents",
    "t21_mixed_lang" ->
      """SELECT doc_id,
        | CAST(CASE doc_id % 4 WHEN 0 THEN 2 WHEN 1 THEN 3 WHEN 2 THEN 2 ELSE 1 END AS BIGINT) AS n_paragraphs,
        | CAST(CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 1 END AS BIGINT) AS n_langs,
        | CASE doc_id % 4 WHEN 0 THEN 'en' WHEN 1 THEN 'en' WHEN 2 THEN 'de' ELSE 'ru' END AS majority_lang,
        | CAST(CASE doc_id % 4 WHEN 0 THEN 1000000 WHEN 1 THEN 666666 WHEN 2 THEN 500000 ELSE 1000000 END AS BIGINT) AS majority_ppm,
        | doc_id % 4 IN (1, 2) AS mixed
        | FROM documents""".stripMargin.replace("\n", ""),
    "t22_pii_counts" ->
      "SELECT doc_id, CAST(doc_id % 3 + 1 AS BIGINT) AS n_email, CAST(doc_id % 2 AS BIGINT) AS n_phone, CAST(1 AS BIGINT) AS n_ip FROM documents",
    "f1_normalize" ->
      "SELECT doc_id, concat('http://site', CAST(doc_id % 50 AS VARCHAR), '.example.com/a/d/', CAST(doc_id AS VARCHAR)) AS normalized FROM documents",
    "f5_sniff" ->
      "SELECT doc_id, CASE doc_id % 3 WHEN 0 THEN 'text/html; charset=utf-8' WHEN 1 THEN 'application/pdf' ELSE 'text/plain; charset=utf-8' END AS content_sniff FROM documents",
    "f10_headers_map" ->
      ("SELECT doc_id, " +
        "concat('[\"Content-Length\",\"', CAST(n_chars AS VARCHAR), '\",\"Content-Type\",\"text/plain; charset=utf-8\"]') AS headers_json, " +
        "concat('{\"Content-Length\":\"', CAST(n_chars AS VARCHAR), '\",\"Content-Type\":\"text/plain; charset=utf-8\"}') AS headers_map_json FROM documents"),
    "m1_media_meta" ->
      "SELECT doc_id, 'png' AS format, CAST(16 + doc_id % 32 AS INT) AS width, CAST(8 + doc_id % 16 AS INT) AS height FROM documents",
    "m2_av_meta" ->
      "SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN 'wave' ELSE 'mp4' END AS format, CAST(CASE WHEN doc_id % 2 = 0 THEN 100 + doc_id % 1000 ELSE 500 + doc_id % 5000 END AS BIGINT) AS duration_ms FROM documents",
    "m3_image_dhash" ->
      ("SELECT doc_id, CAST(CASE doc_id % 3 WHEN 0 THEN -1 WHEN 1 THEN 0 " +
        "ELSE -6148914691236517206 END AS BIGINT) AS dhash FROM documents"),
    "m4_image_neardup" ->
      ("SELECT a.doc_id AS a_id, b.doc_id AS b_id, 2 AS hamming " +
        "FROM documents a JOIN documents b " +
        "ON a.doc_id // 6 = b.doc_id // 6 AND a.doc_id < b.doc_id"),
    "h1_trap_signals" ->
      ("""WITH u AS (SELECT 'site' || CAST(doc_id % 50 AS VARCHAR) AS host,
        | 'http://site' || CAST(doc_id % 50 AS VARCHAR) || '.example.com/p/' || CAST(doc_id AS VARCHAR) ||
        |   CASE WHEN doc_id % 3 = 0 THEN '?session=' || CAST(doc_id AS VARCHAR) ELSE '' END AS url,
        | CASE WHEN doc_id % 50 < 5 THEN 'T' || CAST(doc_id % 50 AS VARCHAR)
        |      ELSE 'c' || CAST(doc_id AS VARCHAR) END AS content_key FROM documents)
        | SELECT host, count(*) AS n_urls, count(DISTINCT content_key) AS n_distinct_content,
        | CAST((count(*) - count(DISTINCT content_key)) * 1000000 // count(*) AS BIGINT) AS dup_ratio_micro,
        | CAST(sum(CASE WHEN contains(url, '?') THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS query_rate_micro,
        | (count(*) >= 2 AND (count(*) - count(DISTINCT content_key)) * 1000000 // count(*) >= 800000) AS is_trap
        | FROM u GROUP BY host""".stripMargin.replace("\n", "")),
    "h2_mirror_hosts" ->
      ("""WITH p AS (SELECT DISTINCT 'site' || CAST(doc_id % 50 AS VARCHAR) AS host,
        | 'c' || CAST(doc_id % 25 AS VARCHAR) || '_' || CAST(doc_id // 50 AS VARCHAR) AS content_key FROM documents),
        | sz AS (SELECT host, count(*) AS n FROM p GROUP BY host),
        | inter AS (SELECT a.host AS host_a, b.host AS host_b, count(*) AS ni
        |   FROM p a JOIN p b ON a.content_key = b.content_key AND a.host < b.host GROUP BY 1, 2)
        | SELECT host_a, host_b, CAST(ni * 1000000 // (sa.n + sb.n - ni) AS BIGINT) AS jaccard_micro
        | FROM inter JOIN sz sa ON sa.host = inter.host_a JOIN sz sb ON sb.host = inter.host_b
        | WHERE ni * 1000000 // (sa.n + sb.n - ni) >= 900000""".stripMargin.replace("\n", "")),
    "t18_boilerplate_strip" ->
      ("""WITH d AS (SELECT doc_id, 'site' || CAST(doc_id % 50 AS VARCHAR) AS host,
        | 'NAV site' || CAST(doc_id % 50 AS VARCHAR) || chr(10) || 'FOOTER site' || CAST(doc_id % 50 AS VARCHAR) ||
        |   CASE WHEN (doc_id // 50) % 2 = 0 THEN chr(10) || 'PROMO' ELSE '' END ||
        |   chr(10) || 'body ' || CAST(doc_id AS VARCHAR) AS text FROM documents),
        | pages AS (SELECT host, count(*) AS n_pages FROM d GROUP BY host),
        | lines AS (SELECT doc_id, host, unnest(list_distinct(string_split(text, chr(10)))) AS line FROM d),
        | lc AS (SELECT host, line, count(*) AS n_docs FROM lines GROUP BY host, line),
        | boiler AS (SELECT host, line FROM lc JOIN pages USING (host)
        |   WHERE n_docs >= 2 AND n_docs * 1000000 >= n_pages * 800000),
        | ex AS (SELECT doc_id, host, unnest(string_split(text, chr(10))) AS line,
        |        unnest(range(1, len(string_split(text, chr(10))) + 1)) AS i FROM d),
        | kept AS (SELECT ex.doc_id, ex.line, ex.i FROM ex LEFT JOIN boiler b
        |   ON b.host = ex.host AND b.line = ex.line WHERE b.line IS NULL)
        | SELECT d.doc_id, coalesce(k.clean_text, '') AS clean_text FROM d LEFT JOIN
        | (SELECT doc_id, string_agg(line, chr(10) ORDER BY i) AS clean_text FROM kept GROUP BY doc_id) k
        | USING (doc_id)""".stripMargin.replace("\n", "")),
    "t19_unigram_nll" ->
      ("""WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |   x -> length(x) > 0) AS w FROM documents),
        | toks AS (SELECT doc_id, t.t AS tok FROM w, unnest(w) AS t(t)),
        | lm AS (SELECT tok, count(*) AS tc FROM toks GROUP BY 1),
        | stats AS (SELECT count(*) AS v, sum(tc) AS tt FROM lm),
        | lut AS (SELECT tok, -ln((tc + 1.0) / (tt + v)) AS nll FROM lm CROSS JOIN stats)
        | SELECT doc_id, round(sum(nll), 4) AS nll_sum, count(*) AS n_tokens
        | FROM toks JOIN lut USING (tok) GROUP BY 1""".stripMargin.replace("\n", "")),
    "h3_url_templates" ->
      ("""WITH u AS (SELECT 'site' || CAST(doc_id % 50 AS VARCHAR) AS host,
        | 'http://site' || CAST(doc_id % 50 AS VARCHAR) || '.example.com' ||
        |   CASE WHEN doc_id % 3 = 0 THEN '/p/' || CAST(doc_id AS VARCHAR)
        |        WHEN doc_id % 3 = 1 THEN '/cal/2020/' || CAST(doc_id % 12 AS VARCHAR) || '?sid=' || CAST(doc_id AS VARCHAR)
        |        ELSE '/x/deadbeefdeadbeef' || CAST(doc_id AS VARCHAR) END AS url FROM documents)
        | SELECT host, regexp_replace(regexp_replace(url, '[0-9a-fA-F]{16,}', 'H', 'g'), '[0-9]+', 'N', 'g') AS template,
        | count(*) AS n_urls FROM u GROUP BY 1, 2""".stripMargin.replace("\n", "")),
    "t20_quality_classifier" ->
      ("""WITH w(term, wm) AS (VALUES ('data', 500000), ('query', 300000), ('slow', -400000), ('the', -100000)),
        | toks AS (SELECT doc_id, t.t AS tok FROM (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> length(x) > 0) AS l FROM documents) d, unnest(l) AS t(t)),
        | cnt AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY 1),
        | hit AS (SELECT doc_id, sum(wm) AS m FROM toks JOIN w ON tok = term GROUP BY 1)
        | SELECT d.doc_id, CAST(coalesce(hit.m, 0) AS BIGINT) AS margin_micro,
        |   CAST(coalesce(cnt.n, 0) AS BIGINT) AS n_tokens,
        |   (coalesce(cnt.n, 0) > 0 AND coalesce(hit.m, 0) >= 100000 * coalesce(cnt.n, 0)) AS keep
        | FROM documents d LEFT JOIN cnt ON d.doc_id = cnt.doc_id LEFT JOIN hit ON d.doc_id = hit.doc_id""".stripMargin.replace("\n", "")),
    "f14_registrable_domain" ->
      ("""WITH h AS (SELECT CAST(doc_id % 5 AS INT) AS k, CAST(doc_id AS VARCHAR) AS i FROM documents)
        | SELECT CASE k WHEN 0 THEN 'w' || i || '.shop.com' WHEN 1 THEN 'x' || i || '.site.co.uk'
        |   WHEN 2 THEN 'y' || i || '.zone.ck' WHEN 3 THEN 'z' || i || '.www.ck'
        |   ELSE 'q' || i || '.edge.unknown' END AS host,
        | CASE k WHEN 0 THEN 'com' WHEN 1 THEN 'co.uk' WHEN 2 THEN 'zone.ck' WHEN 3 THEN 'ck' ELSE 'unknown' END AS public_suffix,
        | CASE k WHEN 0 THEN 'shop.com' WHEN 1 THEN 'site.co.uk' WHEN 2 THEN 'y' || i || '.zone.ck' WHEN 3 THEN 'www.ck' ELSE 'edge.unknown' END AS registrable_domain
        | FROM h""".stripMargin.replace("\n", "")),
    "g5_resolve_redirects" ->
      ("""WITH d AS (SELECT CAST(doc_id // 4 AS VARCHAR) AS g, CAST(doc_id % 4 AS INT) AS p, (doc_id // 4) % 10 = 0 AS cyc FROM documents)
        | SELECT 'http://r' || g || '/p' || CAST(p AS VARCHAR) AS src,
        |   CASE WHEN cyc THEN 'http://r' || g || '/p' || CAST(p AS VARCHAR)
        |        ELSE 'http://r' || g || '/p4' END AS final_url,
        |   NOT cyc AS resolved FROM d""".stripMargin.replace("\n", "")),
    "h4_robots_audit" ->
      ("""SELECT 'site' || CAST(doc_id % 50 AS VARCHAR) AS host,
        | 'http://site' || CAST(doc_id % 50 AS VARCHAR) || '.example.com' ||
        |   CASE WHEN doc_id % 4 = 0 THEN '/private/' ELSE '/pub/' END || CAST(doc_id AS VARCHAR) AS url,
        | NOT (doc_id % 4 = 0 AND doc_id % 50 < 25) AS allowed FROM documents""".stripMargin.replace("\n", "")),
    "d14_delta_dedup" ->
      "SELECT b.doc_id AS corpus_id, a.doc_id + 1000000 AS delta_id FROM documents a JOIN documents b ON a.doc_id // 4 = b.doc_id // 4 WHERE a.doc_id % 4 = 0",
    "g6_anchor_index" ->
      """WITH a AS (SELECT concat('http://hub', CAST(doc_id % 10 AS VARCHAR), '.example.com/') AS target,
        |   concat('anchor', CAST(doc_id % 3 AS VARCHAR)) AS anchor_text FROM documents),
        | c AS (SELECT target, anchor_text, count(*) AS n FROM a GROUP BY 1, 2),
        | r AS (SELECT c.*, row_number() OVER (PARTITION BY target ORDER BY n DESC, anchor_text) AS rank FROM c)
        | SELECT target, anchor_text, n, CAST(rank AS INT) AS rank FROM r WHERE rank <= 2""".stripMargin.replace("\n", ""),
    "s12_sitemap_seed" ->
      ("""SELECT concat('http://site', CAST(doc_id % 50 AS VARCHAR), '.example.com/page/', CAST(doc_id AS VARCHAR)) AS loc,
        | CASE WHEN doc_id % 50 < 25 THEN concat('site', CAST(doc_id % 50 AS VARCHAR), '.example.com') END AS pref,
        | doc_id % 50 < 25 AS eligible
        | FROM documents
        | UNION ALL
        | SELECT concat('ftp://site', CAST(doc_id % 50 AS VARCHAR), '.example.com/bad/', CAST(doc_id AS VARCHAR)) AS loc,
        | CASE WHEN doc_id % 50 < 25 THEN concat('site', CAST(doc_id % 50 AS VARCHAR), '.example.com') END AS pref,
        | FALSE AS eligible
        | FROM documents""".stripMargin.replace("\n", "")),
    "h6_robots_drift" ->
      ("""SELECT 'site' || CAST(doc_id % 50 AS VARCHAR) AS host,
        | 'http://site' || CAST(doc_id % 50 AS VARCHAR) || '.example.com' ||
        |   CASE WHEN doc_id % 4 = 0 THEN '/private/' ELSE '/pub/' END || CAST(doc_id AS VARCHAR) AS url,
        | NOT (doc_id % 4 = 0 AND doc_id % 50 < 25) AS allowed_old,
        | NOT (doc_id % 4 <> 0 AND doc_id % 50 >= 25) AS allowed_new,
        | (doc_id % 4 <> 0 AND doc_id % 50 >= 25) AS newly_disallowed
        | FROM documents""".stripMargin.replace("\n", "")),
    "a4_meta_semi" ->
      s"WITH $metaSqlCtes SELECT count(*) AS n_content_with_meta FROM documents d WHERE d.doc_id % 7 = 0 AND EXISTS (SELECT 1 FROM meta m WHERE m.subject = '1220' || sha256(d.text) AND NOT m.deleted AND m.meta IS NOT NULL)",
    "a6b_latest_meta" ->
      s"WITH $metaSqlCtes SELECT hash, time_stamp, key_id, subject, prev, meta FROM meta WHERE key_id = 'key1' AND NOT deleted QUALIFY row_number() OVER (PARTITION BY subject ORDER BY time_stamp DESC, hash DESC) = 1 ORDER BY subject LIMIT 40 OFFSET 5",
    "a8_meta_count" ->
      s"WITH $metaSqlCtes SELECT count(*) AS n FROM meta WHERE key_id = 'key0' AND hash <> '1220e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855'",
    "j4b_collection_items" ->
      s"WITH $collectionSqlCtes SELECT i.collection_id, i.url_id, u.url, u.title, i.idx FROM items i JOIN urlids u ON u.id = i.url_id WHERE i.collection_id = 'coll3' ORDER BY i.idx, i.url_id LIMIT 20 OFFSET 5",
    "a7b_collection_length" ->
      "SELECT collection_id, count(*) AS n_items FROM (SELECT 'coll' || CAST(doc_id % 10 AS VARCHAR) AS collection_id FROM documents) GROUP BY collection_id",
    "p14_uncrawlable_gate" ->
      s"SELECT doc_id, $urlsSql AS url FROM documents WHERE doc_id % 13 <> 0",
    "p15_mux_dispatch" ->
      ("SELECT doc_id, CASE WHEN doc_id % 3 <> 0 AND CAST(doc_id AS VARCHAR) LIKE '1%' THEN 'deep' " +
        "WHEN doc_id % 3 <> 0 THEN 'docs' " +
        "WHEN doc_id % 2 = 0 THEN 'head_html' ELSE 'heads' END AS handler FROM documents"),
    "s3_list_sources" ->
      "SELECT host, created FROM (SELECT DISTINCT 'site' || CAST(doc_id % 50 AS VARCHAR) || '.example.com' AS host, TIMESTAMP '2017-01-01 00:00:00' + INTERVAL (doc_id % 50) SECOND AS created, (doc_id % 50) % 2 = 0 AS crawl, (doc_id % 50) % 7 = 3 AS deleted FROM documents) WHERE crawl AND NOT deleted ORDER BY created DESC, host LIMIT 10 OFFSET 5",
    "s4_list_datarepos" ->
      "SELECT id, created, title, url FROM (SELECT DISTINCT 'repo' || CAST(doc_id % 8 AS VARCHAR) AS id, TIMESTAMP '2017-01-01 00:00:00' + INTERVAL ((doc_id % 8) * 60) SECOND AS created, 'data repo ' || CAST(doc_id % 8 AS VARCHAR) AS title, 'http://repos.example.com/' || CAST(doc_id % 8 AS VARCHAR) AS url FROM documents) ORDER BY created DESC, id LIMIT 5 OFFSET 2",
    "s6_list_customcrawls" ->
      "SELECT id, created, name FROM (SELECT DISTINCT 'crawl' || CAST(doc_id % 6 AS VARCHAR) AS id, TIMESTAMP '2017-01-01 00:00:00' + INTERVAL ((doc_id % 6) * 30) SECOND AS created, 'custom crawl ' || CAST(doc_id % 6 AS VARCHAR) AS name FROM documents) ORDER BY created DESC, id LIMIT 4 OFFSET 1",
    "d7_paragraph_dedup" ->
      "WITH paras AS (SELECT doc_id, 'shared para ' || CAST(doc_id % 20 AS VARCHAR) AS paragraph FROM documents UNION ALL SELECT doc_id, 'unique para ' || CAST(doc_id AS VARCHAR) FROM documents) SELECT paragraph, min(doc_id) AS keep_id, count(*) AS n FROM paras GROUP BY paragraph",
    "t7_top_ngrams" ->
      "WITH bg AS (SELECT 't' || CAST(c.c AS VARCHAR) || 'x' || CAST(r.j AS VARCHAR) || ' t' || CAST(c.c AS VARCHAR) || 'x' || CAST(r.j + 1 AS VARCHAR) AS ngram, c.cnt AS n FROM (SELECT doc_id // 4 AS c, count(*) AS cnt FROM documents GROUP BY 1) c CROSS JOIN range(23) r(j) UNION ALL SELECT 't' || CAST(doc_id // 4 AS VARCHAR) || 'x23 u' || CAST(doc_id AS VARCHAR), 1 FROM documents) SELECT ngram, n FROM bg ORDER BY n DESC, ngram LIMIT 50",
    "t8_quality_filter" ->
      "SELECT doc_id, quality FROM (SELECT doc_id, round((CASE WHEN toks >= 10 THEN 0.5 ELSE 0.0 END) + (CASE WHEN mtl BETWEEN 3.0 AND 12.0 THEN 0.3 ELSE 0.0 END) + (CASE WHEN chars >= 100 THEN 0.2 ELSE 0.0 END), 2) AS quality FROM (SELECT doc_id, length(text) AS chars, CASE WHEN length(trim(text)) = 0 THEN 0 ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 END AS toks, CASE WHEN length(trim(text)) = 0 THEN 0.0 ELSE round(CAST(length(text) AS DOUBLE) / (length(trim(text)) - length(replace(trim(text), ' ', '')) + 1), 4) END AS mtl FROM documents)) WHERE quality >= 0.8",
    "a10_domain_rollup" ->
      "SELECT 'site' || CAST(doc_id % 50 AS VARCHAR) || '.example.com' AS host, count(*) AS n_urls, CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_content FROM documents GROUP BY 1",
    "t9_pii_scrub" ->
      ("SELECT doc_id, regexp_replace(regexp_replace(" +
        "concat('contact user', CAST(doc_id AS VARCHAR), '@example.com or +1-555-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), ' about ', source), " +
        "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'), " +
        "'\\+\\d{1,3}-\\d{3}-\\d{4}', '[PHONE]', 'g') AS scrubbed FROM documents"),
    "t10_repetition" ->
      "SELECT doc_id, round(1.0 - 2.0 / (doc_id % 4 + 2), 4) AS rep_ratio FROM documents",
    // arithmetic truth of the planted 16-id chain blocks: the component
    // minimum is reachable only via up to 15 hops, so these equalities hold
    // only if transitive closure is computed correctly
    "d10_dup_components" ->
      "SELECT doc_id, doc_id - doc_id % 16 AS component_id FROM documents",
    "d10b_component_dedup" ->
      "SELECT doc_id - doc_id % 16 AS component_id, min(doc_id) AS keep_id, count(*) AS cluster_size FROM documents GROUP BY 1",
    // hand-derived survivors of the five planted lines (keep rule: terminal
    // punctuation AND >=3 words AND no code/boilerplate marker)
    "t11_c4_filter" ->
      ("SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN " +
        "'This is a good sentence number ' || CAST(doc_id AS VARCHAR) || '.' || chr(10) || 'Another fine line for even docs.' " +
        "ELSE 'This is a good sentence number ' || CAST(doc_id AS VARCHAR) || '.' END AS clean_text, " +
        "CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS n_kept_lines FROM documents"),
    // planted contamination truth: only the 3 in-phrase 8-gram windows of
    // the doc_id%5==0 docs occur in the benchmark phrase
    "t12_decontamination" ->
      "SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN 3 ELSE 0 END AS n_contaminated, doc_id % 5 = 0 AS contaminated FROM documents",
    // independent Gopher-signal recomputation: DuckDB list lambdas over the
    // same planted text (regexp split, list_filter/list_transform,
    // list_intersect — engine-native, shares no code with the Spark side)
    "t13_gopher_quality" ->
      ("WITH planted AS (SELECT doc_id, text || CASE " +
        "WHEN doc_id % 3 = 0 THEN chr(10) || '- bullet item one' || chr(10) || '- bullet item two' " +
        "WHEN doc_id % 3 = 1 THEN chr(10) || 'this trails off...' || chr(10) || 'and more...' " +
        "ELSE '' END AS t FROM documents), " +
        "sig AS (SELECT doc_id, t, " +
        "CASE WHEN length(trim(t)) = 0 THEN CAST([] AS VARCHAR[]) ELSE regexp_split_to_array(trim(t), '\\s+') END AS words, " +
        "list_filter(string_split(t, chr(10)), l -> length(trim(l)) > 0) AS lines FROM planted), " +
        "sig2 AS (SELECT doc_id, t, words, lines, len(words) AS nw, len(lines) AS nl, " +
        "length(t) - length(replace(t, '#', '')) AS nhash, " +
        "(length(t) - length(replace(t, '...', ''))) / 3 AS nell FROM sig) " +
        "SELECT doc_id, CAST(nw AS BIGINT) AS g_words, " +
        "CASE WHEN nw > 0 THEN round(CAST(list_sum(list_transform(words, w -> length(w))) AS DOUBLE) / nw, 4) ELSE 0.0 END AS g_mean_wlen, " +
        "CASE WHEN nw > 0 THEN round(CAST(nhash + nell AS DOUBLE) / nw, 4) ELSE 0.0 END AS g_symbol_ratio, " +
        "CASE WHEN nl > 0 THEN round(CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]'))) AS DOUBLE) / nl, 4) ELSE 0.0 END AS g_bullet_frac, " +
        "CASE WHEN nl > 0 THEN round(CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '\\.\\.\\.$'))) AS DOUBLE) / nl, 4) ELSE 0.0 END AS g_ellipsis_frac, " +
        "CASE WHEN nw > 0 THEN round(CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE) / nw, 4) ELSE 0.0 END AS g_alpha_frac, " +
        "CAST(len(list_intersect(list_transform(words, w -> lower(w)), ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS g_stops, " +
        "(nw BETWEEN 50 AND 100000) AND " +
        "(CASE WHEN nw > 0 THEN round(CAST(list_sum(list_transform(words, w -> length(w))) AS DOUBLE) / nw, 4) ELSE 0.0 END BETWEEN 3.0 AND 10.0) AND " +
        "(CASE WHEN nw > 0 THEN round(CAST(nhash + nell AS DOUBLE) / nw, 4) ELSE 0.0 END <= 0.1) AND " +
        "(CASE WHEN nl > 0 THEN round(CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]'))) AS DOUBLE) / nl, 4) ELSE 0.0 END <= 0.9) AND " +
        "(CASE WHEN nl > 0 THEN round(CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '\\.\\.\\.$'))) AS DOUBLE) / nl, 4) ELSE 0.0 END <= 0.3) AND " +
        "(CASE WHEN nw > 0 THEN round(CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE) / nw, 4) ELSE 0.0 END >= 0.8) AND " +
        "(len(list_intersect(list_transform(words, w -> lower(w)), ['the','be','to','of','and','that','have','with'])) >= 2) AS keep " +
        "FROM sig2"),
    // planted d2 quadruples are the clusters; keep = min of each
    "d11_minhash_dedup" ->
      "SELECT doc_id - doc_id % 4 AS component_id, min(doc_id) AS keep_id, count(*) AS cluster_size FROM documents GROUP BY 1",
    "d8_url_canonical_dedup" ->
      s"SELECT ${urlsSql.replace("doc_id", "(doc_id - doc_id % 3)")} AS canonical, min(doc_id) AS keep_id, count(*) AS n FROM documents GROUP BY 1",
    "d12_window_dedup" ->
      ("SELECT doc_id, CAST(CASE WHEN doc_id % 7 = 0 THEN 6 ELSE 21 END AS BIGINT) AS n_windows, " +
        "CAST(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE 20 END AS BIGINT) AS n_dup_windows FROM documents"),
    // containment closed form: within a group of 8 (g = id div 8), the 3
    // A docs (r<3) share all 9 base windows (12 tokens, n=4), B docs (3<=r<6)
    // contain those 9 among their 14 — so A→A and A→B are 9/9 = 1.0; every
    // other pair is ≤ 8/9 or hot-capped, below the 0.9 gate
    "d13_containment" ->
      ("WITH d AS (SELECT doc_id, doc_id // 8 AS g, doc_id % 8 AS r FROM documents), " +
        "a AS (SELECT doc_id, g FROM d WHERE r < 3), " +
        "b AS (SELECT doc_id, g FROM d WHERE r >= 3 AND r < 6) " +
        "SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, CAST(9 AS BIGINT) AS shared, " +
        "CAST(9 AS BIGINT) AS nw_a, CAST(1000000 AS BIGINT) AS containment_micro " +
        "FROM a x JOIN a y ON x.g = y.g AND x.doc_id <> y.doc_id " +
        "UNION ALL " +
        "SELECT x.doc_id, y.doc_id, CAST(9 AS BIGINT), CAST(9 AS BIGINT), CAST(1000000 AS BIGINT) " +
        "FROM a x JOIN b y ON x.g = y.g"),
    // exact-integer PageRank twin: S_{k+1}(v) = 18*120^k + sum (102/d_u)*S_k(u)
    // (derivation in ops/Graph.scala scaladoc); five unrolled iterations
    "g1_pagerank" ->
      ("WITH e AS (SELECT DISTINCT doc_id AS src, (doc_id + j*j) % (SELECT count(*) FROM documents) AS dst " +
        "FROM documents, (SELECT unnest(range(1,4)) AS j) js WHERE j <= 1 + doc_id % 3), " +
        "we AS (SELECT src, dst, 102 // (count(*) OVER (PARTITION BY src)) AS w FROM e), " +
        "r0 AS (SELECT doc_id AS id, CAST(1 AS BIGINT) AS s FROM documents), " +
        "r1 AS (SELECT we.dst AS id, CAST(18 + sum(we.w * r0.s) AS BIGINT) AS s FROM we JOIN r0 ON r0.id = we.src GROUP BY we.dst), " +
        "r2 AS (SELECT we.dst AS id, CAST(2160 + sum(we.w * r1.s) AS BIGINT) AS s FROM we JOIN r1 ON r1.id = we.src GROUP BY we.dst), " +
        "r3 AS (SELECT we.dst AS id, CAST(259200 + sum(we.w * r2.s) AS BIGINT) AS s FROM we JOIN r2 ON r2.id = we.src GROUP BY we.dst), " +
        "r4 AS (SELECT we.dst AS id, CAST(31104000 + sum(we.w * r3.s) AS BIGINT) AS s FROM we JOIN r3 ON r3.id = we.src GROUP BY we.dst), " +
        "r5 AS (SELECT we.dst AS id, CAST(3732480000 + sum(we.w * r4.s) AS BIGINT) AS s FROM we JOIN r4 ON r4.id = we.src GROUP BY we.dst) " +
        "SELECT id, s AS s_rank FROM r5"),
    "g4_hits" ->
      ("WITH e AS (SELECT DISTINCT doc_id AS src, (doc_id + j*j) % (SELECT count(*) FROM documents) AS dst " +
        "FROM documents, (SELECT unnest(range(1,4)) AS j) js WHERE j <= 1 + doc_id % 3), " +
        "a0 AS (SELECT doc_id AS id, CAST(1 AS BIGINT) AS v FROM documents), " +
        "h1 AS (SELECT e.src AS id, sum(a0.v) AS v FROM e JOIN a0 ON a0.id = e.dst GROUP BY e.src), " +
        "a1 AS (SELECT e.dst AS id, sum(h1.v) AS v FROM e JOIN h1 ON h1.id = e.src GROUP BY e.dst), " +
        "h2 AS (SELECT e.src AS id, sum(a1.v) AS v FROM e JOIN a1 ON a1.id = e.dst GROUP BY e.src), " +
        "a2 AS (SELECT e.dst AS id, sum(h2.v) AS v FROM e JOIN h2 ON h2.id = e.src GROUP BY e.dst), " +
        "h3 AS (SELECT e.src AS id, sum(a2.v) AS v FROM e JOIN a2 ON a2.id = e.dst GROUP BY e.src), " +
        "a3 AS (SELECT e.dst AS id, sum(h3.v) AS v FROM e JOIN h3 ON h3.id = e.src GROUP BY e.dst) " +
        "SELECT d.doc_id AS id, CAST(coalesce(h3.v, 0) AS BIGINT) AS hub_s, " +
        "CAST(coalesce(a3.v, 0) AS BIGINT) AS auth_s FROM documents d " +
        "LEFT JOIN h3 ON h3.id = d.doc_id LEFT JOIN a3 ON a3.id = d.doc_id"),
    "g3_personalized_pagerank" ->
      ("WITH e AS (SELECT DISTINCT doc_id AS src, (doc_id + j*j) % (SELECT count(*) FROM documents) AS dst " +
        "FROM documents, (SELECT unnest(range(1,4)) AS j) js WHERE j <= 1 + doc_id % 3), " +
        "we AS (SELECT src, dst, 102 // (count(*) OVER (PARTITION BY src)) AS w FROM e), " +
        "r0 AS (SELECT doc_id AS id, CAST(CASE WHEN doc_id < 3 THEN 1 ELSE 0 END AS BIGINT) AS s FROM documents), " +
        "r1 AS (SELECT we.dst AS id, CAST((CASE WHEN we.dst < 3 THEN 18 ELSE 0 END) + sum(we.w * r0.s) AS BIGINT) AS s FROM we JOIN r0 ON r0.id = we.src GROUP BY we.dst), " +
        "r2 AS (SELECT we.dst AS id, CAST((CASE WHEN we.dst < 3 THEN 2160 ELSE 0 END) + sum(we.w * r1.s) AS BIGINT) AS s FROM we JOIN r1 ON r1.id = we.src GROUP BY we.dst), " +
        "r3 AS (SELECT we.dst AS id, CAST((CASE WHEN we.dst < 3 THEN 259200 ELSE 0 END) + sum(we.w * r2.s) AS BIGINT) AS s FROM we JOIN r2 ON r2.id = we.src GROUP BY we.dst), " +
        "r4 AS (SELECT we.dst AS id, CAST((CASE WHEN we.dst < 3 THEN 31104000 ELSE 0 END) + sum(we.w * r3.s) AS BIGINT) AS s FROM we JOIN r3 ON r3.id = we.src GROUP BY we.dst), " +
        "r5 AS (SELECT we.dst AS id, CAST((CASE WHEN we.dst < 3 THEN 3732480000 ELSE 0 END) + sum(we.w * r4.s) AS BIGINT) AS s FROM we JOIN r4 ON r4.id = we.src GROUP BY we.dst) " +
        "SELECT id, s AS s_rank FROM r5"),
    "g2_crawl_depth" ->
      ("WITH RECURSIVE e AS (SELECT DISTINCT doc_id AS src, (doc_id + j*j) % (SELECT count(*) FROM documents) AS dst " +
        "FROM documents, (SELECT unnest(range(1,4)) AS j) js WHERE j <= 1 + doc_id % 3), " +
        "bfs(id, depth) AS (SELECT doc_id, 0 FROM documents WHERE doc_id < 3 " +
        "UNION SELECT e.dst, bfs.depth + 1 FROM bfs JOIN e ON e.src = bfs.id WHERE bfs.depth < 6) " +
        "SELECT id, min(depth) AS depth FROM bfs GROUP BY id"),
    // pinned golden rows from the deterministic fixture crawl (the
    // crawl engine surfaced through the oracle gate as VALUES literals)
    "crawl1_fixture_urls" ->
      "SELECT * FROM (VALUES ('ftp://ftp.6te.net/', CAST(0 AS INT), '', '', CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP), CAST(0 AS BIGINT)), ('http://127.0.0.1:8002', CAST(200 AS INT), 'text/html; charset=utf-8', 'ChinchilasAreFun.com', TIMESTAMP '2017-01-01 00:00:02', CAST(NULL AS TIMESTAMP), CAST(1246 AS BIGINT)), ('http://127.0.0.1:8002/gallery.html', CAST(200 AS INT), 'text/html; charset=utf-8', 'ChinchilasAreFun.com', TIMESTAMP '2017-01-01 00:00:17', TIMESTAMP '2017-01-01 00:00:09', CAST(369 AS BIGINT)), ('http://127.0.0.1:8002/index.html', CAST(200 AS INT), 'text/html; charset=utf-8', 'ChinchilasAreFun.com', TIMESTAMP '2017-01-01 00:00:33', TIMESTAMP '2017-01-01 00:00:26', CAST(1246 AS BIGINT)), ('http://127.0.0.1:8002/styles.css', CAST(200 AS INT), 'text/plain; charset=utf-8', '', TIMESTAMP '2017-01-01 00:00:10', CAST(NULL AS TIMESTAMP), CAST(0 AS BIGINT)), ('http://reddit.com', CAST(0 AS INT), '', '', CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP), CAST(0 AS BIGINT)), ('http://yahoo.com', CAST(0 AS INT), '', '', CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP), CAST(0 AS BIGINT)), ('https://google.com/', CAST(0 AS INT), '', '', CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP), CAST(0 AS BIGINT)), ('mailto:somerandomemai@domain.co.ck', CAST(0 AS INT), '', '', CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP), CAST(0 AS BIGINT))) AS t(url, status, content_sniff, title, last_get, last_head, content_length)",
    "crawl2_fixture_links" ->
      "SELECT * FROM (VALUES ('http://127.0.0.1:8002', 'ftp://ftp.6te.net/', TIMESTAMP '2017-01-01 00:00:02'), ('http://127.0.0.1:8002', 'http://127.0.0.1:8002/gallery.html', TIMESTAMP '2017-01-01 00:00:02'), ('http://127.0.0.1:8002', 'http://127.0.0.1:8002/styles.css', TIMESTAMP '2017-01-01 00:00:02'), ('http://127.0.0.1:8002', 'http://reddit.com', TIMESTAMP '2017-01-01 00:00:02'), ('http://127.0.0.1:8002', 'http://yahoo.com', TIMESTAMP '2017-01-01 00:00:02'), ('http://127.0.0.1:8002', 'https://google.com/', TIMESTAMP '2017-01-01 00:00:02'), ('http://127.0.0.1:8002', 'mailto:somerandomemai@domain.co.ck', TIMESTAMP '2017-01-01 00:00:02'), ('http://127.0.0.1:8002/gallery.html', 'http://127.0.0.1:8002/index.html', TIMESTAMP '2017-01-01 00:00:17'), ('http://127.0.0.1:8002/gallery.html', 'http://127.0.0.1:8002/styles.css', TIMESTAMP '2017-01-01 00:00:17'), ('http://127.0.0.1:8002/index.html', 'ftp://ftp.6te.net/', TIMESTAMP '2017-01-01 00:00:33'), ('http://127.0.0.1:8002/index.html', 'http://127.0.0.1:8002/gallery.html', TIMESTAMP '2017-01-01 00:00:33'), ('http://127.0.0.1:8002/index.html', 'http://127.0.0.1:8002/styles.css', TIMESTAMP '2017-01-01 00:00:33'), ('http://127.0.0.1:8002/index.html', 'http://reddit.com', TIMESTAMP '2017-01-01 00:00:33'), ('http://127.0.0.1:8002/index.html', 'http://yahoo.com', TIMESTAMP '2017-01-01 00:00:33'), ('http://127.0.0.1:8002/index.html', 'https://google.com/', TIMESTAMP '2017-01-01 00:00:33'), ('http://127.0.0.1:8002/index.html', 'mailto:somerandomemai@domain.co.ck', TIMESTAMP '2017-01-01 00:00:33')) AS t(src, dst, created)",
    "crawl3_fixture_order" ->
      "SELECT * FROM (VALUES (CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE), '127.0.0.1:8002', 'A', 'GET', 'http://127.0.0.1:8002/robots.txt', CAST(-1 AS BIGINT), 'robots'), (CAST(0 AS BIGINT), CAST(1.0 AS DOUBLE), '127.0.0.1:8002', 'A', 'GET', 'http://127.0.0.1:8002', CAST(1 AS BIGINT), 'ok'), (CAST(1 AS BIGINT), CAST(8.0 AS DOUBLE), '127.0.0.1:8002', 'A', 'HEAD', 'http://127.0.0.1:8002/gallery.html', CAST(4311744514 AS BIGINT), 'ok'), (CAST(1 AS BIGINT), CAST(8.0 AS DOUBLE), '127.0.0.1:8002', 'B', 'GET', 'http://127.0.0.1:8002/robots.txt', CAST(-1 AS BIGINT), 'robots'), (CAST(1 AS BIGINT), CAST(8.0 AS DOUBLE), 'google.com', 'A', 'GET', 'https://google.com/robots.txt', CAST(-1 AS BIGINT), 'robots'), (CAST(1 AS BIGINT), CAST(8.0 AS DOUBLE), 'reddit.com', 'A', 'GET', 'http://reddit.com/robots.txt', CAST(-1 AS BIGINT), 'robots'), (CAST(1 AS BIGINT), CAST(8.0 AS DOUBLE), 'yahoo.com', 'A', 'GET', 'http://yahoo.com/robots.txt', CAST(-1 AS BIGINT), 'robots'), (CAST(1 AS BIGINT), CAST(9.0 AS DOUBLE), '127.0.0.1:8002', 'B', 'GET', 'http://127.0.0.1:8002/styles.css', CAST(4311744513 AS BIGINT), 'ok'), (CAST(1 AS BIGINT), CAST(9.0 AS DOUBLE), 'google.com', 'A', 'HEAD', 'https://google.com/', CAST(4311744513 AS BIGINT), 'error'), (CAST(1 AS BIGINT), CAST(9.0 AS DOUBLE), 'reddit.com', 'A', 'HEAD', 'http://reddit.com', CAST(4311744513 AS BIGINT), 'error'), (CAST(1 AS BIGINT), CAST(9.0 AS DOUBLE), 'yahoo.com', 'A', 'HEAD', 'http://yahoo.com', CAST(4311744513 AS BIGINT), 'error'), (CAST(2 AS BIGINT), CAST(16.0 AS DOUBLE), '127.0.0.1:8002', 'A', 'GET', 'http://127.0.0.1:8002/gallery.html', CAST(8606711809 AS BIGINT), 'ok'), (CAST(3 AS BIGINT), CAST(24.0 AS DOUBLE), '127.0.0.1:8002', 'A', 'HEAD', 'http://127.0.0.1:8002/styles.css', CAST(12901679105 AS BIGINT), 'ok'), (CAST(3 AS BIGINT), CAST(25.0 AS DOUBLE), '127.0.0.1:8002', 'A', 'HEAD', 'http://127.0.0.1:8002/index.html', CAST(12901679106 AS BIGINT), 'ok'), (CAST(4 AS BIGINT), CAST(32.0 AS DOUBLE), '127.0.0.1:8002', 'A', 'GET', 'http://127.0.0.1:8002/index.html', CAST(17196646401 AS BIGINT), 'ok'), (CAST(5 AS BIGINT), CAST(40.0 AS DOUBLE), 'google.com', 'A', 'HEAD', 'https://google.com/', CAST(21491613697 AS BIGINT), 'error'), (CAST(5 AS BIGINT), CAST(40.0 AS DOUBLE), 'reddit.com', 'A', 'HEAD', 'http://reddit.com', CAST(21491613697 AS BIGINT), 'error'), (CAST(5 AS BIGINT), CAST(40.0 AS DOUBLE), 'yahoo.com', 'A', 'HEAD', 'http://yahoo.com', CAST(21491613697 AS BIGINT), 'error')) AS t(wave, vt, host, lane, method, url, seq, outcome)",
    // independent BFS replay over the same 16 pinned links the crawl2
    // oracle carries: min hop count from the seed, bounded at 4 hops
    "crawl4_link_depth" ->
      ("WITH RECURSIVE e(src, dst) AS (SELECT * FROM (VALUES " +
        "('http://127.0.0.1:8002', 'ftp://ftp.6te.net/'), " +
        "('http://127.0.0.1:8002', 'http://127.0.0.1:8002/gallery.html'), " +
        "('http://127.0.0.1:8002', 'http://127.0.0.1:8002/styles.css'), " +
        "('http://127.0.0.1:8002', 'http://reddit.com'), " +
        "('http://127.0.0.1:8002', 'http://yahoo.com'), " +
        "('http://127.0.0.1:8002', 'https://google.com/'), " +
        "('http://127.0.0.1:8002', 'mailto:somerandomemai@domain.co.ck'), " +
        "('http://127.0.0.1:8002/gallery.html', 'http://127.0.0.1:8002/index.html'), " +
        "('http://127.0.0.1:8002/gallery.html', 'http://127.0.0.1:8002/styles.css'), " +
        "('http://127.0.0.1:8002/index.html', 'ftp://ftp.6te.net/'), " +
        "('http://127.0.0.1:8002/index.html', 'http://127.0.0.1:8002/gallery.html'), " +
        "('http://127.0.0.1:8002/index.html', 'http://127.0.0.1:8002/styles.css'), " +
        "('http://127.0.0.1:8002/index.html', 'http://reddit.com'), " +
        "('http://127.0.0.1:8002/index.html', 'http://yahoo.com'), " +
        "('http://127.0.0.1:8002/index.html', 'https://google.com/'), " +
        "('http://127.0.0.1:8002/index.html', 'mailto:somerandomemai@domain.co.ck')" +
        ") AS t(src, dst)), " +
        "bfs(url, depth) AS (SELECT 'http://127.0.0.1:8002', 0 " +
        "UNION SELECT e.dst, bfs.depth + 1 FROM bfs JOIN e ON e.src = bfs.url WHERE bfs.depth < 4) " +
        "SELECT url, CAST(min(depth) AS INT) AS depth FROM bfs GROUP BY url")
  )
}

/** Runs the fixture-site crawl once per JVM and serves its output tables
  * (the crawl engine surfaced through the driver's correctness gate). */
object CrawlFixture {
  import graft.crawl._
  private var cached: Option[(SparkSession, Scheduler)] = None

  private def sched(spark: SparkSession): Scheduler = synchronized {
    cached match {
      case Some((s, sc)) if s eq spark => sc
      case _ =>
        val store = new TableStore(spark,
          java.nio.file.Files.createTempDirectory("crawl-entry").toString)
        val sc = new Scheduler(spark, store, CrawlConfig())
        sc.bootstrap(
          Fixtures.pagesDF(spark, Fixtures.staticSitePages),
          Fixtures.sourcesDF(spark, Fixtures.staticSiteSources))
        sc.run(maxWaves = 40)
        cached = Some((spark, sc))
        sc
    }
  }

  def urls(spark: SparkSession): DataFrame =
    sched(spark).urlsView.select("url", "status", "content_sniff", "title",
      "last_get", "last_head", "content_length")
  def links(spark: SparkSession): DataFrame =
    sched(spark).linksView.select("src", "dst", "created")
  def fetchLog(spark: SparkSession): DataFrame =
    sched(spark).fetchLogView.select("wave", "vt", "host", "lane", "method",
      "url", "seq", "outcome")
}
