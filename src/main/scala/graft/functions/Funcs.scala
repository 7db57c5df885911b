package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level surface of the scalar layer (SURVEY §2.7).
  *
  * Pure Scala functions exposed as Spark UDFs. Hot-path arithmetic/hashes use
  * built-in codegen'd functions where the semantics allow (sha2, concat);
  * the Go-parity functions (sniff, url resolve, html extraction) are UDFs —
  * they are the irreducible custom kernels of the engine.
  */
object Funcs {

  /** Spark's `lower`, row for row, without its start-up cost on ASCII rows.
    * Spark 4.1's `lower` calls `CollationAwareUTF8String`, whose static
    * initializer runs ICU (about a second, once per JVM); for an all-ASCII
    * string it then returns the A-Z -> a-z byte mapping. This computes that
    * mapping with `translate` after an exact ASCII test (a string decodes
    * to ASCII characters only if every byte is below 0x80; an invalid byte
    * decodes as U+FFFD) and leaves every other row to `lower`. Locale-free,
    * unlike `String.toLowerCase()`. */
  def foldCase(c: Column): Column =
    when(!c.rlike("[^\\x00-\\x7F]"), translate(c, AsciiUpper, AsciiUpper.toLowerCase(java.util.Locale.ROOT)))
      .otherwise(lower(c))

  private val AsciiUpper = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"

  /** F6: sha256 multihash of a binary column — pure built-ins (codegen'd). */
  def multihash(c: Column): Column = concat(lit("1220"), sha2(c, 256))

  /** F7: link hash (Go-json field order src,dst — core/link.go:90-110). */
  val linkHashUdf = udf((src: String, dst: String) => Hashing.linkHash(src, dst))

  /** F12 replacement: deterministic sha-derived uuid-shaped id (SURVEY §7.4). */
  val urlIdUdf = udf((url: String) => Hashing.urlId(url))

  /** F5: Go http.DetectContentType over the body bytes. */
  val sniffUdf = udf((body: Array[Byte]) => Sniff.detectContentType(body))

  /** F1: purell-flag URL normalization (exposed, never applied on storage). */
  val normalizeUdf = udf((u: String) => Normalize.normalizeUrlString(u).getOrElse(u))

  /** F2 helpers. */
  val hostUdf = udf((u: String) => GoUrl.hostOf(u))
  val pathUdf = udf((u: String) => GoUrl.parse(u).map(_.path).getOrElse(""))
  val schemeUdf = udf((u: String) => GoUrl.parse(u).map(_.scheme).getOrElse(""))
  val isFetchableUdf = udf((u: String) => GoUrl.isFetchable(u))
  val resolveHrefUdf = udf((base: String, href: String) =>
    LinkExtract.resolveHref(base, href).orNull)

  /** F3: ffi.FilenameFromUrlString (Go filepath.Base of the path). */
  val filenameUdf = udf((u: String) => GoUrl.filenameFromUrl(u).getOrElse(""))
  val extUdf = udf((u: String) =>
    GoUrl.filenameFromUrl(u).map(GoUrl.filepathExt).getOrElse(""))

  /** F4: extension -> MIME (ffi.go:60-66); null = unrecognized. */
  val extMimeUdf = udf((ext: String) => FfiTable.extToMime.get(ext).orNull)

  /** F4 reverse: MIME -> extension (ffi.MimeTypeExtension, ffi.go:50-58);
    * null = unrecognized MIME type. */
  val mimeExtUdf = udf((mime: String) => FfiTable.mimeToExt.get(mime).orNull)

  /** ffi.SetExtension (ffi.go:68-77): strip the current extension, append
    * the MIME type's extension; unchanged when the MIME is unrecognized. */
  val setExtensionUdf = udf { (filename: String, mime: String) =>
    FfiTable.mimeToExt.get(mime) match {
      case None => filename
      case Some(ext) =>
        val suffix = GoUrl.filepathExt(filename)
        filename.substring(0, filename.length - suffix.length) + ext
    }
  }

  /** F8: title extraction (goquery Find("title").Text()). */
  val titleUdf = udf((body: Array[Byte]) => LinkExtract.titleFromBody(body))

  /** F5+F8 fused: one UDF returning (sniff, is_doc, title). Semantically
    * identical to sniffUdf + the is_doc predicate + titleUdf-when-doc, but
    * the body bytes cross the UDF boundary ONCE — each separate binary UDF
    * pays its own byte[] copy of the (KBs-sized) page, and on a 32-core
    * wave that copy traffic is memory-bus time (measured ~10% of the map
    * phase). Title is null for non-docs, matching the when() spelling. */
  val pageParseUdf = udf { (body: Array[Byte]) =>
    val sniff = Sniff.detectContentType(body)
    val isDoc = sniff == "text/html; charset=utf-8" ||
      sniff == "text/plain; charset=utf-8"
    (sniff, isDoc, if (isDoc) LinkExtract.titleFromBody(body) else null)
  }

  /** Visible-text extraction (input_hint invariant: extracted text per url). */
  val extractTextUdf = udf((body: Array[Byte]) =>
    HtmlTok.extractText(HtmlTok.bytesToString(body)))

  /** (href, anchor_text) structs in document order — link context for
    * ranking features and query-document training pairs. */
  val extractAnchorsUdf = udf((body: Array[Byte]) =>
    HtmlTok.extractAnchors(HtmlTok.bytesToString(body)))

  /** F9: href extraction resolved against the page url (document order). */
  val extractLinksUdf = udf((pageUrl: String, body: Array[Byte]) =>
    LinkExtract.extractLinksFromBody(pageUrl, body))

  /** P5: SuspectedContentUrl (core/url.go:336-352). */
  val suspectedContentUdf = udf((u: String, sniff: String) =>
    Sniff.suspectedContentUrl(u, if (sniff == null) "" else sniff))

  /** Synthetic response Content-Type for the offline page table: Go
    * http.FileServer semantics — mime.TypeByExtension first (builtin table,
    * text types get charset=utf-8), ffi table next, content sniff last. */
  def contentTypeFor(url: String, body: Array[Byte]): String = {
    val ext = GoUrl.filenameFromUrl(url).map(GoUrl.filepathExt).getOrElse("")
    val builtin = ext.toLowerCase(java.util.Locale.ROOT) match {
      case ".html" | ".htm" => "text/html; charset=utf-8"
      case ".css"           => "text/css; charset=utf-8"
      case ".js" | ".mjs"   => "text/javascript; charset=utf-8"
      case ".txt"           => "text/plain; charset=utf-8"
      case ".xml"           => "text/xml; charset=utf-8"
      case ".json"          => "application/json"
      case ".pdf"           => "application/pdf"
      case ".png"           => "image/png"
      case ".jpg" | ".jpeg" => "image/jpeg"
      case ".gif"           => "image/gif"
      case ".svg"           => "image/svg+xml"
      case ".webp"          => "image/webp"
      case ".wasm"          => "application/wasm"
      case ""               => if (GoUrl.parse(url).map(_.path).getOrElse("").endsWith("/") ||
                                   !GoUrl.parse(url).map(_.path).getOrElse("").contains("."))
                                 "text/html; charset=utf-8" // directory index
                               else ""
      case _                => ""
    }
    if (builtin.nonEmpty) builtin
    else FfiTable.extToMime.getOrElse(ext, Sniff.detectContentType(body))
  }

  val contentTypeUdf = udf((url: String, body: Array[Byte]) => contentTypeFor(url, body))

  /** Register the SQL-facing names for spark.sql use. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.udf.register("graft_sniff", sniffUdf)
    spark.udf.register("graft_normalize_url", normalizeUdf)
    spark.udf.register("graft_url_host", hostUdf)
    spark.udf.register("graft_is_fetchable", isFetchableUdf)
    spark.udf.register("graft_resolve_href", resolveHrefUdf)
    spark.udf.register("graft_filename", filenameUdf)
    spark.udf.register("graft_ext_mime", extMimeUdf)
    spark.udf.register("graft_mime_ext", mimeExtUdf)
    spark.udf.register("graft_set_extension", setExtensionUdf)
    spark.udf.register("graft_title", titleUdf)
    spark.udf.register("graft_extract_links", extractLinksUdf)
    spark.udf.register("graft_link_hash", linkHashUdf)
    spark.udf.register("graft_url_id", urlIdUdf)
    spark.udf.register("graft_suspected_content", suspectedContentUdf)
  }
}
