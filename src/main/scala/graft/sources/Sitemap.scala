package graft.sources

import graft.functions.{Bytes, Kernel}
import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Sitemap ingest plumbing (sitemaps.org protocol) — the discovery side
  * of the crawl loop: robots.txt advertises sitemap URLs
  * ([[graft.functions.RobotsTxt.sitemaps]]), each sitemap body is either
  * a `<urlset>` of page entries or a `<sitemapindex>` of CHILD sitemap
  * URLs (the recursion contract — an index never carries page URLs),
  * and the dominant wire form is gzip-compressed (`.xml.gz`). This
  * object owns the byte-level step: body bytes → XML text, inflating
  * when the payload is gzip (sniffed from the 1f 8b magic, the same
  * posture as the WARC reader's member sniff) and decoding UTF-8
  * strictly otherwise — torn gzip streams and malformed UTF-8 yield
  * NULL, never half-decoded markup. The XML-level parse stays
  * declarative regexp extraction in the query layer (q110), where
  * `<url>` blocks become `kind='url'` rows and `<sitemap>` blocks
  * become `kind='sitemap'` rows whose locs feed the next ingest round.
  *
  * Scale shape: pure map-side kernels (StaticInvoke, whole-stage
  * codegen); a sitemap fetch frame is (url, body) rows, so parallelism
  * is row count — no shuffles anywhere in the decode.
  */
object Sitemap {

  /** Body bytes → XML text: gzip inflates (magic-sniffed), plain bytes
    * decode as strict UTF-8; torn/garbage → null.
    */
  def bodyTextKernel(body: Array[Byte]): UTF8String = {
    if (body == null) return null
    val bytes =
      if (!Bytes.isGzip(body)) body
      else try { // a torn member header throws from the constructor
        val in = new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(body))
        try {
          val out = new java.io.ByteArrayOutputStream(body.length * 4)
          val buf = new Array[Byte](8192)
          var n = in.read(buf)
          while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
          out.toByteArray
        } finally in.close()
      } catch { case _: java.io.IOException => return null }
    try {
      val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
      UTF8String.fromString(dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString)
    } catch { case _: java.nio.charset.CharacterCodingException => null }
  }

  /** UTF-8 string → gzip bytes (fixture/test side of the roundtrip; the
    * oracle only ever sees the DECODED text, so member-header bytes
    * need no cross-engine determinism).
    */
  def gzipUtf8Kernel(s: UTF8String): Array[Byte] = {
    if (s == null) return null
    val out = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(out)
    g.write(s.getBytes)
    g.close()
    out.toByteArray
  }

  // ---- column surface -----------------------------------------------------

  /** XML text of a possibly-gzipped sitemap body (see kernel). */
  def bodyText(body: Column): Column =
    Kernel(classOf[Sitemap.type], "bodyTextKernel", StringType,
      returnNullable = true)(body)

  /** Gzip a UTF-8 string column (fixture side). */
  def gzipUtf8(s: Column): Column =
    Kernel(classOf[Sitemap.type], "gzipUtf8Kernel", BinaryType,
      returnNullable = true)(s)
}
