package graft

import graft.sources.Sitemap
import org.apache.spark.sql.functions._

/** Kernel-level coverage for the sitemap body decode — q110's oracle
  * proves the composed parse (index recursion, gzip, canonicalization);
  * these pin the byte-level edge cases the fixture can't isolate.
  */
class SitemapSpec extends SparkSpec {

  private def roundtrip(xml: String): String = {
    val r = spark.range(1)
      .select(Sitemap.bodyText(Sitemap.gzipUtf8(lit(xml))).as("t"))
      .collect()(0)
    if (r.isNullAt(0)) null else r.getString(0)
  }

  test("gzip bodies sniff and inflate; plain bodies pass through") {
    val xml = "<?xml version=\"1.0\"?><urlset><url><loc>http://h.example/a" +
      "</loc></url></urlset>"
    assert(roundtrip(xml) == xml)
    val plain = spark.range(1)
      .select(Sitemap.bodyText(lit(xml).cast("binary")).as("t"))
      .collect()(0).getString(0)
    assert(plain == xml)
  }

  test("torn gzip and malformed UTF-8 yield NULL, never half-decoded markup") {
    val kernel = Sitemap.bodyTextKernel _
    val good = Sitemap.gzipUtf8Kernel(
      org.apache.spark.unsafe.types.UTF8String.fromString("<urlset/>"))
    assert(kernel(good).toString == "<urlset/>")
    // torn member: drop the tail past the gzip header
    assert(kernel(good.dropRight(6)) == null)
    // torn member header: the magic alone, then magic and method
    assert(kernel(good.take(2)) == null)
    assert(kernel(good.take(3)) == null)
    // plain bytes that are not valid UTF-8
    assert(kernel(Array[Byte](0x3c, -1, -2, 0x3e)) == null)
    assert(kernel(null) == null)
  }

  test("non-ASCII survives the gzip roundtrip byte-exactly") {
    val xml = "<urlset><url><loc>http://h.example/ż–✓</loc></url></urlset>"
    assert(roundtrip(xml) == xml)
  }

  test("RSS pubDate parses every conventional RFC-822 wire shape") {
    import spark.implicits._
    def rss(d: String) = "<?xml version=\"1.0\"?><rss version=\"2.0\">" +
      "<channel><item><title>t</title><link>http://h/x</link>" +
      s"<pubDate>$d</pubDate></item></channel></rss>"
    val shapes = Seq(
      // the conventional shape virtually every real feed emits
      1L -> rss("Tue, 10 Jun 2003 04:00:00 GMT"),
      // prefix-free legacy (the pre-r15 subset)
      2L -> rss("10 Jun 2003 04:00:00 GMT"),
      // numeric zone, zero offset
      3L -> rss("Wed, 10 Jun 2003 04:00:00 +0000"),
      // nonzero offset that crosses midnight: the instant must CONVERT
      // (2024-01-01 01:00 +0300 is 2023-12-31 22:00 UTC), not strip
      4L -> rss("Mon, 01 Jan 2024 01:00:00 +0300"),
      // surrounding whitespace tolerated
      5L -> rss(" Tue, 10 Jun 2003 04:00:00 GMT "),
      // still outside the subset: obsolete alphabetic zone -> NULL
      6L -> rss("Tue, 10 Jun 2003 04:00:00 EST"),
      // single-digit day, with and without the prefix
      7L -> rss("Mon, 2 Jun 2003 04:00:00 GMT"),
      8L -> rss("2 Jun 2003 04:00:00 +0000"))
    val out = graft.sources.Feeds.items(
        shapes.toDF("id", "xml"), "id", "xml")
      .select(col("id"), col("pub_ts").cast("string"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(out(1L) == "2003-06-10 04:00:00")
    assert(out(2L) == "2003-06-10 04:00:00")
    assert(out(3L) == "2003-06-10 04:00:00")
    assert(out(4L) == "2023-12-31 22:00:00")
    assert(out(5L) == "2003-06-10 04:00:00")
    assert(out(6L) == null)
    assert(out(7L) == "2003-06-02 04:00:00")
    assert(out(8L) == "2003-06-02 04:00:00")
  }
}
