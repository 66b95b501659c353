package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Structured-data (schema.org JSON-LD) extraction from HTML — the
  * `<script type="application/ld+json">` convention (public: the W3C
  * JSON-LD recommendation + schema.org's documented embedding), the
  * richest page-metadata channel a web corpus carries: article
  * headlines, publish dates, and typed entities that survive after the
  * visible text is boilerplate-stripped. A training pipeline uses these
  * as document METADATA (dates for dedup recency keepers — q69; types
  * for corpus stratification — q57/q117) without trusting page prose.
  *
  * Parsing posture (the [[RobotsMeta]] discipline): the script-tag scan
  * is attribute-order-robust and case-insensitive over the
  * double-quoted subset, and the payload rides Spark's built-in JSON
  * path evaluation (`get_json_object` — codegen, no UDF), so malformed
  * JSON degrades to NULL FIELDS while the block's presence stays
  * countable — extraction never throws on adversarial markup. Ordinary
  * `<script>` blocks (no ld+json type) are never read: a decoy
  * `{"@type": ...}` inside application code must not become metadata.
  * One map-side pass, zero shuffles.
  */
object StructuredData {

  /** The FIRST `application/ld+json` script payload, or NULL when the
    * page carries none. (Multiple blocks are legal; the first is the
    * established primary-entity convention, and callers needing all
    * can regexp_extract_all the same pattern.)
    */
  def jsonLd(html: Column): Column = {
    val pat = "(?is)<script\\b[^>]*type\\s*=\\s*\"application/ld\\+json\"" +
      "[^>]*>(.*?)</script>"
    val m = regexp_extract(html, pat, 1)
    when(m =!= "", m)
  }

  /** A JSON-LD string field by name (NULL on absent block, absent key,
    * or malformed JSON — get_json_object's soft-failure contract).
    */
  def ldField(html: Column, field: String): Column =
    get_json_object(jsonLd(html), s"$$['$field']")

  // ---- head metadata: Open Graph / standard meta / link rel --------------
  //
  // The other structured channel beside JSON-LD: `<meta property="og:*">`
  // (the Open Graph protocol, ogp.me), `<meta name="...">` (WHATWG
  // standard metadata names), and `<link rel="...">` types including feed
  // autodiscovery (`rel="alternate" type="application/rss+xml|atom+xml"`,
  // the RSS-Board / WHATWG convention). Same parsing posture as the
  // JSON-LD scan, read through [[HtmlTags]]: attribute order is free,
  // names case-fold, the double-quoted attribute subset is the documented
  // contract, and a malformed tag (missing content/href) degrades to
  // NULL, never a throw. Scanning goes tag-list-first — every
  // `<meta …>`/`<link …>` open tag, filtered by the key attribute, then
  // the value attribute of the FIRST hit — so a decoy mention of the key
  // inside another tag's VALUE (e.g. content="og:title decoy") can never
  // match, which a single cross-attribute regex could not guarantee.
  // Map-side, zero shuffles; only the lambda variable enters the filter
  // lambdas (the O(tokens²) rebind discipline — F.scala:56).

  /** A double-quoted attribute value from one open tag; NULL when the
    * attribute is absent or empty (the malformed-tag soft contract).
    */
  private def attrValue(tag: Column, name: String): Column =
    nullif(HtmlTags.attr(tag, name), lit(""))

  /** content= of the first `<meta>` whose property= or name= equals
    * `key` (case-insensitive; Open Graph uses property=, standard
    * metadata names use name= — accepting either follows the
    * consume-what-publishers-emit posture of real crawlers).
    */
  def metaContent(html: Column, key: String): Column = {
    val hits = filter(HtmlTags.openTags(html, "meta"), t =>
      t.rlike("(?i)\\b(?:property|name)\\s*=\\s*\"\\Q" + key + "\\E\""))
    attrValue(get(hits, lit(0)), "content")
  }

  /** href= of the first `<link>` whose rel= equals `rel`. */
  def linkHref(html: Column, rel: String): Column = {
    val hits = filter(HtmlTags.openTags(html, "link"), t =>
      t.rlike("(?i)\\brel\\s*=\\s*\"\\Q" + rel + "\\E\""))
    attrValue(get(hits, lit(0)), "href")
  }

  /** Feed autodiscovery: the first `<link rel="alternate">` whose type
    * is an RSS or Atom media type, as struct(url, fmt) with fmt in
    * {'rss','atom'} — NULL fields when the page advertises no feed.
    */
  def feedLink(html: Column): Column = {
    val hits = filter(HtmlTags.openTags(html, "link"), t =>
      t.rlike("(?i)\\brel\\s*=\\s*\"alternate\"") &&
        t.rlike("(?i)\\btype\\s*=\\s*\"application/(?:rss|atom)\\+xml\""))
    val first = get(hits, lit(0))
    struct(attrValue(first, "href").as("url"),
      when(first.rlike("(?i)rss\\+xml"), "rss")
        .when(first.rlike("(?i)atom\\+xml"), "atom").as("fmt"))
  }
}
