package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Page-level robots directives — the `<meta name="robots">` element and
  * the `rel="nofollow"` link attribute (both public conventions, specified
  * in the HTML standard's link-type registry and honored by every major
  * crawler; Google's documented semantics: `noindex` = keep the page out
  * of the index, `nofollow` = do not traverse this page's/link's
  * outedges, `none` = both).
  *
  * This is the third leg of the politeness stack: q105 (robots.txt — may
  * we FETCH the URL), q113 (crawl-delay — how FAST), and this module —
  * now that we fetched it, may we KEEP the page (corpus gate) and may its
  * outlinks feed the frontier/anchor graph (q106 composition). A
  * training-corpus pipeline that ignores noindex re-publishes pages whose
  * owners explicitly opted out, so the gate belongs IN the engine, not in
  * orchestration.
  *
  * Parsing posture (mirrors [[HtmlText]]'s bounded-subset honesty): the
  * kernel genuinely scans `<meta>`/`<a>` opening tags through
  * [[HtmlTags]] — attribute-order-robust, case-insensitive, over
  * double-quoted attribute values, the shape every template engine
  * emits — rather than a full HTML5 tokenizer; exotic
  * unquoted/single-quoted attributes are out of subset and read as
  * absent (fail-open to "no directive", the
  * conservative crawl default for MISSING metadata, while planted
  * fixtures prove every in-subset corner). All pure column expressions —
  * one map-side whole-stage-codegen pass, zero shuffles, zero UDFs.
  *
  * Reference analog: the allow/deny posture of the robots gate
  * (helpers.py:22 decides the fetch; this decides what the fetched bytes
  * may be used for).
  */
object RobotsMeta {

  /** Lowercased, trimmed directive tokens aggregated over every
    * `<meta name="robots">` tag (multiple tags compose by union, the
    * documented crawler behavior: the most restrictive directive wins,
    * which token-set union gives for free). Attribute order within the
    * tag does not matter; a non-`robots` name (viewport, googlebot,
    * description) contributes nothing.
    */
  def directives(html: Column): Column = {
    val robots = filter(HtmlTags.openTags(html, "meta"), m =>
      regexp_extract(m,
        "(?i)\\bname\\s*=\\s*\"\\s*robots\\s*\"", 0) =!= "")
    // content="" stays "" (not NULL), so flatten below never goes NULL
    val contents = transform(robots, m => lower(HtmlTags.attr(m, "content")))
    filter(
      flatten(transform(contents, c =>
        transform(split(c, ","), t => trim(t)))),
      t => t =!= "")
  }

  /** Page opted out of indexing/corpus inclusion: `noindex` or `none`. */
  def noindex(html: Column): Column =
    exists(directives(html), t => t === "noindex" || t === "none")

  /** Page opted out of link traversal: `nofollow` or `none` — ALL of the
    * page's outlinks are dropped from the frontier regardless of
    * per-link rel attributes.
    */
  def nofollow(html: Column): Column =
    exists(directives(html), t => t === "nofollow" || t === "none")

  /** Every `<a ...>` opening tag in the page, verbatim (tag-level: the
    * href/rel attributes are read off these with the extractors below).
    */
  def anchorTags(html: Column): Column = HtmlTags.openTags(html, "a")

  /** Whether one anchor opening tag carries `nofollow` as a
    * whitespace-delimited token of its `rel` attribute (the registry
    * semantics — `rel="nofollow noopener"` counts, `rel="nofollowish"`
    * does not).
    */
  def relNofollow(tag: Column): Column =
    regexp_extract(tag,
      "(?i)\\brel\\s*=\\s*\"[^\"]*\\bnofollow\\b[^\"]*\"", 0) =!= ""

  /** Frontier-eligible link count: 0 when the PAGE says nofollow, else
    * the anchors not individually marked rel-nofollow.
    */
  def followableLinks(html: Column): Column =
    when(nofollow(html), lit(0L)).otherwise(
      size(filter(anchorTags(html), t => !relNofollow(t))).cast("long"))
}
