package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{ArrayType, BooleanType, DoubleType,
  StringType}
import org.apache.spark.unsafe.types.UTF8String

/** robots.txt evaluation (RFC 9309) — the crawl-politeness gate between a
  * URL frontier and a fetch: a corpus built from web captures must be
  * able to audit which records a compliant crawler would have been
  * allowed to take. Pairs with [[UrlNorm]]: group URLs by host, join each
  * host's robots.txt body alongside, and evaluate per path — the rules
  * TEXT rides the join (small per host), the scan is map-side.
  *
  * Semantics (RFC 9309, with the documented industry tie-break):
  *  - groups are runs of `User-agent:` lines followed by rules; rules
  *    before any `User-agent` line are ignored; `#` comments strip;
  *    field names are case-insensitive, values trim;
  *  - group selection: every group naming the product token exactly
  *    (case-insensitive) applies; if none do, the `*` groups apply; if
  *    none of those, everything is allowed;
  *  - rule match: patterns anchor at the path start, `*` matches any
  *    span, a trailing `$` anchors the end; the MOST SPECIFIC matching
  *    rule wins, specificity = pattern length in characters; at equal
  *    specificity Allow beats Disallow; no matching rule → allowed;
  *    an empty-value `Disallow:` matches nothing (allow-all idiom).
  *
  * Scale shape: evaluation is a linear scan of the (per-host, small)
  * rules text per row, inside whole-stage codegen; nothing is cached
  * between rows, so the kernel is safe under any partitioning. At the
  * 100 TB shape the join that delivers the rules text is a broadcast
  * (robots bodies for the host set in play are tiny next to captures).
  */
object RobotsTxt {

  /** Anchored wildcard match: `*` spans, trailing `$` anchors the end. */
  private def patternMatches(pattern: String, path: String): Boolean = {
    val anchored = pattern.nonEmpty && pattern.charAt(pattern.length - 1) == '$'
    val p = if (anchored) pattern.substring(0, pattern.length - 1) else pattern
    // greedy with backtracking over '*' (classic two-pointer wildcard)
    var pi = 0; var si = 0
    var starP = -1; var starS = -1
    if (p.isEmpty && !anchored) return true
    while (si < path.length) {
      if (pi == p.length && !anchored) return true // pattern consumed: prefix hit
      if (pi < p.length && (p.charAt(pi) == path.charAt(si))) { pi += 1; si += 1 }
      else if (pi < p.length && p.charAt(pi) == '*') { starP = pi; pi += 1; starS = si }
      else if (starP >= 0) { pi = starP + 1; starS += 1; si = starS }
      else return false
    }
    while (pi < p.length && p.charAt(pi) == '*') pi += 1
    if (pi < p.length) return false
    if (anchored) si == path.length
    else true
  }

  /** One `name: value` line of a robots.txt body: the field name
    * lower-cased, the value trimmed.
    */
  private final case class Record(key: String, value: String)

  /** The record tokenizer every kernel reads through (RFC 9309 §2.2):
    * lines end at CR, LF or CRLF, `#` starts a comment, and a line
    * without a colon after a non-empty name carries no record.
    */
  private def records(robots: String): Iterator[Record] =
    robots.split("\r\n|\r|\n", -1).iterator.flatMap { line0 =>
      val hash = line0.indexOf('#')
      val line = (if (hash >= 0) line0.substring(0, hash) else line0).trim
      val colon = line.indexOf(':')
      if (colon <= 0) None
      else Some(Record(line.substring(0, colon).trim
        .toLowerCase(java.util.Locale.ROOT), line.substring(colon + 1).trim))
    }

  /** The group-scoped records (everything but `User-agent`) that apply
    * to `agent`, in file order. A group is a run of `User-agent` lines
    * and the records after it; records before any `User-agent` line
    * belong to no group. Every group naming the agent exactly
    * (case-insensitive) applies; if none does, the `*` groups apply.
    * Group MEMBERSHIP is tracked independently of what the group holds:
    * a group that names the agent but carries only empty-valued rules
    * (the "this bot may crawl everything" idiom) is still THE applicable
    * group — it must not fall through to `*` (RFC 9309 group selection;
    * caught by the r11 review).
    */
  private def applicable(robots: String, agent: String): Seq[Record] = {
    val agentLc = agent.toLowerCase(java.util.Locale.ROOT)
    val exact = Seq.newBuilder[Record]
    val wild = Seq.newBuilder[Record]
    var exactGroupExists = false
    var groupAgents: List[String] = Nil
    var inAgentRun = false // consecutive User-agent lines share a group
    for (r <- records(robots)) {
      if (r.key == "user-agent") {
        val v = r.value.toLowerCase(java.util.Locale.ROOT)
        if (inAgentRun) groupAgents ::= v
        else { groupAgents = List(v); inAgentRun = true }
        if (v == agentLc) exactGroupExists = true
      } else {
        inAgentRun = false
        if (groupAgents.contains(agentLc)) exact += r
        else if (groupAgents.contains("*")) wild += r
      }
    }
    (if (exactGroupExists) exact else wild).result()
  }

  // ---- static kernel (Catalyst-facing) ------------------------------------

  /** `Sitemap:` discovery lines of a robots body, in file order — the
    * link from the politeness dim (q105) to sitemap ingest (q110).
    * Per the sitemaps.org protocol the record is GROUP-INDEPENDENT
    * (valid anywhere in the file, regardless of User-agent runs), so
    * this reads every record; empty values drop. NULL/absent robots →
    * empty array (no advertised sitemaps).
    */
  def sitemapsKernel(robots: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val urls: Array[Any] = if (robots == null) Array.empty
      else records(robots.toString).collect {
        case Record("sitemap", v) if v.nonEmpty => UTF8String.fromString(v)
      }.toArray
    new org.apache.spark.sql.catalyst.util.GenericArrayData(urls)
  }

  /** De-facto `Crawl-delay` record (not in RFC 9309, but the public
    * industry convention Bing/Yandex document — group-scoped like
    * Allow/Disallow): seconds the named agent should wait between
    * fetches, the FIRST parseable non-negative value among the
    * [[applicable]] records; absent/unparseable → -1 (the column
    * surface maps it to NULL).
    */
  def crawlDelayKernel(robots: UTF8String, agent: UTF8String): Double = {
    if (robots == null || agent == null) return -1.0
    applicable(robots.toString, agent.toString).iterator
      .collect { case Record("crawl-delay", v) =>
        try v.toDouble catch { case _: NumberFormatException => -1.0 } }
      .find(_ >= 0).getOrElse(-1.0)
  }

  /** Would `agent` be allowed to fetch `path` under `robots`? */
  def allowedKernel(robots: UTF8String, agent: UTF8String,
      path: UTF8String): Boolean = {
    if (robots == null || agent == null || path == null) return true
    val p = path.toString
    var bestLen = -1
    var bestAllow = true
    for (Record(key, pattern) <- applicable(robots.toString, agent.toString)
      // an empty Disallow matches nothing (the allow-all idiom)
      if (key == "allow" || key == "disallow") && pattern.nonEmpty &&
        patternMatches(pattern, p)) {
      val allow = key == "allow"
      val len = pattern.length
      if (len > bestLen || (len == bestLen && allow && !bestAllow)) {
        bestLen = len; bestAllow = allow
      }
    }
    if (bestLen < 0) true else bestAllow
  }

  // ---- column surface -----------------------------------------------------

  /** True when `agent` may fetch `path` under the `robots` body (NULL
    * robots/agent/path → allowed: no rules is no restriction).
    */
  val Allowed: Kernel = Kernel(classOf[RobotsTxt.type], "allowedKernel",
    BooleanType, propagateNull = false)
  def allowed(robots: Column, agent: Column, path: Column): Column =
    Allowed(robots, agent, path)

  /** Crawl-delay seconds for `agent` under `robots`, NULL when the
    * applicable group advertises none (see kernel).
    */
  def crawlDelay(robots: Column, agent: Column): Column = {
    val raw = Kernel(classOf[RobotsTxt.type], "crawlDelayKernel",
      DoubleType, propagateNull = false)(robots, agent)
    org.apache.spark.sql.functions.when(
      raw >= 0, raw)
  }

  /** Advertised sitemap URLs of a `robots` body (array, file order;
    * NULL robots → empty array).
    */
  def sitemaps(robots: Column): Column =
    Kernel(classOf[RobotsTxt.type], "sitemapsKernel",
      ArrayType(StringType, containsNull = false),
      propagateNull = false)(robots)
}
