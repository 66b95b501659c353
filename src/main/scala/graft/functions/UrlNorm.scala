package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** URL canonicalization — the identity key for crawl-level dedup. A web
  * corpus captures the same page under many spellings
  * (`HTTP://Site.example:80/a/../b` vs `http://site.example/b`); URL-level
  * dedup BEFORE content dedup collapses refetches for free, so the
  * canonical form must be deterministic and semantics-preserving
  * (RFC 3986 §6.2's safe normalizations only — never the lossy kind that
  * merges genuinely different resources).
  *
  * Rules, in order:
  *  1. Only absolute http/https URLs canonicalize; anything else (relative
  *     links, other schemes, empty host) → NULL — a relative link carries
  *     no crawl identity ([[TextStats.urlHost]]'s posture).
  *  2. Scheme and host lowercase; userinfo (`user:pw@`) drops; the
  *     scheme's default port (http:80 / https:443) drops, any other port
  *     stays. An IPv6 literal authority (`[::1]`) is lowercased whole and
  *     keeps its port spelling — bracket-aware port surgery is not worth
  *     the edge cases it invites.
  *  3. Path: dot segments resolve per RFC 3986 §5.2.4 on the LITERAL
  *     segments (`/a/./b/../c` → `/a/c`; `..` above root drops; a
  *     trailing `/`, `/.` or `/..` keeps the directory slash); empty
  *     segments are segments (`/a//b` keeps its `//` — §5.2.4 elides
  *     only dots, and collapsing `//` would merge distinct resources);
  *     an empty path becomes `/`.
  *  4. Percent-encoding (path and query): `%XX` decoding only for
  *     unreserved characters (ALPHA / DIGIT / `-._~`); every surviving
  *     triplet uppercases its hex; a malformed `%` (not two hex digits)
  *     stays literal. Decoding runs AFTER dot-segment resolution, so a
  *     decoded `%2E%2E` is literal `..` text, never a path traversal —
  *     the same decode-last ordering as [[HtmlText]].
  *  5. Fragment drops; an empty query (`?` with nothing after) drops.
  *
  * Scale shape: pure map-side column kernel (StaticInvoke in whole-stage
  * codegen); the dedup that consumes it is one narrow shuffle on the
  * canonical string.
  */
object UrlNorm {

  private def isHex(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
  private def hexVal(c: Char): Int =
    if (c <= '9') c - '0' else (c | 0x20) - 'a' + 10
  private def isUnreserved(v: Int): Boolean =
    (v >= 'A' && v <= 'Z') || (v >= 'a' && v <= 'z') ||
      (v >= '0' && v <= '9') || v == '-' || v == '.' || v == '_' || v == '~'

  /** RFC 3986 §5.2.4 over literal segments (see object doc, rule 3).
    * Empty segments are SEGMENTS (`/a//b` keeps its `//` — r11 ADVICE):
    * §5.2.4 only elides `.` and resolves `..`; collapsing `//` would
    * merge genuinely distinct resources, breaking the module's
    * safe-normalizations-only contract. A `..` consumes whatever
    * segment precedes it, empty included (the RFC's remove-last-segment
    * rule), and a path ending in `/.` or `/..` keeps its directory
    * slash. The trailing empty segment OF a directory slash falls out
    * naturally from split(-1).
    */
  private def removeDotSegments(path: String): String = {
    if (path.isEmpty) return "/"
    val out = new java.util.ArrayDeque[String]()
    // path always starts with '/' here (it follows the authority);
    // drop ONLY that leading root marker, keep every other empty segment
    val segs = path.split("/", -1)
    var i = 1
    while (i < segs.length) {
      segs(i) match {
        case "." => ()
        case ".." => if (!out.isEmpty) out.removeLast()
        case s => out.addLast(s)
      }
      i += 1
    }
    // `/x/.` and `/x/..` denote the directory itself → trailing slash
    // (unconditional: §5.2.4 rules 2B/2C leave a "/" in the input
    // buffer, which rule 2E then moves out as an empty final segment)
    if (path.endsWith("/.") || path.endsWith("/..")) out.addLast("")
    if (out.isEmpty) return "/"
    val sb = new java.lang.StringBuilder(path.length)
    out.forEach(s => { sb.append('/'); sb.append(s) })
    sb.toString
  }

  /** Decode unreserved `%XX`, uppercase surviving triplets (rule 4). */
  private def pctNormalize(s: String): String = {
    if (s.indexOf('%') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
          isHex(s.charAt(i + 1)) && isHex(s.charAt(i + 2))) {
        val v = hexVal(s.charAt(i + 1)) * 16 + hexVal(s.charAt(i + 2))
        if (isUnreserved(v)) sb.append(v.toChar)
        else {
          sb.append('%')
          sb.append(Character.toUpperCase(s.charAt(i + 1)))
          sb.append(Character.toUpperCase(s.charAt(i + 2)))
        }
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  // ---- static kernel (Catalyst-facing) ------------------------------------

  def canonicalizeKernel(url: UTF8String): UTF8String = {
    if (url == null) return null
    val s = url.toString
    val schemeEnd = s.indexOf("://")
    if (schemeEnd <= 0) return null
    val scheme = s.substring(0, schemeEnd).toLowerCase(java.util.Locale.ROOT)
    if (scheme != "http" && scheme != "https") return null
    val rest = s.substring(schemeEnd + 3)
    var authEnd = rest.length
    var k = 0
    while (k < authEnd) {
      val c = rest.charAt(k)
      if (c == '/' || c == '?' || c == '#') { authEnd = k }
      k += 1
    }
    var auth = rest.substring(0, authEnd)
    val at = auth.lastIndexOf('@')
    if (at >= 0) auth = auth.substring(at + 1) // userinfo drops
    if (auth.isEmpty) return null
    auth = auth.toLowerCase(java.util.Locale.ROOT)
    var host = auth
    var port = ""
    if (auth.indexOf('[') < 0) { // rule 2: no port surgery on IPv6
      val colon = auth.lastIndexOf(':')
      if (colon >= 0 && auth.indexOf(':') == colon) {
        host = auth.substring(0, colon)
        port = auth.substring(colon + 1)
        if (host.isEmpty) return null
        if (!port.forall(c => c >= '0' && c <= '9')) return null
        if (port.isEmpty ||
            (scheme == "http" && port == "80") ||
            (scheme == "https" && port == "443")) port = ""
      }
    }
    // split path / query; fragment drops
    val tail = rest.substring(authEnd)
    val hash = tail.indexOf('#')
    val noFrag = if (hash < 0) tail else tail.substring(0, hash)
    val qm = noFrag.indexOf('?')
    val rawPath = if (qm < 0) noFrag else noFrag.substring(0, qm)
    val rawQuery = if (qm < 0) "" else noFrag.substring(qm + 1)
    val path = pctNormalize(removeDotSegments(rawPath))
    val query = pctNormalize(rawQuery)
    val sb = new java.lang.StringBuilder(s.length)
    sb.append(scheme).append("://").append(host)
    if (port.nonEmpty) sb.append(':').append(port)
    sb.append(path)
    if (query.nonEmpty) sb.append('?').append(query)
    UTF8String.fromString(sb.toString)
  }

  // ---- column surface -----------------------------------------------------

  /** Canonical form of an absolute http(s) URL column; NULL otherwise. */
  val Canonicalize: Kernel = Kernel(classOf[UrlNorm.type],
    "canonicalizeKernel", StringType, returnNullable = true)
  def canonicalize(url: Column): Column = Canonicalize(url)
}
