package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{lit, regexp_extract_all,
  regexp_replace, transform, trim}
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** HTML → visible-text extraction — the step between a transcoded web
  * capture ([[graft.sources.WarcTranscode]] emits UTF-8 markup) and the
  * text operators (which all assume prose). [[TextClean.stripHtml]]'s
  * regex tag-strip is the cheap cleanse for text that merely CONTAINS
  * markup; this is the real extractor a WARC-fed corpus needs: script and
  * style CONTENT must not leak into training text, entities must decode,
  * and block structure must become line structure. A scan-time kernel
  * (StaticInvoke inside whole-stage codegen, the MediaHeader pattern),
  * not a DOM parser — no tree is built, memory is O(output).
  *
  * Pipeline order (each pass linear, and the order is load-bearing):
  *  1. TAG SCAN — single pass over the markup:
  *     - `<!-- ... -->` comments dropped (unterminated comment swallows
  *       the tail: it IS unterminated markup);
  *     - `<!...>` declarations and `<?...>` processing instructions
  *       dropped (quote-aware: a `>` inside a quoted string does not end
  *       the tag);
  *     - `<head>` content dropped entirely (title/meta/style belong to
  *       the browser chrome, not the page text); the section ends at
  *       `</head` or, when the capture never closes it, at `<body` —
  *       the same recovery browsers apply;
  *     - `<script>`/`<style>` skip RAW content to their own close tag
  *       (a `</div>` or `<` inside script source does not terminate it);
  *     - block-level tags (p/div/br/li/h1-h6/tr/nav/footer/…, open and
  *       close) emit a line break; inline tags (a/b/span/em/…) emit
  *       nothing — "one<br>two" is two lines, "one <b>two</b>" is one;
  *     - a `<` not followed by a letter, `/`, `!` or `?` is literal text
  *       (the HTML5 tokenizer's rule), so "x < y" survives.
  *  2. WHITESPACE STRUCTURE — a SOURCE newline is inter-word space
  *     (HTML semantics: pretty-printing is not layout; only block tags
  *     break lines); runs of whitespace collapse to one space, lines
  *     trim, empty lines drop, lines join with `\n`.
  *  3. ENTITY DECODE — last, so a decoded `&lt;b&gt;` yields the literal
  *     text `<b>` and is never re-parsed as markup (the injection-safe
  *     ordering), and a decoded `&nbsp;` survives the whitespace pass as
  *     a real U+00A0. Strict form only (`&name;` / `&#NNN;` / `&#xHH;`,
  *     terminating semicolon required, body ≤ 32 chars); the documented
  *     named set plus numeric code points (surrogates and out-of-range
  *     rejected); anything else passes through literally — extraction
  *     must never invent characters.
  *
  * Scale shape: pure map-side column kernel — zero shuffles, null in →
  * null out, and damage (torn tags, unterminated raw text) degrades to
  * dropped-tail text rather than an exception, the [[graft.sources.GraftWarc]]
  * damage posture at the markup layer.
  */
object HtmlText {

  /** Tags that break lines. Everything else is inline. */
  private val BlockTags: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Seq("p", "div", "br", "hr", "li", "ul", "ol", "dl", "dt", "dd",
      "h1", "h2", "h3", "h4", "h5", "h6", "table", "thead", "tbody",
      "tfoot", "tr", "td", "th", "caption", "blockquote", "pre",
      "section", "article", "header", "footer", "nav", "aside", "main",
      "form", "fieldset", "figure", "figcaption", "address", "center")
      .foreach(s.add)
    s
  }

  /** The common named entities (the WHATWG core set a crawl actually
    * hits); unknown names pass through literally.
    */
  private val NamedEntities: java.util.HashMap[String, String] = {
    val m = new java.util.HashMap[String, String]()
    m.put("amp", "&"); m.put("lt", "<"); m.put("gt", ">")
    m.put("quot", "\""); m.put("apos", "'"); m.put("nbsp", " ")
    m.put("copy", "©"); m.put("reg", "®"); m.put("trade", "™")
    m.put("ndash", "–"); m.put("mdash", "—")
    m.put("hellip", "…"); m.put("middot", "·")
    m.put("deg", "°"); m.put("laquo", "«"); m.put("raquo", "»")
    m.put("lsquo", "‘"); m.put("rsquo", "’")
    m.put("ldquo", "“"); m.put("rdquo", "”")
    m
  }

  private def isAsciiLetter(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  /** Case-insensitive check that `s` starts `needle` (ASCII) at `i`. */
  private def startsAt(s: String, i: Int, needle: String): Boolean = {
    if (i + needle.length > s.length) return false
    var k = 0
    while (k < needle.length) {
      if (Character.toLowerCase(s.charAt(i + k)) != needle.charAt(k)) return false
      k += 1
    }
    true
  }

  /** HTML5 tag-name boundary: after a matched name the next char must be
    * `>`, `/` or ASCII whitespace (or end-of-input — a torn tag) for the
    * match to BE that tag. Without it `</scripty` would terminate a
    * `<script>` raw-text skip and `</header` would end a `<head>` skip
    * (r11 ADVICE).
    */
  private def nameBoundary(s: String, p: Int): Boolean =
    p >= s.length || { val c = s.charAt(p)
      c == '>' || c == '/' || c == ' ' || c == '\t' || c == '\n' ||
        c == '\r' || c == '\f' }

  /** [[startsAt]] + [[nameBoundary]] for a full tag prefix like
    * `</script` or `<body`.
    */
  private def tagAt(s: String, i: Int, prefix: String): Boolean =
    startsAt(s, i, prefix) && nameBoundary(s, i + prefix.length)

  /** Index just past the quote-aware end `>` of a tag opening at `lt`
    * (`s(lt) == '<'`), or `s.length` when the tag is torn.
    */
  private def tagEnd(s: String, lt: Int): Int = {
    var i = lt + 1
    var quote: Char = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else if (c == '"' || c == '\'') quote = c
      else if (c == '>') return i + 1
      i += 1
    }
    s.length
  }

  /** Lower-cased tag name starting at `i` (just past `<` or `</`). */
  private def tagName(s: String, i: Int): String = {
    var j = i
    while (j < s.length && (isAsciiLetter(s.charAt(j)) ||
      (s.charAt(j) >= '0' && s.charAt(j) <= '9'))) j += 1
    s.substring(i, j).toLowerCase(java.util.Locale.ROOT)
  }

  /** One scanner, two consumers ([[extractKernel]] and
    * [[mainContentKernel]]'s line builder): the elision rules stay
    * provably identical because there is exactly one copy of them
    * (the r11 review caught the forked-scanner divergence). A SOURCE
    * newline is surfaced as plain whitespace (HTML semantics: layout
    * newlines are inter-word space); ONLY block tags produce
    * `blockBreak()` — line structure comes from markup, never from
    * pretty-printing.
    */
  private trait ScanSink {
    def emit(c: Char): Unit       // visible char (whitespace normalized-ish)
    def blockBreak(): Unit        // block-level tag boundary
    def anchor(open: Boolean): Unit = () // <a> open/close (link density)
  }

  private def scanMarkup(s: String, sink: ScanSink): Unit = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c != '<') {
        sink.emit(if (c == '\n') ' ' else c)
        i += 1
      } else if (startsAt(s, i, "<!--")) {
        val end = s.indexOf("-->", i + 4)
        i = if (end < 0) s.length else end + 3
      } else if (i + 1 < s.length &&
          (s.charAt(i + 1) == '!' || s.charAt(i + 1) == '?')) {
        i = tagEnd(s, i)
      } else if (i + 1 < s.length && (isAsciiLetter(s.charAt(i + 1)) ||
          (s.charAt(i + 1) == '/' && i + 2 < s.length &&
            isAsciiLetter(s.charAt(i + 2))))) {
        val closing = s.charAt(i + 1) == '/'
        val name = tagName(s, if (closing) i + 2 else i + 1)
        val afterTag = tagEnd(s, i)
        if (!closing && name == "head") {
          // drop head content; recover at </head or an implicit <body
          var j = afterTag
          var stop = -1
          while (stop < 0 && j < s.length) {
            if (tagAt(s, j, "</head")) stop = tagEnd(s, j)
            else if (tagAt(s, j, "<body")) stop = j // main loop eats it
            else j += 1
          }
          i = if (stop < 0) s.length else stop
        } else if (!closing && (name == "script" || name == "style")) {
          val close = "</" + name
          var j = afterTag
          var stop = -1
          while (stop < 0 && j < s.length) {
            if (tagAt(s, j, close)) stop = tagEnd(s, j)
            else j += 1
          }
          i = if (stop < 0) s.length else stop
        } else {
          if (name == "a") sink.anchor(!closing)
          if (BlockTags.contains(name)) sink.blockBreak()
          i = afterTag
        }
      } else { sink.emit(c); i += 1 } // '<' before non-tag: literal text
    }
  }

  /** Pass 1: strip markup into a raw text buffer with `\n` at block
    * boundaries.
    */
  private def scanTags(s: String): StringBuilder = {
    val out = new StringBuilder(s.length / 2)
    scanMarkup(s, new ScanSink {
      def emit(c: Char): Unit = out.append(c)
      def blockBreak(): Unit = out.append('\n')
    })
    out
  }

  /** Pass 2: collapse space runs, trim lines, drop empties, join '\n'. */
  private def normalizeWs(raw: StringBuilder): String = {
    val out = new StringBuilder(raw.length)
    var lineStart = true   // at start of an output line (trim leading)
    var pendingSp = false  // a space run awaits a non-space char
    var pendingNl = false  // a break awaits more content (drop empties)
    var i = 0
    while (i < raw.length) {
      val c = raw.charAt(i)
      if (c == '\n') { pendingNl = true; pendingSp = false }
      else if (c == ' ' || c == '\t' || c == '\r' || c == '\f') pendingSp = true
      else {
        if (pendingNl && out.nonEmpty) { out.append('\n'); lineStart = true }
        pendingNl = false
        if (pendingSp && !lineStart) out.append(' ')
        pendingSp = false
        out.append(c)
        lineStart = false
      }
      i += 1
    }
    out.toString
  }

  /** Pass 3: strict entity decode (see object doc). */
  private def decodeEntities(s: String): String = {
    var amp = s.indexOf('&')
    if (amp < 0) return s
    val out = new java.lang.StringBuilder(s.length)
    var i = 0
    while (amp >= 0) {
      out.append(s, i, amp)
      val semi = s.indexOf(';', amp + 1)
      var decoded: String = null
      if (semi > amp + 1 && semi - amp <= 33) {
        val body = s.substring(amp + 1, semi)
        if (body.charAt(0) == '#') {
          val hex = body.length > 1 && (body.charAt(1) == 'x' || body.charAt(1) == 'X')
          val digits = body.substring(if (hex) 2 else 1)
          if (digits.nonEmpty)
            try {
              val cp = Integer.parseInt(digits, if (hex) 16 else 10)
              if (cp > 0 && cp <= 0x10ffff &&
                  !(cp >= 0xd800 && cp <= 0xdfff))
                decoded = new String(Character.toChars(cp))
            } catch { case _: NumberFormatException => () }
        } else decoded = NamedEntities.get(body)
      }
      if (decoded != null) { out.append(decoded); i = semi + 1 }
      else { out.append('&'); i = amp + 1 }
      amp = s.indexOf('&', i)
    }
    out.append(s, i, s.length)
    out.toString
  }

  // ---- static kernel (Catalyst-facing) ------------------------------------

  /** Full extraction: tag scan → whitespace structure → entity decode. */
  def extractKernel(html: UTF8String): UTF8String = {
    if (html == null) return null
    UTF8String.fromString(decodeEntities(normalizeWs(scanTags(html.toString))))
  }

  // ---- boilerplate removal (line-wise link density) -----------------------
  //
  // [[extractKernel]] keeps EVERYTHING visible; a training corpus wants
  // the main content only. The public-literature line-wise heuristic
  // (jusText / CCNet / RefinedWeb family): navigation, footers and
  // share-bars are short and link-dominated, prose is long and link-free.
  // One extra signal rides the same tag scan: how many of a line's
  // characters sit inside an <a> element.

  /** One assembled line plus its anchor-char statistics. */
  private final class LineAcc {
    val sb = new java.lang.StringBuilder()
    var linkNonWs = 0 // non-whitespace chars inside an <a> element
    var nonWs = 0     // non-whitespace chars total
  }

  /** [[scanMarkup]] sink for [[mainContentKernel]]: same elision/line
    * rules as [[scanTags]] by construction, plus anchor-depth tracking
    * per emitted char.
    */
  private def scanLines(s: String): java.util.ArrayList[LineAcc] = {
    val lines = new java.util.ArrayList[LineAcc]()
    val sink = new ScanSink {
      var cur = new LineAcc
      var anchorDepth = 0
      def emit(c: Char): Unit = {
        val ws = c == ' ' || c == '\t' || c == '\r' || c == '\f'
        // collapse runs / trim leading whitespace at append time
        if (ws) {
          if (cur.sb.length > 0 &&
            cur.sb.charAt(cur.sb.length - 1) != ' ') cur.sb.append(' ')
        } else {
          cur.sb.append(c)
          cur.nonWs += 1
          if (anchorDepth > 0) cur.linkNonWs += 1
        }
      }
      def blockBreak(): Unit = { lines.add(cur); cur = new LineAcc }
      override def anchor(open: Boolean): Unit =
        if (open) anchorDepth += 1
        else if (anchorDepth > 0) anchorDepth -= 1
    }
    scanMarkup(s, sink)
    lines.add(sink.cur)
    lines
  }

  /** Main-content text: [[extractKernel]]'s pipeline with a line filter
    * between the scan and the entity decode. A line survives when
    *  - its link density `linkNonWs * 100 <= maxLinkPct * nonWs`
    *    (anchor-dominated lines are chrome), AND
    *  - its trimmed length (pre-entity-decode) ≥ `minChars` (fragments
    *    like bare headings/dates carry no training signal).
    * Thresholds apply BEFORE entity decode (decode stays last, the
    * [[extractKernel]] ordering), so `&amp;` counts as five chars for
    * the length test — deterministic, and an entity bomb cannot sneak a
    * short line past the filter by decoding long.
    */
  def mainContentKernel(html: UTF8String, maxLinkPct: Int,
      minChars: Int): UTF8String = {
    if (html == null) return null
    val lines = scanLines(html.toString)
    val out = new java.lang.StringBuilder()
    var i = 0
    while (i < lines.size()) {
      val l = lines.get(i)
      // strip the single trailing space a run at line end leaves
      if (l.sb.length > 0 && l.sb.charAt(l.sb.length - 1) == ' ')
        l.sb.setLength(l.sb.length - 1)
      if (l.sb.length >= minChars &&
          l.linkNonWs * 100 <= maxLinkPct.toLong * l.nonWs) {
        if (out.length > 0) out.append('\n')
        out.append(l.sb)
      }
      i += 1
    }
    UTF8String.fromString(decodeEntities(out.toString))
  }

  /** Count of lines [[mainContentKernel]] would KEEP (same walk). */
  def keptLineCountKernel(html: UTF8String, maxLinkPct: Int,
      minChars: Int): Int = {
    if (html == null) return -1
    val lines = scanLines(html.toString)
    var kept = 0
    var i = 0
    while (i < lines.size()) {
      val l = lines.get(i)
      var len = l.sb.length
      if (len > 0 && l.sb.charAt(len - 1) == ' ') len -= 1
      if (len >= minChars &&
        l.linkNonWs * 100 <= maxLinkPct.toLong * l.nonWs) kept += 1
      i += 1
    }
    kept
  }

  // ---- HTML -> Markdown (q138) ---------------------------------------------
  //
  // Modern corpus pipelines keep document STRUCTURE, not just visible
  // text — headings, emphasis, links and lists carry signal a flat
  // extraction throws away (the markdown-corpus convention of recent
  // public web-corpus work). This converts the bounded HTML subset
  // (double-quoted attrs — the whole web layer's documented contract)
  // to CommonMark-style markdown: h1-h6 → #-runs, p → blank-line-
  // separated paragraphs, li → "- " bullets with two-space indentation
  // per NESTING level (ul/ol nesting tracked by a depth counter, capped
  // at 8 levels so hostile unclosed-tag runs stay linear; ordered lists
  // render as bullets too — a documented subset bound), tables → GFM
  // pipe rows (one line per <tr>, cells joined with " | ", a ---
  // separator after the FIRST row — q133's recovered geometry; nested
  // tables and '|' inside cells are out of subset), a → [text](href),
  // b/strong → **, i/em → *, br → line break; script/style content is
  // elided wholesale, every other tag strips to a space, entities
  // decode, and whitespace normalizes (runs collapse, ≤1 blank line).
  // List indentation survives the whitespace normalizer by riding a
  // U+0001 placeholder (scrubbed from the input first) that turns back
  // into spaces at the very end. Unclosed structural tags never throw —
  // an unmatched open tag degrades to stripped-tag plain text.

  private val MdScript = java.util.regex.Pattern.compile(
    "(?is)<(script|style)\\b[^>]*>.*?</\\1>")
  private val MdA = java.util.regex.Pattern.compile(
    "(?is)<a\\b[^>]*\\bhref\\s*=\\s*\"([^\"]*)\"[^>]*>(.*?)</a>")
  private val MdBold = java.util.regex.Pattern.compile(
    "(?is)<(b|strong)\\b[^>]*>(.*?)</\\1>")
  private val MdEm = java.util.regex.Pattern.compile(
    "(?is)<(i|em)\\b[^>]*>(.*?)</\\1>")
  private val MdH = (1 to 6).map { n =>
    n -> java.util.regex.Pattern.compile(
      s"(?is)<h$n\\b[^>]*>(.*?)</h$n>")
  }
  private val MdListTag = java.util.regex.Pattern.compile(
    "(?i)</?(ul|ol|li)\\b[^>]*>")
  private val MdTable = java.util.regex.Pattern.compile(
    "(?is)<table\\b[^>]*>(.*?)</table>")
  private val MdTr = java.util.regex.Pattern.compile(
    "(?is)<tr\\b[^>]*>(.*?)</tr>")
  private val MdCell = java.util.regex.Pattern.compile(
    "(?is)<t[dh]\\b[^>]*>(.*?)</t[dh]>")
  private val MdWsRun = java.util.regex.Pattern.compile("\\s+")
  private val MdP = java.util.regex.Pattern.compile(
    "(?is)<p\\b[^>]*>(.*?)</p>")
  private val MdBr = java.util.regex.Pattern.compile(
    "(?i)<br\\b[^>]*>")
  private val MdTag = java.util.regex.Pattern.compile("<[^>]*>")
  private val MdSpaceRun = java.util.regex.Pattern.compile("[ \\t\\r\\f]+")
  private val MdNlTrim = java.util.regex.Pattern.compile(" ?\\n ?")
  private val MdNlRun = java.util.regex.Pattern.compile("\\n{3,}")

  /** GFM pipe rendering of every `<table>` block: one line per `<tr>`
    * (cells stripped of residual markup, inner whitespace collapsed,
    * joined with " | "), a `---` separator sized to the FIRST row's
    * cell count after it. A table with no usable rows strips to a
    * space like any other tag.
    */
  private def convertTables(s: String): String = {
    val m = MdTable.matcher(s)
    val sb = new StringBuffer
    while (m.find()) {
      val lines = new StringBuilder
      var firstCells = -1
      val tr = MdTr.matcher(m.group(1))
      while (tr.find()) {
        val cells = new java.util.ArrayList[String]
        val cm = MdCell.matcher(tr.group(1))
        while (cm.find()) {
          val raw = MdTag.matcher(cm.group(1)).replaceAll(" ")
          cells.add(MdWsRun.matcher(raw).replaceAll(" ").trim)
        }
        if (!cells.isEmpty) {
          if (lines.nonEmpty) lines.append('\n')
          lines.append("| ")
            .append(String.join(" | ", cells)).append(" |")
          if (firstCells < 0) {
            firstCells = cells.size()
            lines.append('\n').append("| ")
              .append(String.join(" | ",
                java.util.Collections.nCopies(firstCells, "---")))
              .append(" |")
          }
        }
      }
      val rep = if (firstCells < 0) " " else "\n\n" + lines + "\n\n"
      m.appendReplacement(sb,
        java.util.regex.Matcher.quoteReplacement(rep))
    }
    m.appendTail(sb)
    sb.toString
  }

  /** Depth-tracked list conversion: `<li>` → newline + two placeholder
    * spaces per nesting level (capped at 8) + "- "; ul/ol tags and
    * `</li>` strip to the same single space the generic tag strip would
    * leave, so flat lists render byte-identically to the pre-nesting
    * kernel.
    */
  private def convertLists(s: String): String = {
    val m = MdListTag.matcher(s)
    val sb = new StringBuffer
    var depth = 0
    while (m.find()) {
      val closing = s.charAt(m.start + 1) == '/'
      val isLi = (m.group(1).charAt(0) | 0x20) == 'l'
      val rep =
        if (isLi) {
          if (closing) " "
          else "\n" + "\u0001\u0001" * math.max(0,
            math.min(depth - 1, 8)) + "- "
        } else if (closing) { depth = math.max(0, depth - 1); " " }
        else { depth += 1; " " }
      m.appendReplacement(sb,
        java.util.regex.Matcher.quoteReplacement(rep))
    }
    m.appendTail(sb)
    sb.toString
  }

  /** HTML → markdown over the bounded subset (see block comment). */
  def markdownKernel(html: UTF8String): UTF8String = {
    if (html == null) return null
    // reserve the indent placeholder: any pre-existing U+0001 becomes
    // the space the generic tag strip would have left anyway
    var s = html.toString.replace('\u0001', ' ')
    s = MdScript.matcher(s).replaceAll(" ")
    // inline first, so heading/paragraph/cell bodies carry finished spans
    s = MdA.matcher(s).replaceAll("[$2]($1)")
    s = MdBold.matcher(s).replaceAll("**$2**")
    s = MdEm.matcher(s).replaceAll("*$2*")
    s = convertTables(s)
    for ((n, p) <- MdH)
      s = p.matcher(s).replaceAll("\n\n" + "#" * n + " $1\n\n")
    s = convertLists(s)
    s = MdP.matcher(s).replaceAll("\n\n$1\n\n")
    s = MdBr.matcher(s).replaceAll("\n")
    s = MdTag.matcher(s).replaceAll(" ")
    s = decodeEntities(s)
    s = MdSpaceRun.matcher(s).replaceAll(" ")
    var t = MdNlTrim.matcher(s).replaceAll("\n")
    // trimming around a newline can expose new " \n" seams (e.g. "a  \n")
    var prev = ""
    while (prev != t) { prev = t; t = MdNlTrim.matcher(t).replaceAll("\n") }
    t = MdNlRun.matcher(t).replaceAll("\n\n").trim
    UTF8String.fromString(t.replace('\u0001', ' '))
  }

  // ---- column surface -----------------------------------------------------

  /** Markdown of an HTML column (bounded subset — see [[markdownKernel]]). */
  def toMarkdown(html: Column): Column =
    Kernel(classOf[HtmlText.type], "markdownKernel", StringType,
      returnNullable = true)(html)

  /** Visible text of an HTML column, one `\n`-joined line per block. */
  val Extract: Kernel = Kernel(classOf[HtmlText.type], "extractKernel",
    StringType, returnNullable = true)
  def extract(html: Column): Column = Extract(html)

  /** Main content of an HTML column: visible text minus link-dominated
    * and too-short lines (see [[mainContentKernel]]).
    */
  val MainContent: Kernel = Kernel(classOf[HtmlText.type],
    "mainContentKernel", StringType, returnNullable = true)
  def mainContent(html: Column, maxLinkPct: Int = 50,
      minChars: Int = 12): Column =
    MainContent(html, lit(maxLinkPct), lit(minChars))

  /** Lines [[mainContent]] keeps, as a column (−1 for NULL html). */
  def keptLineCount(html: Column, maxLinkPct: Int = 50,
      minChars: Int = 12): Column =
    Kernel(classOf[HtmlText.type], "keptLineCountKernel", IntegerType,
      propagateNull = false)(html, lit(maxLinkPct), lit(minChars))

  // ---- table extraction (q133) --------------------------------------------

  /** The `<tr>…</tr>` bodies of a page, in order — the row surface of
    * the bounded table subset (non-nested tables, double-quoted attrs;
    * a page without tables yields an empty array). Built-in regexps —
    * codegen, the q106 anchor-scan posture.
    */
  def tableRows(html: Column): Column =
    regexp_extract_all(html, lit("(?is)<tr\\b[^>]*>(.*?)</tr>"), lit(1))

  /** Cell texts of one row body: `<td>`/`<th>` contents with inline
    * markup stripped and whitespace trimmed.
    */
  def rowCells(row: Column): Column =
    transform(
      regexp_extract_all(row, lit("(?is)<t[dh]\\b[^>]*>(.*?)</t[dh]>"),
        lit(1)),
      c => trim(regexp_replace(c, "<[^>]+>", "")))
}
