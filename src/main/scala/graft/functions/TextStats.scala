package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for the training-data pipeline operators:
  * token counting, BPE-ish token estimation, language id, quality scoring.
  * All built from codegen'd built-ins, and all expressible in ANSI SQL so the
  * DuckDB oracle can check them value-for-value.
  */
object TextStats {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(F.tokens(text)).cast("long")

  /** BPE-ish token estimate: ~1 token per 4 chars (public rule of thumb). */
  def bpeTokenEstimate(text: Column): Column =
    ceil(length(text) / lit(4.0)).cast("long")

  /** Punctuation character count over a fixed ASCII punctuation class.
    * The class is written out explicitly (not \p{Punct}) so Java-regex and
    * RE2-based engines agree character-for-character.
    */
  val PunctClass = """[.,;:!?'"()\[\]{}-]"""
  def punctCount(text: Column): Column =
    (length(text) - length(regexp_replace(text, PunctClass, ""))).cast("long")

  /** Count of non-overlapping occurrences of a marker substring. */
  def markerCount(text: Column, marker: String): Column =
    ((length(text) - length(replace(text, lit(marker), lit("")))) / marker.length)
      .cast("long")

  /** One-pass count of the three Gopher symbol markers:
    * `#` + non-overlapping `...` + `…`. Semantics are exactly the sum
    * of the three [[markerCount]]s (the markers share no characters, so
    * they count independently; a maximal run of n dots holds
    * floor(n/3) non-overlapping `...`), but as ONE codegen StaticInvoke
    * byte scan with zero allocation — the three replace() passes each
    * copied the whole document, and adding the third ('…', ADVICE r12)
    * doubled q115 at the 100× probe.
    */
  def gopherSymbolCount(text: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        classOf[TextCleanKernels.type],
        org.apache.spark.sql.types.LongType, "gopherSymbols",
        Seq(org.apache.spark.sql.GraftSqlBridge.expression(text)),
        inputTypes = Nil, propagateNull = true, returnNullable = false))

  /** English stopword hits: occurrences of ' the ' / ' a ' / ' and ' in a
    * single-space-padded body.
    */
  def stopwordHits(text: Column): Column = {
    val padded = concat(lit(" "), text, lit(" "))
    markerCount(padded, " the ") + markerCount(padded, " a ") +
      markerCount(padded, " and ")
  }

  /** Rule-chain language id heuristic (documented, deterministic):
    * CJK codepoints → zh; German/French/Spanish marker words; default en.
    * A marker-priority classifier rather than a scored argmax so the exact
    * same CASE chain runs under any SQL engine for the oracle.
    */
  def langId(text: Column): Column = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    when(text.rlike("[一-鿿]"), "zh")
      .when(padded.contains(" der ") || padded.contains(" und ") ||
        padded.contains(" nicht "), "de")
      .when(padded.contains(" le ") || padded.contains(" les ") ||
        padded.contains(" est "), "fr")
      .when(padded.contains(" el ") || padded.contains(" los ") ||
        padded.contains(" es "), "es")
      .otherwise("en")
  }

  /** Integer quality score 0..100: stopword density scaled into tokens.
    * score = min(100, floor(500 * stopword_hits / tokens)).
    */
  def qualityScore(text: Column): Column =
    least(lit(100L),
      floor(lit(500) * stopwordHits(text) / tokenCount(text)).cast("long"))

  // ---- encoding-garbage quality signal ------------------------------------

  /** U+FFFD replacement characters — the tracer a lossy decode leaves. */
  def replacementCount(text: Column): Column = markerCount(text, "�")

  /** Double-encoded UTF-8 artifacts: 'Ã' (U+00C3) and 'â€' are the
    * signature prefixes Latin-1-decoded UTF-8 stamps on every non-ASCII
    * character ("Ã©" for é, "â€™" for a curly quote) — the standard
    * mojibake heuristic; counting prefixes, not pairs, keeps the scan one
    * replace per marker.
    */
  def mojibakeCount(text: Column): Column =
    markerCount(text, "Ã") + markerCount(text, "â€")

  /** C0 control characters except tab/newline/CR — binary bleeding into a
    * text column. Explicit class (not \p{Cntrl}) so Java regex and RE2
    * agree byte-for-byte; starts at \x01 because neither engine's
    * pattern literal carries NUL (a NUL-bearing column is a byte-level
    * problem, not a text one).
    */
  def controlCharCount(text: Column): Column =
    (length(text) - length(regexp_replace(text,
      "[\\x01-\\x08\\x0b\\x0c\\x0e-\\x1f]", ""))).cast("long")

  // ---- link extraction (the WARC → host-graph bridge) ---------------------

  /** All href targets in an HTML body, document order. Pattern is
    * dialect-neutral (no lookarounds, no backreferences) so Java regex and
    * RE2-based engines extract byte-identical lists — double-quoted hrefs
    * only, the canonical form; single-quoted/bare attrs belong to a full
    * HTML parser, not a scan-time kernel.
    */
  def hrefs(html: Column): Column =
    regexp_extract_all(html, lit("href=\"([^\"]+)\""), lit(1))

  /** Host of an http(s) URL (empty string when the URL has no scheme —
    * relative links carry no host signal).
    */
  def urlHost(url: Column): Column =
    regexp_extract(url, "^https?://([^/]+)", 1)

  /** (doc, host, n_links) outlink edges of an HTML column — the bridge
    * from WARC-ingested captures to the host authority graph
    * ([[graft.graph.PageRank]]'s input shape): extract hrefs map-side,
    * reduce to per-(doc, host) counts in ONE shuffle of narrow rows.
    * Relative links (no host) drop; self-links stay (PageRank's damping
    * handles them).
    */
  def outlinkHosts(docs: org.apache.spark.sql.DataFrame, idCol: String,
      htmlCol: String): org.apache.spark.sql.DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(hrefs(col(htmlCol))).as("url"))
      .select(col("doc_id"), urlHost(col("url")).as("host"))
      .where(col("host") =!= "")
      .groupBy(col("doc_id"), col("host"))
      .agg(count(lit(1)).as("n_links"))
}

object TextClean {

  /** Strip HTML/XML tags. Pattern is dialect-neutral (no lookarounds) so
    * Java regex and RE2-based engines agree byte-for-byte.
    */
  def stripHtml(text: Column): Column =
    regexp_replace(text, "<[^>]*>", "")

  /** Collapse whitespace runs to single spaces and trim. */
  def collapseWhitespace(text: Column): Column =
    trim(regexp_replace(text, "\\s+", " "))

  /** Unicode NFC normalization (combining sequences → composed forms) —
    * the canonical first step before hashing/dedup so visually-identical
    * text hashes identically. StaticInvoke of java.text.Normalizer keeps
    * codegen; DuckDB's nfc_normalize implements the same Unicode
    * normalization for the oracle.
    */
  def nfc(text: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
    import org.apache.spark.sql.types.StringType
    org.apache.spark.sql.GraftSqlBridge.column(
      StaticInvoke(classOf[TextCleanKernels.type], StringType, "nfc",
        Seq(org.apache.spark.sql.GraftSqlBridge.expression(text)),
        inputTypes = Nil, propagateNull = true, returnNullable = true))
  }

  /** Mask email addresses (PII scrub). Dialect-neutral pattern. */
  def redactEmails(text: Column, mask: String = "<EMAIL>"): Column =
    regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+", mask)

  /** The standard cleaning chain: strip tags → NFC → redact → collapse. */
  def cleanChain(text: Column): Column =
    collapseWhitespace(redactEmails(nfc(stripHtml(text))))

  // ---- PII / leakage scrubbing --------------------------------------------
  // All patterns avoid lookarounds and backreferences so Java regex (Spark)
  // and RE2 (DuckDB, and most scan-time filter engines) match byte-for-byte.

  /** http(s) URL: scheme plus the maximal non-space run. */
  val UrlPattern = "https?://[^\\s]+"

  /** Dotted-quad IPv4 (syntactic — no octet range check, which would need
    * alternations that RE2 and Java order differently).
    */
  val Ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** International phone in the +CC DDD-DDD-DDD shape. */
  val PhonePattern = "\\+\\d{2} \\d{3}-\\d{3}-\\d{3}"

  def redactUrls(text: Column, mask: String = "<URL>"): Column =
    regexp_replace(text, UrlPattern, mask)

  def redactIps(text: Column, mask: String = "<IP>"): Column =
    regexp_replace(text, Ipv4Pattern, mask)

  def redactPhones(text: Column, mask: String = "<PHONE>"): Column =
    regexp_replace(text, PhonePattern, mask)

  /** Full PII scrub: URLs first (a URL may embed a dotted quad — once the
    * URL is masked the IP pass cannot double-redact it), then IPs, phones,
    * emails. Pure codegen'd regexp_replace chain, no UDF.
    */
  def redactPii(text: Column): Column =
    redactEmails(redactPhones(redactIps(redactUrls(text))))
}

object TextCleanKernels {
  import org.apache.spark.unsafe.types.UTF8String

  def nfc(s: UTF8String): UTF8String =
    UTF8String.fromString(
      java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFC))

  /** '#' + non-overlapping '...' + '…' in one raw UTF-8 byte pass.
    * Bytewise is sound: '#' (0x23) and '.' (0x2E) are ASCII and never
    * occur as UTF-8 continuation bytes, and '…' is the exact sequence
    * E2 80 A6 — no decode, no allocation.
    */
  def gopherSymbols(s: UTF8String): Long = {
    val n = s.numBytes
    var i = 0
    var total = 0L
    var dots = 0
    while (i < n) {
      val b = s.getByte(i)
      if (b == '.') { dots += 1; i += 1 }
      else {
        total += dots / 3; dots = 0
        if (b == '#') { total += 1; i += 1 }
        else if (b == -30 && i + 2 < n && s.getByte(i + 1) == -128 &&
            s.getByte(i + 2) == -90) { total += 1; i += 3 }
        else i += 1
      }
    }
    total + dots / 3
  }

  /** The q161 code-filter counters in ONE raw UTF-8 byte pass —
    * [n_lines, max_line_len, sum_len, n_long, n_chars, n_alnum,
    * is_autogen 0/1] — replacing a per-document expression battery that
    * materialized `lower(text)` once PER autogen marker (3×) plus a full
    * `regexp_replace` copy for the alnum count. Equivalences to the
    * replaced built-ins, byte by byte:
    *
    *  - characters = non-continuation bytes ((b & 0xC0) != 0x80), the
    *    same code-point count `length()` returns for well-formed UTF-8;
    *  - lines = '\n' (0x0A) splits — an ASCII byte never occurs inside
    *    a multi-byte sequence, so the byte split IS `split(text, '\n')`
    *    (trailing empty segment included, like Spark's limit = -1);
    *  - alnum = ASCII [0-9A-Za-z] bytes, exactly the
    *    `[^A-Za-z0-9]`-stripped length;
    *  - the marker scan folds ONLY ASCII A-Z (b | 0x20) and lets every
    *    non-ASCII byte mismatch. This equals `lower(text).contains(m)`
    *    for these markers because no non-ASCII code point lowercases to
    *    any marker character: the only ASCII-producing simple mapping is
    *    U+212A → 'k' (not a marker letter), and U+0130's full mapping
    *    "i̇" cannot complete "edit" (the combining dot follows the
    *    'i', never the needed 't').
    */
  def codeStats(s: UTF8String)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = s.numBytes
    var nLines = 1L
    var curLen = 0L
    var maxLen = 0L
    var sumLen = 0L
    var nLong = 0L
    var nChars = 0L
    var nAlnum = 0L
    var autogen = false
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if ((b & 0xC0) != 0x80) { // lead or ASCII byte = one character
        nChars += 1
        if (b == '\n') {
          if (curLen > maxLen) maxLen = curLen
          sumLen += curLen
          if (curLen > CodeFilters.LongLineChars) nLong += 1
          nLines += 1
          curLen = 0L
        } else {
          curLen += 1
          if ((b >= '0' && b <= '9') || (b >= 'A' && b <= 'Z') ||
            (b >= 'a' && b <= 'z')) nAlnum += 1
        }
      }
      if (!autogen) {
        val f = if (b >= 'A' && b <= 'Z') (b | 0x20).toByte else b
        if (AutogenFirstByte(f & 0xFF)) {
          var m = 0
          while (!autogen && m < AutogenMarkerBytes.length) {
            val mk = AutogenMarkerBytes(m)
            if (mk(0) == f && i + mk.length <= n) {
              var k = 1
              var ok = true
              while (ok && k < mk.length) {
                val c = s.getByte(i + k)
                val cf = if (c >= 'A' && c <= 'Z') (c | 0x20).toByte else c
                if (cf != mk(k)) ok = false
                k += 1
              }
              if (ok) autogen = true
            }
            m += 1
          }
        }
      }
      i += 1
    }
    if (curLen > maxLen) maxLen = curLen
    sumLen += curLen
    if (curLen > CodeFilters.LongLineChars) nLong += 1
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array[Any](nLines, maxLen, sumLen, nLong, nChars, nAlnum,
        if (autogen) 1L else 0L))
  }

  private val AutogenMarkerBytes: Array[Array[Byte]] =
    CodeFilters.AutogenMarkers.map(_.getBytes("UTF-8")).toArray
  // the scan's gate: true at the first byte of some marker
  private val AutogenFirstByte: Array[Boolean] = {
    val t = new Array[Boolean](256)
    AutogenMarkerBytes.foreach(mk => t(mk(0) & 0xFF) = true)
    t
  }
}

object Diversity {

  /** Gopher-style lexical-diversity metrics: unique-token fraction and
    * top-token dominance. Repetitive machine-generated or boilerplate
    * text scores low diversity / high dominance — both standard quality
    * filters for training corpora, both integer-exact for the oracle.
    */
  def metrics(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(F.tokensLower(col(textCol))).as("term"))
    toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("tf")).as("top_tf"))
      .withColumn("diversity_pct",
        (col("n_distinct") * 100 / col("n_tokens")).cast("long"))
      .withColumn("dominance_pct",
        (col("top_tf") * 100 / col("n_tokens")).cast("long"))
  }
}

object Perplexity {

  /** Unigram-LM perplexity quality filter: the corpus itself is the
    * language model (token frequency over total tokens, add-one
    * smoothed), and each document scores its mean negative
    * log-likelihood — high = rare-token/gibberish/off-language text, low
    * = stereotypical text. The standard first-cut quality filter for
    * training corpora when no external LM is available.
    *
    * Scale shape: the LM is a narrow (term, count) aggregate joined back
    * to the exploded tokens — no driver-side vocabulary. Per-token NLL
    * quantizes to DECIMAL(18,9) BEFORE summing, so document scores are
    * exact and partitioning-independent (a raw double sum is
    * merge-order-dependent).
    *
    * The token⋈LM join keys on Zipf-skewed terms; `broadcastLm` (default)
    * hints the LM side so the hot terms never shuffle — a unigram vocab
    * grows sublinearly in the corpus (Heaps' law) and a (term, count)
    * frame fits executor memory far past 10^8 distinct terms. Set false
    * only for genuinely unbounded junk-token vocabularies, where AQE's
    * skew-join split carries the shuffle instead.
    */
  def score(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String,
      broadcastLm: Boolean = true): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(F.tokensLower(col(textCol))).as("term"))
    val lmPlain = toks.groupBy(col("term")).agg(count(lit(1)).as("tf"))
    val lm = if (broadcastLm) broadcast(lmPlain) else lmPlain
    val total = toks.agg(count(lit(1)).as("n_total"))
    toks
      .join(lm, "term")
      .crossJoin(total)
      .withColumn("nll",
        (-log((col("tf") + 1).cast("double") /
          (col("n_total") + lit(1)).cast("double")))
          .cast(org.apache.spark.sql.types.DecimalType(18, 9)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        floor(sum(col("nll")) * 1000 / count(lit(1))).cast("long")
          .as("avg_nll_x1000"))
  }

  /** Ordered token bigrams of a text column as (w1, w2) structs (tokens
    * are whitespace-split; structs instead of concatenated strings, so
    * downstream joins key on the pair directly with no concat/split
    * round-trips). Documents with fewer than two tokens yield an empty
    * array. Built as `zip_with` over two slices, NOT as
    * `transform(sequence(…), i -> element_at(t, i))`: a non-lambda-bound
    * array reference INSIDE a higher-order-function lambda re-evaluates
    * its whole subtree per iteration — the regex tokenization would run
    * once per bigram index, O(tokens²) per document (measured: 29 s vs
    * 4 s for the plain token explode over the same 100× corpus). The
    * slices are ordinary arguments, evaluated once per row.
    */
  def bigrams(text: Column): Column = {
    val t = F.tokensLower(text)
    when(size(t) >= 2,
      zip_with(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
  }

  /** Word trigrams of a text column ([[bigrams]]' shape one order
    * higher; the slices are plain arguments, evaluated once per row —
    * the same O(n²) re-evaluation guard).
    */
  def trigrams(text: Column): Column = {
    val t = F.tokensLower(text)
    when(size(t) >= 3,
      zip_with(
        slice(t, lit(1), size(t) - 2),
        zip_with(slice(t, lit(2), size(t) - 2),
          slice(t, lit(3), size(t) - 2),
          (b, c) => struct(b.as("w2"), c.as("w3"))),
        (a, bc) => struct(a.as("w1"), bc.getField("w2").as("w2"),
          bc.getField("w3").as("w3"))))
      .otherwise(array()
        .cast("array<struct<w1:string,w2:string,w3:string>>"))
  }

  /** Stupid-backoff trigram scoring (Brants et al. 2007, "Large
    * Language Models in Machine Translation", §4 — the published
    * web-scale LM recipe: relative frequencies with a fixed backoff
    * factor α = 0.4 instead of normalized smoothing, because at corpus
    * scale the discounting machinery costs more than it buys). Per
    * trigram position:
    *
    *   S = c3/c2(w1w2)            when the trigram was seen,
    *   S = α·c2(w2w3)/c1(w2)      backing off to the bigram,
    *   S = α²·(c1(w3)+1)/(N+V)    at the unigram floor — add-one at
    *                              THIS level only (a documented
    *                              deviation for totality: pure stupid
    *                              backoff scores an unseen word 0 and
    *                              -ln(0) is not a number; q114's
    *                              add-one posture).
    *
    * Scores are not probabilities (the paper's point) — they rank.
    * Determinism: each branch is a fixed-shape IEEE expression over
    * exact BIGINT counts (identical literals, identical association on
    * both engines), the per-position -ln quantizes to DECIMAL(18,9)
    * BEFORE the document sum (the q58/q114 discipline), and the
    * per-token average is the exact BIGINT floor identity
    * floor(x/n) = floor(floor(x)/n) with the mod subtracted before the
    * divide (the q126/q127 discipline).
    *
    * Scale shape: counting is three gram-keyed shuffles over the train
    * corpus (tri/bi/uni). Scoring is TYPE-level: the corpus' DISTINCT
    * trigrams (Zipf — far fewer types than tokens) walk the count
    * joins, and the scored dictionary joins back to the document
    * stream ONCE on the trigram key — one wide shuffle of the stream
    * instead of five (hot grams ride AQE's skew-join split). The
    * one-row (N, V) totals frame broadcasts, and `broadcastLm = true`
    * opts the count frames into broadcasts for curated (bounded)
    * reference LMs exactly like q114.
    */
  def stupidBackoffScore(train: org.apache.spark.sql.DataFrame,
      docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, broadcastLm: Boolean = false)
      : org.apache.spark.sql.DataFrame = {
    val Dec = org.apache.spark.sql.types.DecimalType(18, 9)
    def bc(df: org.apache.spark.sql.DataFrame) =
      if (broadcastLm) broadcast(df) else df
    val c3 = bc(train
      .select(explode(trigrams(col(textCol))).as("tg"))
      .select(col("tg.w1").as("w1"), col("tg.w2").as("w2"),
        col("tg.w3").as("w3"))
      .groupBy(col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("c3")))
    val c2 = train
      .select(explode(bigrams(col(textCol))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val uni = train
      .select(explode(F.tokensLower(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    // N = Σc1 (total train tokens), V = |vocab| — one bounded row
    val totals = broadcast(uni.agg(sum(col("c1")).as("n"),
      count(lit(1)).as("v")))
    val st = docs
      .select(col(idCol).as("doc_id"),
        explode(trigrams(col(textCol))).as("tg"))
      .select(col("doc_id"), col("tg.w1").as("w1"),
        col("tg.w2").as("w2"), col("tg.w3").as("w3"))
    // score each DISTINCT trigram type once; the token stream joins
    // the scored dictionary on one key instead of walking five joins
    val scoredTypes = st.select(col("w1"), col("w2"), col("w3"))
      .distinct()
      .join(c3, Seq("w1", "w2", "w3"), "left")
      .join(bc(c2.select(col("w1"), col("w2"), col("c2").as("c2ctx"))),
        Seq("w1", "w2"), "left")
      .join(bc(c2.select(col("w1").as("w2"), col("w2").as("w3"),
        col("c2").as("c2bg"))), Seq("w2", "w3"), "left")
      // the unigram frame is q58's Heaps-sublinear (token, count) LM —
      // ALWAYS broadcast (the bigramScore c1 precedent): two of the
      // dictionary's five lookup joins become map-side hash joins. On
      // the synthetic 100× probe this is a ~5% wall win (the corpus is
      // 98% UNIQUE trigrams, so the c3/c2 exchanges dominate either
      // way — see SURVEY §6); on real Zipf text the vocab is far
      // smaller relative to the corpus and the two removed exchanges
      // matter more. A junk vocabulary that outgrows the broadcast
      // belongs on the same escape hatch as q58: pre-filter the junk.
      .join(broadcast(uni.select(col("w").as("w2"), col("c1").as("c1w2"))),
        Seq("w2"), "left")
      .join(broadcast(uni.select(col("w").as("w3"), col("c1").as("c1w3"))),
        Seq("w3"), "left")
      .crossJoin(totals)
      .withColumn("lvl",
        when(col("c3").isNotNull, 0)
          .when(col("c2bg").isNotNull, 1).otherwise(2))
      .withColumn("x",
        when(col("lvl") === 0,
          col("c3").cast("double") / col("c2ctx").cast("double"))
          .when(col("lvl") === 1,
            lit(0.4) * col("c2bg").cast("double")
              / col("c1w2").cast("double"))
          .otherwise(
            lit(0.16) * (coalesce(col("c1w3"), lit(0L)) + 1)
              .cast("double")
              / (col("n") + col("v")).cast("double")))
      .withColumn("nll", (-log(col("x"))).cast(Dec))
      .select(col("w1"), col("w2"), col("w3"), col("lvl"), col("nll"))
    val scored = st
      .join(scoredTypes, Seq("w1", "w2", "w3"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trigrams"),
        sum(when(col("lvl") === 0, 1L).otherwise(0L)).as("n_tri_hits"),
        sum(when(col("lvl") === 1, 1L).otherwise(0L))
          .as("n_bi_backoffs"),
        sum(when(col("lvl") === 2, 1L).otherwise(0L))
          .as("n_uni_backoffs"),
        floor(sum(col("nll")) * 1000).cast("long").as("sum_nll_x1000"))
    scored.withColumn("avg_nll_x1000",
      ((col("sum_nll_x1000")
          - pmod(col("sum_nll_x1000"), col("n_trigrams")))
        / col("n_trigrams")).cast("long"))
  }

  /** CCNet-style trained-LM perplexity filter: fit an add-one-smoothed
    * bigram LM on an in-domain reference corpus (CCNet trains on
    * Wikipedia; a pipeline here trains on the deterministic q41 train
    * split) and score EVERY document's mean bigram negative
    * log-likelihood against it — unlike [[score]]'s self-LM, the model
    * and the scored corpus are decoupled, so the score measures
    * "how much does this look like the reference domain", the signal
    * CCNet buckets into head/middle/tail.
    *
    * P(w2|w1) = (c2(w1,w2) + 1) / (c1(w1) + V): Laplace over the train
    * vocabulary V, with c1 the count of w1 as a bigram CONTEXT (so the
    * distribution sums to 1 over the vocab; unseen contexts degrade to
    * the uniform 1/V). Per-bigram NLL quantizes to DECIMAL(18,9) before
    * summing — exact, partitioning-independent document scores (the q58
    * discipline). Documents with fewer than two tokens have no bigram
    * evidence and drop out.
    *
    * Scale shape: the LM is (w1, w2, count) — O(train tokens) rows, NOT
    * the sublinear Heaps-law vocab of the unigram case, so the default
    * is a shuffle join on the bigram pair (Zipf-hot keys ride AQE's
    * skew split), not a broadcast. `broadcastLm = true` opts in when the
    * reference corpus is known-small (the common CCNet deployment: a
    * curated in-domain sample, not the crawl itself).
    *
    * The plan keeps the hot corpus bigram stream to ONE wide shuffle and
    * ONE sort (the 100× probe measured the naive string-keyed
    * three-shuffle shape at 94 s, and a split-stream variant that
    * evaluates the big join twice at 150 s): the context count c1
    * derives algebraically from the bigram counts (`Σ_w2 c2(w1,w2)` —
    * no second corpus explode) and is BROADCAST — c1 is exactly q58's
    * unigram-LM frame, a (token, count) aggregate that Heaps' law keeps
    * sublinear in the corpus — so the c1 lookup is a map-side hash join
    * and only the c2 join shuffles the corpus, once, on (w1, w2).
    * (A subtler single-shuffle variant — co-partition everything on w1
    * alone — is blocked by requireAllClusterKeysForCoPartition, which
    * would have to be flipped session-wide; the broadcast shape needs no
    * config and survives AQE.) Hot-(w1,w2) skew rides AQE's skew-join
    * split; a genuinely unbounded junk vocabulary that breaks the c1
    * broadcast belongs on the same escape hatch as q58's `broadcastLm =
    * false`: pre-filter the junk, not the join strategy.
    */
  def bigramScore(train: org.apache.spark.sql.DataFrame,
      docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      broadcastLm: Boolean = false): org.apache.spark.sql.DataFrame = {
    val trainBg = train.select(explode(bigrams(col(textCol))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c2Plain = trainBg.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2"))
    val c1 = broadcast(
      c2Plain.groupBy(col("w1")).agg(sum(col("c2")).as("c1")))
    val vocab = train
      .select(explode(F.tokensLower(col(textCol))).as("term"))
      .agg(count_distinct(col("term")).as("v"))
    val sb = docs
      .select(col(idCol).as("doc_id"), explode(bigrams(col(textCol))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c2 = if (broadcastLm) broadcast(c2Plain) else c2Plain
    sb
      .join(c2, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(vocab) // one-row totals frame
      .withColumn("nll",
        (-log((coalesce(col("c2"), lit(0L)) + 1).cast("double") /
          (coalesce(col("c1"), lit(0L)) + col("v")).cast("double")))
          .cast(org.apache.spark.sql.types.DecimalType(18, 9)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        floor(sum(col("nll")) * 1000 / count(lit(1))).cast("long")
          .as("avg_nll_x1000"))
  }
}

/** The Gopher quality-rule battery (Rae et al. 2021, "Scaling Language
  * Models", table A1 — the public heuristic filter set MassiveText used
  * before model-based scoring, since adopted by RefinedWeb/Dolma): word
  * count bounds, mean-word-length bounds, symbol-to-word ratio,
  * bullet-start / ellipsis-end line fractions, alphabetic-word fraction,
  * and a minimum stop-word hit count.
  *
  * Every rule is decided in INTEGER cross-multiplied arithmetic (e.g.
  * mean word length in [3,10] is `3·n ≤ chars ≤ 10·n`), so there is no
  * float threshold for engines to disagree on. One map-side pass over
  * codegen'd built-ins: zero shuffles, zero UDFs.
  */
object GopherRules {

  /** The eight fixed stop words of the Gopher rule ("the, be, to, of,
    * and, that, have, with" — at least [[MinStopHits]] must appear).
    */
  val StopWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")
  val MinStopHits = 2

  private final case class Stats(nWords: Column, wordChars: Column,
      nAlphaWords: Column, nSymbols: Column, nLines: Column,
      nBulletLines: Column, nEllipsisLines: Column, nStopHits: Column) {
    def rWordCount: Column = nWords >= 50 && nWords <= 100000
    def rMeanLen: Column = wordChars >= nWords * 3 && wordChars <= nWords * 10
    def rSymbolRatio: Column = nSymbols * 10 < nWords
    def rBullet: Column = nBulletLines * 10 <= nLines * 9
    def rEllipsis: Column = nEllipsisLines * 10 <= nLines * 3
    def rAlpha: Column = nAlphaWords * 5 >= nWords * 4
    def rStopWords: Column = nStopHits >= MinStopHits
    def passAll: Column = rWordCount && rMeanLen && rSymbolRatio &&
      rBullet && rEllipsis && rAlpha && rStopWords
  }

  private def stats(t: Column): Stats = {
    val toks = F.tokensLower(t)
    val lines = split(t, "\n")
    // '#', ASCII '...', and the Unicode ellipsis '…' all count as symbols:
    // the line-end ellipsis rule already treats '…' as an ellipsis, so the
    // symbol ratio must too, or '…'-heavy pages never trip it (ADVICE r12).
    // Counted in ONE byte-scan kernel — three replace() passes each
    // copied the document and doubled q115 at the 100× probe (r13).
    Stats(
      nWords = size(toks).cast("long"),
      wordChars = aggregate(transform(toks, w => length(w)),
        lit(0L), (acc, x) => acc + x),
      nAlphaWords = size(filter(toks, w => w.rlike("[a-z]"))).cast("long"),
      nSymbols = TextStats.gopherSymbolCount(t),
      nLines = size(lines).cast("long"),
      nBulletLines = size(filter(lines, l =>
        l.rlike("^[ \t]*[-*•]"))).cast("long"),
      nEllipsisLines = size(filter(lines, l =>
        l.rlike("(\\.\\.\\.|…)[ \t]*$"))).cast("long"),
      nStopHits = StopWords.map(w =>
        when(array_contains(toks, w), 1L).otherwise(0L)).reduce(_ + _))
  }

  /** The composite Gopher verdict as one COLUMN over a text expression —
    * the surface the streaming twin gates with, so stream ≡ batch
    * verdicts are the same expression tree by construction.
    */
  def pass(t: Column): Column = stats(t).passAll

  /** Per-document rule verdicts plus the composite `pass`. Counters the
    * rules divide are also emitted so a downstream re-threshold needs no
    * re-scan (the published bounds are corpus-tuned, not sacred).
    */
  def evaluate(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val s = stats(col(textCol))
    docs.select(
      col(idCol).as("doc_id"),
      s.nWords.as("n_words"),
      s.wordChars.as("word_chars"),
      s.nAlphaWords.as("n_alpha_words"),
      s.nSymbols.as("n_symbols"),
      s.nLines.as("n_lines"),
      s.nBulletLines.as("n_bullet_lines"),
      s.nEllipsisLines.as("n_ellipsis_lines"),
      s.nStopHits.as("n_stop_hits"),
      s.rWordCount.as("r_word_count"),
      s.rMeanLen.as("r_mean_len"),
      s.rSymbolRatio.as("r_symbol_ratio"),
      s.rBullet.as("r_bullet"),
      s.rEllipsis.as("r_ellipsis"),
      s.rAlpha.as("r_alpha"),
      s.rStopWords.as("r_stop_words"))
      .withColumn("pass",
        col("r_word_count") && col("r_mean_len") && col("r_symbol_ratio") &&
        col("r_bullet") && col("r_ellipsis") && col("r_alpha") &&
        col("r_stop_words"))
  }
}

/** The C4 cleaning rules (Raffel et al. 2020 §2.2 — the public line-level
  * filter battery behind the C4 corpus, the line-granular sibling of
  * [[GopherRules]]'s document-level battery): keep only lines that end in
  * terminal punctuation AND have ≥ 5 words AND don't mention javascript;
  * drop whole pages with < 3 sentences, a curly brace, or the
  * "lorem ipsum" placeholder.
  *
  * One map-side pass of codegen'd list lambdas (every lambda touches only
  * its bound variable — the [[Perplexity.bigrams]] re-evaluation lesson);
  * per-line counters are emitted alongside the page verdict so the kept
  * text can be rebuilt or re-thresholded without a second scan.
  */
object C4Filters {

  private val TerminalLine = "[.!?\"][ \t]*$"

  private def keptLines(t: Column): Column =
    filter(split(t, "\n"), l =>
      l.rlike(TerminalLine) &&
        size(split(trim(l), "\\s+")) >= 5 &&
        !contains(lower(l), lit("javascript")))

  // sentence evidence: terminal-punctuation marks inside KEPT lines
  private def sentenceCount(kept: Column): Column =
    aggregate(
      transform(kept, l =>
        length(l) - length(regexp_replace(l, "[.!?]", ""))),
      lit(0L), (acc, x) => acc + x)

  /** The composite C4 page verdict as one COLUMN over a text expression —
    * the surface the streaming twin gates with, so stream ≡ batch
    * verdicts are the same expression tree by construction.
    */
  def keep(t: Column): Column =
    sentenceCount(keptLines(t)) >= 3 &&
      !contains(t, lit("{")) && !contains(lower(t), lit("lorem ipsum"))

  def evaluate(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val t = col(textCol)
    val lines = split(t, "\n")
    val kept = keptLines(t)
    val nJs = size(filter(lines, l =>
      contains(lower(l), lit("javascript")))).cast("long")
    val nSentences = sentenceCount(kept)
    val keptChars = aggregate(transform(kept, l => length(l)),
      lit(0L), (acc, x) => acc + x)
    docs.select(
      col(idCol).as("doc_id"),
      size(lines).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept_lines"),
      nJs.as("n_js_lines"),
      keptChars.as("kept_chars"),
      nSentences.as("n_sentences"),
      contains(t, lit("{")).as("has_curly"),
      contains(lower(t), lit("lorem ipsum")).as("has_lorem"))
      .withColumn("keep",
        col("n_sentences") >= 3 && !col("has_curly") && !col("has_lorem"))
  }
}

object TermScores {

  /** Top-k distinguishing terms per document, scored by tf/df (term
    * frequency over document frequency — a reciprocal-idf member of the
    * tf·idf family chosen because the score is a small-integer RATIONAL:
    * distinct ratios of ints < 1e6 differ by ≥ 1/(df₁·df₂), far above
    * double ulp, so the ranking is bit-identical across engines, which a
    * log-based idf is not). Rank-only output, deterministic term
    * tie-break.
    *
    * Two shuffles: (doc, term) tf aggregation, then a term-keyed df join
    * — the classic scalable tf-idf shape (no driver-side vocabulary).
    */
  def topTerms(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(F.tokensLower(col(textCol))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(df, "term")
      .withColumn("score", col("tf") * lit(1.0) / col("df"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select("doc_id", "rnk", "term")
  }

  /** Inverted index: one row per posting (term → doc), with the term's
    * document frequency and the posting's position in the doc_id-ordered
    * list — the layout a search/retrieval layer consumes (doc_id order
    * makes postings delta-encodable).
    *
    * Scale shape: one (doc, term) tf aggregation, then a term-partitioned
    * window — each window is bounded by that term's df. `maxDf` drops
    * ultra-common terms (classic stopword posting suppression): at corpus
    * scale a term appearing in every document yields a posting list the
    * size of the corpus and carries no retrieval signal, so capping df
    * bounds the hottest partition.
    */
  def invertedIndex(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, maxDf: Long = Long.MaxValue): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(F.tokensLower(col(textCol))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val byTerm = Window.partitionBy(col("term"))
    tf.withColumn("df", count(lit(1)).over(byTerm).cast("long"))
      .where(col("df") <= maxDf)
      .withColumn("prank",
        row_number().over(byTerm.orderBy(col("doc_id"))).cast("long"))
      .select("term", "df", "doc_id", "prank", "tf")
  }
}

/** WITHIN-document repetition metrics — the Gopher repetition-filter
  * family (Rae et al. 2021, arXiv 2112.11446 §A1.1, public): documents
  * dominated by their own repeated n-grams (looping boilerplate,
  * keyword stuffing, templated spam) are low-quality training text even
  * when every individual line passes the q25 quality gate. Where
  * q68_dup_ngrams measures CROSS-corpus duplication (a gram seen in ≥ 2
  * documents), these metrics are purely intra-document: what share of a
  * document's k-gram occurrences are repeats of a gram it already used,
  * and what share is claimed by its single most frequent k-gram.
  *
  * All outputs are integer rationals (counts and ×100 floored
  * percentages) — engine-exact, no fp in the result. Scale shape: one
  * (doc, gram-hash) partial-agg shuffle then one doc-keyed partial-agg
  * shuffle; 24-byte rows, grams reduced to 64-bit hashes map-side,
  * never a window, never text on the wire.
  */
object Repetition {

  /** Per non-null-text document: total k-gram occurrences, occurrences
    * of within-doc repeated grams, their floored percentage, the top
    * gram's occurrence count, and its floored percentage. Output:
    * (doc_id, n_grams, rep_grams, rep_pct, top_occ, top_pct).
    */
  def metrics(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    val perGram = docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        explode(transform(F.shingles(F.tokensLower(col(textCol)), k),
          s => F.hash64(s))).as("h"))
      .groupBy(col("doc_id"), col("h"))
      .agg(count(lit(1)).as("occ"))
    perGram.groupBy(col("doc_id"))
      .agg(sum(col("occ")).as("n_grams"),
        sum(when(col("occ") >= 2, col("occ")).otherwise(0L)).as("rep_grams"),
        max(col("occ")).as("top_occ"))
      .select(col("doc_id"), col("n_grams"), col("rep_grams"),
        (col("rep_grams") * 100 / col("n_grams")).cast("long").as("rep_pct"),
        col("top_occ"),
        (col("top_occ") * 100 / col("n_grams")).cast("long").as("top_pct"))
  }
}
