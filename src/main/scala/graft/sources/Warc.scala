package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** One parsed WARC record. `warcDate` is the WARC-Date header as a UTC
  * instant; `httpStatus`/`body` are null unless the record is an HTTP
  * response whose payload parses (see [[WarcCodec.parseHttp]]).
  *
  * Damage accounting (the [[GraftCsv]] corrupt-record contract applied to
  * the container layer): when an archive's stream is damaged mid-way —
  * torn tail, torn header, lost record sync, missing/malformed
  * Content-Length — the reader emits ONE marker row with
  * `warc_type = [[GraftWarc.TruncatedType]]` and the reason in
  * `record_id`, so truncation is countable/quarantineable data instead of
  * a silent early stop (ADVICE r10). An OVERSIZED record (Content-Length
  * past the single-array buffer bound) is skipped by length — marker row,
  * then parsing continues; the other damage classes end the file's
  * iterator after the marker (an unknown length cannot be skipped).
  */
final case class WarcRow(file: String, warc_type: String, record_id: String,
    target_uri: String, warc_date: java.sql.Timestamp, content_length: Long,
    http_status: Option[Int], content_type: String,
    http_location: String, body: Array[Byte])

/** WARC (Web ARChive, ISO 28500 — the Common Crawl container) ingest.
  *
  * Reference scope note: the reference pipeline ingests ZIP'd CSV
  * (aggregates_python_helpers.py:22-31); WARC is the corresponding wire
  * format for the LLM-training-corpus side of this engine — the format
  * web-scale text actually arrives in — so it gets the same treatment as
  * the ZIP/SHP containers: a from-spec parser, a deterministic fixture,
  * and a full fixture-arithmetic oracle (q97).
  *
  * Scale shape — identical contract to [[GraftCsv.readZip]]: a WARC file
  * is a concatenation of length-prefixed records (optionally gzip'd as
  * concatenated members, which GZIPInputStream walks natively), so the
  * container is NOT block-splittable; parallelism = number of archives —
  * one task streams one archive end-to-end in constant memory (records
  * stream through an iterator; nothing buffers more than one record).
  * Common Crawl ships ~1 GB segments by the tens of thousands, so
  * file-count parallelism is the natural sharding; a single multi-TB
  * archive is the same anti-pattern as a single giant ZIP (re-land it as
  * parquet once, at ingest).
  */
object GraftWarc {

  /** `warc_type` of damage-marker rows; the reason lands in `record_id`
    * (`torn_tail` / `torn_header` / `lost_sync` / `bad_length` /
    * `oversized_record`). Leading underscores keep it out of any real
    * WARC-Type vocabulary.
    */
  val TruncatedType = "__truncated__"

  /** (file, warc_type, record_id, target_uri, warc_date, content_length,
    * http_status, body) for every record under `path` (glob ok). Filter
    * `warc_type = 'response'` and non-null `body` for corpus text; count
    * [[truncations]] for the damage audit. The per-file input stream is
    * closed on iterator exhaustion AND on task completion (early-stop /
    * limit / failure paths), so partial consumption never leaks the
    * stream or the gzip Inflater's native buffer.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.sparkContext.binaryFiles(path).flatMap { case (file, pds) =>
      val in = pds.open()
      Option(org.apache.spark.TaskContext.get()).foreach(
        _.addTaskCompletionListener[Unit](_ =>
          try in.close() catch { case _: java.io.IOException => () }))
      WarcCodec.parseStreamAccounted(in).map {
        case Right(r) =>
          val http = if (r.warcType == "response") WarcCodec.parseHttp(r.payload)
            else None
          val ctype = if (http.isDefined)
            WarcCodec.httpHeader(r.payload, "Content-Type") else None
          val loc = if (http.exists(h => h._1 >= 300 && h._1 < 400))
            WarcCodec.httpHeader(r.payload, "Location") else None
          WarcRow(file, r.warcType, r.recordId, r.targetUri,
            java.sql.Timestamp.from(java.time.Instant.parse(r.warcDate)),
            r.payload.length.toLong,
            http.map(_._1), ctype.orNull, loc.orNull, http.map(_._2).orNull)
        case Left(t) =>
          WarcRow(file, TruncatedType, t.reason, null, null, -1L, None, null,
            null, null)
      }
    }.toDS().toDF()
  }

  /** Damage-marker rows only — the audit split ([[GraftCsv.badRecords]]
    * analog): one row per (file, damage event).
    */
  def truncations(df: DataFrame): DataFrame =
    df.where(col("warc_type") === TruncatedType)

  /** Real records with the damage markers dropped. */
  def records(df: DataFrame): DataFrame =
    df.where(col("warc_type") =!= TruncatedType)
}

object WarcCodec {

  final case class Rec(warcType: String, recordId: String, targetUri: String,
      warcDate: String, payload: Array[Byte])

  /** One damage event: stream state made the archive unparseable at this
    * point (or, for `oversized_record`, one record was skipped by length).
    */
  final case class Truncated(reason: String)

  /** Largest payload the one-record buffer will hold. WARC allows 64-bit
    * Content-Length; anything past a JVM array is skipped with an
    * `oversized_record` marker rather than buffered.
    */
  val MaxRecordBytes: Long = Int.MaxValue.toLong - 16L

  private val Crlf = "\r\n".getBytes("US-ASCII")

  /** Assemble one WARC/1.0 record (the fixture/test encoder — also the
    * documentation of exactly what [[parseStreamAccounted]] expects).
    * Header lines encode as UTF-8 (WARC-Target-URI may be non-ASCII).
    */
  def buildRecord(warcType: String, recordId: String, targetUri: String,
      warcDate: String, payload: Array[Byte]): Array[Byte] = {
    val header = new StringBuilder()
      .append("WARC/1.0\r\n")
      .append(s"WARC-Type: $warcType\r\n")
      .append(s"WARC-Record-ID: $recordId\r\n")
      .append(s"WARC-Date: $warcDate\r\n")
      .append(s"WARC-Target-URI: $targetUri\r\n")
      .append(s"Content-Length: ${payload.length}\r\n")
      .append("\r\n")
      .toString.getBytes("UTF-8")
    val out = new java.io.ByteArrayOutputStream(
      header.length + payload.length + 4)
    out.write(header); out.write(payload)
    out.write(Crlf); out.write(Crlf) // record separator (spec §4)
    out.toByteArray
  }

  /** An HTTP/1.1 200 response payload around `body` — the canonical
    * response-record payload the fixture plants. `contentType` lands in
    * the Content-Type header verbatim (charset experiments ride here).
    */
  def httpResponse(body: Array[Byte],
      contentType: String = "text/plain"): Array[Byte] = {
    val head = ("HTTP/1.1 200 OK\r\n" +
      s"Content-Type: $contentType\r\n\r\n").getBytes("US-ASCII")
    val out = new java.io.ByteArrayOutputStream(head.length + body.length)
    out.write(head); out.write(body)
    out.toByteArray
  }

  /** Split an HTTP response payload into (status, body bytes). None when
    * the payload doesn't start with an HTTP status line or has no header
    * terminator — a torn/garbage capture must surface as null, never as
    * corpus text.
    */
  def parseHttp(payload: Array[Byte]): Option[(Int, Array[Byte])] = {
    val headEnd = indexOfDoubleCrlf(payload)
    if (headEnd < 0) return None
    val statusLine = new String(payload, 0, math.min(headEnd, 256), "US-ASCII")
      .takeWhile(_ != '\r')
    val parts = statusLine.split(" ", 3)
    if (parts.length < 2 || !parts(0).startsWith("HTTP/")) return None
    val status = try parts(1).toInt catch { case _: NumberFormatException => return None }
    Some((status, java.util.Arrays.copyOfRange(payload, headEnd + 4, payload.length)))
  }

  /** The value of the first `name` field in the header block of an HTTP
    * response payload (the bytes before the blank line, decoded as
    * Latin-1 — byte-transparent, so [[WarcTranscode.charsetOf]] sees the
    * raw octets): the name matches case-insensitively (RFC 9110 §5.1),
    * the value is trimmed of spaces and tabs, and a field with a blank
    * value is skipped. None when the payload has no header block or no
    * such field; a `name:` line in the body is never read.
    * `Content-Type` feeds the charset transcode, `Location` (§10.2.2,
    * where a 3xx points) the redirect edges of [[graft.etl.Redirects]].
    */
  def httpHeader(payload: Array[Byte], name: String): Option[String] = {
    val headEnd = indexOfDoubleCrlf(payload)
    if (headEnd < 0) return None
    val key = name + ":"
    new String(payload, 0, headEnd,
      java.nio.charset.StandardCharsets.ISO_8859_1).split("\r\n|\r|\n").iterator
      .filter(_.regionMatches(true, 0, key, 0, key.length))
      .map(_.substring(key.length).replaceAll("^[ \t]+|[ \t]+$", ""))
      .find(_.nonEmpty)
  }

  /** A 3xx response payload with a Location header and an empty body —
    * the redirect-record fixture encoder.
    */
  def httpRedirect(status: Int, location: String): Array[Byte] =
    (s"HTTP/1.1 $status Moved\r\nLocation: $location\r\n\r\n")
      .getBytes("US-ASCII")

  private def indexOfDoubleCrlf(b: Array[Byte]): Int = {
    var i = 0
    while (i + 3 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n' && b(i + 2) == '\r' && b(i + 3) == '\n')
        return i
      i += 1
    }
    -1
  }

  /** [[parseStreamAccounted]] with the damage markers dropped — the
    * convenience surface for clean archives and round-trip tests.
    * Production readers ([[GraftWarc.read]]) use the accounted variant so
    * damage is countable.
    */
  def parseStream(raw: java.io.InputStream): Iterator[Rec] =
    parseStreamAccounted(raw).collect { case Right(r) => r }

  /** Stream-parse concatenated WARC records. Gzip is sniffed from the
    * magic bytes (concatenated gzip members — the per-record compression
    * WARC files use in the wild — decode transparently through
    * GZIPInputStream). Emits `Right(rec)` per complete record and
    * `Left(Truncated(reason))` per damage event:
    *
    *  - `torn_tail`: EOF before Content-Length payload bytes — last
    *    event, the exactly-once sink upstream re-lands torn files whole;
    *  - `torn_header`: EOF inside a header block — last event;
    *  - `lost_sync`: bytes where a `WARC/` magic was expected — last
    *    event (re-synchronizing on a binary stream would risk emitting
    *    payload bytes as records);
    *  - `bad_length`: missing/malformed/negative Content-Length — last
    *    event (an unknown length cannot be skipped);
    *  - `oversized_record`: Content-Length past [[MaxRecordBytes]]
    *    (WARC allows 64-bit lengths) — record skipped by length,
    *    parsing CONTINUES.
    *
    * The underlying stream is closed when the iterator exhausts (clean
    * EOF or terminal damage), releasing the gzip Inflater's native
    * buffer; callers that may abandon the iterator early should also
    * close `raw` themselves (the Spark reader registers a task-completion
    * listener).
    */
  def parseStreamAccounted(raw: java.io.InputStream,
      maxRecordBytes: Long = MaxRecordBytes): Iterator[Either[Truncated, Rec]] = {
    val pb = new java.io.PushbackInputStream(
      new java.io.BufferedInputStream(raw, 1 << 16), 2)
    val b0 = pb.read(); val b1 = pb.read()
    if (b1 >= 0) pb.unread(b1)
    if (b0 >= 0) pb.unread(b0)
    val in: java.io.InputStream =
      if (graft.functions.Bytes.isGzip(Array(b0.toByte, b1.toByte)))
        new java.io.BufferedInputStream(
          new java.util.zip.GZIPInputStream(pb, 1 << 16), 1 << 16)
      else pb

    // byte-wise line reader: BufferedReader would over-read past the
    // header block into the binary payload. Bytes accumulate raw and
    // decode as UTF-8 (WARC/1.0 headers are UTF-8; notably
    // WARC-Target-URI — a per-char toChar decode would mangle multi-byte
    // sequences into mojibake, ADVICE r10).
    def readLine(): String = {
      val bos = new java.io.ByteArrayOutputStream(64)
      var c = in.read()
      if (c < 0) return null
      while (c >= 0 && c != '\n') { bos.write(c); c = in.read() }
      val b = bos.toByteArray
      val n = if (b.nonEmpty && b(b.length - 1) == '\r') b.length - 1 else b.length
      new String(b, 0, n, java.nio.charset.StandardCharsets.UTF_8)
    }

    def readFully(n: Int): Array[Byte] = {
      val buf = new Array[Byte](n)
      var off = 0
      while (off < n) {
        val k = in.read(buf, off, n - off)
        if (k < 0) return null // torn tail
        off += k
      }
      buf
    }

    /** Skip exactly `n` bytes; false on EOF first. */
    def skipFully(n: Long): Boolean = {
      var left = n
      while (left > 0) {
        val k = in.skip(left)
        if (k > 0) left -= k
        else if (in.read() >= 0) left -= 1 // skip() can return 0 mid-stream
        else return false
      }
      true
    }

    new Iterator[Either[Truncated, Rec]] {
      private var finished = false
      private var nextEv: Either[Truncated, Rec] = advance()

      private def closeQuietly(): Unit =
        // close the WRAPPER chain, not raw: for a gzip'd archive `in`
        // is the GZIPInputStream whose close() releases the Inflater's
        // native buffer and cascades to raw — closing raw alone leaves
        // the native zlib buffer to the GC (r11 review)
        try in.close() catch { case _: java.io.IOException => () }

      private def end(reason: String): Either[Truncated, Rec] = {
        finished = true
        closeQuietly()
        if (reason == null) null else Left(Truncated(reason))
      }

      @annotation.tailrec
      private def advance(): Either[Truncated, Rec] = {
        if (finished) return null
        var line = readLine()
        while (line != null && line.isEmpty) line = readLine()
        if (line == null) return end(null) // clean EOF at a record boundary
        if (!line.startsWith("WARC/")) return end("lost_sync")
        val headers = scala.collection.mutable.Map.empty[String, String]
        var h = readLine()
        while (h != null && h.nonEmpty) {
          val i = h.indexOf(':')
          if (i > 0)
            headers(h.substring(0, i).trim.toLowerCase) = h.substring(i + 1).trim
          h = readLine()
        }
        if (h == null) return end("torn_header")
        // WARC allows 64-bit lengths: parse as Long (ADVICE r10 — a toInt
        // overflow silently ended the stream here)
        val len = headers.get("content-length").flatMap(s =>
          try Some(s.toLong) catch { case _: NumberFormatException => None })
        len match {
          case None => end("bad_length")
          case Some(n) if n < 0L => end("bad_length")
          case Some(n) if n > maxRecordBytes =>
            if (skipFully(n)) Left(Truncated("oversized_record")) // continue
            else end("torn_tail")
          case Some(n) =>
            val payload = readFully(n.toInt)
            if (payload == null) end("torn_tail")
            else headers.get("warc-type") match {
              case Some(t) => Right(Rec(t,
                headers.getOrElse("warc-record-id", ""),
                headers.getOrElse("warc-target-uri", ""),
                headers.getOrElse("warc-date", "1970-01-01T00:00:00Z"),
                payload))
              case None => advance() // typeless record: skip, stay in sync
            }
        }
      }

      def hasNext: Boolean = nextEv != null
      def next(): Either[Truncated, Rec] = {
        val r = nextEv; nextEv = advance(); r
      }
    }
  }
}
