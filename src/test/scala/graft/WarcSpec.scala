package graft

import graft.sources.{GraftWarc, WarcCodec}

class WarcSpec extends SparkSpec {

  private def rec(id: Long, warcType: String = "response",
      payload: Array[Byte] = null): Array[Byte] =
    WarcCodec.buildRecord(warcType, s"<urn:t:$id>",
      s"http://x.example/doc/$id", "2024-01-01T00:00:00Z",
      if (payload != null) payload
      else WarcCodec.httpResponse(s"body $id".getBytes("UTF-8")))

  private def parse(bytes: Array[Byte]) =
    WarcCodec.parseStream(new java.io.ByteArrayInputStream(bytes)).toList

  test("WARC build/parse round trip preserves every field") {
    val bytes = rec(1) ++ rec(2, "metadata", "k: v\r\n".getBytes) ++ rec(3)
    val rs = parse(bytes)
    assert(rs.map(_.warcType) == List("response", "metadata", "response"))
    assert(rs.map(_.targetUri) == List(1, 2, 3).map(i => s"http://x.example/doc/$i"))
    assert(rs.map(_.recordId) == List("<urn:t:1>", "<urn:t:2>", "<urn:t:3>"))
    val http = WarcCodec.parseHttp(rs.head.payload)
    assert(http.exists(_._1 == 200))
    assert(new String(http.get._2, "UTF-8") == "body 1")
  }

  test("concatenated-member gzip decodes transparently (the in-the-wild layout)") {
    val bos = new java.io.ByteArrayOutputStream()
    Seq(rec(1), rec(2)).foreach { b =>
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(b); g.finish()
    }
    val rs = parse(bos.toByteArray)
    assert(rs.map(_.targetUri) ==
      List("http://x.example/doc/1", "http://x.example/doc/2"))
  }

  test("a torn tail record yields only the complete records before it") {
    val whole = rec(1)
    val torn = rec(2).dropRight(20) // EOF mid-payload
    val rs = parse(whole ++ torn)
    assert(rs.map(_.targetUri) == List("http://x.example/doc/1"))
  }

  test("garbage HTTP payload surfaces as None, never as corpus text") {
    assert(WarcCodec.parseHttp("BROKEN\r\n\r\nnot http".getBytes).isEmpty)
    assert(WarcCodec.parseHttp("HTTP/1.1 OK\r\n\r\nno status int".getBytes).isEmpty)
    assert(WarcCodec.parseHttp("HTTP/1.1 404 Not Found\r\nX: y\r\n\r\nbody".getBytes)
      .map { case (s, b) => (s, new String(b)) }.contains((404, "body")))
    assert(WarcCodec.parseHttp("no terminator at all".getBytes).isEmpty)
  }

  test("a typeless record is skipped without losing stream sync") {
    // hand-build a record missing WARC-Type: parser must skip its payload
    // by Content-Length and continue cleanly into the next record
    val payload = "xx".getBytes
    val headerless = ("WARC/1.0\r\n" +
      "WARC-Record-ID: <urn:t:9>\r\n" +
      s"Content-Length: ${payload.length}\r\n" +
      "\r\n").getBytes("US-ASCII") ++ payload ++ "\r\n\r\n".getBytes
    val rs = parse(headerless ++ rec(1))
    assert(rs.map(_.targetUri) == List("http://x.example/doc/1"))
  }

  test("accounted parse surfaces torn tails / lost sync / bad lengths as markers") {
    val torn = WarcCodec.parseStreamAccounted(
      new java.io.ByteArrayInputStream(rec(1) ++ rec(2).dropRight(20))).toList
    assert(torn.map(_.fold(_.reason, _.targetUri)) ==
      List("http://x.example/doc/1", "torn_tail"))

    val sync = WarcCodec.parseStreamAccounted(new java.io.ByteArrayInputStream(
      rec(1) ++ "GARBAGE-NOT-A-RECORD\r\n".getBytes ++ rec(2))).toList
    assert(sync.map(_.fold(_.reason, _.targetUri)) ==
      List("http://x.example/doc/1", "lost_sync"))

    val badLen = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "Content-Length: not-a-number\r\n\r\n").getBytes("US-ASCII")
    val bl = WarcCodec.parseStreamAccounted(
      new java.io.ByteArrayInputStream(rec(1) ++ badLen)).toList
    assert(bl.map(_.fold(_.reason, _.targetUri)) ==
      List("http://x.example/doc/1", "bad_length"))
  }

  test("64-bit Content-Length past the buffer bound skips by length and continues") {
    // WARC allows 64-bit lengths; a record past maxRecordBytes must be
    // SKIPPED with an oversized_record marker, not end the stream (the
    // pre-r11 toInt parse silently dropped every remaining record)
    val big = WarcCodec.buildRecord("resource", "<urn:t:big>",
      "http://x.example/big", "2024-01-01T00:00:00Z", new Array[Byte](64))
    val rs = WarcCodec.parseStreamAccounted(
      new java.io.ByteArrayInputStream(big ++ rec(1)),
      maxRecordBytes = 60L).toList // rec(1) payload = 51 B, big = 64 B
    assert(rs.map(_.fold(_.reason, _.targetUri)) ==
      List("oversized_record", "http://x.example/doc/1"))
  }

  test("UTF-8 header values (non-ASCII target URI) round-trip unmangled") {
    val uri = "http://例え.example/ścieżka/δοκιμή"
    val b = WarcCodec.buildRecord("response", "<urn:t:u>", uri,
      "2024-01-01T00:00:00Z", WarcCodec.httpResponse("x".getBytes("UTF-8")))
    val rs = parse(b)
    assert(rs.map(_.targetUri) == List(uri))
  }

  test("GraftWarc.read emits countable truncation marker rows for damaged archives") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("warc_trunc").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.warc"),
      rec(1) ++ rec(2).dropRight(20))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/b.warc"), rec(3))
    val out = GraftWarc.read(spark, s"$dir/*.warc").cache()
    assert(GraftWarc.records(out).count() == 2)
    val t = GraftWarc.truncations(out)
      .select("file", "record_id").collect().toSeq
    assert(t.size == 1 && t.head.getString(0).endsWith("a.warc") &&
      t.head.getString(1) == "torn_tail",
      s"damage must be countable data, got $t")
    out.unpersist()
  }

  test("mislabeled charset yields NULL text + undecodable, never mojibake") {
    import graft.sources.WarcTranscode
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // bytes are ISO-8859-1 "café" (0xE9) but the header CLAIMS utf-8:
    // 0xE9 is not a valid UTF-8 sequence, so the strict decode must fail —
    // a lenient decode would inject U+FFFD (exactly what q99 then flags)
    val mislabeled = "café".getBytes("ISO-8859-1")
    val ok = "café".getBytes("UTF-8")
    val df = Seq(
      (1L, "text/plain; charset=utf-8", mislabeled),
      (2L, "text/plain; charset=iso-8859-1", mislabeled),
      (3L, "text/plain; charset=\"UTF-8\"", ok), // quoted + upper label
      (4L, "text/plain", ok), // absent charset → UTF-8 default
      (5L, "text/plain; charset=x-nope", ok)
    ).toDF("id", "ctype", "body")
    val cs = WarcTranscode.charsetOf(col("ctype"))
    val out = df.select(col("id"),
        WarcTranscode.utf8Text(col("body"), cs).as("t"),
        WarcTranscode.failReason(col("body"), cs).as("r"))
      .orderBy("id").as[(Long, String, String)].collect().toSeq
    assert(out == Seq(
      (1L, null, "undecodable"),
      (2L, "café", null),
      (3L, "café", null),
      (4L, "café", null),
      (5L, null, "unsupported_charset")), s"got $out")
  }

  test("GraftWarc.read surfaces the Content-Type header for transcoding") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("warc_ct").toString
    val body = WarcCodec.httpResponse("x".getBytes("UTF-8"),
      contentType = "text/html; charset=windows-1250")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.warc"),
      WarcCodec.buildRecord("response", "<urn:t:1>", "http://x.example/1",
        "2024-01-01T00:00:00Z", body))
    val ct = GraftWarc.read(spark, s"$dir/a.warc")
      .select("content_type").head().getString(0)
    assert(ct == "text/html; charset=windows-1250")
  }

  test("HTTP header lookup: case-insensitive name, trimmed value, header block only") {
    def header(payload: String, name: String) =
      WarcCodec.httpHeader(payload.getBytes("ISO-8859-1"), name)
    val redirect = "HTTP/1.1 301 Moved\r\ncontent-TYPE:  text/html; charset=utf-8 \t\r\n" +
      "LOCATION:\thttp://x.example/next\r\n\r\nLocation: http://body.example/\r\n"
    assert(header(redirect, "Content-Type") == Some("text/html; charset=utf-8"))
    assert(header(redirect, "location") == Some("http://x.example/next"))
    // a Location line in the body is not a header
    assert(header("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n" +
      "Location: http://body.example/\r\n", "Location").isEmpty)
    // a field name that only starts with the wanted one does not match
    assert(header("HTTP/1.1 200 OK\r\nContent-Type-Options: x\r\n\r\n",
      "Content-Type").isEmpty)
    // no header block at all
    assert(header("Location: http://x.example/", "Location").isEmpty)
    assert(header("", "Content-Type").isEmpty)
    assert(WarcCodec.httpHeader(WarcCodec.httpRedirect(302, "http://x.example/r"),
      "Location") == Some("http://x.example/r"))
  }

  test("href/host extraction: absolute https, relative drop, count merge") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val docs = Seq(
      (1L, """x <a href="http://a.example/p">u</a> y <a href="https://a.example/q">v</a>"""),
      (2L, """<a href="/relative/only">w</a>"""),
      (3L, """pre <a href="http://b.example">z</a>""")).toDF("doc_id", "html")
    val out = graft.functions.TextStats.outlinkHosts(docs, "doc_id", "html")
      .orderBy("doc_id", "host").as[(Long, String, Long)].collect().toSeq
    assert(out == Seq((1L, "a.example", 2L), (3L, "b.example", 1L)),
      s"got $out — http+https must merge on host, relative links must drop")
  }

  test("GraftWarc.read parses a multi-file dir with plain and gzip archives") {
    val dir = java.nio.file.Files.createTempDirectory("warc_read").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.warc"),
      rec(1) ++ rec(2))
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(rec(3)); g.finish()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/b.warc.gz"),
      bos.toByteArray)
    val out = GraftWarc.read(spark, s"$dir/*.warc*")
    import org.apache.spark.sql.functions.col
    assert(out.count() == 3)
    assert(out.where(col("http_status") === 200).count() == 3)
    assert(out.select("content_length").where(col("target_uri")
      .endsWith("/doc/1")).head().getLong(0) ==
      WarcCodec.httpResponse("body 1".getBytes).length)
  }

  test("WHATWG sniff: BOMs win, UTF-8 validates, 1252 is the fallback") {
    import graft.sources.WarcTranscode
    def sniff(b: Array[Byte]): (String, String) = {
      val cs = WarcTranscode.sniffCharsetKernel(b)
      val t = WarcTranscode.sniffDecodeKernel(b)
      (if (cs == null) null else cs.toString,
        if (t == null) null else t.toString)
    }
    assert(sniff("plain".getBytes("UTF-8")) == ("utf-8", "plain"))
    assert(sniff("café".getBytes("ISO-8859-1")) ==
      ("windows-1252", "café"))
    // windows-1252's defined non-Latin-1 slot: 0x80 is the euro sign
    assert(sniff(Array(0x80.toByte)) == ("windows-1252", "€"))
    // undefined 1252 slots degrade to C1 controls (total map, q99 counts)
    assert(sniff(Array(0x81.toByte)) == ("windows-1252", ""))
    // UTF-8 BOM: stripped, never in the text
    assert(sniff(Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++
      "x".getBytes("UTF-8")) == ("utf-8-bom", "x"))
    // UTF-16 BOMs: consumed by the decoder
    assert(sniff(Array[Byte](0xFF.toByte, 0xFE.toByte, 'x'.toByte, 0)) ==
      ("utf-16le", "x"))
    assert(sniff(Array[Byte](0xFE.toByte, 0xFF.toByte, 0, 'x'.toByte)) ==
      ("utf-16be", "x"))
    // torn UTF-16 tail: detected but strictly undecodable → null text
    assert(sniff(Array[Byte](0xFF.toByte, 0xFE.toByte, 'x'.toByte)) ==
      ("utf-16le", null))
    // empty body is valid (empty) UTF-8
    assert(sniff(Array.empty[Byte]) == ("utf-8", ""))
    assert(WarcTranscode.sniffCharsetKernel(null) == null)
    assert(WarcTranscode.sniffDecodeKernel(null) == null)
  }
}
