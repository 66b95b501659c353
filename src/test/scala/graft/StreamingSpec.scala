package graft

import graft.etl.{Sessionize, TimeBuckets}
import graft.streaming._
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Structured Streaming twins vs their batch counterparts via MemoryStream —
  * the SURVEY §2.28 gate.
  */
class StreamingSpec extends SparkSpec {

  import spark.implicits._

  private def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")

  test("streaming hourly counts match the batch TimeBuckets result") {
    val events = Seq(
      (ts(10, 0), "click"), (ts(10, 30), "click"), (ts(10, 45), "view"),
      (ts(11, 5), "click"), (ts(12, 1), "view"))
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    mem.addData(events: _*)
    val streamDf = EventAggregates.hourlyByType(
      mem.toDF().toDF("ts", "event_type"), "ts", "event_type")
    val q = streamDf.writeStream.format("memory").queryName("hourly_twin")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("hourly_twin")
      .select("bucket_ts", "event_type", "n")
      .as[(Timestamp, String, Long)].collect().toSet
    val batch = TimeBuckets.hourly(events.toDF("ts", "event_type"), "ts",
      Seq(count(lit(1)).as("n")), extraKeys = Seq("event_type"))
      .select(col("bucket_ts"), col("event_type"), col("n"))
      .as[(Timestamp, String, Long)].collect().toSet
    assert(streamed == batch)
  }

  test("stateful streaming sessionization matches the batch window-function result") {
    val events = Seq(
      SessionEvent(1L, ts(10, 0)), SessionEvent(1L, ts(10, 5)),
      SessionEvent(1L, ts(10, 50)), // gap > 30m → session 2
      SessionEvent(2L, ts(11, 0)))
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[SessionEvent]
    mem.addData(events: _*)
    val out = StatefulSessionize.run(spark, mem.toDS(), gapMs = 1800000L)
    val q = out.writeStream.format("memory").queryName("session_twin")
      .outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("session_twin")
      .groupBy("user_id").agg(max("n_sessions").as("n_sessions"))
      .as[(Long, Long)].collect().toMap
    val batch = Sessionize.userSessionStats(
      events.map(e => (e.user_id, e.ts, e.ts.getTime))
        .toDF("user_id", "ts", "event_id"),
      "user_id", "ts", "event_id", gapMs = 1800000L)
      .select("user_id", "n_sessions").as[(Long, Long)].collect().toMap
    assert(streamed == batch)
  }

  test("finalizing sessionization emits closed sessions and evicts state at the watermark") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[SessionEvent]
    val src = mem.toDS().withWatermark("ts", "0 seconds")
    val out = StatefulSessionize.runFinalizing(spark, src, gapMs = 1800000L)
    val q = out.writeStream.format("memory").queryName("final_sessions")
      .outputMode("append").start()
    try {
      mem.addData(SessionEvent(1L, ts(10, 0)), SessionEvent(1L, ts(10, 10)))
      q.processAllAvailable()
      // watermark is still at 10:10 — session open, nothing emitted
      assert(spark.table("final_sessions").count() == 0)
      // an event far in the future pushes the watermark past the gap
      mem.addData(SessionEvent(2L, ts(14, 0)))
      q.processAllAvailable()
      mem.addData(SessionEvent(2L, ts(15, 0)))
      q.processAllAvailable()
      val fin = spark.table("final_sessions")
        .as[FinalSession].collect().filter(_.user_id == 1L)
      assert(fin.length == 1)
      assert(fin.head.n_events == 2L)
      assert(fin.head.start_ms == ts(10, 0).getTime)
      assert(fin.head.end_ms == ts(10, 10).getTime)
    } finally q.stop()
  }

  test("stream-static enrichment joins each micro-batch against the broadcast dim") {
    import org.apache.spark.sql.functions.col
    implicit val sql = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("uid", "tier")
    val mem = MemoryStream[(Long, String)]
    val out = StreamEnrich.withDim(mem.toDF().toDF("user_id", "action"),
      dim, col("user_id") === col("uid"))
    val q = out.writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try {
      mem.addData((1L, "click"), (3L, "view"))
      q.processAllAvailable()
      val rows = spark.table("enriched").select("user_id", "tier")
        .as[(Long, Option[String])].collect().toMap
      assert(rows(1L).contains("gold"))
      assert(rows(3L).isEmpty, "unmatched events must flow with null dim")
    } finally q.stop()
  }

  test("stream-stream interval join matches within the bound and not outside") {
    implicit val sql = spark.sqlContext
    val clicks = MemoryStream[(java.sql.Timestamp, Long)]
    val views = MemoryStream[(java.sql.Timestamp, Long)]
    val out = StreamJoin.withinInterval(
      clicks.toDF().toDF("click_ts", "user_id"), "click_ts",
      views.toDF().toDF("view_ts", "user_id"), "view_ts",
      "user_id", within = "10 minutes")
    val q = out.writeStream.format("memory").queryName("cv_join")
      .outputMode("append").start()
    try {
      clicks.addData((ts(10, 0), 1L), (ts(10, 0), 2L))
      views.addData((ts(10, 5), 1L), (ts(10, 30), 2L), (ts(10, 5), 9L))
      q.processAllAvailable()
      val joined = spark.table("cv_join").select("user_id")
        .as[Long].collect().toSeq
      assert(joined == Seq(1L),
        s"expected only user 1 within the 10-minute bound, got $joined")
    } finally q.stop()
  }

  test("foreachBatch month-upsert lands micro-batches in the warehouse layout") {
    implicit val sql = spark.sqlContext
    val path = java.nio.file.Files.createTempDirectory("stream_sink").toString + "/t"
    val mem = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val q = StreamSink.monthlyUpsert(
      mem.toDF().toDF("ts", "id", "ck"), "ts", "ck", path)
      .outputMode("append").start()
    def t(month: Int) = java.sql.Timestamp.valueOf(f"2024-$month%02d-05 10:00:00")
    try {
      // month-granular batches (the documented contract for upsert replay)
      mem.addData((t(1), 1L, 1L), (t(1), 2L, 2L))
      q.processAllAvailable()
      assert(spark.read.parquet(path).count() == 2)
      mem.addData((t(2), 3L, 3L))
      q.processAllAvailable()
      assert(spark.read.parquet(path).count() == 3)
      // a replayed identical batch rewrites its month instead of duplicating
      mem.addData((t(2), 3L, 3L))
      q.processAllAvailable()
      val back = spark.read.parquet(path)
      assert(back.count() == 3, "replay must not duplicate")
      assert(back.select("p_month").distinct().as[String].collect().sorted.toSeq ==
        Seq("2024-01", "2024-02"))
    } finally q.stop()
  }

  test("a FAILED micro-batch replay heals a torn month partition (idempotent epoch replay)") {
    // the one streaming failure mode the suite never exercised (VERDICT
    // r7 task 8): a foreachBatch attempt that wrote PART of its month and
    // died before the checkpoint committed. On restart the engine replays
    // the same epoch with the same rows; dynamic partition overwrite must
    // REPLACE the torn partition — remnant rows gone, no duplicates —
    // which is exactly what makes monthlyUpsert exactly-once over an
    // at-least-once trigger.
    implicit val sql = spark.sqlContext
    val path = java.nio.file.Files.createTempDirectory("stream_sink_replay").toString + "/t"
    def t3 = java.sql.Timestamp.valueOf("2024-03-05 10:00:00")
    // failed first attempt: same sink function the stream's foreachBatch
    // runs, but with only a partial slice of the batch landed
    graft.etl.PartitionedSink.upsertMonths(
      Seq((t3, 10L, 1L)).toDF("ts", "id", "ck"), "ts", "ck", path)
    assert(spark.read.parquet(path).count() == 1, "torn partial write landed")
    // restart: the engine re-delivers the WHOLE batch under the same epoch
    val mem = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val q = StreamSink.monthlyUpsert(
      mem.toDF().toDF("ts", "id", "ck"), "ts", "ck", path)
      .outputMode("append").start()
    try {
      mem.addData((t3, 10L, 1L), (t3, 11L, 2L), (t3, 12L, 3L))
      q.processAllAvailable()
      val back = spark.read.parquet(path)
      assert(back.count() == 3, "replay must overwrite the torn month, not append to it")
      assert(back.select("id").as[Long].collect().sorted.toSeq == Seq(10L, 11L, 12L))
    } finally q.stop()
  }

  test("streaming CDC latest-wins state matches batch CdcMerge after out-of-order replay") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[CdcEvent]
    val out = StreamCdc.run(spark, mem.toDS())
    val q = out.writeStream.format("memory").queryName("cdc_stream")
      .outputMode("update").start()
    try {
      // trigger 1: inserts and an update arriving BEFORE its insert
      mem.addData(CdcEvent(1L, 2L, "U", "a2"), CdcEvent(2L, 1L, "I", "b"))
      q.processAllAvailable()
      // trigger 2: the late lower-seq insert (must NOT beat seq 2), a
      // delete, and a fresh key
      mem.addData(CdcEvent(1L, 1L, "I", "a1"), CdcEvent(2L, 2L, "D", null),
        CdcEvent(3L, 1L, "I", "c"))
      q.processAllAvailable()
      // trigger 3: a late update under the tombstone's seq must stay dead
      mem.addData(CdcEvent(2L, 1L, "U", "zombie"))
      q.processAllAvailable()
      // memory sink keeps every update; the LAST row per key is current —
      // recover it by replay order via a monotonically increasing column
      val latest = spark.table("cdc_stream")
        .withColumn("_ord", monotonically_increasing_id())
        .groupBy("k").agg(max_by(struct(col("op"), col("v")), col("_ord")).as("w"))
        .select(col("k"), col("w.op").as("op"), col("w.v").as("v"))
        .where(col("op") =!= "D")
        .as[(Long, String, String)].collect().map(r => r._1 -> r._3).toMap
      val batch = graft.etl.CdcMerge(
        Seq.empty[(Long, String)].toDF("k", "v"),
        Seq((1L, 2L, "U", "a2"), (2L, 1L, "I", "b"), (1L, 1L, "I", "a1"),
          (2L, 2L, "D", null), (3L, 1L, "I", "c"), (2L, 1L, "U", "zombie"))
          .toDF("k", "seq", "op", "v"),
        "k", "seq", "op", Seq("v"))
        .as[(Long, String)].collect().toMap
      assert(latest == batch)
      assert(latest == Map(1L -> "a2", 3L -> "c"))
    } finally q.stop()
  }

  test("streaming dedup drops duplicate keys within the watermark horizon") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, String)]
    val df = mem.toDF().toDF("ts", "event_id", "payload")
    val out = StreamDedup.dropDuplicates(df, "ts", Seq("event_id"))
    val q = out.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      mem.addData((ts(10, 0), 1L, "a"), (ts(10, 1), 1L, "a-dup"),
        (ts(10, 2), 2L, "b"))
      q.processAllAvailable()
      mem.addData((ts(10, 3), 2L, "b-dup"), (ts(10, 4), 3L, "c"))
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").select("event_id")
        .as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L), "duplicates crossed the stream")
    } finally q.stop()
  }

  test("streaming windowed validation matches the batch Validator per window") {
    import graft.validation._
    val events = Seq(
      (ts(10, 0), "click", 5L), (ts(10, 30), "bogus", 50L),
      (ts(11, 5), "view", 7L), (ts(11, 10), "click", 500L),
      (ts(11, 40), "view", -3L))
    val exps: Seq[Expectation] = Seq(
      InSet("type_in_set", col("event_type"), Seq("click", "view"), 50),
      Between("value_range", col("value"), 0L, 100L, 100),
      NotNull("type_not_null", col("event_type")))
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Long)]
    mem.addData(events: _*)
    val out = StreamValidator.windowed(
      mem.toDF().toDF("ts", "event_type", "value"),
      "ts", "1 hour", "10 minutes", exps)
    val q = out.writeStream.format("memory").queryName("valid_stream")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("valid_stream")
      .as[(java.sql.Timestamp, String, Long, Long, Int, Boolean)]
      .collect().toSet
    val static = events.toDF("ts", "event_type", "value")
    val batch = Seq(10, 11).flatMap { h =>
      Validator.validate(
        static.where(hour(col("ts")) === h), exps)
        .as[(String, Long, Long, Int, Boolean)].collect()
        .map { case (e, nr, np, mp, s) =>
          (ts(h, 0), e, nr, np, mp, s)
        }
    }.toSet
    assert(streamed == batch)
    // the mostly thresholds behave: hour 10 type_in_set passes at 50%,
    // hour 11 value_range fails (500 and -3 out of range)
    val byKey = streamed.map(r => (r._1.toString, r._2) -> r._6).toMap
    assert(byKey((ts(10, 0).toString, "type_in_set")))
    assert(!byKey((ts(11, 0).toString, "value_range")))
  }

  test("streaming validation rejects aggregate (Unique) expectations loudly") {
    import graft.validation._
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val ex = intercept[IllegalArgumentException] {
      StreamValidator.windowed(mem.toDF().toDF("ts", "v"), "ts", "1 hour",
        "10 minutes", Seq(Unique("u", col("v"))))
    }
    assert(ex.getMessage.contains("row-predicate"))
  }

  test("streaming web ingest: transcode + extract + gate + canonical dedup") {
    implicit val sql = spark.sqlContext
    // (ts, url, content_type, body): one clean labeled Latin-1 capture,
    // a charset-less html capture (WHATWG-sniffed), a canonical-duplicate
    // refetch (other spelling, later batch), a mojibake-dirty capture,
    // a relative URL, and UNLABELED captures which drop like the batch
    // router drops them (ADVICE r12 — no html-extraction of unknowns)
    val mem = MemoryStream[(Timestamp, String, String, Array[Byte])]
    val out = WebIngestStream.cleanCaptures(
      mem.toDF().toDF("ts", "url", "content_type", "body"))
    val q = out.writeStream.format("memory").queryName("web_stream")
      .outputMode("append").start()
    def html(s: String) = s"<html><body><p>$s</p></body></html>"
    try {
      mem.addData(
        (ts(10, 0), "http://a.example/x", "text/html; charset=iso-8859-1",
          html("café one").getBytes("ISO-8859-1")),
        (ts(10, 1), "http://b.example/y", "text/html",
          html("two café").getBytes("ISO-8859-1")), // no charset → sniffed 1252
        (ts(10, 2), "http://c.example/z", "text/html; charset=utf-8",
          html("bad Ã© mojibake").getBytes("UTF-8")), // gated out
        (ts(10, 3), "/relative/only", "text/html; charset=utf-8",
          html("rel").getBytes("UTF-8")))
      q.processAllAvailable()
      mem.addData( // refetch of a.example/x under another spelling
        (ts(10, 4), "HTTP://A.EXAMPLE:80/p/../x", "text/html; charset=utf-8",
          html("café refetch").getBytes("UTF-8")),
        // an UNLABELED capture drops at the route, html or not — the
        // batch router's skip posture, kept symmetric in the stream
        (ts(10, 5), "http://d.example/w", null, html("four").getBytes("UTF-8")),
        (ts(10, 6), "http://d2.example/p", null,
          "unlabeled plain <notatag> text".getBytes("UTF-8")),
        // typed non-text payloads route OUT (q111's dispatch in the
        // stream): never mangled through the HTML scanner
        (ts(10, 7), "http://e.example/img", "image/png",
          Array[Byte](0x50, 0x4e, 0x47, 1, 2, 3)),
        // an out-of-subset PDF (no text objects) extracts to NULL and
        // drops at the same gate the batch funnel uses...
        (ts(10, 8), "http://f.example/doc", "application/pdf",
          "%PDF-1.4 not prose".getBytes("US-ASCII")),
        // ...while an in-subset PDF yields its extracted text (q123
        // symmetry: the stream runs the same bounded-subset extractor
        // over the RAW bytes, never the transcoder)
        (ts(10, 10), "http://h.example/doc2", "application/pdf",
          graft.sources.PdfText.fixture(1L,
            org.apache.spark.unsafe.types.UTF8String
              .fromString("pdf prose survives"))),
        // a robots-meta noindex page drops exactly like the batch
        // funnel drops it (q125 parity in the stream)
        (ts(10, 11), "http://i.example/optout", "text/html; charset=utf-8",
          ("<html><head><meta name=\"robots\" content=\"noindex\">" +
            "</head><body><p>opted out</p></body></html>")
            .getBytes("UTF-8")),
        // a text/plain capture passes through WITHOUT HTML extraction
        (ts(10, 9), "http://g.example/t", "text/plain; charset=utf-8",
          "plain <notatag> text".getBytes("UTF-8")),
        // a feed capture is DISCOVERY data, not corpus prose: it routes
        // out of the text chain exactly like the batch funnel (q111's
        // feed class) and never reaches the HTML scanner
        (ts(10, 12), "http://j.example/feed", "application/rss+xml",
          ("<?xml version=\"1.0\"?><rss><channel><item><title>t" +
            "</title></item></channel></rss>").getBytes("UTF-8")))
      q.processAllAvailable()
      val got = spark.table("web_stream")
        .select("url_canon", "page_text")
        .as[(String, String)].collect().toMap
      assert(got.keySet == Set("http://a.example/x", "http://b.example/y",
        "http://g.example/t", "http://h.example/doc2"),
        s"wrong survivor set: ${got.keySet}")
      assert(got("http://a.example/x") == "café one", "first fetch must win")
      assert(got("http://b.example/y") == "two café", "1252 sniff failed")
      assert(got("http://g.example/t") == "plain <notatag> text",
        "text/plain must pass through without HTML extraction")
      assert(got("http://h.example/doc2") == "Doc 1 flate\npdf prose survives",
        "pdf route must extract via PdfText, matching the batch funnel")
    } finally q.stop()
  }

  test("streaming quality gates match the batch batteries on the same slice") {
    import graft.functions.{C4Filters, GopherRules, UrlFilter, UrlNorm}
    implicit val sql = spark.sqlContext
    // one line that satisfies every Gopher bound when repeated (length,
    // stop words, alpha ratio) AND is a C4 keepable sentence line
    val line = "the be to of and that have with all good things " +
      "come to pages that keep their prose plain and honest here."
    val good = Seq.fill(3)(line).mkString("\n")          // 3 sentences
    val gopherFail = "short text."                       // < 50 words
    val c4Fail = (line.replace(".", "") + " ") * 3       // no sentence ends
    val slice = Seq(
      ("http://ok.example/a", good),        // survives
      ("http://ok.example/b", gopherFail),  // Gopher word count
      ("http://ok.example/c", c4Fail),      // C4 sentence gate
      ("http://sub.bad.example/d", good),   // subdomain of banned host
      ("http://notbad.example/e", good))    // sibling: no label boundary
    val dim = Seq("bad.example").toDF("host")

    // batch verdicts over the same slice, same expression trees
    val batchKept = UrlFilter.annotate(
      slice.toDF("url", "text")
        .where(GopherRules.pass(col("text")) && C4Filters.keep(col("text")))
        .withColumn("url_canon", UrlNorm.canonicalize(col("url"))),
      "url_canon", dim).where(col("url_ok"))
      .select("url_canon").as[String].collect().toSet

    val mem = MemoryStream[(Timestamp, String, String, Array[Byte])]
    val out = WebIngestStream.cleanCaptures(
      mem.toDF().toDF("ts", "url", "content_type", "body"),
      qualityGates = true, urlBlockDim = Some(dim))
    val q = out.writeStream.format("memory").queryName("quality_stream")
      .outputMode("append").start()
    try {
      mem.addData(slice.zipWithIndex.map { case ((u, t), i) =>
        (ts(10, i), u, "text/plain; charset=utf-8", t.getBytes("UTF-8"))
      }: _*)
      q.processAllAvailable()
      val streamed = spark.table("quality_stream")
        .select("url_canon").as[String].collect().toSet
      assert(streamed == batchKept, s"stream $streamed vs batch $batchKept")
      assert(streamed == Set("http://ok.example/a", "http://notbad.example/e"),
        s"wrong survivor set: $streamed")
    } finally q.stop()
  }

  test("streaming dedup probe matches the batch persisted-index verdicts") {
    import graft.dedup.MinHashDedup
    import graft.streaming.StreamDedupProbe
    implicit val sql = spark.sqlContext
    // index = the even half of a 32-doc corpus; the stream delivers the
    // odd half across TWO micro-batches
    val docs = (0L until 32L).map(i =>
      (i, s"shared variant ${(i / 2) % 4} sentence alpha beta gamma " +
        s"delta epsilon zeta eta theta tail $i"))
    val corpus = docs.toDF("doc_id", "text")
    MinHashDedup.writeIndex(
      MinHashDedup.signatures(corpus.where(col("doc_id") % 2 === 0),
        "doc_id", "text", 3, 128, 16), "graft_stream_probe_idx", 8)
    val base = java.nio.file.Files
      .createTempDirectory("stream_probe").toString
    val mem = MemoryStream[(Long, String)]
    val q = StreamDedupProbe.start(mem.toDF().toDF("doc_id", "text"),
      "graft_stream_probe_idx", "doc_id", "text",
      s"$base/out", s"$base/ckpt", minJaccardPct = 5)
    try {
      val odd = docs.filter(_._1 % 2 == 1)
      mem.addData(odd.take(8): _*)
      q.processAllAvailable()
      mem.addData(odd.drop(8): _*)
      q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          r.getBoolean(3))).toSet
      val streamed = rows(spark.read.parquet(s"$base/out"))
      val batch = rows(StreamDedupProbe.probeBatch("graft_stream_probe_idx",
        corpus.where(col("doc_id") % 2 === 1), "doc_id", "text",
        minJaccardPct = 5))
      assert(streamed == batch,
        s"stream verdicts must equal the one-shot batch probe:\n" +
          s"stream $streamed\nbatch  $batch")
      assert(streamed.exists(!_._4), "shared-variant docs must match")
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS graft_stream_probe_idx_buckets")
      spark.sql("DROP TABLE IF EXISTS graft_stream_probe_idx_sigs")
    }
  }

  test("streaming absorb closes the loop: novelties join the index, replay-safe") {
    import graft.dedup.MinHashDedup
    import graft.streaming.StreamDedupProbe
    implicit val sql = spark.sqlContext
    val base = "graft_stream_absorb_idx"
    // families carry DISJOINT vocabularies, so cross-family Jaccard is
    // ~0 and within-family ~70% — verdicts separate cleanly at 50.
    // index = families 0..3 (ids 0..7); batch 1 introduces NOVEL
    // families 100/101; batch 2 delivers their near-dups (102, 112) —
    // matchable ONLY via the absorb
    def doc(i: Long, fam: Long) =
      (i, (0 until 12).map(k => s"w${fam}x$k").mkString(" ") +
        s" tail${i % 2}")
    val corpus = (0L until 8L).map(i => doc(i, (i / 2) % 4))
    MinHashDedup.writeIndex(
      MinHashDedup.signatures(corpus.toDF("doc_id", "text"),
        "doc_id", "text", 3, 128, 16), base, 8)
    val dir = java.nio.file.Files
      .createTempDirectory("stream_absorb").toString
    val mem = MemoryStream[(Long, String)]
    val q = StreamDedupProbe.startWithAbsorb(
      mem.toDF().toDF("doc_id", "text"), base, "doc_id", "text",
      s"$dir/out", s"$dir/ckpt", minJaccardPct = 50, numBuckets = 8)
    try {
      mem.addData(doc(100L, 100), doc(110L, 101))
      q.processAllAvailable()
      mem.addData(doc(102L, 100), doc(112L, 101), doc(120L, 102))
      q.processAllAvailable()
      val verdicts = spark.read.parquet(s"$dir/out").collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
      assert(verdicts(100L) == -1L && verdicts(110L) == -1L,
        s"batch-1 novelties must verdict novel: $verdicts")
      assert(verdicts(102L) == 100L,
        s"batch-2 near-dup must match the ABSORBED batch-1 doc: $verdicts")
      assert(verdicts(112L) == 110L, s"got $verdicts")
      assert(verdicts(120L) == -1L, "a fresh variant stays novel")
      // the physical index is now corpus + the absorbed NOVELTIES only
      // (102/112 matched, so they never absorb — the gate keeps one
      // representative per near-dup family)
      val ids = spark.table(s"${base}_sigs").select("id")
        .collect().map(_.getLong(0)).toSet
      assert(ids == (0L until 8L).toSet ++ Set(100L, 110L, 120L),
        s"index ids after absorb: $ids")
      // ≡ a one-shot rebuild over the same union: probe a fresh doc set
      val probeDocs = Seq(doc(200L, 100), doc(201L, 4)).toDF("doc_id", "text")
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1),
          r.getBoolean(3))).toSet
      val viaAbsorbed = rows(StreamDedupProbe.probeBatch(base, probeDocs,
        "doc_id", "text", minJaccardPct = 50))
      MinHashDedup.writeIndex(
        MinHashDedup.signatures(
          (corpus ++ Seq(doc(100L, 100), doc(110L, 101), doc(120L, 102)))
            .toDF("doc_id", "text"),
          "doc_id", "text", 3, 128, 16), s"${base}_rebuilt", 8)
      assert(viaAbsorbed == rows(StreamDedupProbe.probeBatch(
        s"${base}_rebuilt", probeDocs, "doc_id", "text",
        minJaccardPct = 50)),
        "absorbed index must probe exactly like a one-shot rebuild")
      assert(viaAbsorbed.exists(t => t._1 == 200L && t._2 == 100L),
        "the probe must actually hit an absorbed doc (non-vacuous)")
      // replay safety: re-running batch 1 (whose docs WERE absorbed and
      // now verdict novel again under self-exclusion) must be stopped
      // by the anti-join — nothing re-absorbs
      val nBefore = spark.table(s"${base}_sigs").count()
      val replayed = StreamDedupProbe.probeAndAbsorbBatch(base,
        Seq(doc(100L, 100), doc(110L, 101)).toDF("doc_id", "text"),
        "doc_id", "text", minJaccardPct = 50, numBuckets = 8).collect()
      assert(replayed.length == 2)
      assert(spark.table(s"${base}_sigs").count() == nBefore,
        "a replayed batch must not re-absorb its docs")
      // ADVICE r15: an INTRA-BATCH near-dup group must replay to its
      // first-run verdicts — the batch-id anti-join keeps a replayed
      // doc from matching the batch-mate absorbed on the first run
      def run(df: org.apache.spark.sql.DataFrame) =
        StreamDedupProbe.probeAndAbsorbBatch(base, df, "doc_id", "text",
          minJaccardPct = 50, numBuckets = 8)
          .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
      val groupBatch = Seq(doc(300L, 300), doc(301L, 300))
        .toDF("doc_id", "text")
      val first = run(groupBatch)
      assert(first == Map(300L -> true, 301L -> true),
        s"intra-batch pairs are not the gate's job — both novel: $first")
      assert(run(groupBatch) == first,
        "a replayed intra-batch near-dup group must reproduce its " +
          "first-run verdicts, not report one doc as the other's dup")
      assert(spark.table(s"${base}_sigs").count() == nBefore + 2,
        "the group absorbed once, the replay absorbed nothing")
    } finally {
      q.stop()
      for (t <- Seq(s"${base}_buckets", s"${base}_sigs",
        s"${base}_rebuilt_buckets", s"${base}_rebuilt_sigs"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("streaming dedup gates keep no frame stored per micro-batch") {
    import graft.dedup.MinHashDedup
    import graft.streaming.StreamDedupProbe
    implicit val sql = spark.sqlContext
    val sc = spark.sparkContext
    def doc(i: Long) =
      (i, (0 until 12).map(k => s"s${i % 3}x$k").mkString(" ") + s" t$i")
    val bases = Seq("graft_stream_leak_probe", "graft_stream_leak_absorb")
    bases.foreach(b => MinHashDedup.writeIndex(MinHashDedup.signatures(
      (0L until 4L).map(doc).toDF("doc_id", "text"), "doc_id", "text",
      3, 128, 16), b, 8))
    val dir = java.nio.file.Files.createTempDirectory("stream_leak").toString
    val probeIn = MemoryStream[(Long, String)]
    val absorbIn = MemoryStream[(Long, String)]
    val queries = Seq(
      (probeIn, StreamDedupProbe.start(probeIn.toDF().toDF("doc_id", "text"),
        bases(0), "doc_id", "text", s"$dir/p_out", s"$dir/p_ckpt")),
      (absorbIn, StreamDedupProbe.startWithAbsorb(
        absorbIn.toDF().toDF("doc_id", "text"), bases(1), "doc_id", "text",
        s"$dir/a_out", s"$dir/a_ckpt", numBuckets = 8)))
    try {
      val before = sc.getPersistentRDDs.keySet.toSet
      // stored RDDs added after each round of one micro-batch per gate
      val added = (1 to 4).map { b =>
        queries.foreach { case (in, q) =>
          in.addData(doc(100L + 2 * b), doc(101L + 2 * b))
          q.processAllAvailable()
        }
        (sc.getPersistentRDDs.keySet.toSet -- before).size
      }
      assert(added.forall(_ == added.head),
        s"stored RDDs grow with the batch count: $added")
      assert(spark.read.parquet(s"$dir/a_out").count() == 8L)
    } finally {
      queries.foreach(_._2.stop())
      for (b <- bases; t <- Seq(s"${b}_buckets", s"${b}_sigs"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("gate contract pinned: batch composition decides intra-group verdicts (one batch → both novel; split batches → second dups first)") {
    // VERDICT r16 what's-wrong 4 note 2, closed as a CONTRACT: the gate
    // dedups across batches only (intra-batch pairs are q17's job —
    // Streaming.scala's probeAndAbsorbBatch doc), so the same two
    // near-dup docs verdict (novel, novel) when co-batched and
    // (novel, dup-of-first) when split. Both outcomes are deterministic
    // and replay-stable (the previous test); this pins the documented
    // batch-composition dependence itself.
    import graft.dedup.MinHashDedup
    import graft.streaming.StreamDedupProbe
    def doc(i: Long, fam: Long) =
      (i, (0 until 12).map(k => s"c${fam}v$k").mkString(" ") +
        s" tail${i % 2}")
    def freshIndex(base: String): Unit =
      MinHashDedup.writeIndex(
        MinHashDedup.signatures(Seq(doc(0L, 0), doc(1L, 0))
          .toDF("doc_id", "text"), "doc_id", "text", 3, 128, 16), base, 8)
    def run(base: String, docs: Seq[(Long, String)]) =
      StreamDedupProbe.probeAndAbsorbBatch(base,
        docs.toDF("doc_id", "text"), "doc_id", "text",
        minJaccardPct = 50, numBuckets = 8)
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    val together = "graft_gate_contract_a"
    val split = "graft_gate_contract_b"
    try {
      freshIndex(together)
      val one = run(together, Seq(doc(700L, 7), doc(701L, 7)))
      assert(one == Map(700L -> -1L, 701L -> -1L),
        s"co-batched near-dups are both novel by contract: $one")
      freshIndex(split)
      assert(run(split, Seq(doc(700L, 7))) == Map(700L -> -1L))
      val second = run(split, Seq(doc(701L, 7)))
      assert(second == Map(701L -> 700L),
        s"split across batches, the gate catches the dup: $second")
    } finally
      for (b <- Seq(together, split); t <- Seq(s"${b}_buckets", s"${b}_sigs"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("streaming HLL equals the batch sketch after every trigger (registers merge by MAX)") {
    import graft.streaming.{HllItem, StreamHll}
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[HllItem]
    val q = StreamHll.run(spark, mem.toDS())
      .writeStream.format("memory").queryName("hll_twin")
      .outputMode("update").start()
    def items(g: String, lo: Int, hi: Int) =
      (lo until hi).map(i => HllItem(g,
        graft.functions.Hashing.hash64(
          org.apache.spark.unsafe.types.UTF8String.fromString(s"t$i"), 0L)))
    // three triggers; batch 2 replays half of batch 1 (duplicates must
    // not move the sketch), batch 3 adds a second group
    val batches = Seq(
      items("a", 0, 400),
      items("a", 200, 700),
      items("a", 650, 800) ++ items("b", 0, 30))
    var seen = 0
    var absorbed = Seq.empty[HllItem]
    try {
      for (b <- batches) {
        mem.addData(b: _*)
        q.processAllAvailable()
        absorbed = absorbed ++ b
        val all = spark.table("hll_twin").collect()
        val fresh = all.drop(seen)
          .map(r => (r.getString(0), (r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4)))).toMap
        seen = all.length
        val expect = graft.functions.Hll.sketch(
          absorbed.toDF().select(col("g"), col("h")), Seq("g"), "h")
          .collect()
          .map(r => (r.getAs[String]("g"), (r.getAs[Long]("v_zero"),
            r.getAs[Long]("s_harmonic"), r.getAs[Long]("est_hll"),
            r.getAs[Long]("estimate")))).toMap
        for ((g, got) <- fresh)
          assert(got == expect(g),
            s"group $g after ${absorbed.size} items: stream $got != batch ${expect(g)}")
        assert(fresh.nonEmpty, "every trigger must emit touched groups")
      }
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS hll_twin")
    }
  }
}
