package graft

import graft.dedup._
import graft.functions.{F, TextStats}
import org.apache.spark.sql.functions._

/** Null/edge-input behavior: a corpus with null or empty documents must
  * degrade gracefully (null rows drop out of sketch pipelines via
  * propagateNull → empty explode), never throw.
  */
class RobustnessSpec extends SparkSpec {

  import spark.implicits._

  private def messy = Seq(
    (1L, "a normal document with several tokens"),
    (2L, null.asInstanceOf[String]),
    (3L, ""),
    (4L, "   "),
    (5L, "a normal document with several tokens")
  ).toDF("doc_id", "text")

  test("minhash pipeline survives null/empty/whitespace docs") {
    val pairs = MinHashDedup.candidatePairs(messy, "doc_id", "text",
      shingleK = 2, numPerms = 64, bands = 16, minJaccardPct = 50)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 5L)), "the real dup pair must still surface")
    assert(!pairs.exists(p => Set(p._1, p._2).exists(Set(2L, 3L, 4L))),
      "null/blank docs must not enter the sketch pipeline")
  }

  test("simhash, fingerprint, winnow, and text stats handle null/empty text") {
    val out = messy.select(col("doc_id"),
      F.simhash64(F.tokensLower(col("text"))).as("sh"),
      F.fingerprint(F.tokensLower(col("text"))).as("fp"),
      size(F.winnow(F.tokensLower(col("text")), 3, 4)).as("nw"),
      TextStats.tokenCount(col("text")).as("nt"))
    val rows = out.collect() // must not throw
    assert(rows.length == 5)
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    assert(byId(2L).isNullAt(1) && byId(2L).isNullAt(2), "null text → null sketches")
  }

  test("exact dedup and embedding dedup tolerate null keys/vectors") {
    val g = ExactDedup.groups(messy, "doc_id", "text").collect()
    assert(g.length >= 3) // null group + empty/whitespace + the dup group
    val vecs = Seq(
      (1L, Array(1f, 0f)), (2L, null.asInstanceOf[Array[Float]]),
      (3L, Array(1f, 0.01f)))
      .toDF("vec_id", "embedding")
    val pairs = EmbeddingDedup.pairs(vecs, "vec_id", "embedding",
      planes = 2, tables = 8, minCosine = 0.9)
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 3L)))
  }

  test("round-3 ops survive null/empty text and empty inputs") {
    import graft.etl.{CdcMerge, Chunking, RankTrim}
    // null text → chunking drops the row (null sequence explodes to none)
    val ch = Chunking.tokenWindows(messy, "doc_id", "text", 4, 3).collect()
    assert(!ch.map(_.getLong(0)).contains(2L))
    // dup-ngram stats: null/blank docs must not appear
    val dn = DupNgramStats.fraction(messy, "doc_id", "text", 3)
      .select("doc_id").as[Long].collect().toSet
    assert(dn == Set(1L, 3L, 4L, 5L)) // empty string still tokenizes to [""]
    // empty changelog → snapshot passes through unchanged
    val snap = Seq((1L, "a")).toDF("k", "v")
    val noChg = Seq.empty[(Long, Long, String, String)].toDF("k", "seq", "op", "v")
    assert(CdcMerge(snap, noChg, "k", "seq", "op", Seq("v"))
      .as[(Long, String)].collect().toSeq == Seq((1L, "a")))
    // trim of a single-row frame keeps the row at trimBp=0
    val one = Seq((1L, 10L)).toDF("id", "v")
    assert(RankTrim.middleBand(one, "id", "v", 0).count() == 1L)
  }

  test("csv coercion handles empty files and all-bad files") {
    import graft.sources.GraftCsv
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_csv_edge").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.csv"),
      java.util.Arrays.asList("x#y", "p#q"))
    val schema = StructType(Seq(StructField("n", LongType),
      StructField("ts", StringType)))
    val df = GraftCsv.read(spark, dir, schema, "#", Seq("ts"),
      cacheForAudit = true)
    assert(GraftCsv.goodRecords(df).count() +
      GraftCsv.badRecords(df).count() == 2)
  }

  test("round-6 ops survive empty inputs and degenerate parameters") {
    // PageRank on an empty edge list → empty ranks, no throw
    val noEdges = Seq.empty[(Long, Long)].toDF("s", "d")
    assert(graft.graph.PageRank.ranks(noEdges, "s", "d", iters = 2).count() == 0L)

    // PitFeatures with no labels → empty; with no activity → zero-filled
    val acts = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "click"))
      .toDF("user_id", "ts", "event_type")
    val noLabels = Seq.empty[(Long, Long, java.sql.Timestamp)]
      .toDF("event_id", "user_id", "ts")
    assert(graft.etl.PitFeatures.trailingCounts(
      noLabels, col("event_id"), col("user_id"), col("ts"),
      acts, col("user_id"), col("ts"), col("event_type"),
      Seq("click"), Seq("1h" -> 3600L)).count() == 0L)

    // SemDedup with k larger than the corpus → every vector its own cell,
    // everything kept
    val tiny = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val sd = graft.dedup.SemDedup.dedup(tiny, k = 16, iters = 1, eps = 0.99)
      .as[(Long, Long, Boolean)].collect()
    assert(sd.length == 2 && sd.forall(_._3))

    // BM25 with an empty query batch → empty result, no throw
    val docs = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    assert(graft.functions.Bm25.topK(docs, "doc_id", "text",
      Seq.empty, k = 3).count() == 0L)

    // WKT round trip of a degenerate 1-vertex ring survives
    val dot = Seq((1L, Seq((5L, 7L)))).toDF("poly_id", "vertices")
      .select(col("poly_id"), col("vertices")
        .cast("array<struct<x:bigint,y:bigint>>").as("vertices"))
    val back = dot.select(graft.etl.GeometryDim.fromWkt(
      graft.etl.GeometryDim.toWkt(col("vertices"))).as("v"))
      .select(size(col("v"))).as[Int].head()
    assert(back == 1)
  }

  test("round-7 ops survive null/empty text and degenerate inputs") {
    // Repetition: null text drops, a 1-token doc yields one (short) gram
    // with no repeats, nothing throws
    val docs = Seq((1L, null.asInstanceOf[String]), (2L, "solo"),
      (3L, "x y x y x y")).toDF("doc_id", "text")
    val rep = graft.functions.Repetition.metrics(docs, "doc_id", "text", k = 3)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(!rep.contains(1L) && rep.size == 2)
    assert(rep(2L) == ((2L, 1L, 0L, 0L, 1L, 100L)))
    assert(rep(3L)._3 > 0L) // the loop repeats its own grams

    // DupSpans: null text drops; a doc pair that is fully identical has
    // its whole token run duplicated (span = token count); an empty
    // corpus returns empty without throwing
    val dup = Seq((1L, null.asInstanceOf[String]), (2L, "a b c d e f g"),
      (3L, "a b c d e f g")).toDF("doc_id", "text")
    val spans = graft.dedup.DupSpans
      .maxDupSpan(dup, "doc_id", "text", k = 5, minSpanTokens = 7L)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(!spans.contains(1L) && spans.size == 2)
    assert(spans(2L) == ((2L, 7L, true)) && spans(3L) == ((3L, 7L, true)))
    val none = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.dedup.DupSpans
      .maxDupSpan(none, "doc_id", "text", k = 5, minSpanTokens = 7L)
      .count() == 0L)
  }

  test("round-11 web kernels are total on adversarial inputs") {
    // The web layer parses attacker-controlled bytes; every kernel must
    // be total — return, never throw — on arbitrary garbage. Seeded
    // generator over the characters that drive each parser's states.
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.{HtmlText, RobotsTxt, UrlNorm}
    import graft.sources.WarcTranscode
    val alphabet =
      "<>&%;/*$\"'#?@:=.-_~a1 \t\r\né �😀".toCharArray
    val rnd = new scala.util.Random(20260814L)
    for (_ <- 1 to 2000) {
      val s = new String(Array.fill(rnd.nextInt(48))(
        alphabet(rnd.nextInt(alphabet.length))))
      val u = UTF8String.fromString(s)
      assert(HtmlText.extractKernel(u) != null)
      UrlNorm.canonicalizeKernel(u) // NULL allowed; throwing is not
      RobotsTxt.allowedKernel(u, UTF8String.fromString("bot"), u)
      WarcTranscode.sniffDecodeKernel(s.getBytes("UTF-8"))
    }
    // truncated-structure prefixes a fuzzer rarely lands on exactly
    for (p <- Seq("http://", "https://x", "http://h/%", "http://h/%2",
        "http://[", "http://@", "http://:80/", "http://h:99999999999/x"))
      UrlNorm.canonicalizeKernel(UTF8String.fromString(p))
    // random BYTES through the sniff (not UTF-8-shaped)
    for (_ <- 1 to 500) {
      val b = new Array[Byte](rnd.nextInt(24)); rnd.nextBytes(b)
      assert(WarcTranscode.sniffCharsetKernel(b) != null)
    }
  }

  test("round-13 kernels are total on null and hostile inputs") {
    import graft.functions.{HtmlText, StructuredData}
    // null text through every new column surface — degrade, never throw
    val out = messy.select(col("doc_id"),
      HtmlText.toMarkdown(col("text")).as("md"),
      StructuredData.metaContent(col("text"), "og:title").as("og"),
      StructuredData.linkHref(col("text"), "canonical").as("cn"),
      StructuredData.feedLink(col("text")).getField("url").as("fu"),
      element_at(F.pdfInfo(col("text").cast("binary")), 1).as("pt"))
    val byId = out.collect().map(r => r.getLong(0) -> r).toMap
    assert(byId(2L).isNullAt(1), "null html -> null markdown")
    assert(byId(2L).isNullAt(2) && byId(2L).isNullAt(5))
    // hostile markup: a deep run of unclosed structural/inline tags
    val hostile = "<h1><b><a href=\"x\"><li><p>" * 200
    val md = spark.range(1)
      .select(HtmlText.toMarkdown(lit(hostile)).as("m")).head()
    assert(!md.isNullAt(0), "unclosed-tag bomb must strip, not throw")
    // fuzz the markdown + head-metadata scanners over parser-state chars
    import org.apache.spark.unsafe.types.UTF8String
    val alphabet = "<>\"'=/abch1 lip*#[]()&;\n\té😀".toCharArray
    val rnd = new scala.util.Random(20260815L)
    for (_ <- 1 to 1000) {
      val s = new String(Array.fill(rnd.nextInt(48))(
        alphabet(rnd.nextInt(alphabet.length))))
      assert(HtmlText.markdownKernel(UTF8String.fromString(s)) != null)
      graft.sources.PdfText.infoMeta(s.getBytes("UTF-8")) // never throws
    }
    // redirect resolution tolerates null edge endpoints (a torn capture)
    val resolved = graft.etl.Redirects.resolve(
      Seq(("a", "b"), (null, "c"), ("d", null)).toDF("s", "d"), "s", "d")
      .collect() // must not throw
    assert(resolved.exists(r => r.getString(0) == "a" &&
      r.getString(1) == "b" && r.getBoolean(3)))
  }

  test("round-14 surfaces are total on null and hostile inputs") {
    import graft.ann.VectorPrep
    import graft.functions.HtmlText
    import graft.sources.Feeds
    // null / torn feed bodies yield zero item rows, never a throw
    val feeds = Seq(
      (1L, null.asInstanceOf[String]),
      (2L, "<?xml version=\"1.0\"?><rss><channel><item><title>torn"),
      (3L, "not xml at all"),
      (4L, "<feed><entry><title>ok</title>" +
        "<link href=\"u\"/><updated>garbage</updated></entry></feed>")
    ).toDF("id", "xml")
    val items = Feeds.items(feeds, "id", "xml").collect()
    assert(items.forall(_.getLong(0) == 4L),
      "only the well-formed feed may yield items")
    assert(items.length == 1 && items.head.isNullAt(5),
      "an unparseable date is a NULL pub_ts, not a throw")
    // null embedding through SQ8 prep propagates, never throws
    val vp = VectorPrep.sq8Report(
      Seq((1L, null.asInstanceOf[Array[Float]]), (2L, Array(1f)))
        .toDF("vec_id", "embedding"), "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(vp(1L).isNullAt(vp(1L).fieldIndex("n_dims")))
    assert(vp(2L).getAs[Long]("max_abs_q") == 1000)
    // markdown table/list fuzz: parser-state chars for the new scanners
    import org.apache.spark.unsafe.types.UTF8String
    val alphabet = "<>\"'=/tabledrulointh |-\n…".toCharArray
    val rnd = new scala.util.Random(20260815L)
    for (_ <- 1 to 1000) {
      val s = new String(Array.fill(rnd.nextInt(64))(
        alphabet(rnd.nextInt(alphabet.length))))
      assert(HtmlText.markdownKernel(UTF8String.fromString(s)) != null)
    }
    // feed prior: empty feed frame and empty history both survive
    val out = graft.etl.Recrawl.scheduleWithFeedPrior(
      Seq((1L, 0L, 5L)).toDF("u", "s", "h"), "u", "s", "h",
      spark.emptyDataFrame
        .sparkSession.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("u",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("t",
              org.apache.spark.sql.types.TimestampType)))),
      "u", "t", "2024-02-15").collect()
    assert(out.length == 1 &&
      out.head.getAs[String]("revisit_bucket") == "unknown",
      "no feed + one fetch -> the history 'unknown' verdict survives")
  }

  test("rank-built reports return an empty frame with their schema on empty input") {
    import graft.etl.{CorpusStats, GroupStats, RankTrim, UniMax}
    import org.apache.spark.sql.types._
    def shape(df: org.apache.spark.sql.DataFrame) = {
      assert(df.collect().isEmpty)
      df.schema.fields.map(f => f.name -> f.dataType).toSeq
    }
    val L = LongType
    val idv = Seq.empty[(Long, Long)].toDF("id", "v")
    assert(shape(RankTrim.middleBand(idv, "id", "v", 500)) ===
      Seq("id" -> L, "v" -> L, "grank" -> L))
    assert(shape(GroupStats.globalQuantiles(idv, col("v"), col("id"))) ===
      Seq("pct" -> L, "idx" -> L, "v" -> L, "n_rows" -> L))
    val docs = Seq.empty[(String, String)].toDF("lang", "text")
    assert(shape(UniMax.allocate(docs, "lang", "text")) ===
      Seq("lang" -> StringType, "n_tokens" -> L, "cap_tokens" -> L,
        "capped" -> BooleanType, "alloc_tokens" -> L, "epochs_x1000" -> L))
    val w = Seq.empty[(String, Long)].toDF("src", "t")
    assert(shape(CorpusStats.lorenzReport(w, "src", "t")) ===
      Seq("bin" -> L, "n_groups" -> L, "tokens" -> L, "share_x1e6" -> L,
        "cum_share_x1e6" -> L))
  }
}
