package graft

import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{ExplainMode, LogicalRDD,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Composition laws for the end-to-end corpus-prep funnel: each stage's
  * operator is individually gated elsewhere; here we assert the CHAIN
  * behaves — monotone survivor sets, planted drops at the right stage,
  * pack-exactly-once, and partitioning-independence.
  */
class PipelineSpec extends SparkSpec {

  import spark.implicits._

  private val base =
    "the quick brown fox and the lazy dog sit on the mat in the sun"
  private val docs = Seq(
    (1L, base),
    (2L, base), // exact duplicate → drops at exact dedup
    (3L, base.replace("lazy", "sleepy")), // near-dup → cluster keeper is 1
    (4L, "der hund und die katze sind nicht hier heute"), // German → gated
    (5L, "alpha beta gamma delta and the epsilon zeta eta theta iota kappa"),
    (6L, "many colorful birds fly over the tall green trees in the morning")
  ).toDF("doc_id", "text")
  // doc 5 is verbatim in the benchmark set → drops at decontamination
  private val bench = Seq(
    (100L, "alpha beta gamma delta and the epsilon zeta eta theta iota kappa")
  ).toDF("bench_id", "text")

  private def hx(s: String) =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
  private val okGif = hx("474946383961" + "0800" + "0600" + "F70000") // 8×6
  private val images = Seq(
    (1L, okGif), (2L, okGif), (3L, okGif), (4L, okGif), (5L, okGif),
    (6L, hx("DEADBEEF")) // doc 6: corrupt container → image gate drop
  ).toDF("doc_id", "blob")

  test("corpus prep funnel drops each planted doc at its stage and packs survivors once") {
    val prep = Pipeline.prepareCorpus(docs, "doc_id", "text",
      bench, "bench_id", "text")
    val funnel = prep.funnel.as[(String, Long)].collect().toMap
    assert(funnel == Map(
      "0_raw" -> 6L, "1_gated" -> 5L, "2_exact_dedup" -> 4L,
      "3_near_dedup" -> 3L, "4_decontaminated" -> 2L, "5_packed" -> 2L))
    val packedIds = prep.packed.select("doc_id").as[Long].collect().sorted
    assert(packedIds.toSeq == Seq(1L, 6L))
    // every packed doc appears exactly once and within budget
    val perSeq = prep.packed.groupBy("seq_id")
      .agg(sum("n_tokens").as("t")).as[(Long, Long)].collect()
    assert(perSeq.forall(_._2 <= 512L))
  }

  test("corpus prep is deterministic across partitionings") {
    def run(parts: Int) = Pipeline.prepareCorpus(
      docs.repartition(parts), "doc_id", "text",
      bench, "bench_id", "text")
      .packed.as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(run(2) == run(5))
  }

  test("image gate drops corrupt blobs and metadata rides through packing") {
    val prep = Pipeline.prepareCorpus(docs, "doc_id", "text",
      bench, "bench_id", "text", images = Some(images))
    val funnel = prep.funnel.as[(String, Long)].collect().toMap
    // doc 4 drops at the language gate, doc 6 at the image gate, then
    // the text chain proceeds exactly as before over {1,2,3,5}
    assert(funnel == Map(
      "0_raw" -> 6L, "1_gated" -> 5L, "1b_image_gate" -> 4L,
      "2_exact_dedup" -> 3L, "3_near_dedup" -> 2L,
      "4_decontaminated" -> 1L, "5_packed" -> 1L))
    // the survivor carries its parsed image metadata on the packed rows
    val packed = prep.packed
      .select("doc_id", "img_format", "img_w", "img_h")
      .as[(Long, String, Int, Int)].collect().toSeq
    assert(packed == Seq((1L, "gif", 8, 6)))
    // undersized images are gated too: an 8-wide GIF fails minImageW=9
    val none = Pipeline.prepareCorpus(docs, "doc_id", "text",
      bench, "bench_id", "text", images = Some(images), minImageW = 9)
      .funnel.as[(String, Long)].collect().toMap
    assert(none("1b_image_gate") == 0L && none("5_packed") == 0L)
    // release frees every stored stage frame: `Dataset.unpersist` would
    // be a silent no-op on a leaf frame, leaking its blocks
    val stored = prep.handles.flatMap(_.queryExecution.analyzed.collect {
      case l: LogicalRDD => l.rdd.id
    })
    assert(stored.size == prep.handles.size)
    prep.release()
    val left = spark.sparkContext.getPersistentRDDs.keySet
    assert(stored.forall(id => !left.contains(id)),
      s"released handles still stored: ${stored.filter(left.contains)}")
  }

  /** The web funnel over a one-archive WARC fixture. 6 captures: 1-3
    * clean UTF-8, 4 ISO-8859-1 (must transcode, then survive), 5 unknown
    * charset (drops at transcode), 6 well-labeled but carrying a stray BEL
    * (survives transcode, drops at the encoding gate), a PDF and a
    * noindex page (both drop before w2) — plus one torn record (excluded
    * from w0 entirely).
    */
  private def webPrep(): Pipeline.CorpusPrep = {
    import graft.sources.{GraftWarc, WarcCodec}
    import org.apache.spark.sql.functions.{col, regexp_extract}
    val t = "the quick brown fox jumps over the lazy dog and then the " +
      "fox naps on the warm stone all day"
    def cap(id: Long, body: Array[Byte], ctype: String) =
      WarcCodec.buildRecord("response", s"<urn:p:$id>",
        s"http://x.example/doc/$id", "2024-01-01T00:00:00Z",
        WarcCodec.httpResponse(body, ctype))
    val bytes =
      cap(1, t.getBytes("UTF-8"), "text/plain") ++
      cap(2, (t + " extra").getBytes("UTF-8"), "text/plain") ++
      cap(3, (t + " café").getBytes("ISO-8859-1"),
        "text/plain; charset=iso-8859-1") ++
      cap(4, t.getBytes("UTF-8"), "text/plain; charset=x-nope") ++
      cap(5, (t + " \u0007bel").getBytes("UTF-8"),
        "text/plain; charset=utf-8") ++
      // a PDF capture: routes INTO the text chain (q123's extractor
      // inside the funnel), but an object-less marker yields NULL text
      // and drops before w2 — counted, never mangled through a text
      // kernel
      cap(7, "%PDF-1.4 not prose".getBytes("US-ASCII"),
        "application/pdf") ++
      // an html page whose robots meta opts out: routes into the text
      // chain, drops at w2 (q125's noindex gate inside the funnel)
      cap(8, ("<html><head><meta name=\"robots\" content=\"noindex\">" +
        s"</head><body><p>$t</p></body></html>").getBytes("UTF-8"),
        "text/html; charset=utf-8") ++
      cap(6, t.getBytes("UTF-8"), "text/plain").dropRight(30) // torn
    val dir = java.nio.file.Files.createTempDirectory("webfunnel").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.warc"), bytes)
    Pipeline.prepareWebCorpus(
      GraftWarc.read(spark, s"$dir/a.warc"),
      docId = regexp_extract(col("target_uri"), "/doc/([0-9]+)$", 1),
      bench = Seq.empty[(Long, String)].toDF("bench_id", "text"),
      benchId = "bench_id", benchText = "text")
  }

  test("web funnel composes ingest → transcode → encoding gate ahead of the text chain") {
    val prep = webPrep()
    val funnel = prep.funnel.as[(String, Long)].collect().toMap
    assert(funnel("w0_records") == 7L, s"torn record must not count: $funnel")
    assert(funnel("w1_http_bodies") == 7L)
    assert(funnel("w1b_text_routed") == 7L,
      s"the PDF capture must route into the text chain: $funnel")
    assert(funnel("w2_transcoded") == 4L,
      s"unknown charset, textless PDF and noindex page must drop: $funnel")
    assert(funnel("0_raw") == 3L, s"BEL capture must drop at the gate: $funnel")
    // docs 1/2/3 proceed: all-distinct exact, 1-2-3 mutually near-dup at
    // bigram J >= 50 (tail edits only) → one keeper
    assert(funnel("2_exact_dedup") == 3L && funnel("3_near_dedup") == 1L &&
      funnel("5_packed") == 1L, s"$funnel")
    // the transcoded ISO body decodes to real é, never mojibake
    prep.release()
  }

  test("the text gate stage cleans each doc once, in JIT-compilable methods") {
    // a parquet scan, as the funnel reads: a local relation would be
    // evaluated by the optimizer and leave no generated stage to inspect
    val dir = graft.registry.Shared.tempDirCleanedAtExit("gate_docs") + "/docs"
    docs.write.parquet(dir)
    val gate = Pipeline.textGate(spark.read.parquet(dir), "doc_id", "text",
      Seq("en"), 10L)
    val stages = gate.queryExecution.executedPlan
      .collect { case w: WholeStageCodegenExec => w }
    assert(stages.size == 1, gate.queryExecution.executedPlan.toString)
    val (_, code) = stages.head.doCodeGen()
    val (_, stats) = CodeGenerator.compile(code)
    val nfcCalls = "UnicodeNorm\\.nfc\\(".r.findAllIn(code.body).size
    assert(nfcCalls == 1, code.body)
    // HotSpot never compiles a method over 8,000 bytecode bytes
    // (-XX:HugeMethodLimit), so a larger one runs interpreted
    assert(stats.maxMethodCodeSize <= 8000)
    assert(gate.where(col("text").isNotNull).select("doc_id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L, 3L, 5L, 6L))
  }

  test("a doc with NULL text drops at the gate") {
    // NULL text reads as language "en" with quality 100 (`least` skips
    // the NULL score), so a gate that filtered on those let it through
    // and packing then failed on its NULL token count
    val withNull = docs.union(Seq((7L, null: String)).toDF("doc_id", "text"))
    val prep = Pipeline.prepareCorpus(withNull, "doc_id", "text",
      bench, "bench_id", "text")
    val funnel = prep.funnel.as[(String, Long)].collect().toMap
    assert(funnel("0_raw") == 7L && funnel("1_gated") == 5L)
    assert(prep.packed.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 6L))
    prep.release()
  }

  test("stage frames are plan leaves, so the funnel plan stays small") {
    val preps = Seq(
      Pipeline.prepareCorpus(docs, "doc_id", "text",
        bench, "bench_id", "text", images = Some(images)),
      webPrep())
    preps.foreach { prep =>
      prep.handles.foreach { h =>
        val plan = h.queryExecution.analyzed
        assert(plan.isInstanceOf[LogicalRDD] && plan.children.isEmpty,
          s"stage handle is not one plan leaf:\n$plan")
        assert(h.queryExecution.withCachedData
          .collect { case m: InMemoryRelation => m }.isEmpty,
          s"stage handle reads a cached plan:\n$plan")
      }
      // with `persist`ed stages every cached plan renders nested inside
      // the next: ~480k characters for q90 at sf0.001
      val explained = prep.funnel.queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      assert(explained.length < 64 * 1024,
        s"funnel plan renders ${explained.length} characters")
      prep.release()
    }
  }

  test("release leaves nothing of the prep stored") {
    val sc = spark.sparkContext
    val cacheManager = spark
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val before = sc.getPersistentRDDs.keySet.toSet
    val cacheWasEmpty = cacheManager.isEmpty
    val prep = Pipeline.prepareCorpus(docs, "doc_id", "text",
      bench, "bench_id", "text", images = Some(images))
    assert(prep.packed.count() == 1L)
    assert(prep.funnel.collect().length == 7)
    val held = prep.store.frames
    // what release frees includes a lineage-cut snapshot (the labels),
    // so frames built on the prep are not recoverable after it
    assert(held.exists(_.queryExecution.analyzed.find {
      case l: LogicalRDD => l.rdd.isCheckpointed
      case _ => false
    }.isDefined))
    prep.release()
    // the stage leaves, the MinHash signature cache and the final
    // connected-components labels all go with the prep
    val left = sc.getPersistentRDDs.keySet.toSet -- before
    assert(left.isEmpty, s"still stored after release: $left")
    assert(!cacheWasEmpty || cacheManager.isEmpty,
      "release left a cache entry")
    assert(held.forall(f => cacheManager.lookupCachedData(
      f.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isEmpty))
  }

  test("a leaf frame keeps its lineage: dropped blocks recompute") {
    val src = docs.groupBy(length(col("text")) % 3).count()
    val leaf = GraftSqlBridge.persistAsLeaf(src, StorageLevel.MEMORY_AND_DISK)
    val rdd = leaf.queryExecution.analyzed
      .collect { case l: LogicalRDD => l.rdd }.head
    val n = leaf.count()
    assert(rdd.getStorageLevel == StorageLevel.MEMORY_AND_DISK)
    rdd.unpersist(blocking = true)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rdd.id))
    assert(leaf.count() == n)
    assert(!rdd.isCheckpointed, "a checkpoint would have cut the lineage")
  }

  test("empty benchmark set skips decontamination without dropping anything") {
    val noBench = Seq.empty[(Long, String)].toDF("bench_id", "text")
    val prep = Pipeline.prepareCorpus(docs, "doc_id", "text",
      noBench, "bench_id", "text")
    val funnel = prep.funnel.as[(String, Long)].collect().toMap
    assert(funnel("4_decontaminated") == 3L) // doc 5 survives now
  }
}
