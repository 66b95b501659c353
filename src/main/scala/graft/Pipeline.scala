package graft

import graft.dedup.{Contamination, DedupClusters, ExactDedup, MinHashDedup,
  NgramJaccard, Packing}
import graft.etl.Store
import graft.functions.{TextClean, TextStats}
import graft.functions.HtmlText
import graft.sources.{ContentRoute, GraftWarc, WarcTranscode}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** End-to-end training-corpus preparation — the §2 operators composed the
  * way a real data pipeline chains them:
  *
  *   clean → language/quality gate → exact dedup → near-dup keeper
  *   (MinHash LSH candidates → exact-Jaccard verify → connected
  *   components → keep each component's min id) → benchmark
  *   decontamination → greedy sequence packing
  *
  * Each stage is the already-gated operator (q42/q24/q25/q16/q17/q19/
  * q37/q45/q46) — this object adds composition, not new semantics, and
  * PipelineSpec gates the composition laws: stage survivor sets are
  * monotone decreasing, every survivor packs exactly once, planted
  * near-dups collapse to one survivor, contaminated docs drop, and the
  * whole funnel is deterministic across partitionings.
  *
  * Not one lazy program: building a prep runs work. The connected-
  * components loop ([[DedupClusters.connectedComponents]]) runs its
  * label rounds while the frame is built, and every stage frame is a
  * stored plan leaf ([[graft.etl.Store.leaf]]) — under adaptive
  * execution, building a leaf runs the shuffle stages beneath it. What
  * stays lazy is each leaf's last stage and everything above the
  * leaves: the funnel frame is six count aggregates, not six actions,
  * and `packed` is a join over the leaves.
  *
  * Why stage frames are stored: each is consumed by its successor stage
  * AND the funnel count, and union branches do not share subplans —
  * without storage the chain re-executes once per downstream consumer
  * (~6× the work; the round-6 bench caught exactly that). They are
  * leaves, not `persist`ed frames, because a persisted stage keeps its
  * whole cached plan and every query over the chain rendered all of
  * them nested stage by stage (see `Store.leaf`). Everything the prep
  * stores — the stage leaves, the MinHash signature cache and the
  * connected-components labels — is held by one [[graft.etl.Store]]
  * scope in [[CorpusPrep.store]]; call [[CorpusPrep.release]] once
  * `packed` and `funnel` have been collected (they are invalid after
  * it) so repeated invocations in one session don't accumulate stored
  * blocks until executor eviction.
  *
  * Scale: inherits each operator's shape (narrow-key shuffles, bucket
  * caps, hash-reduced payloads).
  *
  * Multimodal: pass `images` (id, binary blob) to insert the q83/q27
  * image gate after the text gate — documents whose blob fails the
  * header parse (corrupt / truncated / unknown container) or whose
  * decoded dimensions are under `minImageW`×`minImageH` DROP, and the
  * surviving (img_format, img_w, img_h) metadata rides the funnel all
  * the way onto the packed output. The gate is the codegen'd
  * MediaHeader kernel — one map-side pass over the blobs, one narrow
  * id-keyed join against the text chain; pixel decode stays out of the
  * funnel (BinaryPipeline's declared stub).
  */
object Pipeline {

  final case class CorpusPrep(packed: DataFrame, funnel: DataFrame,
      store: Store.Scope) {
    /** The stored stage frames, one plan leaf each. */
    def handles: Seq[DataFrame] = store.frames
      .filter(_.queryExecution.analyzed.isInstanceOf[LogicalRDD])

    /** Free every frame this prep stored. Collect what you need of
      * `packed` and `funnel` first: frames built on the prep are invalid
      * afterwards. A freed stage leaf recomputes from lineage, and that
      * lineage reaches the final connected-components labels, a
      * lineage-cut snapshot freed here too; only shuffle outputs Spark
      * still holds keep such a read working, and nothing guarantees them.
      */
    def release(): Unit = store.close()
  }

  private def stage(name: String, df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n_docs")).select(lit(name).as("stage"),
      col("n_docs"))

  /** The clean → language/quality gate stage: (doc_id, text) for every
    * doc, `text` cleaned where the doc passes the gate and NULL where it
    * does not or has no text; [[prepareCorpus]] stores it and drops the
    * NULLs above the leaf. Not a filter on `text`: the optimizer pushes a
    * filter below the cleaning projection and inlines the whole cleaning
    * chain at every reference to `text`, into one generated method too
    * large for the JIT to compile. Under `when` the chain runs once per
    * doc.
    */
  private[graft] def textGate(docs: DataFrame, idCol: String,
      textCol: String, langs: Seq[String], minQuality: Long): DataFrame = {
    val text = col("text")
    docs.select(col(idCol).cast("long").as("doc_id"),
        TextClean.cleanChain(col(textCol)).as("text"))
      .select(col("doc_id"), when(TextStats.langId(text).isin(langs: _*) &&
        TextStats.qualityScore(text) >= minQuality, text).as("text"))
  }

  /** Run the funnel over `docs` (idCol, textCol). `bench` guards against
    * benchmark contamination (pass an empty frame to skip). Returns the
    * packed sequences (doc_id, n_tokens, seq_id, seq_pos — plus image
    * metadata when `images` is given) and a (stage, n_docs) funnel
    * summary.
    */
  def prepareCorpus(docs: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchId: String, benchText: String,
      langs: Seq[String] = Seq("en"), minQuality: Long = 10L,
      maxContamPct: Long = 50L, shingleK: Int = 2,
      contamShingleK: Int = 5, minJaccardPct: Int = 50,
      numPerms: Int = 64, bands: Int = 16, candJaccardPct: Int = -1,
      maxTokens: Long = 512L, packPartitions: Int = 8,
      images: Option[DataFrame] = None, imageId: String = "doc_id",
      imageBlob: String = "blob", minImageW: Int = 1,
      minImageH: Int = 1): CorpusPrep = {
    val st = new Store.Scope
    val textGated = st.leaf(textGate(docs, idCol, textCol, langs, minQuality))
      .where(col("text").isNotNull)

    // optional image gate: header-parse the blobs (q83 kernel), drop
    // corrupt/undersized, carry the metadata forward. The meta frame is
    // REDUCED to one row per doc_id (deterministic max-struct pick):
    // duplicate blob rows would otherwise silently fan out the text chain
    // before exact-dedup AND the final packed decoration join while the
    // funnel counts packedBare — a row multiplication the stage counts
    // would never show (ADVICE r7)
    val imageMeta = images.map { img =>
      st.leaf(img.select(col(imageId).cast("long").as("doc_id"),
          graft.functions.F.imageFormat(col(imageBlob)).as("img_format"),
          graft.functions.F.imageWidth(col(imageBlob)).as("img_w"),
          graft.functions.F.imageHeight(col(imageBlob)).as("img_h"))
        .where(col("img_format").isNotNull &&
          col("img_w") >= minImageW && col("img_h") >= minImageH)
        .groupBy(col("doc_id"))
        .agg(max(struct(col("img_format"), col("img_w"), col("img_h")))
          .as("m"))
        .select(col("doc_id"), col("m.img_format").as("img_format"),
          col("m.img_w").as("img_w"), col("m.img_h").as("img_h")))
    }
    val gated = imageMeta match {
      case Some(meta) =>
        st.leaf(textGated.join(meta.select(col("doc_id")), "doc_id"))
      case None => textGated
    }

    val exact = st.leaf(ExactDedup.dedup(gated, "doc_id", "text"))

    // candJaccardPct (default: = minJaccardPct) is the SIGNATURE-ESTIMATE
    // pre-filter on candidates; the exact-Jaccard verify below always
    // gates at minJaccardPct. Callers whose corpus has pairs NEAR the
    // threshold (the web funnel) pass a loose candidate bound so estimate
    // jitter can't drop a true >= minJaccardPct pair before verification.
    // owned, so releasing the prep frees the signature cache under it
    val cands = st.own(MinHashDedup.candidatePairs(exact, "doc_id", "text",
      shingleK = shingleK, numPerms = numPerms, bands = bands,
      minJaccardPct = if (candJaccardPct >= 0) candJaccardPct else minJaccardPct))
    // the verified pair list is stored too (the q37/q56 memoized-pairs
    // rule): the CC loop below consumes it once per label-propagation
    // ITERATION, and without the store each iteration re-runs the
    // whole shingle → minhash → band-join → Jaccard-verify subtree
    val pairs = st.leaf(NgramJaccard.verify(exact, cands, "doc_id", "text",
      shingleK, minJaccardPct).select("id_a", "id_b"))
    val keepers = st.own(DedupClusters
      .connectedComponents(exact, "doc_id", pairs))
      .where(col("id") === col("component"))
      .select(col("id").as("doc_id"))
    val nearDeduped = st.leaf(exact.join(keepers, Seq("doc_id"), "left_semi"))

    val contaminated = Contamination
      .overlap(bench.select(col(benchId).as("bench_id"),
          col(benchText).as("text")),
        "text",
        nearDeduped, "doc_id", "text", contamShingleK)
      .where(col("contaminated_pct") >= maxContamPct)
      .select(col("bench_id").as("doc_id"))
    val decontaminated = st.leaf(nearDeduped
      .join(contaminated, Seq("doc_id"), "left_anti"))

    val packedBare = st.leaf(Packing.firstFit(
      decontaminated.select(col("doc_id"),
        TextStats.tokenCount(col("text")).as("n_tok")),
      "doc_id", col("n_tok"), maxTokens, packPartitions))
    // image metadata survives packing: every packed doc passed the gate,
    // so the join is a lossless narrow-key decoration
    val packed = imageMeta match {
      case Some(meta) => packedBare.join(meta, "doc_id")
      case None => packedBare
    }

    val funnel0 = stage("0_raw", docs)
      .unionAll(stage("1_gated", textGated))
    val funnel1 = imageMeta match {
      case Some(_) => funnel0.unionAll(stage("1b_image_gate", gated))
      case None => funnel0
    }
    val funnel = funnel1
      .unionAll(stage("2_exact_dedup", exact))
      .unionAll(stage("3_near_dedup", nearDeduped))
      .unionAll(stage("4_decontaminated", decontaminated))
      .unionAll(stage("5_packed", packedBare))
    CorpusPrep(packed, funnel, st)
  }

  /** The WEB-FED funnel: the same corpus-prep program with the three
    * web-ingest stages composed in front — WARC records ([[GraftWarc]],
    * q97) → HTTP response bodies → strict charset transcode to UTF-8
    * ([[WarcTranscode]], q100) → encoding-garbage gate (q99's signals) →
    * [[prepareCorpus]], whose stage frames (and the connected-components
    * loop) run work while the prep is built — see the object doc.
    *
    * `docId` extracts the document id from the WARC columns (typically a
    * regexp over `target_uri`). Funnel rows prepend `w0_records` (all
    * parsed records, damage markers excluded), `w1_http_bodies`
    * (responses whose HTTP payload parsed), `w1b_text_routed` (captures
    * whose Content-Type routes to the text chain — [[ContentRoute]]:
    * html, any text subtype, and application/pdf through the bounded
    * [[graft.sources.PdfText]] extractor; images/unlabeled route out
    * here, never through a text kernel), and `w2_transcoded` (routed
    * bodies that decoded
    * under their declared charset, html captures through the q103
    * extractor); the inner funnel's `0_raw` row is then the
    * encoding-clean handoff count.
    *
    * LSH config note: the web path defaults to 128 perms × 64 bands
    * (2 rows/band — the q17/q19 entry config, pair-miss ≈ 1e-8 at
    * J = 0.5) rather than prepareCorpus's 64×16: transcoding makes
    * same-text captures differ by a charset-dependent tail, creating
    * legitimate MID-J near-dup pairs that the coarser bands would miss
    * with non-negligible probability, where the planted corpus's
    * near-dups all sit at high J.
    *
    * Scale shape: ingest + transcode + gate are map-side over the archive
    * scan (parallelism = archive count, the q97 contract); `records` and
    * `transcoded` are stored plan leaves because the funnel counts and the
    * downstream chain both consume them — without the store every stage
    * count re-parses the archives.
    */
  def prepareWebCorpus(warc: DataFrame, docId: Column,
      bench: DataFrame, benchId: String, benchText: String,
      langs: Seq[String] = Seq("en"), minQuality: Long = 10L,
      maxContamPct: Long = 50L, shingleK: Int = 2,
      contamShingleK: Int = 5, minJaccardPct: Int = 50,
      numPerms: Int = 128, bands: Int = 64,
      maxTokens: Long = 512L, packPartitions: Int = 8): CorpusPrep = {
    val st = new Store.Scope
    val records = st.leaf(GraftWarc.records(warc))
    val responses = records.where(col("warc_type") === "response" &&
      col("body").isNotNull)
    // media-type dispatch (ContentRoute, q111): only html/plain/pdf
    // captures enter the text chain — html through the q103 extractor,
    // plain as the transcoded body, pdf through the bounded-subset
    // PdfText extractor (q123 — out-of-subset PDFs yield NULL text and
    // drop at the isNotNull gate, countable as w1b minus w2);
    // image/binary/unknown payloads route OUT here, counted by the w1b
    // stage, and never touch a text kernel
    val routeCol = ContentRoute.route(col("content_type"))
    val textual = responses.where(
      routeCol.isin(ContentRoute.RouteHtml, ContentRoute.RoutePlain,
        ContentRoute.RoutePdf))
    val cs = WarcTranscode.charsetOf(col("content_type"))
    val decoded = WarcTranscode.utf8Text(col("body"), cs)
    // robots-meta noindex (q125's page directive): an html page whose
    // owner opted out of indexing never enters the corpus — NULL text,
    // dropping at the same gate as torn transcodes, counted w1b − w2
    val transcoded = st.leaf(textual
      .select(docId.cast("long").as("doc_id"),
        when(routeCol === ContentRoute.RouteHtml,
          when(!graft.functions.RobotsMeta.noindex(decoded),
            HtmlText.extract(decoded)))
          .when(routeCol === ContentRoute.RoutePdf,
            element_at(graft.functions.F.pdfExtract(col("body")), 1))
          .otherwise(decoded).as("text"))
      .where(col("text").isNotNull))
    val encodingClean = transcoded.where(
      TextStats.replacementCount(col("text")) +
        TextStats.mojibakeCount(col("text")) +
        TextStats.controlCharCount(col("text")) === 0)
    // candJaccardPct = 5: transcoded same-text captures sit at MID J,
    // where a 50% signature-estimate pre-filter would drop true pairs on
    // estimate jitter; the exact verify still gates at minJaccardPct
    val inner = prepareCorpus(encodingClean, "doc_id", "text",
      bench, benchId, benchText, langs, minQuality, maxContamPct,
      shingleK, contamShingleK, minJaccardPct, numPerms, bands,
      candJaccardPct = 5, maxTokens = maxTokens,
      packPartitions = packPartitions)
    val funnel = stage("w0_records", records)
      .unionAll(stage("w1_http_bodies", responses))
      .unionAll(stage("w1b_text_routed", textual))
      .unionAll(stage("w2_transcoded", transcoded))
      .unionAll(inner.funnel)
    inner.store.frames.foreach(st.own)
    CorpusPrep(inner.packed, funnel, st)
  }
}
