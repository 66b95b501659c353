package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Pipeline
import graft.dedup._
import graft.functions.{F, TextClean, TextStats}

/** The LLM data-prep funnel: `Pipeline.prepareCorpus` over a corpus with
  * planted near-dup cliques, exact-dup groups, off-language documents,
  * corrupt image blobs and benchmark-contaminated documents. One
  * operation = one funnel run to its packed output and stage counts.
  *
  * `prepareCorpus` builds one lazy program whose work runs at the final
  * collect, so a span around it could not split the work by stage. A
  * traced pass therefore runs a copy of its composition (its operators,
  * default parameters and persisted frames) stage by stage, counting each
  * stored frame inside the stage's span. The copy's funnel counts are
  * checked against the untraced passes' `prepareCorpus` funnel, so a copy
  * that drifts from the program fails the run. What the copy adds is
  * counted as tracing overhead: one count per stored frame and, in
  * `dedup.minhash`, a count of the candidate pairs, which the program
  * only computes inside the verify stage.
  */
final class Corpus(spark: SparkSession, input: String) extends Workload {

  private val truth = Truth.load(input)
  private var docs: DataFrame = _
  private var images: DataFrame = _
  private var bench: DataFrame = _
  private val packedIds = mutable.ArrayBuffer[Seq[Long]]()
  private val funnels = mutable.ArrayBuffer[Map[String, Long]]()
  private val layerVals = mutable.Map[String, Double]()

  def records: Long = truth.long("records")
  def inputBytes: Long = truth.long("input_bytes")
  def opsPerPass: Int = 1

  def prepare(): Unit = {
    docs = spark.read.parquet(s"$input/docs")
    images = spark.read.parquet(s"$input/images")
    bench = spark.read.parquet(s"$input/bench.parquet")
  }

  def pass(k: Int, t: Tracer): PassResult = {
    val t0 = System.nanoTime()
    if (t.enabled) staged(t)
    else {
      val prep = Pipeline.prepareCorpus(docs, "doc_id", "text",
        bench, "bench_id", "text", images = Some(images))
      packedIds += prep.packed.select("doc_id").collect().map(_.getLong(0)).toSeq
      funnels += prep.funnel.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      prep.release()
    }
    PassResult(Seq((System.nanoTime() - t0) / 1e9), 0)
  }

  private def staged(t: Tracer): Unit = {
    layerVals.clear()
    val handles = mutable.ArrayBuffer[DataFrame]()
    def stage(df: DataFrame): (DataFrame, Long) = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      handles += p
      (p, p.count())
    }
    val funnel = mutable.LinkedHashMap[String, Long]()
    funnel("0_raw") = t.span("trace.tally") { docs.count() }
    val (textGated, nGated) = t.span("functions.text_gate") {
      stage(docs.select(col("doc_id").cast("long").as("doc_id"),
          TextClean.cleanChain(col("text")).as("text"))
        .where(TextStats.langId(col("text")).isin("en") &&
          TextStats.qualityScore(col("text")) >= 10L))
    }
    funnel("1_gated") = nGated
    layerVals("functions.text_gate.rows_out") = nGated.toDouble
    val (meta, (gated, nImage)) = t.span("multimodal.image_gate") {
      val (m, _) = stage(images.select(col("doc_id").cast("long").as("doc_id"),
          F.imageFormat(col("blob")).as("img_format"),
          F.imageWidth(col("blob")).as("img_w"),
          F.imageHeight(col("blob")).as("img_h"))
        .where(col("img_format").isNotNull && col("img_w") >= 1 &&
          col("img_h") >= 1)
        .groupBy(col("doc_id"))
        .agg(max(struct(col("img_format"), col("img_w"), col("img_h"))).as("m"))
        .select(col("doc_id"), col("m.img_format").as("img_format"),
          col("m.img_w").as("img_w"), col("m.img_h").as("img_h")))
      (m, stage(textGated.join(m.select(col("doc_id")), "doc_id")))
    }
    funnel("1b_image_gate") = nImage
    val (exact, nExact) = t.span("dedup.exact") {
      stage(ExactDedup.dedup(gated, "doc_id", "text"))
    }
    funnel("2_exact_dedup") = nExact
    // prepareCorpus stores no candidate list: verify recomputes the
    // candidates, so this span's count is extra work of the traced pass
    val (cands, nCands) = t.span("dedup.minhash") {
      val c = MinHashDedup.candidatePairs(exact, "doc_id", "text",
        shingleK = 2, numPerms = 64, bands = 16, minJaccardPct = 50)
      (c, c.count())
    }
    val (pairs, nPairs) = t.span("dedup.verify") {
      stage(NgramJaccard.verify(exact, cands, "doc_id", "text", 2, 50)
        .select("id_a", "id_b"))
    }
    layerVals("dedup.candidate_pairs") = nCands.toDouble
    layerVals("dedup.verified_pairs") = nPairs.toDouble
    layerVals("dedup.verify_yield") =
      if (nCands == 0) 0.0 else nPairs.toDouble / nCands
    val (nearDeduped, nNear) = t.span("dedup.components") {
      val keepers = DedupClusters.connectedComponents(exact, "doc_id", pairs)
        .where(col("id") === col("component"))
        .select(col("id").as("doc_id"))
      stage(exact.join(keepers, Seq("doc_id"), "left_semi"))
    }
    funnel("3_near_dedup") = nNear
    val (decontaminated, nDecon) = t.span("dedup.contamination") {
      val contaminated = Contamination.overlap(
          bench.select(col("bench_id"), col("text")), "text",
          nearDeduped, "doc_id", "text", 5)
        .where(col("contaminated_pct") >= 50L)
        .select(col("bench_id").as("doc_id"))
      stage(nearDeduped.join(contaminated, Seq("doc_id"), "left_anti"))
    }
    funnel("4_decontaminated") = nDecon
    val ids = t.span("dedup.packing") {
      val (packed, nPacked) = stage(Packing.firstFit(
        decontaminated.select(col("doc_id"),
          TextStats.tokenCount(col("text")).as("n_tok")),
        "doc_id", col("n_tok"), 512L, 8))
      funnel("5_packed") = nPacked
      packed.join(meta, "doc_id").select("doc_id").collect().map(_.getLong(0)).toSeq
    }
    packedIds += ids
    funnels += funnel.toMap
    t.span("trace.tally") {
      layerVals("pipeline.persisted_bytes") = spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum.toDouble
      handles.foreach(_.unpersist())
    }
  }

  def layers(t: Tracer, probe: EngineProbe#Batch): Map[String, Double] = {
    def spanS(name: String) = t.spans.filter(_.name == name).map(_.seconds).sum
    def group(name: String) = {
      val c = new Counters
      t.spans.filter(_.name == name).foreach(s => c.add(probe.group(s"span-${s.id}")))
      c
    }
    val spill = probe.total
    Map(
      "functions.text_gate.s" -> spanS("functions.text_gate"),
      "multimodal.image_gate.s" -> spanS("multimodal.image_gate"),
      "dedup.exact.s" -> spanS("dedup.exact"),
      "dedup.minhash.s" -> spanS("dedup.minhash"),
      "dedup.verify.s" -> spanS("dedup.verify"),
      "dedup.components.s" -> spanS("dedup.components"),
      "dedup.components.jobs" -> group("dedup.components").jobs.toDouble,
      "dedup.contamination.s" -> spanS("dedup.contamination"),
      "dedup.packing.s" -> spanS("dedup.packing"),
      "pipeline.spill_bytes" -> (spill.spillMemory + spill.spillDisk).toDouble
    ) ++ layerVals
  }

  def checks(): Seq[Check] = {
    val singles = truth.longs("singles").toSet
    val groups = truth.longLists("groups")
    val dropped = truth.longs("dropped").toSet
    val contaminated = truth.longs("contaminated")
    val want = truth.long("survivors")
    val out = mutable.ArrayBuffer[Check]()
    packedIds.zipWithIndex.foreach { case (ids, i) =>
      val set = ids.toSet
      val once = set.size == ids.size
      val perGroup = groups.map(g => g.count(set.contains))
      val badGroups = perGroup.count(_ != 1)
      val missing = singles.count(!set.contains(_))
      val leaked = set.count(dropped.contains)
      val contamLeft = contaminated.count(set.contains)
      out += Check(s"survivors[$i]", once && badGroups == 0 && missing == 0 &&
        leaked == 0 && set.size == want, 1,
        s"packed=${ids.size} distinct=${set.size} want=$want " +
          s"groups!=1:$badGroups missing singles:$missing dropped leaked:$leaked " +
          s"contaminated left:$contamLeft")
    }
    // every pass, traced or not, must report the first pass's funnel
    funnels.zipWithIndex.foreach { case (f, i) =>
      out += Check(s"funnel[$i]", f.get("5_packed").contains(want) &&
        f.get("0_raw").contains(records) && f == funnels.head, 1,
        s"$f vs ${funnels.head}")
    }
    out.toSeq
  }
}
