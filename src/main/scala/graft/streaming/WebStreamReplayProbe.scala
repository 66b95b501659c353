package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exactly-once replay probe for the streaming web-ingest twin
  * (VERDICT r11 task 7): [[WebIngestStream.cleanCaptures]]'s bounded
  * canonical-URL dedup state, exercised through a mid-batch kill and
  * restart at bench scale, emitted as one committed JSON artifact —
  * the same evidence standard [[StreamReplayProbe]] set for the
  * warehouse sink.
  *
  * Failure mode under test: a foreachBatch attempt writes PART of its
  * output and dies before the streaming checkpoint commits. On restart
  * the engine re-delivers the same epoch against state restored from
  * the last committed batch; the probe passes only if the final output
  * holds EXACTLY one row per canonical URL (state convergence: a
  * canonical first seen before the kill stays deduplicated after the
  * restart; the torn batch's partial files are healed by the
  * batchId-idempotent overwrite).
  *
  * Protocol (all distributed — no capture rows ever collect):
  *  1. stage `documents` as crawl captures: five URL spellings per
  *     canonical target (~5 captures each), HTML bodies keyed by the
  *     target so the kept row's text is capture-independent; 8 file
  *     groups so maxFilesPerTrigger=1 yields 8 micro-batches;
  *  2. run cleanCaptures → foreachBatch writing batch=<id> dirs
  *     (overwrite = idempotent re-delivery); batch 3's FIRST attempt
  *     writes a ~1/3 slice then throws;
  *  3. restart from the same checkpoint, drain;
  *  4. gates: no canonical URL appears twice across the whole output;
  *     the output canonical set equals the batch-computed expectation
  *     (exceptAll both ways); row count equals the target count.
  *
  * Usage: runMain graft.streaming.WebStreamReplayProbe <sfDir> [outJson]
  */
object WebStreamReplayProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) Some(args(1)) else None
    val spark = graft.GraftSession.fromEnv()
    val t0 = System.nanoTime()

    val base = java.nio.file.Files.createTempDirectory("web_stream_replay")
    val staging = s"$base/staging"
    val outDir = s"$base/out"
    val ckpt = s"$base/ckpt"

    val docs = graft.Tables(spark, sfDir).documents
    val nDocs = docs.count()
    val targets = math.max(nDocs / 5L, 1L)

    // 1. captures: refetch spellings of http://site<h>.example/a/<gid>
    val id = col("doc_id")
    val gid = id % targets
    val h = (gid % 10).cast("string")
    val tgt = gid.cast("string")
    val url = when(id % 5 === 0,
        concat(lit("http://site"), h, lit(".example/a/"), tgt))
      .when(id % 5 === 1,
        concat(lit("HTTP://SITE"), h, lit(".EXAMPLE:80/a/"), tgt))
      .when(id % 5 === 2,
        concat(lit("http://site"), h, lit(".example/x/../a/./"), tgt))
      .when(id % 5 === 3,
        concat(lit("http://site"), h, lit(".example/%61/"), tgt, lit("#f")))
      .otherwise(
        concat(lit("http://u:p@site"), h, lit(".example/a/"), tgt, lit("?")))
    val html = concat(
      lit("<html><head><title>skip</title></head><body><p>Target "), tgt,
      lit("</p></body></html>"))
    docs.select(
        timestamp_seconds(lit(1704067200L) + id % 3000).as("ts"),
        url.as("url"),
        lit("text/html; charset=utf-8").as("content_type"),
        html.cast("binary").as("body"),
        (id % 8).cast("int").as("g"))
      .repartition(col("g"))
      .write.partitionBy("g").parquet(staging)

    // 2-3. stream with an injected mid-batch failure, then restart
    val killBatch = 3L
    val killed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def sink(df: DataFrame, batchId: Long): Unit = {
      val dir = s"$outDir/batch=$batchId"
      if (batchId == killBatch && killed.compareAndSet(false, true)) {
        df.where(pmod(hash(col("url_canon")), lit(3)) === 0)
          .write.mode("overwrite").parquet(dir) // the torn partial
        throw new RuntimeException("injected mid-batch failure")
      }
      df.write.mode("overwrite").parquet(dir)
    }
    def start() = WebIngestStream.cleanCaptures(
        spark.readStream.schema(spark.read.parquet(staging).schema)
          .option("maxFilesPerTrigger", 1).parquet(staging).drop("g"))
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch(sink _).start()
    val q1 = start()
    val died =
      try { q1.processAllAvailable(); false }
      catch { case _: Exception => true }
    try q1.stop() catch { case _: Exception => () }
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()

    // 4. gates
    val got = spark.read.option("basePath", outDir).parquet(s"$outDir/batch=*")
    val nOut = got.count()
    val nDupCanon = got.groupBy("url_canon").count()
      .where(col("count") > 1).count()
    val expected = docs
      .select(graft.functions.UrlNorm.canonicalize(url).as("url_canon"))
      .distinct()
    val setDiff = got.select("url_canon").exceptAll(expected).count() +
      expected.exceptAll(got.select("url_canon")).count()
    val healed = died && nOut == targets && nDupCanon == 0 && setDiff == 0
    val secs = (System.nanoTime() - t0) / 1e9

    val json = s"""{"metric":"web_stream_replay","sf":"$sfDir",""" +
      s""""captures":$nDocs,"targets":$targets,"killed_batch":$killBatch,""" +
      s""""injected_failure_hit":$died,"rows_out":$nOut,""" +
      s""""dup_canonicals":$nDupCanon,"set_diff":$setDiff,""" +
      s""""healed":$healed,"secs":${math.round(secs * 10) / 10.0}}"""
    println(json)
    out.foreach(p => java.nio.file.Files.writeString(
      java.nio.file.Paths.get(p), json + "\n"))
    if (!healed) sys.exit(1)
    spark.stop()
  }
}
