package graft.streaming

import org.apache.spark.sql.functions._

/** Exactly-once replay probe at bench scale (VERDICT r9 task 7): the
  * StreamingSpec torn-month gate promoted from a 3-row fixture to the
  * sf0.1 `orders` table, emitted as one committed JSON artifact.
  *
  * Failure mode under test: a foreachBatch attempt writes PART of a month
  * partition and dies before the streaming checkpoint commits. On restart
  * the engine re-delivers the same epoch; [[StreamSink.monthlyUpsert]]'s
  * dynamic partition overwrite must REPLACE the torn partition — remnant
  * rows gone, no duplicates — leaving the warehouse byte-equal to a
  * one-shot batch load of the same data.
  *
  * Protocol (all distributed — the probe never collects fact rows):
  *  1. stage `orders` as month-sliced parquet (one file group per month,
  *     the documented month-granular batch contract);
  *  2. simulate the torn attempt: land ~40% of one month via the same
  *     `PartitionedSink.upsertMonths` the stream's foreachBatch runs;
  *  3. restart: readStream over the staged files → monthlyUpsert into the
  *     torn warehouse, one month per micro-batch (maxFilesPerTrigger=1);
  *  4. gates: warehouse row count == source count; the torn month's id
  *     set == the source month's id set (anti-join both ways, so remnants
  *     AND duplicates fail); full warehouse ≡ a fresh batch upsert of the
  *     same source (exceptAll both ways empty).
  *
  * Usage: runMain graft.streaming.StreamReplayProbe <sfDir> [outJson]
  */
object StreamReplayProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) Some(args(1)) else None
    val spark = graft.GraftSession.fromEnv()
    val t0 = System.nanoTime()

    val base = java.nio.file.Files.createTempDirectory("stream_replay")
    val staging = s"$base/staging"
    val warehouse = s"$base/warehouse"

    val orders = graft.Tables(spark, sfDir).orders
    val nTotal = orders.count()

    // 1. month-granular staging: partitioned files ARE the micro-batch
    // boundaries (maxFilesPerTrigger=1 delivers ~one month per trigger,
    // honoring monthlyUpsert's whole-months-per-batch contract)
    orders.withColumn("p_month", date_format(col("o_orderdate"), "yyyy-MM"))
      .repartition(col("p_month"))
      .write.partitionBy("p_month").parquet(staging)

    // 2. the torn attempt: a deterministic ~40% slice of the busiest month
    val tornMonth = orders
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("m"))
      .agg(count(lit(1)).as("n")).orderBy(desc("n"), asc("m"))
      .limit(1).collect()(0).getString(0) // one (month, count) row — a probe-scale collect
    val monthDf = orders
      .where(date_format(col("o_orderdate"), "yyyy-MM") === tornMonth)
    val nMonth = monthDf.count()
    graft.etl.PartitionedSink.upsertMonths(
      monthDf.where(pmod(col("o_orderkey"), lit(5)) < 2),
      "o_orderdate", "o_custkey", warehouse)
    val nTorn = spark.read.parquet(warehouse).count()

    // 3. restart: replay the WHOLE stream into the torn warehouse
    val q = StreamSink.monthlyUpsert(
      spark.readStream.schema(spark.read.parquet(staging).schema)
        .option("maxFilesPerTrigger", 1).parquet(staging)
        .drop("p_month"),
      "o_orderdate", "o_custkey", warehouse)
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()

    // 4. gates
    val back = spark.read.parquet(warehouse)
    val nAfter = back.count()
    val srcIds = monthDf.select("o_orderkey")
    val sinkIds = back.where(col("p_month") === tornMonth).select("o_orderkey")
    val remnantsOrMissing = sinkIds.exceptAll(srcIds).count() +
      srcIds.exceptAll(sinkIds).count()
    val batchRef = s"$base/batch_ref"
    graft.etl.PartitionedSink.upsertMonths(orders, "o_orderdate",
      "o_custkey", batchRef)
    val ref = spark.read.parquet(batchRef)
    val cols = ref.columns.map(col).toSeq
    val diff = back.select(cols: _*).exceptAll(ref.select(cols: _*)).count() +
      ref.select(cols: _*).exceptAll(back.select(cols: _*)).count()
    val healed = nAfter == nTotal && remnantsOrMissing == 0 && diff == 0
    val secs = (System.nanoTime() - t0) / 1e9

    val json = s"""{"metric":"stream_torn_month_replay","sf":"$sfDir",""" +
      s""""rows_total":$nTotal,"torn_month":"$tornMonth",""" +
      s""""torn_month_rows":$nMonth,"torn_partial_rows":$nTorn,""" +
      s""""rows_after_replay":$nAfter,"torn_month_diff":$remnantsOrMissing,""" +
      s""""batch_equiv_diff":$diff,"healed":$healed,"secs":${math.round(secs * 10) / 10.0}}"""
    println(json)
    out.foreach(p => java.nio.file.Files.writeString(java.nio.file.Paths.get(p), json + "\n"))
    if (!healed) sys.exit(1)
    spark.stop()
  }
}
