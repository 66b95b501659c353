package graft

import org.apache.spark.sql.functions._

/** Skew-evidence probe (SURVEY §4 / VERDICT r7 task 7): demonstrates that
  * the UNSALTED join path survives a pathologically hot key via AQE's
  * runtime skew-join split — the complement to q34's salted join, which
  * handles the same shape by construction. graft's documented scale rule
  * is "salt only when you must"; this artifact shows the boundary: AQE
  * splits the oversized shuffle partition into parallel sub-joins at
  * runtime with NO plan change, so moderate skew needs no salting at all.
  *
  * Shape: a fact table where half of all rows land on ONE join key (the
  * classic hot-customer profile), joined UNSALTED to a dim too large to
  * broadcast (broadcast disabled to model the at-scale regime where the
  * dim exceeds the driver budget). Skew thresholds are lowered
  * proportionally to the probe's data size — at 100 TB the defaults
  * (256 MB partition threshold) play the same role.
  *
  * Emits ONE JSON line:
  *   {"metric":"skew_probe","rows":N,"wall_sec":…,
  *    "aqe_skew_split":true,"hot_key_rows":…,"sf":…}
  * `aqe_skew_split` is read from the FINAL adaptive plan (the
  * AQEShuffleRead marks its reads `skewed`) — evidence the split actually
  * engaged, not just that the config was on.
  *
  * Usage: runMain graft.SkewProbe <sfDir>
  */
object SkewProbe {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.builder(GraftSession.envCores)
      .appName("graft-skew-probe")
      // model the at-scale regime: dim exceeds the broadcast budget, so
      // the engine must shuffle-join and the hot key lands on one reducer
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // thresholds scaled to probe size (defaults are 256 MB / 64 MB —
      // the same RATIO at warehouse scale)
      .config("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2m")
      .config("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val t = Tables(spark, dir)
    // hot-key fact: every even orderkey re-keys to customer 1 — half the
    // fact mass on one key, deterministic
    val hotKey = 1L
    val fact = t.orders.select(
      when(col("o_orderkey") % 2 === 0, lit(hotKey))
        .otherwise(col("o_custkey")).as("cust"),
      col("o_orderkey"), col("o_totalprice"))
    val dim = t.customer.select(col("c_custkey").as("cust"),
      col("c_mktsegment"))

    val joined = fact.join(dim, "cust")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("total"))

    val t0 = System.nanoTime()
    val rows = joined.collect()
    val wall = (System.nanoTime() - t0) / 1e9
    val plan = joined.queryExecution.executedPlan.toString
    val skewSplit = plan.contains("skewed")
    val hotRows = fact.where(col("cust") === hotKey).count()
    val loadavg = scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      .split(" ").take(3).mkString("[", ",", "]")
    println(
      s"""{"metric":"skew_probe","rows":${rows.map(_.getLong(1)).sum},""" +
        s""""wall_sec":${math.round(wall * 1000) / 1000.0},""" +
        s""""aqe_skew_split":$skewSplit,"hot_key_rows":$hotRows,""" +
        s""""sf":"$dir","loadavg":$loadavg}""")
    if (!skewSplit) {
      // make a silent no-engage visible in the artifact AND the exit code
      System.err.println("[skew_probe] AQE skew split did NOT engage")
      spark.stop(); sys.exit(2)
    }
    spark.stop()
  }
}
