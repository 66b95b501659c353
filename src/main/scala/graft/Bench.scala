package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Measurement protocol (VERDICT r1 #7):
  *  - results are materialized through a `noop`-format WRITE, not `.count()`
  *    — count() lets Catalyst prune unreferenced projections, so per-row
  *    compute queries were being timed as bare parquet scans;
  *  - one warm-up pass first (also materializes the shared/persisted dedup
  *    frames and the guarded sink fixtures, so one-time setup cost isn't
  *    billed to a query);
  *  - 3 timed runs per query, median reported.
  */
object Bench {

  /** Host load telemetry (VERDICT r5 #1): /proc/loadavg's 1m/5m/15m
    * averages, captured before and after the run and emitted in the JSON
    * line, so a load-contaminated measurement is SELF-IDENTIFYING — a
    * start loadavg near core count means another process was competing
    * for the box and the artifact should not be trusted as a regression
    * signal. "0,0,0" if unreadable (non-Linux).
    */
  private def loadavg(): String =
    try {
      val parts = scala.io.Source.fromFile("/proc/loadavg").mkString
        .trim.split("\\s+")
      parts.take(3).mkString("[", ",", "]")
    } catch { case _: Throwable => "[0,0,0]" }

  private def runOnce(spark: SparkSession, sfDir: String, name: String): Double = {
    val t0 = System.nanoTime()
    try SparkEntry.queries(name)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case e: Throwable =>
      System.err.println(s"[bench] $name failed: ${e.getMessage}")
      return -1.0
    }
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = GraftSession.fromEnv()
    val loadStart = loadavg()
    // SPARK_GRAFT_BENCH_FILTER=q90_corpus_prep,q84_semdedup limits the
    // run to named queries — an iteration aid; committed artifacts
    // always run the full set (the driver sets no filter)
    val filter = sys.env.get("SPARK_GRAFT_BENCH_FILTER")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => filter.forall(_.contains(n)))
    names.foreach(n => runOnce(spark, sfDir, n)) // warm-up
    val results = names.map { n =>
      val ts = (1 to runs).map(_ => runOnce(spark, sfDir, n)).sorted
      n -> ts(ts.length / 2)
    }
    val loadEnd = loadavg()
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // a failed query (runOnce's -1.0 sentinel as its median) must RAISE
    // a visible flag, not silently LOWER the summed total (VERDICT r18
    // task 8): sentinels are excluded from the sum and the failures are
    // listed under their own key — an empty list is the green signal
    val failedNames = results.collect { case (k, v) if v < 0 => k }
    val failed = failedNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    // guard-rail FIXTURES deliberately exercise worst-case guards
    // (q84b runs a user-supplied fixed codebook into the maxCell
    // sub-split); flagging them here keeps the artifact honest — their
    // decade ratios measure the guard, not a production path
    val fixtures = Seq("q84b_semdedup_fixed").filter(n =>
      results.exists(_._1 == n))
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // "runs" makes the median protocol visible in the artifact (VERDICT
    // r10 task 5): per-query values are medians of `runs` timed passes
    println(s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"failed":$failed,"queries":$qs,"guard_fixtures":$fixtures,"sf":"$sfDir","loadavg_start":$loadStart,"loadavg_end":$loadEnd}""")
    // COMPACT twin, printed LAST: the full line above is ~5 KB at 155
    // queries and a tail-of-stdout snapshot (the round driver keeps the
    // last 2000 chars) decapitates it into unparseable JSON (VERDICT r15
    // task 5 — two rounds of BENCH_r{N}.json carried parsed:null). This
    // self-describing short line always fits a 2 KB tail; graft's own
    // wrapper scripts keep the full first line (grep | head -1).
    val top = results.sortBy(-_._2).take(10)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"failed":$failed,"compact":true,"n_queries":${results.length},"queries_truncated":true,"top_queries":$top,"sf":"$sfDir","loadavg_start":$loadStart,"loadavg_end":$loadEnd}""")
    spark.stop()
  }
}
