package graft

import org.apache.spark.sql.SparkSession

/** Tuned SparkSession factory. Local defaults mirror what a cluster deploy
  * would set per-job: AQE on (runtime re-plan + skew-join handling), shuffle
  * partitions sized to the actual parallelism instead of the 200 default,
  * UTC session time so timestamp results are engine-portable.
  *
  * Case mapping runs through the JVM, not ICU: Spark 4.1's ICU path
  * (`spark.sql.icu.caseMappings.enabled`, default true) costs ~1.1 s of
  * one-time class initialization on a process's first `lower`, and
  * lowercases no faster afterwards. On JDK 17 with Spark 4.1.2's ICU4J
  * 77.1 both paths give the same `lower` for every defined code point;
  * `upper` differs only on U+019B and U+0264 (CaseMappingSpec pins both).
  */
object GraftSession {
  def builder(cores: Int = Runtime.getRuntime.availableProcessors())
      : SparkSession.Builder =
    SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.ui.enabled", "false")

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = builder(cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Core count of the command-line mains: `SPARK_GRAFT_CPUS`, default 32. */
  def envCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** The session every command-line main runs in. */
  def fromEnv(): SparkSession = local(envCores)
}
