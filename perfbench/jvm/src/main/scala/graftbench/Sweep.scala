package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Registry queries run one after another in one session by one client,
  * each exactly once, as a `collect()`. One operation = one query.
  *
  * After the timed section every result is written as parquet, with the
  * query's oracle SQL, so run.py can compare it against DuckDB.
  */
final class Sweep(spark: SparkSession, input: String, work: String,
    names: Seq[String], warmUpNames: Seq[String]) extends Workload {

  private val registry = graft.SparkEntry.queries
  private val results = mutable.LinkedHashMap[String, (StructType, Array[Row])]()
  private val failedNames = mutable.ArrayBuffer[String]()

  def records: Long = Truth.load(input).long("records")
  def inputBytes: Long = Truth.load(input).long("input_bytes")
  def opsPerPass: Int = names.size
  override def singlePass: Boolean = true

  def prepare(): Unit = ()

  override def warmUp(): Unit =
    warmUpNames.foreach(q => registry(q)(spark, input).collect())

  def pass(k: Int, t: Tracer): PassResult = {
    val lat = names.flatMap { q =>
      val t0 = System.nanoTime()
      try {
        val df = t.span("entry.build") { registry(q)(spark, input) }
        val rows = t.span("entry.exec") { df.collect() }
        results(q) = (df.schema, rows)
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] $q failed: $e")
        failedNames += q
        None
      }
    }
    PassResult(lat, failedNames.size)
  }

  def layers(t: Tracer, probe: EngineProbe#Batch): Map[String, Double] = {
    val build = t.spans.filter(_.name == "entry.build")
    Map(
      "entry.build_s" -> build.map(_.seconds).sum,
      "entry.build_jobs" ->
        build.map(s => probe.group(s"span-${s.id}").jobs).sum.toDouble,
      "entry.exec_s" -> t.spans.filter(_.name == "entry.exec").map(_.seconds).sum)
  }

  /** Writes results for run.py's oracle compare; the compare itself
    * happens in perfbench/oracle.py.
    */
  def checks(): Seq[Check] = {
    val dir = s"$work/results"
    val oracle = graft.SparkEntry.oracleSql
    results.foreach { case (q, (schema, rows)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$q")
    }
    // a query that threw is already counted as failed by its pass
    val sql = results.keys.filter(oracle.contains).map(q => q -> oracle(q)).toMap
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/oracle_sql.json"),
      Json(sql))
    // queries without an oracle are checked for a non-empty result only
    results.collect { case (q, (_, rows)) if !oracle.contains(q) =>
      Check(s"non_empty[$q]", rows.nonEmpty, 1, s"rows=${rows.length}")
    }.toSeq
  }
}
