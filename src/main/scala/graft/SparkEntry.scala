package graft

import graft.registry._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query inventory (SURVEY.md §2): one registry entry per inventory
  * line, each a [[registry.QueryDef]] holding its builder beside its DuckDB
  * oracle (per-domain files under `graft.registry`). Column names are
  * aliased identically on both sides (the oracle compare sorts columns by
  * name before hashing). Float aggregates go through decimal(18,2) so
  * sums are order-independent and engine-portable.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q3_star_join")(spark, "/root/testdata/sf0.001")

  val registry: Seq[QueryDef] = QueryDef.registry(
    EtlQueries.all ++ DedupQueries.all ++ AnnQueries.all ++ TextQueries.all ++
      WebQueries.all ++ MultimodalQueries.all ++ GraphQueries.all)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  val oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
