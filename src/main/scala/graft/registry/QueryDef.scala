package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: its builder over a scale-factor directory and, for
  * every SQL-expressible one, the DuckDB oracle its output must hash-match.
  * `oracle = None` marks a rows-only query; its entry says why and which
  * spec gates it instead.
  */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {

  /** The registry over `defs`: every name must be declared once. */
  def registry(defs: Seq[QueryDef]): Seq[QueryDef] = {
    val dups = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty,
      s"query names declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    defs
  }
}
