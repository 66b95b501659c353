package graft.sources

import org.apache.spark.sql.{Column, DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.immutable.ListMap

/** Delimiter-CSV ingest — the engine analog of the reference's entry point
  * (/root/reference/dags/aggregates_python_helpers.py:183-197:
  * `read_csv(delimiter='#', names=column_names)` followed by
  * `to_datetime(..., errors='coerce')`). Spark-first shape:
  *
  *  - explicit schema (never inferSchema — schema inference is a full
  *    extra pass over 100 TB), with coercible timestamp columns declared
  *    STRING and converted after the scan;
  *  - PERMISSIVE mode with a corrupt-record column, so structurally bad
  *    lines survive as data (countable, quarantineable) instead of
  *    failing the job;
  *  - `try_to_timestamp` for the errors→null date coercion — malformed
  *    values become null without tripping ANSI evaluation.
  */
object GraftCsv {

  val CorruptCol = "_corrupt_record"

  /** Read a delimiter-CSV with an explicit schema. `timestampCols` must be
    * declared as STRING in `schema`; they come back as nullable timestamps
    * (malformed → null). The corrupt-record column is appended
    * automatically; [[badRecords]] / [[goodRecords]] split on it.
    *
    * `cacheForAudit`: Spark refuses scans whose required schema is ONLY the
    * corrupt-record column (a parse-time artifact can't be re-derived from a
    * column-pruned re-read), so corrupt-only queries like
    * `badRecords(df).count()` need the parsed frame persisted. Leave false
    * on the 100 TB path — there, split good/bad once and write both out.
    */
  def read(spark: SparkSession, path: String, schema: StructType,
      delimiter: String = "#", timestampCols: Seq[String] = Nil,
      header: Boolean = false, cacheForAudit: Boolean = false): DataFrame =
    parse(spark.read.option("header", header.toString), _.csv(path), schema,
      delimiter, timestampCols, cacheForAudit)

  /** ZIP-archived delimiter-CSV ingest — the full analog of the reference's
    * entry point (aggregates_python_helpers.py:22-31: download ZIP →
    * ZipFile.extractall → read_csv). Each archive streams through
    * ZipInputStream line-by-line (constant memory — no extract-to-disk, no
    * whole-entry buffering); the decompressed lines then parse through the
    * exact [[read]] pipeline (explicit schema, PERMISSIVE corrupt-record
    * accounting, errors→null timestamps) via `spark.read.csv(Dataset[String])`.
    *
    * Scale shape: ZIP is not splittable, so parallelism = number of
    * archives — one task streams one archive end-to-end. That is the right
    * contract for the reference's many-monthly-ZIPs layout; a SINGLE
    * multi-TB archive is an anti-pattern no engine can shard (re-land it
    * as parquet once, at ingest). Plain `.csv.gz` needs none of this —
    * Spark's codec inference handles it in [[read]] directly.
    */
  def readZip(spark: SparkSession, path: String, schema: StructType,
      delimiter: String = "#", timestampCols: Seq[String] = Nil,
      cacheForAudit: Boolean = false): DataFrame = {
    import spark.implicits._
    val lines = spark.sparkContext.binaryFiles(path).flatMap { case (_, pds) =>
      val zis = new java.util.zip.ZipInputStream(pds.open())
      val br = new java.io.BufferedReader(
        new java.io.InputStreamReader(zis, java.nio.charset.StandardCharsets.UTF_8))
      // one flat line iterator across all CSV entries of the archive;
      // ZipInputStream yields EOF per entry, getNextEntry advances
      new Iterator[String] {
        private var line: String = advance()
        @annotation.tailrec
        private def advance(): String = {
          val l = br.readLine()
          if (l != null) l
          else if (zis.getNextEntry != null) advance()
          else { br.close(); null }
        }
        def hasNext: Boolean = line != null
        def next(): String = { val l = line; line = advance(); l }
      }
    }.toDS()
    parse(spark.read, _.csv(lines), schema, delimiter, timestampCols,
      cacheForAudit)
  }

  /** The shared [[read]] / [[readZip]] parse: explicit schema plus the
    * corrupt-record column, then every timestamp column coerced in place
    * in one projection.
    */
  private def parse(reader: DataFrameReader,
      load: DataFrameReader => DataFrame, schema: StructType,
      delimiter: String, timestampCols: Seq[String],
      cacheForAudit: Boolean): DataFrame = {
    val withCorrupt =
      StructType(schema.fields :+ StructField(CorruptCol, StringType, nullable = true))
    val raw = load(reader
      .option("delimiter", delimiter)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .schema(withCorrupt))
    val parsed = raw.withColumns(ListMap(
      timestampCols.map(c => c -> coerceTimestamp(col(c))): _*))
    if (cacheForAudit) parsed.cache() else parsed
  }

  /** errors→null timestamp coercion (`pd.to_datetime(..., errors='coerce')`
    * analog): parse or null, never throw.
    */
  def coerceTimestamp(c: Column): Column = try_to_timestamp(c)

  /** Structurally malformed lines (delimiter/arity/type failures). */
  def badRecords(df: DataFrame): DataFrame =
    df.where(col(CorruptCol).isNotNull)

  /** Clean rows with the corrupt-record column dropped. */
  def goodRecords(df: DataFrame): DataFrame =
    df.where(col(CorruptCol).isNull).drop(CorruptCol)
}
