package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Source-code quality filters — the BigCode/StarCoder-style battery
  * (Li et al. 2023 §3, public recipe) that every code-pretraining
  * pipeline runs before anything else: line-geometry gates (max /
  * mean line length), an alphanumeric-density gate (minified or
  * binary-ish blobs score near zero), a long-line share, and the
  * auto-generated-file marker scan. The q115 Gopher / q116 C4 shape
  * applied to code: ONE map-side pass, zero shuffles, every output an
  * exact integer or boolean (fractions ship as ×10⁶ floors — the
  * established engine-portable discipline).
  *
  * All seven counters come from a single codegen StaticInvoke byte
  * scan ([[TextCleanKernels.codeStats]] — the q115 gopherSymbols
  * recipe, r20): the r19 shape evaluated `lower(text)` once per
  * autogen marker (three full lowercased copies) and materialized a
  * `regexp_replace`-stripped copy of every document for the alnum
  * count — ~2× the per-document byte traffic of the one-pass scan on
  * a query that is pure linear CPU at every scale.
  *
  * Thresholds (the public recipe's defaults, here as documented
  * constants): drop when max line > 1000 chars, mean line > 100
  * chars, alphanumeric fraction < 0.25, or an autogen marker appears.
  */
object CodeFilters {

  val MaxLineLen = 1000L
  val MaxAvgLineX100 = 10000L // mean ≤ 100 chars, ×100 fixed-point
  val MinAlnumFracX1e6 = 250000L
  val LongLineChars = 120L

  private[graft] val AutogenMarkers =
    Seq("auto-generated", "do not edit", "generated by")

  /** Per-document battery: doc_id, n_lines, max_line_len,
    * avg_line_x100, alnum_frac_x1e6, long_line_frac_x1e6, is_autogen,
    * code_keep.
    */
  def evaluate(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val stats = Kernel(classOf[TextCleanKernels.type], "codeStats",
      ArrayType(LongType, containsNull = false))(col(textCol))
    docs.select(col(idCol).as("doc_id"), stats.as("_cs"))
      .select(col("doc_id"),
        col("_cs").getItem(0).as("n_lines"),
        col("_cs").getItem(1).as("max_line_len"),
        col("_cs").getItem(2).as("sum_len"),
        col("_cs").getItem(3).as("n_long"),
        col("_cs").getItem(4).as("n_chars"),
        col("_cs").getItem(5).as("n_alnum"),
        (col("_cs").getItem(6) === 1L).as("is_autogen"))
      .select(col("doc_id"), col("n_lines"), col("max_line_len"),
        expr("(100 * sum_len) div n_lines").as("avg_line_x100"),
        expr("""CASE WHEN n_chars > 0
            THEN (1000000 * n_alnum) div n_chars
            ELSE CAST(0 AS BIGINT) END""").as("alnum_frac_x1e6"),
        expr("(1000000 * n_long) div n_lines").as("long_line_frac_x1e6"),
        col("is_autogen"))
      .withColumn("code_keep",
        col("max_line_len") <= MaxLineLen &&
          col("avg_line_x100") <= MaxAvgLineX100 &&
          col("alnum_frac_x1e6") >= MinAlnumFracX1e6 &&
          !col("is_autogen"))
  }
}
