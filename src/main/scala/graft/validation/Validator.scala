package graft.validation

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Spark-native data-quality expectations — the engine analog of the
  * reference's great_expectations suite (/root/reference/dags/
  * aggregates_python_helpers.py:33-68): regex match, value-in-set,
  * distinct-in-set, not-null, between, each with a `mostly` threshold
  * (expect_column_values_to_match_regex(..., mostly=0.85)).
  *
  * All expectations evaluate in ONE aggregation pass over the data —
  * a conditional count per expectation inside a single `agg` — so a
  * 100 TB validation run costs one scan, not one scan per expectation.
  */
sealed trait Expectation {
  def name: String

  /** Row-level pass predicate. */
  def passCond: Column

  /** Minimum passing fraction, in integer percent (100 = all rows). */
  def mostlyPct: Int
}

final case class MatchRegex(name: String, column: Column, regex: String,
    mostlyPct: Int = 100) extends Expectation {
  def passCond: Column = column.isNotNull && column.rlike(regex)
}

final case class InSet(name: String, column: Column, values: Seq[Any],
    mostlyPct: Int = 100) extends Expectation {
  def passCond: Column = column.isin(values: _*)
}

final case class NotNull(name: String, column: Column, mostlyPct: Int = 100)
    extends Expectation {
  def passCond: Column = column.isNotNull
}

final case class Between(name: String, column: Column, lo: Any, hi: Any,
    mostlyPct: Int = 100) extends Expectation {
  def passCond: Column = column >= lit(lo) && column <= lit(hi)
}

/** Column-level uniqueness (expect_column_values_to_be_unique): unlike the
  * row-predicate expectations this one is an AGGREGATE property — n_pass
  * is the distinct count, so `mostly` reads "≥ pct% of rows carry a
  * value no other row has... approximately": duplicates subtract from
  * the distinct tally. Evaluates in the same single pass.
  */
final case class Unique(name: String, column: Column, mostlyPct: Int = 100)
    extends Expectation {
  // unused for aggregate expectations; Validator special-cases the counter
  def passCond: Column = lit(true)
}

object Validator {

  /** Evaluate all expectations in a single pass. Output: one row per
    * expectation with integer-only metrics (engine-portable, no float
    * comparisons): expectation, n_rows, n_pass, mostly_pct, success.
    */
  def validate(df: DataFrame, expectations: Seq[Expectation]): DataFrame = {
    val counters = counterColumns(expectations)
    df.agg(counters.head, counters.tail: _*)
      .select(expectationRows(expectations).as("r"))
      .select("r.*")
      .withColumn("success", success)
  }

  /** The one-pass counters: `n_rows`, then `_pass_i` per expectation. */
  private[validation] def counterColumns(expectations: Seq[Expectation])
      : Seq[Column] =
    count(lit(1)).as("n_rows") +:
      expectations.zipWithIndex.map {
        case (u: Unique, i) => countDistinct(u.column).as(s"_pass_$i")
        case (e, i) => sum(when(e.passCond, 1L).otherwise(0L)).as(s"_pass_$i")
      }

  /** One (expectation, n_rows, n_pass, mostly_pct) row per expectation,
    * exploded from the counter row.
    */
  private[validation] def expectationRows(expectations: Seq[Expectation])
      : Column =
    explode(array(expectations.zipWithIndex.map { case (e, i) =>
      struct(
        lit(e.name).as("expectation"),
        col("n_rows"),
        col(s"_pass_$i").as("n_pass"),
        lit(e.mostlyPct).as("mostly_pct"))
    }: _*))

  /** An expectation holds when ≥ mostly_pct% of its rows pass. */
  private[validation] val success: Column =
    col("n_pass") * 100 >= col("mostly_pct").cast("long") * col("n_rows")

  /** Render a validation result as a compact JSON report string (the
    * engine-side analog of the reference's HTML report email).
    */
  def renderJson(result: DataFrame): String =
    result.toJSON.collect().mkString("[", ",", "]")

  /** Render a validation result as a standalone HTML page — the analog of
    * the reference's great_expectations report render
    * (aggregates_python_helpers.py:59-68; the DAG then emails the page,
    * which stays orchestration-layer here). The input is the ≤|expectations|
    * -row metrics frame from [[validate]], so the collect is bounded; cell
    * values are HTML-escaped. Failed expectations carry class="fail" and
    * the page reports overall success in <h1>, so both humans and a smoke
    * test can read the outcome.
    */
  def renderHtml(result: DataFrame, title: String = "graft validation"): String = {
    def esc(s: String): String = s
      .replace("&", "&amp;").replace("<", "&lt;")
      .replace(">", "&gt;").replace("\"", "&quot;")
    val cols = result.columns
    val rows = result.collect()
    val allPass = rows.forall(r => r.getAs[Boolean]("success"))
    val head = cols.map(c => s"<th>${esc(c)}</th>").mkString
    val body = rows.map { r =>
      val cls = if (r.getAs[Boolean]("success")) "pass" else "fail"
      val tds = cols.map(c => s"<td>${esc(String.valueOf(r.getAs[Any](c)))}</td>")
      s"""<tr class="$cls">${tds.mkString}</tr>"""
    }.mkString("\n")
    s"""<!DOCTYPE html>
       |<html><head><meta charset="utf-8"><title>${esc(title)}</title>
       |<style>
       |table { border-collapse: collapse; font: 14px sans-serif; }
       |th, td { border: 1px solid #999; padding: 4px 10px; }
       |tr.fail td { background: #fdd; }
       |tr.pass td { background: #dfd; }
       |</style></head><body>
       |<h1>${esc(title)}: ${if (allPass) "SUCCESS" else "FAILURE"}</h1>
       |<table><thead><tr>$head</tr></thead>
       |<tbody>
       |$body
       |</tbody></table>
       |</body></html>""".stripMargin
  }
}

object Profiler {

  /** Single-pass column profiling: one aggregation computes, for every
    * requested column, row count / non-null count / exact distinct count /
    * min / max — one scan total, not one per column. min/max surface as
    * strings so one schema fits all column types; restrict to
    * integer/string columns when an engine-portable compare matters
    * (float/timestamp rendering differs across engines).
    *
    * Multiple exact count-distincts expand the aggregate (one pass over
    * the data, ×|cols| rows into the agg) — for wide profiles at 100 TB
    * use [[approxProfile]], whose HLL sketches merge without expansion.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("_rows") +: cols.flatMap { c =>
      Seq(count(col(c)).as(s"_nn_$c"),
        countDistinct(col(c)).as(s"_nd_$c"),
        min(col(c)).cast("string").as(s"_min_$c"),
        max(col(c)).cast("string").as(s"_max_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = cols.map { c =>
      struct(lit(c).as("column_name"), col("_rows").as("n_rows"),
        col(s"_nn_$c").as("n_nonnull"), col(s"_nd_$c").as("n_distinct"),
        col(s"_min_$c").as("min_s"), col(s"_max_$c").as("max_s"))
    }
    one.select(explode(array(rows: _*)).as("r")).select("r.*")
  }

  /** Sketch-based profile for wide tables: HLL distinct estimates merge in
    * constant space per column (no aggregate expansion). Estimates are
    * engine-specific — gate with a tolerance test, not an exact oracle.
    */
  def approxProfile(df: DataFrame, cols: Seq[String],
      rsd: Double = 0.05): DataFrame = {
    val aggs = count(lit(1)).as("_rows") +: cols.map(c =>
      approx_count_distinct(col(c), rsd).as(s"_ad_$c"))
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = cols.map { c =>
      struct(lit(c).as("column_name"), col("_rows").as("n_rows"),
        col(s"_ad_$c").as("n_distinct_approx"))
    }
    one.select(explode(array(rows: _*)).as("r")).select("r.*")
  }

  /** Approximate quantiles of numeric columns in one pass (KLL-style
    * mergeable sketch via percentile_approx) — the distribution half of a
    * data profile. `accuracy` trades sketch size for error exactly like a
    * production profiler would expose it.
    */
  def approxQuantiles(df: DataFrame, cols: Seq[String],
      probabilities: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.95),
      accuracy: Int = 10000): DataFrame = {
    val probsArr = array(probabilities.map(lit): _*)
    val aggs = cols.map(c =>
      percentile_approx(col(c), probsArr, lit(accuracy)).as(s"_q_$c"))
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = cols.map(c =>
      struct(lit(c).as("column_name"), col(s"_q_$c").as("quantiles")))
    one.select(explode(array(rows: _*)).as("r")).select("r.*")
  }
}

/** Streaming twin of [[Validator]] (the §2-28 twin rule applied to data
  * quality): the SAME one-pass conditional-count expectation evaluation,
  * per event-time tumbling window over an unbounded stream — continuous
  * data-quality monitoring with bounded state (one counter row per open
  * window; the watermark closes windows and frees their state).
  *
  * Row-predicate expectations only: [[Unique]] is an aggregate property
  * whose DISTINCT counter streaming aggregation cannot maintain
  * incrementally — rejected loudly rather than silently approximated.
  * Per-window metrics match the batch [[Validator.validate]] on the same
  * slice exactly (StreamingSpec-gated), so a backfilled batch audit and
  * the live monitor can never disagree.
  */
object StreamValidator {

  /** Per-window expectation metrics: (window_start, expectation, n_rows,
    * n_pass, mostly_pct, success).
    */
  def windowed(stream: DataFrame, tsCol: String, windowDur: String,
      watermarkDelay: String, expectations: Seq[Expectation]): DataFrame = {
    require(expectations.nonEmpty, "no expectations given")
    require(!expectations.exists(_.isInstanceOf[Unique]),
      "streaming validation supports row-predicate expectations only " +
        "(a DISTINCT counter cannot be maintained incrementally)")
    val counters = Validator.counterColumns(expectations)
    stream
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDur).as("w"))
      .agg(counters.head, counters.tail: _*)
      .select(col("w.start").as("window_start"),
        Validator.expectationRows(expectations).as("r"))
      .select(col("window_start"), col("r.*"))
      .withColumn("success", Validator.success)
  }
}
