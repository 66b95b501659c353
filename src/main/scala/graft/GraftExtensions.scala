package graft

import graft.functions.{F, HtmlText, Kernel, RobotsTxt, UrlNorm}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SQL surface for the graft kernels: `graft_*` scalar functions, so
  * every hashing/codec primitive is callable from `spark.sql(...)`.
  * Each function is a name and a usage over a [[Kernel]] binding that
  * the DataFrame surface declares, so SQL and DataFrame calls build the
  * same codegen'd expression (never a UDF). SQL gets the kernel itself:
  * `graft_image_width`/`graft_image_height` return -1 on corrupt bytes,
  * where [[F.imageWidth]]/[[F.imageHeight]] turn -1 into NULL.
  *
  * Two entry points register the same [[SqlFunction]]s:
  *  - `spark.sql.extensions=graft.GraftExtensions` (cluster config) injects
  *    them at session build;
  *  - [[GraftFunctions.register]] adds them to an already-running session.
  */
object GraftFunctions {

  /** A `graft_*` function. Its catalog entry (what `DESCRIBE FUNCTION`
    * shows) names the kernel's class and carries the usage.
    */
  final case class SqlFunction(name: String, usage: String, kernel: Kernel) {
    val info: ExpressionInfo = new ExpressionInfo(kernel.owner.getName, null,
      name, usage, "", "", "", "", "", "", "")
  }

  /** Every SQL-exposed kernel. */
  val builders: Seq[SqlFunction] = Seq(
    SqlFunction("graft_to_roman",
      "int -> Roman numeral string (null outside 1..3999)", F.ToRoman),
    SqlFunction("graft_from_roman",
      "Roman numeral string -> int (0 for invalid)", F.FromRoman),
    SqlFunction("graft_hash64",
      "FNV-1a/splitmix64 64-bit hash of (string, seed)", F.Hash64),
    SqlFunction("graft_hamming",
      "Hamming distance between two 64-bit hashes", F.Hamming),
    SqlFunction("graft_simhash",
      "64-bit SimHash of an array<string> of tokens", F.SimHash64),
    SqlFunction("graft_fingerprint",
      "order-sensitive rolling-hash fingerprint of array<string>",
      F.Fingerprint),
    SqlFunction("graft_cosine",
      "cosine similarity of two array<float> vectors", F.Cosine),
    SqlFunction("graft_dot", "dot product of two array<float> vectors", F.Dot),
    SqlFunction("graft_l2sq",
      "squared L2 distance of two array<float> vectors", F.L2sq),
    SqlFunction("graft_bloom_contains",
      "Bloom membership probe of (words array<long>, numHashes, key)",
      F.BloomContains),
    SqlFunction("graft_image_format",
      "container sniff of an image binary: 'png' / 'jpeg' / null",
      F.ImageFormat),
    SqlFunction("graft_image_width",
      "pixel width from a PNG IHDR / JPEG SOF header (-1 if corrupt)",
      F.ImageWidth),
    SqlFunction("graft_image_height",
      "pixel height from a PNG IHDR / JPEG SOF header (-1 if corrupt)",
      F.ImageHeight),
    SqlFunction("graft_html_text",
      "visible text of an HTML string (tags/script/style/head stripped, " +
        "entities decoded, one line per block)", HtmlText.Extract),
    SqlFunction("graft_url_canon",
      "canonical form of an absolute http(s) URL (RFC 3986 safe " +
        "normalizations; NULL for relative/other schemes)",
      UrlNorm.Canonicalize),
    SqlFunction("graft_robots_allowed",
      "RFC 9309 robots.txt decision for (robots_body, agent, path); " +
        "NULL robots (no robots.txt) allows", RobotsTxt.Allowed),
    SqlFunction("graft_html_main",
      "main-content text of (html, max_link_pct, min_line_chars) — " +
        "visible text minus link-dominated and too-short lines",
      HtmlText.MainContent))

  /** Register every graft function into a live session's catalog. */
  def register(spark: SparkSession): Unit =
    builders.foreach { f =>
      spark.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(f.name), f.info, f.kernel.expr _)
    }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { f =>
      ext.injectFunction((FunctionIdentifier(f.name), f.info, f.kernel.expr))
    }
    ext.injectOptimizerRule(_ => RomanRoundTripElimination)
  }
}

/** Optimizer rule: `from_roman(to_roman(x))` collapses to the algebraic
  * identity `IF(x BETWEEN 1 AND 3999, x, NULL)` — the codec round-trip
  * never needs to materialize the Roman string. Domain handling is exact:
  * outside 1..3999 `to_roman` yields null, which propagates through
  * `from_roman` as null, so the rewrite substitutes null there too.
  * Demonstrates the engine's injectable-optimization surface on graft's
  * own expression family.
  */
object RomanRoundTripElimination
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  import org.apache.spark.sql.types.IntegerType

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case F.FromRoman(F.ToRoman(x)) =>
        If(And(GreaterThanOrEqual(x, Literal(1)), LessThanOrEqual(x, Literal(3999))),
          x, Literal(null, IntegerType))
    }
}
