package graft.etl

import graft.functions.F
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Corpus-growth statistics — the sizing inputs a 100 TB deployment
  * reads before it picks vocabularies and broadcast strategies: Heaps'
  * law `V(n) ≈ K·n^β` (Heaps 1978, public) says vocabulary grows
  * sublinearly with corpus tokens, and the measured β is exactly what
  * justifies e.g. the NB classifier's Heaps-bounded broadcast model
  * (QualityClassifier) or a BPE vocab budget. This measures the actual
  * growth curve: vocabulary counts at corpus-prefix checkpoints plus
  * the log-log least-squares slope.
  *
  * Exactness: every `ln` quantizes to DECIMAL(18,9) (the q58/q114
  * discipline) and then to integer milli-units, so the regression —
  * `β = (B·Σxy − Σx·Σy) / (B·Σx² − (Σx)²)` over B checkpoint points —
  * is pure BIGINT cross-multiplication both engines compute bit-equal;
  * β ships as an integer micro-slope (`div`, floor semantics).
  *
  * Scale shape: ONE real shuffle — `min(doc id)` per term (map-side
  * partial min, then the term-keyed exchange; term cardinality is the
  * Heaps-sublinear vocabulary itself). Checkpoint assignment is
  * arithmetic on the doc id; the per-checkpoint groupBy has B keys and
  * the cumulative window sorts B rows. The doc-id bound rides a one-row
  * broadcast crossJoin.
  */
object CorpusStats {

  /** Vocabulary growth at `buckets` doc-id-prefix checkpoints. Output
    * (one row per checkpoint): `bucket` (1-based), `n_tokens`
    * (cumulative), `n_vocab` (cumulative distinct terms by first
    * occurrence), `heaps_beta_x1e6` (corpus-level log-log slope,
    * constant across rows).
    *
    * Checkpoints cut by DOC ID (`dec = id·B div (max id + 1)`), so the
    * prefix order is the corpus' own stable order and both engines
    * agree without any sort.
    *
    * Bound: the cumulative and full-frame windows here are graft's only
    * windows without a partition spec (every global rank goes through
    * [[Prefix]]). They plan a SinglePartition exchange over exactly B =
    * `buckets` rows — one per checkpoint, never a doc or a term row.
    */
  def heapsGrowth(docs: DataFrame, idCol: String, textCol: String,
      buckets: Int = 10): DataFrame = {
    require(buckets >= 2, s"need >= 2 checkpoints, got $buckets")
    val b = buckets.toLong
    val bound = broadcast(docs.agg((max(col(idCol)) + 1L).as("nd")))
    val toks = docs.select(col(idCol).as("id"),
      explode(F.tokensLower(col(textCol))).as("term"))
    // ONE wide shuffle: first occurrence per term
    val firstDoc = toks.groupBy(col("term"))
      .agg(min(col("id")).as("first_doc"))
    // non-negative operands: `div` (truncation) == floor division
    val perDecTokens = toks.crossJoin(bound)
      .groupBy(expr(s"(id * $b) div nd").as("dec"))
      .agg(count(lit(1)).as("n"))
    val perDecVocab = firstDoc.crossJoin(bound)
      .groupBy(expr(s"(first_doc * $b) div nd").as("dec"))
      .agg(count(lit(1)).as("v"))
    // bounded dim from here down: B rows
    val ds = docs.sparkSession.range(0, b).toDF("dec")
    val w = Window.orderBy(col("dec"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = ds
      .join(perDecTokens, Seq("dec"), "left")
      .join(perDecVocab, Seq("dec"), "left")
      .select(col("dec"),
        sum(coalesce(col("n"), lit(0L))).over(w).as("n_tokens"),
        sum(coalesce(col("v"), lit(0L))).over(w).as("n_vocab"))
    // ln -> DECIMAL(18,9) -> milli-unit BIGINT (exact on both engines)
    def lnMilli(c: Column) =
      floor(log(c.cast("double")).cast(DecimalType(18, 9)) * 1000L)
        .cast("long")
    val pts = cum.select(col("dec"), col("n_tokens"), col("n_vocab"),
      lnMilli(col("n_tokens")).as("x"), lnMilli(col("n_vocab")).as("y"))
    // β via FULL-FRAME window aggregates on the same B-row partition —
    // an agg + crossJoin here would re-plan the whole corpus pipeline
    // as a second branch (a second term shuffle; caught by PlanSpec)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val num = (lit(b) * sum(col("x") * col("y")).over(wAll) -
      sum(col("x")).over(wAll) * sum(col("y")).over(wAll)) * 1000000L
    val den = lit(b) * sum(col("x") * col("x")).over(wAll) -
      sum(col("x")).over(wAll) * sum(col("x")).over(wAll)
    pts.select((col("dec") + 1L).as("bucket"), col("n_tokens"),
      col("n_vocab"),
      F.floorDiv(num, den).as("heaps_beta_x1e6"))
  }

  /** Corpus-concentration (Lorenz) report — the mixing gauge a 100 TB
    * deployment reads before setting domain caps (q136) or mixture
    * temperatures (q117): how unequal is the token mass across groups
    * (domains/sources/languages)? Groups sort ASCENDING by mass — the
    * Lorenz axis — and fold into `bins` ntile bins via the exact
    * closed form (the q160 deciles); each bin reports its group count,
    * token mass, mass share, and the cumulative share at the bin's
    * upper edge (the Lorenz curve ordinate — a straight diagonal is
    * perfect equality; the sag is the concentration).
    *
    * Exactness and scale: the global rank, the cumulative token prefix,
    * the group count and the token total W all come from
    * [[Prefix.withRankPrefixTotals]] — the range-partition +
    * broadcast-offsets build, NO single-partition window (PlanSpec
    * gates q170) — and the bins from [[Prefix.ntileBin]]. Shares
    * quantize via the staged divisor ⌊W/10⁶⌋+1 (exact floor by
    * subtract-pmod; ≈ 10⁶·x/W with ≤ 1-unit staging error, both engines
    * identical), so no product ever exceeds the token total itself. One
    * groupBy + one bounded-bin fold after the rank build.
    */
  def lorenzReport(weighted: DataFrame, groupCol: String,
      weightCol: String, bins: Int = 10): DataFrame = {
    val per = weighted.groupBy(col(groupCol).as("g"))
      .agg(sum(col(weightCol)).as("w"))
    val r = Prefix.withRankPrefixTotals(per,
      orderCols = Seq("w", "g"), valueCols = Seq("w" -> "cum_w"))
    val sdiv = F.floorDiv(lit(r.totals("cum_w")), lit(1000000L)) + 1L
    r.df.groupBy(Prefix.ntileBin(col("idx"), r.totalCount, bins).as("bin"))
      .agg(count(lit(1)).as("n_groups"), sum(col("w")).as("tokens"),
        max(col("cum_w") + col("w")).as("cum_end"))
      .select(col("bin"), col("n_groups"), col("tokens"),
        F.floorDiv(col("tokens"), sdiv).as("share_x1e6"),
        F.floorDiv(col("cum_end"), sdiv).as("cum_share_x1e6"))
  }
}
