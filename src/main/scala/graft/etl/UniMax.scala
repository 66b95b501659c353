package graft.etl

import graft.functions.F
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** UniMax language-budget allocation (Chung et al. 2023, public) — the
  * successor to temperature mixing (q117): instead of smoothing the raw
  * language distribution, allocate a total token budget as UNIFORMLY as
  * possible across languages subject to a per-language epoch cap
  * (no language repeats more than `epochCap` times). Tail languages run
  * their full cap; the head splits what remains evenly — fairer than any
  * temperature, with repetition bounded by construction.
  *
  * The paper's greedy waterfill (ascending corpus size) has a closed
  * form this implementation computes distributively: with caps sorted
  * ascending, a language is capped iff its cap is below the equal share
  * of the budget left after all smaller caps are granted —
  * `cap_k · (L−k+1) < B − Σ_{i<k} cap_i`, cross-multiplied INTEGER
  * arithmetic (no float shares for engines to disagree on). Capped
  * languages form a prefix of the sort order (proof in scaladoc of the
  * predicate below), so one ranked prefix sum + one tiny aggregate
  * finds the boundary; uncapped languages each get the integer share
  * `(B − P) div U` with the remainder granted to the `(B − P) mod U`
  * smallest uncapped languages — allocations sum to B exactly (when
  * any language is uncapped; if every cap fits, Σalloc = Σcap < B and
  * the leftover is honestly unallocated).
  *
  * Scale shape: the corpus is touched once — a map-side token count
  * into a per-language groupBy (one shuffle over (lang, count) partial
  * aggregates). Everything after runs on the LANGUAGE DIM, a frame
  * bounded by the number of human languages (≤ thousands). The rank k
  * and the exclusive cap prefix come from the shared distributed build
  * [[Prefix]] on (cap_tokens, lang), which also returns the language
  * count and Σcap as driver values; the capped boundary rides a
  * one-row crossJoin.
  */
object UniMax {

  /** Per-language budget allocation. Output: lang, n_tokens (corpus),
    * cap_tokens (= epochCap·n_tokens), capped, alloc_tokens,
    * epochs_x1000 (floor of 1000·alloc/corpus — capped rows read
    * exactly 1000·epochCap).
    *
    * Capped-prefix proof: caps ascend in rank k. If rank k is NOT
    * capped — `cap_k·(L−k+1) ≥ B − P_{k−1}` — then
    * `cap_{k+1}·(L−k) ≥ cap_k·(L−k) ≥ B − P_{k−1} − cap_k = B − P_k`,
    * so rank k+1 is not capped either; the capped set is a prefix and
    * counting it locates the waterfill boundary.
    */
  def allocate(docs: DataFrame, langCol: String, textCol: String,
      budgetBp: Int = 9000, epochCap: Int = 1): DataFrame = {
    require(budgetBp > 0, "budgetBp must be positive")
    require(epochCap > 0, "epochCap must be positive")
    val per = docs.groupBy(col(langCol).as("lang"))
      .agg(sum(size(F.tokensLower(col(textCol)))).as("n_tokens"))
      .withColumn("cap_tokens", col("n_tokens") * epochCap.toLong)
    // bounded dim from here down: one row per language
    val r = Prefix.withRankPrefixTotals(per, Seq("cap_tokens", "lang"),
      Seq("cap_tokens" -> "cap_prefix"))
    // Σcap = epochCap · Σn_tokens exactly, so the corpus total divides out
    val t = r.totals("cap_prefix") / epochCap
    val nlang = lit(r.totalCount)
    val ranked = r.df
      .withColumn("budget",
        call_function("div", lit(t) * budgetBp, lit(10000)))
      .withColumn("capped",
        col("cap_tokens") * (nlang - col("idx") + 1L) <
          col("budget") - col("cap_prefix"))
    val boundary = ranked.agg(
      sum(when(col("capped"), 1L).otherwise(0L)).as("n_capped"),
      sum(when(col("capped"), col("cap_tokens")).otherwise(0L))
        .as("p_capped"))
    ranked.crossJoin(boundary)
      .withColumn("n_unc", nlang - col("n_capped"))
      .withColumn("b_unc", col("budget") - coalesce(col("p_capped"), lit(0L)))
      .withColumn("share",
        when(col("n_unc") > 0L, expr("b_unc div n_unc")).otherwise(lit(0L)))
      .withColumn("rem",
        when(col("n_unc") > 0L, expr("b_unc % n_unc")).otherwise(lit(0L)))
      .withColumn("alloc_tokens",
        when(col("capped"), col("cap_tokens"))
          .otherwise(col("share") +
            when(col("idx") - col("n_capped") <= col("rem"), 1L)
              .otherwise(0L)))
      .withColumn("epochs_x1000", expr("(alloc_tokens * 1000) div n_tokens"))
      .select(col("lang"), col("n_tokens"), col("cap_tokens"), col("capped"),
        col("alloc_tokens"), col("epochs_x1000"))
  }
}
