package graft.ann

import graft.functions.F
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Vector storage preparation — the leg between raw embeddings and the
  * ANN indexes (q21/q22/q32/q65): production vector stores keep int8
  * SCALAR-QUANTIZED codes (4× smaller than float32, SIMD-friendly — the
  * standard "SQ8" layout of public ANN libraries) plus the precomputed
  * L2 norm that turns cosine into a dot product at query time. At
  * 100 TB of embeddings the quantization decides the working-set size
  * of every search after it, and the reconstruction-error audit emitted
  * here is how a pipeline decides SQ8 is safe before committing to it.
  *
  * Determinism discipline (everything an external engine replays
  * bit-for-bit):
  *  - components quantize FIRST to milli-units, qi = floor(v·1000) —
  *    float→double widening is exact and IEEE multiply/floor agree
  *    across engines — so all later arithmetic is BIGINT;
  *  - the per-vector scale is max|qi| and codes are the exact
  *    floor(qi·127/max|qi|) of [[graft.functions.F.floorDiv]] (no
  *    division rounding can move an integer quotient);
  *  - the norm is floor(√Σqi²): the argument is an exact ≤2⁵³ integer
  *    and IEEE-754 sqrt is correctly rounded on every engine;
  *  - the audit is Σ|qi − dequant(code_i)| — exact BIGINT.
  *
  * Scale shape: ONE map-side pass of codegen array lambdas — zero
  * shuffles, zero UDFs; null/empty vectors yield honest NULL/zero rows
  * rather than errors (damage posture).
  */
object VectorPrep {

  import SearchTail.milli

  /** (id, _q milli components, max_abs_q) — the quantized vector and
    * its SQ8 scale, bound once so every later lambda touches only its
    * bound variables (the shingles O(n²) lesson).
    */
  private def quantized(df: DataFrame, id: Column,
      vecCol: String): DataFrame = {
    val q = milli(col(vecCol))
    df.select(id, q.as("_q"),
      aggregate(q, lit(0L), (a, x) => greatest(a, abs(x))).as("max_abs_q"))
  }

  /** floor(√Σqi²) of the bound `_q` — the milli-unit L2 norm. */
  private def normX1e3: Column =
    floor(sqrt(aggregate(col("_q"), lit(0L),
      (a, x) => a + x * x).cast("double"))).cast("long").as("norm_x1e3")

  /** Per-vector SQ8 prep report. Output: idCol, n_dims, norm_x1e3
    * (floor of 1000·‖v‖₂), max_abs_q (the quantization scale in
    * milli-units), argmax_dim (1-based first dimension attaining it),
    * quant_mae_sum (Σ|qi − dequant(code_i)| in milli-units — the SQ8
    * reconstruction audit), is_zero (a degenerate all-zero vector
    * quantizes to all-zero codes and is flagged, not divided by).
    */
  def sq8Report(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    quantized(df, col(idCol), vecCol)
      .select(
        col(idCol),
        size(col("_q")).cast("long").as("n_dims"),
        normX1e3,
        col("max_abs_q"),
        // 1-based first position; Spark signals "absent" (only possible
        // for an EMPTY vector) as 0 where DuckDB's list_position yields
        // NULL — nullif aligns the two
        nullif(array_position(transform(col("_q"), x => abs(x)),
          col("max_abs_q")), lit(0L)).cast("long").as("argmax_dim"),
        when(col("max_abs_q") === 0L, lit(0L))
          .otherwise(aggregate(col("_q"), lit(0L), (a, x) => {
            val code = F.floorDiv(x * 127L, col("max_abs_q"))
            val recon = F.floorDiv(code * col("max_abs_q"), lit(127L))
            a + abs(x - recon)
          })).as("quant_mae_sum"),
        (col("max_abs_q") === 0L).as("is_zero"))

  /** SQ8-encoded serving rows — the layout a production vector store
    * scans instead of float32: idCol→nid, `codes` (the exact
    * floor(qi·127/max|qi|) values, int8 range, kept as LONG in-plan so
    * every downstream product is exact BIGINT), the `max_abs_q` scale
    * and `norm_x1e3` the asymmetric distance needs. Same milli-unit
    * determinism contract as [[sq8Report]]; a degenerate all-zero
    * vector encodes to all-zero codes. One map-side pass, zero
    * shuffles.
    */
  def sq8Encode(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    quantized(df, col(idCol).as("nid"), vecCol)
      .select(col("nid"),
        transform(col("_q"), x => when(col("max_abs_q") === 0L, lit(0L))
          .otherwise(F.floorDiv(x * 127L, col("max_abs_q")))).as("codes"),
        col("max_abs_q"), normX1e3)

  /** SQ8 asymmetric search — the consumer of [[sq8Encode]]'s codes (the
    * q22/q32/q65 mold): the corpus side never touches a float — the
    * integer dot product Σ qq_i·code_i of the EXACT milli-unit query
    * against the int8 codes ranks candidates (score =
    * floor(dot·max_abs_q·10⁴ / norm), all BIGINT — ADC against a
    * scalar-quantized corpus), then the top-`rerank` shortlist alone
    * re-ranks with true-vector cosine (|q|·rerank float ops total, the
    * standard recall buy-back).
    *
    * Scale shape: queries broadcast in milli-units; the corpus scan is
    * one distributed pass over the 4×-smaller code rows, zero
    * corpus-side shuffle before the bounded per-query window. Zero
    * vectors (norm 0) score 0 — ranked last, never divided by.
    * Output: (qid, nid, rnk), BruteForce-comparable.
    */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, k: Int,
      rerank: Int = 0, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    sq8Rank(sq8Encode(corpus, idCol, vecCol)
      .crossJoin(sq8Queries(queries, idCol, vecCol)),
      corpus, queries, k, rerank, idCol, vecCol)

  /** The broadcast milli-unit query table (qid, q_m) SQ8 scoring reads. */
  private[ann] def sq8Queries(queries: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    broadcast(queries.select(col(idCol).as("qid"),
      milli(col(vecCol)).as("q_m")))

  /** The SQ8 integer-ADC scorer shared by [[sq8TopK]] (candidates = every
    * code row × every query) and [[IvfSqAnn.searchIndex]] (candidates =
    * the probed cells' code rows × their queries): score each
    * ([[sq8Encode]] row, q_m) candidate, then shortlist and optionally
    * re-rank ([[SearchTail.shortlist]]).
    */
  private[ann] def sq8Rank(cands: DataFrame, corpus: DataFrame,
      queries: DataFrame, k: Int, rerank: Int, idCol: String,
      vecCol: String): DataFrame = {
    val dot = aggregate(
      zip_with(col("codes"), col("q_m"), (c, q) => c * q),
      lit(0L), (a, x) => a + x)
    SearchTail.shortlist(cands
      .where(col("qid") =!= col("nid"))
      .withColumn("score", F.floorDiv(dot * col("max_abs_q") * 10000L,
        greatest(col("norm_x1e3"), lit(1L)))),
      col("score").desc, k, rerank, corpus, queries, idCol, vecCol)
  }
}
