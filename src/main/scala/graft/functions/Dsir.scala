package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
  * public): score every raw-crawl document by how much more likely its
  * hashed n-gram features are under a TARGET distribution (the curated
  * domain you want more of) than under the RAW distribution (the crawl
  * you are selecting from), then keep the highest-importance slice. The
  * published recipe: hashed unigram+bigram features, bag-of-buckets
  * language models on both corpora, importance weight
  * log p_target(d) − log p_raw(d), Gumbel-top-k resample.
  *
  * Engine deviations, both deliberate and documented:
  *
  *  - '''Selection is deterministic top-k''' on the length-normalized
  *    per-feature score (ties by doc_id), not Gumbel-noised: a
  *    deterministic engine emits the ranked selection and leaves
  *    temperature noise to orchestration (the q41/q57 posture — sampling
  *    that must replay is hash-arithmetic, never RNG). Length
  *    normalization is the CCNet-style guard against the raw sum
  *    favoring long documents; the raw sum is emitted alongside.
  *  - '''Bucket models are add-one smoothed over the bucket domain''' —
  *    with feature hashing the domain is the FIXED `buckets` array, so
  *    smoothing needs no vocabulary census and no weight can ever be
  *    ±∞ (unlike q120's class priors, there is no empty-class failure
  *    mode: an empty corpus just yields the uniform model).
  *
  * Determinism: each bucket's two log-likelihoods quantize to
  * DECIMAL(18,9) BEFORE the subtraction and the document sum (the
  * q58/q114/q120 discipline) — document scores are exact decimals an
  * external engine reproduces bit-for-bit.
  *
  * Scale shape: the feature stream is one map-side kernel pass
  * ([[Hashing.dsirBuckets]] — token hashing and the wrapping bigram
  * combine live in the kernel, outside ANSI arithmetic); each corpus
  * model is a groupBy onto AT MOST `buckets` rows, so the joined
  * (bucket, w) model is plan-literal-small and ALWAYS broadcast — the
  * scored corpus never shuffles for the model lookup, only for the
  * per-document sum. The selection rank is the shared distributed
  * build [[graft.etl.Prefix]] over (−score, doc_id): range-partitioned,
  * ranked within each partition, offsets broadcast back — no window
  * without a partition spec, however continuous the score.
  */
object Dsir {

  private val Dec = DecimalType(18, 9)

  /** Score `docs` by target-vs-raw hashed-bigram importance and mark the
    * top `selectPerMille`/1000 by (avg_x1000 DESC, doc_id). Output:
    * doc_id, n_feats, logratio_x1000 (floor of 1000·Σw), avg_x1000
    * (floor of 1000·Σw/n_feats), dsir_rank, selected.
    */
  def select(target: DataFrame, raw: DataFrame, docs: DataFrame,
      idCol: String, textCol: String, buckets: Int = 1024,
      selectPerMille: Int = 250): DataFrame = {
    require(selectPerMille >= 0 && selectPerMille <= 1000,
      s"selectPerMille must be in [0,1000], got $selectPerMille")
    // rank by (avg_x1000 DESC, doc_id): ascending on the negated score
    val r = graft.etl.Prefix.withRankPrefixTotals(
      scored(target, raw, docs, idCol, textCol, buckets)
        .withColumn("_neg_avg", -col("avg_x1000")),
      Seq("_neg_avg", "doc_id"), Nil)
    r.df.select(col("doc_id"), col("n_feats"), col("logratio_x1000"),
      col("avg_x1000"), col("idx").as("dsir_rank"),
      (col("idx") * 1000 <= lit(r.totalCount) * selectPerMille)
        .as("selected"))
  }

  /** The per-document scores before the selection rank: doc_id,
    * n_feats, logratio_x1000, avg_x1000. Split out so PlanSpec can see
    * the model broadcast, which the rank build otherwise runs inside its
    * input snapshot.
    */
  private[graft] def scored(target: DataFrame, raw: DataFrame,
      docs: DataFrame, idCol: String, textCol: String,
      buckets: Int): DataFrame = {
    def feats(df: DataFrame): DataFrame =
      df.select(col(idCol).as("doc_id"),
        explode(F.dsirBuckets(F.tokensLower(col(textCol)), buckets))
          .as("b"))

    // both corpus models in ONE counting pass (the q120 union+flag
    // shape): a single groupBy onto ≤ `buckets` rows — no count-frame
    // join at all. A bucket seen by neither corpus is absent here and
    // covered by the w0 constant below.
    val train = feats(target).withColumn("y", lit(1L))
      .unionByName(feats(raw).withColumn("y", lit(0L)))
    val model = train.groupBy(col("b"))
      .agg(sum(col("y")).as("cp"), sum(lit(1L) - col("y")).as("cq"))
    val totals = model.agg(
      coalesce(sum(col("cp")), lit(0L)).as("np"),
      coalesce(sum(col("cq")), lit(0L)).as("nq"))
    val weighted = model.crossJoin(broadcast(totals))
      .select(col("b"),
        (log((col("cp") + 1).cast("double") /
            (col("np") + buckets).cast("double")).cast(Dec)
          - log((col("cq") + 1).cast("double") /
            (col("nq") + buckets).cast("double")).cast(Dec)).as("w"))
    // a bucket unseen by BOTH corpora still carries the smoothed
    // constant for a scored doc that hits it (q120's unseen-token
    // posture: LEFT join + coalesce, never a dropped feature)
    val w0 = totals.select(
      (log(lit(1.0) / (col("np") + buckets).cast("double")).cast(Dec)
        - log(lit(1.0) / (col("nq") + buckets).cast("double")).cast(Dec))
        .as("w0"))

    feats(docs)
      .join(broadcast(weighted), Seq("b"), "left")
      .crossJoin(broadcast(w0))
      .withColumn("w", coalesce(col("w"), col("w0")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"), sum(col("w")).as("sum_w"))
      .select(col("doc_id"), col("n_feats"),
        floor(col("sum_w") * 1000).cast("long").as("logratio_x1000"))
      // floor(1000·Σw/n) = floor(floor(1000·Σw)/n) for integer n>0, so
      // the normalization is exact BIGINT floor division (a rounded
      // decimal quotient near an integer can floor differently across
      // engines)
      .withColumn("avg_x1000",
        F.floorDiv(col("logratio_x1000"), col("n_feats")))
  }
}
