package graft.ann

import graft.etl.Ranking
import graft.functions.F
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The search tail every vector operator shares: how a component
  * quantizes, how a vector picks its nearest centroid, and how a
  * (qid, nid) candidate set becomes a per-query (qid, nid, rnk) top-k.
  * Ranks break ties on the smaller neighbor id, so results are stable
  * across engines and partitionings.
  */
private[graft] object SearchTail {

  /** Milli-unit components, floor(1000·x) as BIGINT: float→double
    * widening is exact and IEEE multiply/floor agree across engines, so
    * everything downstream is exact integer arithmetic.
    */
  def milli(vec: Column): Column =
    transform(vec, x => floor(x.cast("double") * 1000).cast("long"))

  /** Nearest-centroid argmax as an aggregate over (vector × centroid)
    * rows: the max (cos, id) struct, so equal cosines pick the larger
    * id on every engine. Read `.cos` and `.<id>` off the result.
    */
  def nearest(vec: String, cent: String, id: String): Column =
    max(struct(F.cosine(col(vec), col(cent)).as("cos"), col(id).as(id)))

  /** Exact-cosine top-k of candidate rows carrying (qid, q_vec, nid,
    * n_vec). Output: (qid, nid, rnk).
    */
  def exactTopK(cands: DataFrame, k: Int): DataFrame =
    Ranking.topKPerGroup(
      cands.withColumn("cos", F.cosine(col("q_vec"), col("n_vec"))),
      "qid", col("cos").desc, col("nid"), k)
      .select("qid", "nid", "rnk")

  /** Approximate ranking with an optional exact re-rank: rank the
    * (qid, nid) candidates by `order` down to max(rerank, k) per query.
    * With `rerank` <= 0 that ranking is the answer. Otherwise only the
    * shortlist rows join back to their true vectors (|queries|·rerank
    * of them) and re-rank by exact cosine: the standard buy-back of
    * quantization-error recall for one narrow id-keyed join. `corpus`
    * is read only then. Output: (qid, nid, rnk).
    */
  def shortlist(cands: DataFrame, order: Column, k: Int, rerank: Int,
      corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val short = Ranking.topKPerGroup(cands, "qid", order, col("nid"),
      math.max(rerank, k))
    if (rerank <= 0) short.select("qid", "nid", "rnk")
    else exactTopK(short.select("qid", "nid")
      .join(corpus.select(col(idCol).as("nid"), col(vecCol).as("n_vec")),
        "nid")
      .join(broadcast(queries
        .select(col(idCol).as("qid"), col(vecCol).as("q_vec"))), "qid"), k)
  }
}
