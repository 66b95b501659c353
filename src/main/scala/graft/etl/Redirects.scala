package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Redirect-chain resolution — the frontier step between fetching and
  * canonical URL identity: ~10% of real-crawl captures answer 3xx (RFC
  * 9110 §15.4), and a frontier that stores redirect SOURCES re-fetches
  * hops forever while one that follows chains eagerly must bound loops
  * (`a → b → a` is common misconfiguration) and hop counts (browsers cap
  * around 20). Input is the edge set a crawl's 3xx captures yield —
  * (source URL, Location) — possibly with REPEATED sources: a real
  * frontier captures one URL more than once (re-crawl, mirror archives,
  * a site changing its redirect target between visits), and a
  * non-functional edge set would multiply rows through EVERY doubling
  * join below. A deterministic winner per source is therefore selected
  * first: the edge with the greatest `preferCol` value (pass the
  * capture timestamp — the newest observation is the live redirect),
  * ties and the no-`preferCol` case broken by the smallest target, so
  * replays are byte-stable regardless of input order. Output maps EVERY
  * distinct source to its final target.
  *
  * Algorithm: PATH DOUBLING — `k` self-joins resolve `2^k` hops
  * (`f ∘ f` each round on the partial function; a row whose target has
  * no outgoing edge carries forward unchanged), so the default 8-hop
  * bound costs THREE joins, not eight iterations, each a stored
  * [[Rounds]] round (a lazy self-join plan would double per round). A
  * source is `resolved` iff its final target is not itself a redirect
  * source — anything still redirecting after `≥ maxHops` hops is a loop
  * or an over-limit chain, reported unresolved with a NULL hop count (a
  * hop count along an unterminated walk is meaningless).
  *
  * Scale shape: the winner selection is ONE narrow shuffle keyed by
  * source (a per-key top-1 window — map-side group-limit pushdown keeps
  * the sort partial), and every doubling join is on narrow
  * (url, url, hops) rows keyed by URL; log₂(maxHops) shuffle rounds
  * total, each a plain equi-join AQE can re-plan (a viral consent-page
  * target skews one key — narrow rows + AQE skew split keep it
  * bounded). No iteration-to-fixpoint: the round count is fixed by
  * `maxHops` alone.
  */
object Redirects {

  /** Resolve every redirect source to its final target. Output:
    * `src`, `final_url`, `hops` (NULL when unresolved), `resolved` —
    * one row per DISTINCT source. `preferCol` (e.g. the capture
    * timestamp) picks the winning edge of a multiply-captured source:
    * greatest value first, NULLs last, ties by smallest target.
    */
  def resolve(edges: DataFrame, srcCol: String, dstCol: String,
      maxHops: Int = 8, preferCol: Option[String] = None): DataFrame = {
    require(maxHops >= 1 && maxHops <= 1024,
      s"maxHops must be in [1, 1024], got $maxHops")
    val rounds = math.max(1,
      math.ceil(math.log(maxHops.toDouble) / math.log(2.0)).toInt)

    // duplicate-source winner: newest capture, then smallest target
    val order = preferCol.map(p => Seq(col(p).desc_nulls_last))
      .getOrElse(Nil) :+ col(dstCol).asc
    val w = Window.partitionBy(col(srcCol)).orderBy(order: _*)
    val functional = edges
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)

    val f = Rounds.run(functional.select(col(srcCol).as("src"),
        col(dstCol).as("dst"), lit(1L).as("hops")), rounds) { (f, _) =>
      val g = f.select(col("src").as("g_src"), col("dst").as("g_dst"),
        col("hops").as("g_hops"))
      f.join(g, col("dst") === col("g_src"), "left")
        .select(col("src"),
          coalesce(col("g_dst"), col("dst")).as("dst"),
          (col("hops") + coalesce(col("g_hops"), lit(0L))).as("hops"))
    }.last
    val stillRedirecting = edges
      .select(col(srcCol).as("dst")).distinct()
      .withColumn("still", lit(true))
    f.join(stillRedirecting, Seq("dst"), "left")
      .select(col("src"), col("dst").as("final_url"),
        when(col("still").isNull, col("hops")).as("hops"),
        col("still").isNull.as("resolved"))
  }
}
