package graft.ann

import graft.etl.{Ranking, Rounds, Store}
import graft.functions.F
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Approximate-nearest-neighbor search over an embedding column.
  * Baseline: brute-force cosine top-k with the query set broadcast (the
  * corpus scan stays fully distributed; result size is bounded at q×k).
  * Scale path: banded random-hyperplane LSH restricts each query to the
  * union of its bucket neighborhoods across `tables` independent codes,
  * cutting the scanned corpus by ~2^planes per table while the OR across
  * tables keeps recall high.
  */
object BruteForce {

  /** Exact cosine top-k: broadcast the (small) query set against the corpus,
    * rank per query with a deterministic tie-break on the neighbor id.
    * Output: qid, nid, rnk — rank-only, so results are stable across engines
    * and float-summation orders.
    */
  def topK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(
      queries.select(col(idCol).as("qid"), col(vecCol).as("q_vec")))
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("n_vec"))
    SearchTail.exactTopK(c.crossJoin(q).where(col("qid") =!= col("nid")), k)
  }
}

object LshAnn {

  /** Banded-LSH ANN: queries and corpus are coded with the same `tables` ×
    * `planes` deterministic hyperplane scheme; a corpus vector is a
    * candidate for a query iff they share ANY table's code. The broadcast
    * query side keeps the corpus scan shuffle-free; candidate dedup
    * aggregates narrow (qid, nid, cos) rows before the per-query ranking.
    * Recall < 1.0 by construction; `tables` amplifies it toward 1.
    */
  def topK(corpus: DataFrame, queries: DataFrame, k: Int, planes: Int = 8,
      tables: Int = 16, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    def coded(df: DataFrame, id: String, vec: String) =
      df.select(col(idCol).as(id), col(vecCol).as(vec),
        posexplode(F.hyperplaneCodes(col(vecCol), planes, tables))
          .as(Seq("table", "code")))
    val q = broadcast(coded(queries, "qid", "q_vec"))
    val c = coded(corpus, "nid", "n_vec")
    Ranking.topKPerGroup(c.join(q, Seq("table", "code"))
        .where(col("qid") =!= col("nid"))
        .withColumn("cos", F.cosine(col("q_vec"), col("n_vec")))
        .groupBy(col("qid"), col("nid"))
        .agg(max(col("cos")).as("cos")),
      "qid", col("cos").desc, col("nid"), k)
      .select("qid", "nid", "rnk")
  }

  /** Per-query recall of an approximate top-k against the exact top-k:
    * |approx ∩ exact| * 100 / k. Both inputs are (qid, nid, rnk) frames as
    * produced by [[topK]] / [[BruteForce.topK]]. The exact side drives the
    * count so queries the approximate side missed entirely still report 0.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame =
    exact.select("qid", "nid")
      .join(approx.select(col("qid"), col("nid"), lit(1L).as("hit")),
        Seq("qid", "nid"), "left")
      .groupBy(col("qid"))
      .agg((sum(coalesce(col("hit"), lit(0L))) * 100 / k).cast("long")
        .as("recall_pct"))
}

/** IVF (inverted-file) ANN — the other classical scale path besides LSH:
  * partition the corpus into `nCentroids` Voronoi cells, search only the
  * `nProbe` cells nearest each query. Centroids are a DETERMINISTIC
  * hash-sample of the corpus itself (the k vectors with the smallest
  * mixed id hash) — no iterative k-means state on the driver, no RNG.
  *
  * Scale shape: centroids broadcast (k × dim floats); cell assignment is
  * one map-side pass + a narrow (id, cell) shuffle; the probe join keys
  * corpus cells against a broadcast (query × probe-cell) set, so the
  * corpus never reshuffles per query. Search cost drops by
  * ~nCentroids/nProbe vs brute force.
  */
object IvfAnn {

  /** Deterministic centroid sample: the nCentroids corpus vectors with the
    * smallest mixed id hash.
    */
  def centroids(corpus: DataFrame, nCentroids: Int, idCol: String,
      vecCol: String): DataFrame =
    corpus.select(col(idCol).as("cid"), col(vecCol).as("c_vec"))
      .withColumn("_r", F.hash64(col("cid").cast("string")))
      .orderBy(col("_r")).limit(nCentroids).drop("_r")

  /** Nearest centroid per corpus vector: (nid, m = struct(cos, cid)) —
    * map-side partial max(struct), only narrow rows shuffle.
    */
  private def nearestCell(corpus: DataFrame, cents: DataFrame,
      idCol: String, vecCol: String): DataFrame =
    corpus.select(col(idCol).as("nid"), col(vecCol).as("n_vec"))
      .crossJoin(broadcast(cents))
      .groupBy(col("nid"))
      .agg(SearchTail.nearest("n_vec", "c_vec", "cid").as("m"))

  /** Nearest-centroid cell per corpus vector: (nid, n_vec, cell). */
  private[ann] def assign(corpus: DataFrame, cents: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    corpus
      .select(col(idCol).as("nid"), col(vecCol).as("n_vec"))
      .join(nearestCell(corpus, cents, idCol, vecCol)
        .select(col("nid"), col("m.cid").as("cell")), "nid")

  /** nProbe nearest cells per query — the query set is small by contract,
    * result broadcast.
    */
  private def probes(queries: DataFrame, cents: DataFrame, nProbe: Int,
      idCol: String, vecCol: String): DataFrame =
    Ranking.topKPerGroup(
      queries.select(col(idCol).as("qid"), col(vecCol).as("q_vec"))
        .crossJoin(broadcast(cents))
        .select(col("qid"), col("q_vec"), col("cid").as("cell"),
          F.cosine(col("q_vec"), col("c_vec")).as("p_cos")),
      "qid", col("p_cos").desc, col("cell"), nProbe, "_pr")
      .select(col("qid"), col("q_vec"), col("cell"))

  /** A persisted index's probe set and the index rows it reaches. The
    * probe cells collect to the driver (bounded: |queries| × nProbe
    * ids) and become an `isin` partition filter, so the scan reads ONLY
    * the probed cell directories. Returns (probes (qid, q_vec, cell),
    * the pruned index).
    */
  private[ann] def probedIndex(spark: SparkSession, path: String,
      queries: DataFrame, nProbe: Int, idCol: String,
      vecCol: String): (DataFrame, DataFrame) = {
    val pr = probes(queries, spark.read.parquet(s"$path/centroids"),
      nProbe, idCol, vecCol)
    val cells = pr.select("cell").distinct().collect().map(_.getLong(0))
    (pr, spark.read.parquet(s"$path/index")
      .where(col("cell").isin(cells.toIndexedSeq: _*)))
  }

  def topK(corpus: DataFrame, queries: DataFrame, k: Int,
      nCentroids: Int = 64, nProbe: Int = 8, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val cents = centroids(corpus, nCentroids, idCol, vecCol)
    SearchTail.exactTopK(assign(corpus, cents, idCol, vecCol)
      .join(broadcast(probes(queries, cents, nProbe, idCol, vecCol)),
        Seq("cell"))
      .where(col("qid") =!= col("nid")), k)
  }

  /** Persist the IVF index: the assigned corpus lands `partitionBy(cell)`,
    * so the on-disk layout is ALIGNED with the probe pattern — a search
    * touching nProbe cells scans nProbe directories and Spark's partition
    * pruning skips the rest of the corpus entirely. Centroids (k×dim,
    * tiny) sit next to the index. Rebuild when the corpus drifts; the
    * build is one assignment pass.
    */
  def buildIndex(corpus: DataFrame, path: String, nCentroids: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val cents = centroids(corpus, nCentroids, idCol, vecCol)
    cents.write.mode("overwrite").parquet(s"$path/centroids")
    assign(corpus, cents, idCol, vecCol)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/index")
  }

  /** Drift audit over a persisted index — the rebuild-when gauge for
    * the vector side (the [[graft.dedup.MinHashDedup.indexManifest]]
    * posture applied to ANN): assign the CURRENT corpus to the
    * centroids frozen at build time and report, per cell, how many
    * vectors still land there and how well they fit (mean member→
    * centroid cosine). A corpus that drifted since the build shows
    * falling means and emptying cells; `is_stale` trips below
    * `staleBelowX1e9` (cosine × 10⁹) or on an emptied cell.
    *
    * Determinism: per-vector cosines quantize to DECIMAL(18,9) ×10⁹
    * BIGINT BEFORE the sum (merge-order-independent — the Perplexity
    * NLL trick) and the mean is the exact floor division. Scale shape:
    * centroids broadcast, one map-side assignment pass, one narrow
    * (cell, cos9) shuffle. Output: (cell, n_members, mean_cos_x1e9,
    * is_stale) for EVERY build-time cell.
    */
  def driftAudit(spark: SparkSession, path: String,
      corpus: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding",
      staleBelowX1e9: Long = 700000000L): DataFrame = {
    val cents = spark.read.parquet(s"$path/centroids")
    val assigned = nearestCell(corpus, cents, idCol, vecCol)
      .select(col("m.cid").as("cell"),
        (col("m.cos").cast(DecimalType(18, 9)) * 1000000000L).cast("long")
          .as("cos9"))
    val perCell = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"), sum(col("cos9")).as("sum9"))
    cents.select(col("cid").as("cell"))
      .join(perCell, Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("n_members"), lit(0L)).as("n_members"),
        when(col("n_members").isNull, lit(null).cast("long"))
          .otherwise(F.floorDiv(col("sum9"), col("n_members")))
          .as("mean_cos_x1e9"))
      .withColumn("is_stale", col("mean_cos_x1e9").isNull ||
        col("mean_cos_x1e9") < staleBelowX1e9)
  }

  /** Search a persisted index: exact cosine over the probed cells only
    * ([[probedIndex]]'s partition-pruned scan).
    */
  def searchIndex(spark: SparkSession, path: String,
      queries: DataFrame, k: Int, nProbe: Int = 8, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val (pr, idx) = probedIndex(spark, path, queries, nProbe, idCol, vecCol)
    SearchTail.exactTopK(idx.join(broadcast(pr), Seq("cell"))
      .where(col("qid") =!= col("nid")), k)
  }
}

/** Product quantization ANN (Jégou/Douze/Schmid 2011, public): vectors are
  * chopped into `m` subspaces, each subvector quantized to one of `ksub`
  * per-subspace centroids, so a d-dim float vector compresses to m small
  * codes (here 64 floats → 8 bytes at m=8/ksub=16 — a 32× memory cut).
  * Search runs Asymmetric Distance Computation: each query precomputes its
  * distance to every centroid of every subspace (m × ksub doubles), and a
  * corpus vector's approximate squared-L2 is the SUM of m table lookups —
  * no float-vector math touches the corpus at query time.
  *
  * Codebooks are a DETERMINISTIC per-subspace hash-sample of the corpus's
  * own subvectors (the same no-RNG/no-driver-state centroid rule IvfAnn
  * uses; a Lloyd refinement would need fp-order-stable means to keep the
  * engine's byte-identical-across-partitionings guarantee, so graft trades
  * a few recall points for exact reproducibility and documents it).
  *
  * Scale shape: codebook build ranks a NARROW (id, sub, hash) frame (the
  * vectors join back only for the m × ksub winners); encode joins the
  * broadcast codebook and reduces map-side to one code per (vector,
  * subspace); search joins corpus codes against a BROADCAST per-query
  * distance table on (sub, code) — the corpus never reshuffles per query.
  * ADC partial distances are quantized to DECIMAL(18,9) before the sum so
  * ranking is merge-order-independent (the Perplexity NLL trick).
  *
  * The corpus vectors here are unit-norm, so squared L2 = 2 - 2·cosine and
  * PQ's L2 ranking is directly comparable to the cosine exact baseline.
  */
object PqAnn {

  /** Exploded (id, sub, n_sub) subvector frame — built ONCE per search and
    * persisted; codebook build, every Lloyd iteration, and encode all read
    * it (recomputing the explode+slice per pass dominated the PQ runtime).
    */
  private def subvectors(df: DataFrame, m: Int, subDim: Int, idOut: String,
      idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as(idOut), col(vecCol).as("_v"))
      .select(col(idOut),
        explode(sequence(lit(0), lit(m - 1))).as("sub"), col("_v"))
      .withColumn("n_sub",
        slice(col("_v"), col("sub") * subDim + 1, lit(subDim)))
      .select(idOut, "sub", "n_sub")

  /** Initial codebook from the subvector frame: per subspace, the ksub
    * donors with the smallest (id, sub)-mixed hash. The rank runs on a
    * NARROW (id, sub, hash) projection; subvectors join back for the
    * m x ksub winners only.
    */
  private def codebookFromSubs(subs: DataFrame, ksub: Int): DataFrame = {
    val hashed = subs.select(col("nid"), col("sub"))
      .withColumn("_r", F.murmur64(col("nid").cast("long") * 31 + col("sub")))
    val winners = Ranking.topKPerGroup(hashed, "sub", col("_r"), col("nid"),
        ksub)
      .select(col("nid"), col("sub"), (col("rnk") - 1).cast("int").as("code"))
    winners.join(subs, Seq("nid", "sub"))
      .select(col("sub"), col("code"), col("n_sub").as("c_sub"))
  }

  /** Nearest-centroid assignment: deterministic (dist, code) tie-break,
    * map-side partial min_by.
    */
  private def assign(subs: DataFrame, cb: DataFrame): DataFrame =
    subs.join(broadcast(cb), "sub")
      .groupBy(col("nid"), col("sub"))
      .agg(min_by(col("code"),
        struct(F.l2sq(col("n_sub"), col("c_sub")).as("d"),
          col("code").as("c"))).as("code"))

  /** One exact-decimal Lloyd update (also [[graft.dedup.SemDedup.refine]]'s):
    * each centroid of `cents` (keys…, centCol) moves to the per-dimension
    * mean of its `members` (keys…, vecCol), accumulated in DECIMAL(27,9)
    * and cast back to float — BYTE-IDENTICAL across partitionings (a
    * double mean is merge-order-dependent). Memberless centroids stay.
    */
  private[graft] def lloydUpdate(cents: DataFrame, members: DataFrame,
      keys: Seq[String], vecCol: String, centCol: String): DataFrame = {
    val k = keys.map(col)
    val means = members
      .select(k :+ posexplode(col(vecCol)).as(Seq("di", "x")): _*)
      .groupBy(k :+ col("di"): _*)
      .agg((sum(col("x").cast(DecimalType(27, 9))) / count(lit(1)))
        .cast("float").as("cx"))
      .groupBy(k: _*)
      .agg(transform(array_sort(collect_list(struct(col("di"), col("cx")))),
        s => s.getField("cx")).as("_mean"))
    cents.join(means, keys, "left")
      .select(k :+ coalesce(col("_mean"), col(centCol)).as(centCol): _*)
  }

  /** Deterministic Lloyd refinement: assign every subvector to its nearest
    * centroid and move each centroid to its members' mean
    * ([[lloydUpdate]]), for `iters` [[graft.etl.Rounds]] rounds.
    */
  private def refineFromSubs(subs: DataFrame, cb0: DataFrame,
      iters: Int): DataFrame =
    Rounds.run(cb0, iters) { (cb, _) =>
      lloydUpdate(cb, subs.join(assign(subs, cb), Seq("nid", "sub")),
        Seq("sub", "code"), "n_sub", "c_sub")
    }.last

  /** Public codebook surface (unpersisted one-shot build). */
  def codebook(corpus: DataFrame, m: Int, ksub: Int, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    codebookFromSubs(subvectors(corpus, m, dim / m, "nid", idCol, vecCol), ksub)
  }

  /** PQ codes per corpus vector: (nid, sub, code). */
  def encode(corpus: DataFrame, cb: DataFrame, m: Int, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    assign(subvectors(corpus, m, dim / m, "nid", idCol, vecCol), cb)

  /** Train the PQ index: (codebook, codes), both eagerly stored as
    * snapshots so repeated searches reuse them without replanning,
    * and the wide exploded subvector frame is RELEASED before returning —
    * without that every build leaked a persisted corpus-sized frame into
    * the block manager (measured as a whole-bench slowdown). Like
    * [[IvfAnn.buildIndex]] and [[graft.functions.Bpe.train]], training is
    * the one-time step; [[search]] is the per-query-batch step.
    */
  def train(corpus: DataFrame, m: Int = 8, ksub: Int = 16, dim: Int = 64,
      lloydIters: Int = 2, idCol: String = "vec_id",
      vecCol: String = "embedding"): (DataFrame, DataFrame) =
      Store.scoped { st =>
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val subs = st.cache(subvectors(corpus, m, dim / m, "nid", idCol, vecCol))
    val cb0 = codebookFromSubs(subs, ksub)
    val cb = if (lloydIters > 0) refineFromSubs(subs, cb0, lloydIters)
      else Store.snapshot(cb0)
    (cb, Store.snapshot(assign(subs, cb)))
  }

  /** ADC top-k over a trained index: corpus codes ⋈ broadcast per-query
    * centroid-distance table on (sub, code); approximate distance =
    * exact decimal sum of the m partial squared-L2s; rank ascending with
    * nid tie-break. With `rerank` > 0 the compressed scan only
    * SHORTLISTS (top `rerank` per query) and re-ranks by exact cosine
    * ([[SearchTail.shortlist]]); `corpus` is only touched then.
    */
  def search(cb: DataFrame, codes: DataFrame, corpus: DataFrame,
      queries: DataFrame, k: Int, m: Int = 8, dim: Int = 64,
      rerank: Int = 0, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val qd = subvectors(queries, m, dim / m, "qid", idCol, vecCol)
      .join(broadcast(cb), "sub")
      .select(col("qid"), col("sub"), col("code"),
        F.l2sq(col("n_sub"), col("c_sub")).cast(DecimalType(18, 9)).as("d"))
    SearchTail.shortlist(codes.join(broadcast(qd), Seq("sub", "code"))
        .groupBy(col("qid"), col("nid"))
        .agg(sum(col("d")).as("dist"))
        .where(col("qid") =!= col("nid")),
      col("dist"), k, rerank, corpus, queries, idCol, vecCol)
  }

  /** One-shot convenience: train + search. */
  def topK(corpus: DataFrame, queries: DataFrame, k: Int, m: Int = 8,
      ksub: Int = 16, dim: Int = 64, lloydIters: Int = 2, rerank: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (cb, codes) = train(corpus, m, ksub, dim, lloydIters, idCol, vecCol)
    search(cb, codes, corpus, queries, k, m, dim, rerank, idCol, vecCol)
  }
}

/** IVF + SQ8 — the composed production index (the "IVF-SQ" layout of
  * public ANN libraries): the corpus partitions into Voronoi cells
  * (IvfAnn's deterministic hash-sampled centroids) AND each vector is
  * stored as int8 SQ8 codes (VectorPrep's exact quantization), so a
  * search touches only nProbe cell directories (partition pruning) and
  * reads 4×-smaller rows inside them — the two classical scale levers
  * stacked. Scoring inside the probed cells is [[VectorPrep.sq8TopK]]'s
  * integer ADC ([[VectorPrep.sq8Rank]], the one SQ8 scorer); the
  * top-`rerank` shortlist re-ranks with true-vector cosine.
  *
  * Scale shape: build is one assignment pass + one encode pass, landed
  * `partitionBy(cell)`; search collects |queries|·nProbe cell ids
  * (bounded) into a partition filter, broadcasts the milli-unit query
  * table, and never shuffles the index.
  */
object IvfSqAnn {

  /** Persist the composed index: SQ8 rows partitioned by IVF cell,
    * centroids beside (the [[IvfAnn.buildIndex]] layout with encoded
    * payloads).
    */
  def buildIndex(corpus: DataFrame, path: String, nCentroids: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val cents = IvfAnn.centroids(corpus, nCentroids, idCol, vecCol)
    cents.write.mode("overwrite").parquet(s"$path/centroids")
    val cells = IvfAnn.assign(corpus, cents, idCol, vecCol)
      .select("nid", "cell")
    VectorPrep.sq8Encode(corpus, idCol, vecCol)
      .join(cells, "nid")
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/index")
  }

  /** Absorb new vectors into a persisted [[buildIndex]] index — the
    * daily-append step closing the ANN lifecycle (the
    * [[graft.dedup.MinHashDedup.absorbIndex]] posture applied to
    * vectors): assign the batch to the FROZEN build-time centroids
    * (broadcast, map-side), SQ8-encode, and APPEND into the existing
    * `partitionBy(cell)` layout. Existing cell directories gain one
    * file set; untouched cells are never rewritten and the index side
    * never exchanges — at 100 TB a day's batch costs one batch-sized
    * pass, not an index rewrite. Frozen centroids keep probe pruning
    * valid for every absorbed row; [[IvfAnn.driftAudit]] is the gauge
    * that says when freezing stopped being a good idea, and
    * [[maintainIndex]] the rebuild that answers it. The caller absorbs
    * each id at most once (the index is a set keyed by nid — the
    * absorbIndex contract).
    */
  def absorbVectors(spark: SparkSession, path: String,
      newVectors: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val cents = spark.read.parquet(s"$path/centroids")
    val cells = IvfAnn.assign(newVectors, cents, idCol, vecCol)
      .select("nid", "cell")
    VectorPrep.sq8Encode(newVectors, idCol, vecCol)
      .join(cells, "nid")
      .write.mode("append").partitionBy("cell").parquet(s"$path/index")
  }

  /** Audit-then-rebuild maintenance — the q149 gauge→compaction loop
    * applied to the vector index: run [[IvfAnn.driftAudit]] of the
    * CURRENT corpus against the frozen centroids; if any cell is stale
    * (emptied, or mean member→centroid cosine below the floor), retrain
    * centroids from the current corpus and rebuild the index in place.
    * Returns whether the rebuild fired. Idempotent: a healthy index is
    * never touched, and a rebuilt index re-audits healthy (the spec
    * pins both). Absorb daily, maintain on the audit's cadence.
    */
  def maintainIndex(spark: SparkSession, path: String,
      corpus: DataFrame, nCentroids: Int = 64,
      staleBelowX1e9: Long = 700000000L, idCol: String = "vec_id",
      vecCol: String = "embedding"): Boolean = {
    val stale = !IvfAnn.driftAudit(spark, path, corpus, idCol, vecCol,
      staleBelowX1e9).where(col("is_stale")).isEmpty
    if (stale) buildIndex(corpus, path, nCentroids, idCol, vecCol)
    stale
  }

  /** Search the persisted composed index. `corpus` is touched only for
    * the exact re-rank of the |queries|·rerank shortlist (rerank = 0
    * returns the raw integer-ADC ranking). Output: (qid, nid, rnk).
    */
  def searchIndex(spark: SparkSession, path: String,
      corpus: DataFrame, queries: DataFrame, k: Int, nProbe: Int = 8,
      rerank: Int = 0, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val (pr, idx) = IvfAnn.probedIndex(spark, path, queries, nProbe, idCol,
      vecCol)
    val prq = broadcast(pr.select("qid", "cell")
      .join(VectorPrep.sq8Queries(queries, idCol, vecCol), "qid"))
    VectorPrep.sq8Rank(idx.join(prq, Seq("cell")), corpus, queries, k,
      rerank, idCol, vecCol)
  }
}

/** Johnson-Lindenstrauss random-sign projection ANN — the cheapest of
  * the classical scale levers (alongside IVF's pruning and SQ8's row
  * shrink): project every embedding into `dims` exact-integer
  * components via a hash-DEFINED ±1 matrix (nothing trained, stored,
  * or broadcast — [[graft.functions.Hashing.jlProject]]), shortlist by
  * integer projected dot product, then exact-cosine re-rank of the
  * shortlist only.
  *
  * Scale shape: the projection is one map-side pass; the shortlist
  * crossJoin against the broadcast query set touches `dims` longs per
  * corpus row instead of the full float vector (64-dim floats → 16
  * longs is the same 4× row shrink as SQ8, with an integer dot that
  * needs dims multiplies instead of D float ops); only the
  * `shortlist` survivors per query ever load full vectors for the
  * re-rank. Projections are exact integers on milli-quantized
  * components, so ranking ties break identically on every engine and
  * partitioning — and the DuckDB oracle replays the whole search.
  */
object JlAnn {

  /** Approximate top-k: (qid, nid, rnk) — the [[BruteForce.topK]]
    * output shape, recall < 1 by construction ([[LshAnn.recallAtK]]
    * audits it against the exact ranking).
    */
  def topK(corpus: DataFrame, queries: DataFrame, k: Int, dims: Int = 16,
      shortlist: Int = 50, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("qid"),
      col(vecCol).as("q_vec"),
      F.jlProject(SearchTail.milli(col(vecCol)), dims).as("q_p")))
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("n_vec"),
      F.jlProject(SearchTail.milli(col(vecCol)), dims).as("n_p"))
    SearchTail.exactTopK(Ranking.topKPerGroup(c.crossJoin(q)
        .where(col("qid") =!= col("nid"))
        .withColumn("pdot",
          aggregate(zip_with(col("q_p"), col("n_p"), (a, b) => a * b),
            lit(0L), (acc, x) => acc + x)),
      "qid", col("pdot").desc, col("nid"), shortlist, "srnk"), k)
  }
}
