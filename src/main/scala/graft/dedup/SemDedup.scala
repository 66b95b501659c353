package graft.dedup

import graft.ann.{PqAnn, SearchTail}
import graft.etl.{Rounds, Store}
import graft.functions.F
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023, arXiv
  * 2303.09540 — public): where q20's lexical near-dup finds byte-similar
  * documents, this finds MEANING-similar ones — k-means-cluster the
  * embedding space, then inside each cluster drop every vector that has a
  * smaller-id neighbor above the cosine threshold (the public SemDeDup
  * keep-lowest-index policy; the lowest id of every duplicate group always
  * survives, and no cross-cluster pair is ever compared — that is the
  * algorithm's contract, not an approximation we add).
  *
  * Scale shape: centroids ship as a plan literal (k × dim floats — the
  * same bound a broadcast would carry). Assignment is ONE map-side
  * argmax pass over the corpus inside whole-stage codegen — zero
  * assignment shuffles; the corpus shuffles once, on the narrow cell
  * key. The pair stage joins the cluster to itself on `cell` only, so its
  * cost is Σ|cell|² — the paper's own knob: k grows with N so the mean
  * cell size stays constant (k ≈ N/1000 at the 100 TB design point), and
  * the id-ordered drop rule needs NO connected-components iteration (one
  * join, one distinct — compare q37's loop). Dropped ids reduce map-side
  * via distinct before the final flag join.
  *
  * Assignment cost is n·k cosines under the brute-force pass; with
  * k ∝ √n both stages stay sub-quadratic (the bench setting). At the
  * 100 TB point where k must scale linearly with N, pass `probe > 0`
  * to route assignment through the TWO-LEVEL coarse quantizer
  * ([[assignProbed]]): vectors go to their best `probe` of ⌈√k⌉
  * super-cells first (the super-centroids are the same deterministic
  * k-means run over the centroids themselves), then exhaustively to
  * the centroids living in those super-cells — exactly the IvfAnn
  * probe shape, n·(√k + probe·k/√k) cosines instead of n·k, without
  * touching the pair stage or the drop policy. Probing every
  * super-cell (probe ≥ ⌈√k⌉) degenerates to the exact flat argmax —
  * Round7Spec asserts byte-identity of the kept set on that path.
  *
  * Determinism: centroid INIT is the k corpus vectors with the smallest
  * mixed id hash (the IvfAnn.centroids rule — no RNG, no driver state);
  * Lloyd refinement accumulates per-dimension means in DECIMAL(27,9) —
  * exact, associative — then divides and casts back to float (the
  * PqAnn.lloydUpdate rule on full vectors), so the trained centroids,
  * the assignment, and therefore the kept set are BYTE-IDENTICAL across
  * partitionings and core counts (Round6Spec asserts it). Cells that lose
  * every member keep their previous centroid.
  */
object SemDedup {

  /** Deterministic k-means centroids: hash-sample init + `iters` exact-
    * decimal Lloyd refinements. Output: (cid, c_vec).
    */
  def centroids(corpus: DataFrame, k: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      probe: Int = 0): DataFrame = {
    val init = corpus
      .select(col(idCol).cast("long").as("cid"), col(vecCol).as("c_vec"))
      .withColumn("_r", F.hash64(col("cid").cast("string")))
      // cid tie-break: a 64-bit hash collision between two ids must not
      // make the seed selection partitioning-dependent
      .orderBy(col("_r"), col("cid")).limit(k).drop("_r")
    refine(corpus, init, iters, idCol, vecCol, probe)
  }

  /** `iters` exact-decimal Lloyd refinements of a CALLER-SUPPLIED
    * (cid, c_vec) codebook — the training loop factored out of
    * [[centroids]] so a fixed/external init is refinable in isolation
    * (the q84c oracle replays one iteration of exactly this). Each
    * iteration is one [[graft.etl.Rounds]] round of the exact-decimal
    * update [[graft.ann.PqAnn.lloydUpdate]] — byte-identical across
    * partitionings; cells that lose every member keep their previous
    * centroid.
    */
  def refine(corpus: DataFrame, init: DataFrame, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      probe: Int = 0): DataFrame =
    Rounds.run(init, iters) { (cents, _) =>
      PqAnn.lloydUpdate(cents,
        assignBest(corpus, cents, idCol, vecCol, probe)
          .select(col("cell").as("cid"), col("n_vec")),
        Seq("cid"), "n_vec", "c_vec")
    }.last

  /** Assignment dispatch: `probe == 0` → exact flat argmax ([[assign]]);
    * `probe > 0` → two-level coarse quantizer ([[assignProbed]]). Both
    * return (nid, cell, n_vec) with the same (cos, cid) tie-break.
    */
  private def assignBest(corpus: DataFrame, cents: DataFrame, idCol: String,
      vecCol: String, probe: Int): DataFrame =
    if (probe <= 0) assign(corpus, cents, idCol, vecCol)
    else assignProbed(corpus, cents, idCol, vecCol, probe)

  /** Nearest-centroid cell per vector as a PURE MAP-SIDE argmax over the
    * codebook shipped as a plan literal — deterministic (cos, cid)
    * tie-break via struct array_max. Output: (nid, cell, n_vec).
    *
    * Why not crossJoin(broadcast(cents)) + groupBy(nid).agg(max(struct))
    * (the shape this replaced): max over a STRUCT buffer can't run in
    * HashAggregate, and ObjectHashAggregate falls back to SORT-BASED
    * past its per-partition key threshold — so the n·k exploded rows
    * (each dragging the 64-float vector) were being SORTED, measured as
    * a disk-filling 50+ GB UnsafeExternalSorter spill at the r12 100×
    * probe (200k vectors × 5.4k centroids). The literal codebook is the
    * SAME k-row bound the broadcast already shipped (the assignProbed
    * super-cell precedent); the argmax now runs inside whole-stage
    * codegen with zero joins, zero aggregates, zero shuffle.
    */
  private def assign(corpus: DataFrame, cents: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    // BOUNDED collect: cents is the k-row codebook the old path already
    // materialized into a broadcast relation. Select by NAME first — a
    // caller-supplied frame in (c_vec, cid) order must not silently read
    // the wrong columns — and refuse an empty codebook outright: an empty
    // literal would make array_max NULL and propagate NULL cells into
    // every downstream join instead of failing here (ADVICE r12).
    val centLit: Seq[(Long, Seq[Float])] = cents
      .select(col("cid").cast("long"), col("c_vec")).collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Float](1).toIndexedSeq: Seq[Float]))
      .sortBy(_._1)
    require(centLit.nonEmpty,
      "SemDedup: empty centroid set — assignment has no codebook")
    val scored = transform(typedLit(centLit), c =>
      struct(F.cosine(col("n_vec"), c.getField("_2")).as("cos"),
        c.getField("_1").as("cid")))
    corpus
      .select(col(idCol).cast("long").as("nid"), col(vecCol).as("n_vec"))
      .withColumn("m", array_max(scored))
      .select(col("nid"), col("m.cid").as("cell"), col("n_vec"))
  }

  /** Two-level coarse-quantized assignment (the IvfAnn probe shape, for
    * the paper's k ∝ N regime where the flat n·k pass stops being
    * sub-quadratic):
    *
    *  1. take ⌈√k⌉ SUPER-centroids as the deterministic hash-slice of
    *     the centroids themselves (the centroid-init seed rule — no
    *     nested Lloyd: routing precision comes from the exhaustive
    *     argmax within the probed cells, and a refinement loop here
    *     would re-train once per OUTER Lloyd iteration for little
    *     recall gain), so the whole path stays RNG-free;
    *  2. map each centroid to its super-cell by exact flat argmax
    *     (k·√k cosines — broadcast-tiny);
    *  3. per corpus vector, rank the super-cells by cosine and keep
    *     the best `probe` of them — a PURE MAP-SIDE projection
    *     against a driver-collected super-centroid literal (bounded:
    *     ⌈√k⌉ rows, strictly smaller than the k-row codebook the flat
    *     path already broadcasts — the IvfAnn.searchIndex probe-cell
    *     precedent), struct-sorted on (cos, scid) — the flat tie-break,
    *     so probe ≥ #super-cells reproduces the exact argmax
    *     bit-for-bit;
    *  4. exhaustive argmax over only the centroids in the probed
    *     super-cells (broadcast join + the SAME single groupBy the flat
    *     path pays — the probed path adds map-side cosines, never a
    *     second n-row shuffle).
    *
    * Cost: n·(√k + probe·k̄) cosines where k̄ = mean centroids per
    * super-cell ≈ √k — i.e. n·√k·(1+probe) vs the flat n·k. Output:
    * (nid, cell, n_vec).
    */
  private def assignProbed(corpus: DataFrame, cents: DataFrame,
      idCol: String, vecCol: String, probe: Int): DataFrame = {
    val k = cents.count() // bounded: cents is k rows, checkpointed lineage
    val k2 = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    val sup = cents
      .withColumn("_r", F.hash64(col("cid").cast("string")))
      .orderBy(col("_r"), col("cid")).limit(k2)
      .select(col("cid").as("scid"), col("c_vec").as("s_vec"))
    // centroid → super-cell (exact flat argmax; both sides tiny)
    val cmap = cents.crossJoin(broadcast(sup))
      .groupBy(col("cid"))
      .agg(SearchTail.nearest("c_vec", "s_vec", "scid").as("m"))
      .select(col("cid"), col("m.scid").as("scell"))
    val centsMapped = cents.join(cmap, "cid")
    // BOUNDED collect (⌈√k⌉ rows — no larger than the flat path's cents
    // broadcast): the super-centroids become a plan literal so the
    // per-vector super-cell ranking runs entirely map-side, with no
    // extra aggregation shuffle. The literal keeps ONLY super-cells that
    // actually own a centroid (a second bounded collect over cmap's
    // ≤ ⌈√k⌉ distinct scells): an exact-cosine-tie argument almost rules
    // empty super-cells out, but under double rounding a colinear-but-
    // distinct super-centroid pair can rank an EMPTY cell above its live
    // twin, and a small `probe` could then strand a vector with no
    // candidate centroids at all (silently absent from the disposition —
    // ADVICE r7). Filtering makes the candidate join provably total:
    // every probed cell is live, so every vector meets ≥ 1 centroid.
    val liveScells: Set[Long] = cmap.select(col("scell")).distinct()
      .collect().map(_.getLong(0)).toSet
    val supLit: Seq[(Long, Seq[Float])] = sup.collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Float](1).toIndexedSeq: Seq[Float]))
      .filter(s => liveScells.contains(s._1))
      .sortBy(_._1)
    require(supLit.nonEmpty,
      "SemDedup: empty centroid set — probed assignment has no super-cells")
    val scored = transform(typedLit(supLit), s =>
      struct(F.cosine(col("n_vec"), s.getField("_2")).as("cos"),
        s.getField("_1").as("scid")))
    val topScells = slice(reverse(array_sort(scored)), 1, probe)
      .getField("scid")
    corpus
      .select(col(idCol).cast("long").as("nid"), col(vecCol).as("n_vec"))
      .withColumn("scell", explode(topScells))
      .join(broadcast(centsMapped), "scell")
      .groupBy(col("nid"))
      .agg(max(col("n_vec")).as("n_vec"),
        SearchTail.nearest("n_vec", "c_vec", "cid").as("m"))
      .select(col("nid"), col("m.cid").as("cell"), col("n_vec"))
  }

  /** Full kept/dropped disposition: (vec_id, cell, is_kept). `x` is
    * dropped iff its cluster holds a smaller-id `y` with
    * cos(x, y) ≥ `eps`. Duplicates that straddle a cluster boundary are
    * never compared — SemDeDup's documented contract (recall is bounded
    * by the clustering, which is why `k` must track N, not row width).
    */
  def dedup(corpus: DataFrame, k: Int, iters: Int, eps: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      probe: Int = 0, maxCell: Int = 4096): DataFrame =
    dedupWith(corpus, centroids(corpus, k, iters, idCol, vecCol, probe),
      eps, idCol, vecCol, probe, maxCell)

  /** [[dedup]] against caller-supplied centroids — the entry point for a
    * pre-trained or externally-chosen codebook (and for testing the drop
    * policy in isolation from centroid training).
    *
    * WARNING — fixed codebooks do not scale for free: the within-cell
    * pair stage costs Σ|cell|², so SemDeDup's contract is that k tracks
    * N (mean cell size stays constant). A user re-applying yesterday's
    * k centroids to a 10× corpus would otherwise pay a silent n²/k
    * blowup (measured 18.5× wall for the last 10× of data at the r12
    * 100× probe). `maxCell` is the guard: any cell whose occupancy
    * exceeds it is deterministically hash-sub-split into
    * ⌈|cell|/maxCell⌉ sub-cells BEFORE the pair join, capping the pair
    * stage at ~|cell|·maxCell per oversized cell (linear in the cell,
    * not quadratic). The documented trade is recall, not correctness:
    * duplicate pairs that straddle a sub-split of an OVERSIZED cell are
    * not compared — the same approximation class as SemDeDup's own
    * cross-cluster blindness, and strictly better than the un-guarded
    * alternative (a spilled, disk-filling quadratic join). Cells at or
    * under `maxCell` are exact and byte-identical to the un-guarded
    * path (Round7Spec gates both directions). Raise `maxCell` only with
    * a matching k ∝ N codebook.
    */
  def dedupWith(corpus: DataFrame, cents: DataFrame, eps: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      probe: Int = 0, maxCell: Int = 4096): DataFrame = {
    require(maxCell > 0, s"SemDedup: maxCell must be positive, got $maxCell")
    // the assignment frame feeds THREE consumers below (both sides of
    // the within-cell self-join and the final flag join); snapshot it
    // so the assignment sub-DAG — a shuffle over the full corpus —
    // executes once, not three times (a snapshot, not a cache:
    // trained `cents` carry a fresh checkpoint identity per run, so a
    // plan-keyed cache entry could never be re-hit and would accumulate
    // a dead n-row copy per invocation)
    val assigned = Store.snapshot(
      assignBest(corpus, cents, idCol, vecCol, probe))
    // Occupancy guard (see the dedupWith scaladoc): cell sizes are one
    // map-side-combined count whose output is bounded by the codebook
    // (≤ k rows — broadcastable by the same bound the codebook literal
    // ships under). Cells within `maxCell` take sub 0 — the exact path,
    // bit-for-bit; oversized cells hash-split on the vector id, which is
    // deterministic across partitionings and core counts.
    val sizes = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("_csz"))
    val subbed = assigned.join(broadcast(sizes), "cell")
      .withColumn("sub", when(col("_csz") <= maxCell, lit(0L))
        .otherwise(pmod(F.hash64(col("nid").cast("string")),
          ceil(col("_csz").cast("double") / maxCell).cast("long"))))
      .drop("_csz")
    val x = subbed.select(col("cell"), col("sub"), col("nid").as("xid"),
      col("n_vec").as("x_vec"))
    val y = subbed.select(col("cell"), col("sub"), col("nid").as("yid"),
      col("n_vec").as("y_vec"))
    val dropped = x.join(y, Seq("cell", "sub"))
      .where(col("yid") < col("xid") &&
        F.cosine(col("x_vec"), col("y_vec")) >= eps)
      .select(col("xid").as("nid")).distinct()
      .withColumn("_d", lit(true))
    assigned.join(dropped, Seq("nid"), "left")
      .select(col("nid").as("vec_id"), col("cell"),
        not(coalesce(col("_d"), lit(false))).as("is_kept"))
  }
}
