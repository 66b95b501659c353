package graft.graph

import graft.etl.{Prefix, Rounds, Store}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic integer PageRank (Page/Brin/Motwani/Winograd 1999,
  * public) — the corpus-curation ranking signal: web-scale training-data
  * pipelines rank hosts/domains by link authority (the Common Crawl
  * host-graph ranking pattern) and use the score as a quality prior for
  * source mixing (q70) and filtering. The reference's BI layer ranks
  * units by aggregate counts; this is the graph-structural counterpart.
  *
  * Exactness: ranks live in integer MICRO-UNITS (node mass starts at
  * 1e6). Every per-edge contribution is ONE integral divide —
  * (rank · dampMilli) div (1000 · outdeg) — and every update is an
  * integer sum, so the result is bit-identical on any engine and any
  * partitioning (the BM25/q46 rational-arithmetic rule applied to an
  * iterative kernel; fp PageRank is merge-order-dependent). The q86
  * oracle unrolls the same iterations as DuckDB CTEs and matches
  * exactly. Truncation loses < 1 micro-unit per in-edge per iteration —
  * ranking-irrelevant and perfectly reproducible, which is the point.
  *
  * Dangling nodes (no out-edges) keep receiving the teleport base and,
  * by default, simply absorb their mass (the standard "removed dangling
  * mass" simplification, documented rather than hidden; total mass is
  * then not conserved, relative ranking is unaffected for curation use).
  * `redistributeDangling = true` switches to the canonical formulation,
  * integer-exactly: each iteration sums the dangling nodes' damped
  * micro-rank mass D = (Σ_dangling rank · damp) div 1000, gives every
  * node D div n, and hands the remainder D mod n out as +1 micro-unit to
  * the nodes with the lowest ids (deterministic on any engine/partition
  * count — the q102 oracle replays it in unrolled CTEs). Costs one extra
  * narrow aggregate per iteration (the dangling node set and the id
  * index are static, built once); total mass is then conserved up to the
  * documented per-edge truncation.
  *
  * Scale shape: the edge list joins its static out-degree ONCE, and BOTH
  * static frames — the (src, dst, out) edge frame and the distinct node
  * set — are snapshotted before the loop, so no iteration ever
  * re-scans the raw edge source or re-runs the node-distinct shuffle;
  * each iteration is then exactly one src-keyed join (ranks are narrow
  * (node, long) rows) and one dst-keyed partial-aggregated shuffle —
  * the canonical Pregel cadence expressed declaratively. The iterations
  * are [[graft.etl.Rounds]] rounds, and the static frames are held by a
  * [[graft.etl.Store]] scope that ends with the loop, so only the
  * returned ranks stay stored; nothing but counts ever reaches the
  * driver.
  *
  * Convergence: pass `tolMicro >= 0` to stop as soon as an iteration
  * moves no node by more than `tolMicro` micro-units (max |Δrank| —
  * a counts-only driver check on the same cadence, no data collected).
  * Integer ranks make tolMicro=0 exact: two equal consecutive
  * iterations are a FIXED POINT, so the early-stopped result is
  * bit-identical to any deeper `iters` run (Round7Spec asserts it) —
  * deep graphs no longer need a guessed iteration count.
  */
object PageRank {

  /** `iters` damped iterations over `edges`. Output: (node, rank_micro) —
    * teleport base (1000 − dampMilli)·1000 plus integral in-edge mass.
    * With `tolMicro >= 0`, stops after the first iteration whose
    * max |Δrank_micro| ≤ tolMicro (at most `iters` iterations).
    */
  def ranks(edges: DataFrame, srcCol: String, dstCol: String, iters: Int,
      dampMilli: Int = 850, tolMicro: Long = -1L,
      redistributeDangling: Boolean = false): DataFrame =
    ranksConverged(edges, srcCol, dstCol, iters, dampMilli, tolMicro,
      redistributeDangling)._1

  /** Static per-run frames for dangling-mass redistribution: the dangling
    * node set, the 1-based id index (remainder micro-units go to the
    * lowest ids), and the node count (the index build's own total).
    */
  private[graft] final case class Redistribution(dangling: DataFrame,
      idx: DataFrame, n: Long)

  /** [[ranks]] plus the number of iterations actually executed — the
    * observable for convergence-mode callers (and Round7Spec).
    */
  def ranksConverged(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, dampMilli: Int = 850,
      tolMicro: Long = -1L,
      redistributeDangling: Boolean = false): (DataFrame, Int) =
      Store.scoped { st =>
    require(iters >= 1 && dampMilli >= 0 && dampMilli <= 1000)
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val nodes = st.snapshot(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()) // static node set
    val eo = st.snapshot( // static per-edge out-degree, built once
      e.join(e.groupBy("src").agg(count(lit(1)).as("out")), "src"))
    val redist = if (!redistributeDangling) None else {
      val dangling = st.snapshot(nodes // static: nodes with no out-edges
        .join(eo.select(col("src").as("node")), Seq("node"), "left_anti"))
      val ix = rankNodes(nodes)
      // static: no iteration re-sorts; owning ix.df also frees the rank
      // build under it when the scope ends
      Some(Redistribution(dangling, st.snapshot(st.own(ix.df)),
        ix.totalCount))
    }
    // counts-only convergence probe (any node moved by > tolMicro?) on
    // the shouldProbe cadence: each probe is a driver action, and a
    // skipped one never changes the result at tolMicro = 0 — a fixed
    // point stays fixed, so a later probe sees the same convergence.
    val res = Rounds.run(
      nodes.select(col("node"), lit(1000000L).as("rank_micro")), iters,
      stop = (r, prev, it) => tolMicro >= 0L && shouldProbe(it, iters) &&
        r.join(prev.withColumnRenamed("rank_micro", "p"), "node")
          .where(abs(col("rank_micro") - col("p")) > tolMicro).isEmpty) {
      (r, _) => iterate(nodes, eo, r, dampMilli, redist)
    }
    (res.last, res.rounds)
  }

  /** 1-based rank of each node id (`idx`, global ROW_NUMBER over id —
    * the q102 oracle replays it) and the node count, from the shared
    * distributed rank build [[graft.etl.Prefix]] (VERDICT r11 task 1: a
    * global `Window.orderBy(node)` funnels every node through ONE task
    * at 10⁹-node host graphs).
    */
  private def rankNodes(nodes: DataFrame): Prefix.Ranked =
    Prefix.withRankPrefixTotals(nodes, Seq("node"), Nil)

  /** [[rankNodes]]'s un-checkpointed index plan — split out so PlanSpec
    * can assert it contains NO single-partition exchange.
    */
  private[graft] def nodeIndexFrame(nodes: DataFrame): DataFrame =
    rankNodes(nodes).df

  /** Probe cadence: every iteration while shallow (cheap, catches quick
    * convergence), every [[ProbeEvery]]-th past [[ProbeDepth]], and
    * always on the final allowed iteration (so `iters`-bounded runs
    * still report convergence when they reach the fixed point exactly
    * at the cap). 0-based `it`.
    */
  private val ProbeDepth = 4
  private val ProbeEvery = 3
  private[graft] def shouldProbe(it: Int, iters: Int): Boolean =
    it < ProbeDepth || (it - ProbeDepth) % ProbeEvery == ProbeEvery - 1 ||
      it == iters - 1

  /** One damped update: rank(n) = base + Σ_{(s,n)∈E} (rank(s)·damp) div
    * (1000·out(s)). Package-private so Round7Spec can assert the
    * iteration plan reads ONLY the checkpointed frames (no raw-edge
    * scan); [[ranks]] always passes checkpointed `nodes`/`eo`.
    */
  private[graft] def iterate(nodes: DataFrame, eo: DataFrame, r: DataFrame,
      dampMilli: Int, redist: Option[Redistribution] = None): DataFrame = {
    val base = lit((1000L - dampMilli) * 1000L)
    val inMass = eo.join(r, eo("src") === r("node"))
      .select(col("dst"),
        expr(s"(rank_micro * $dampMilli) div (1000 * out)").as("c"))
      .groupBy("dst").agg(sum(col("c")).as("m"))
    val plain = nodes.join(inMass, nodes("node") === inMass("dst"), "left")
      .select(col("node"),
        (base + coalesce(col("m"), lit(0L))).as("rank_micro"))
    redist match {
      case None => plain
      case Some(Redistribution(dangling, idx, n)) =>
        // one extra narrow aggregate: the damped dangling mass is a
        // single-row frame broadcast onto the update — ⌊D/n⌋ everywhere,
        // the remainder as +1 micro-units to the lowest-id nodes
        val dmass = r.join(dangling, Seq("node"), "left_semi")
          .agg(coalesce(sum(col("rank_micro")), lit(0L)).as("dsum"))
          .select(expr(s"(dsum * $dampMilli) div 1000").as("dmass"))
        plain.join(idx, "node")
          .crossJoin(broadcast(dmass))
          .select(col("node"),
            (col("rank_micro") + expr(s"dmass div ${n}L") +
              when(col("idx") <= expr(s"dmass % ${n}L"), lit(1L))
                .otherwise(lit(0L))).as("rank_micro"))
    }
  }
}
