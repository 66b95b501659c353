package graft
package registry

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph queries: PageRank over the customer link fixture. */
private[graft] object GraphQueries {

  /** q86 fixture: a deterministic link graph over customers — every node
    * links up a binary tree (c → max(c div 2, 1), concentrating authority
    * at low ids) and across a multiplicative shuffle
    * (c → (7c mod N) + 1), so ranks are non-uniform but pure integer
    * arithmetic both engines reproduce.
    */
  private def linkFixture(t: Tables): DataFrame = {
    val nmax = t.customer.agg(max(col("c_custkey")).cast("long").as("nmax"))
    t.customer.crossJoin(broadcast(nmax))
      .select(col("c_custkey").cast("long").as("src"),
        explode(array(
          greatest(expr("c_custkey div 2"), lit(1L)).cast("long"),
          (col("c_custkey").cast("long") * 7 % col("nmax") + 1)
            .cast("long"))).as("dst"))
  }

  val all: Seq[QueryDef] = Seq(
    // 45. deterministic integer PageRank over the customer link fixture
    // (3 damped iterations in micro-units; the corpus-curation authority
    // signal) — bit-identical to the oracle's unrolled CTE iterations
    QueryDef("q86_pagerank", (s, dir) =>
      graft.graph.PageRank.ranks(linkFixture(Tables(s, dir)),
        "src", "dst", iters = 3),
      // q86: the same three damped integer iterations, unrolled as CTEs —
      // every per-edge contribution is one integral divide, so the engines
      // agree bit-for-bit
      oracle = Some("""WITH nm AS (SELECT MAX(c_custkey) AS nmax FROM customer),
          |e AS (
          |  SELECT c_custkey AS src, GREATEST(c_custkey // 2, 1) AS dst FROM customer
          |  UNION ALL
          |  SELECT c_custkey, (c_custkey * 7) % nmax + 1 FROM customer, nm
          |), n AS (
          |  SELECT DISTINCT src AS node FROM e
          |  UNION SELECT DISTINCT dst FROM e
          |), outd AS (SELECT src, COUNT(*) AS o FROM e GROUP BY src),
          |c1 AS (
          |  SELECT e.dst AS node, SUM((1000000 * 850) // (1000 * outd.o)) AS m
          |  FROM e JOIN outd USING (src) GROUP BY e.dst
          |), r1 AS (
          |  SELECT n.node, CAST(150000 + COALESCE(c1.m, 0) AS BIGINT) AS r
          |  FROM n LEFT JOIN c1 USING (node)
          |), c2 AS (
          |  SELECT e.dst AS node, SUM((r1.r * 850) // (1000 * outd.o)) AS m
          |  FROM e JOIN outd USING (src) JOIN r1 ON r1.node = e.src
          |  GROUP BY e.dst
          |), r2 AS (
          |  SELECT n.node, CAST(150000 + COALESCE(c2.m, 0) AS BIGINT) AS r
          |  FROM n LEFT JOIN c2 USING (node)
          |), c3 AS (
          |  SELECT e.dst AS node, SUM((r2.r * 850) // (1000 * outd.o)) AS m
          |  FROM e JOIN outd USING (src) JOIN r2 ON r2.node = e.src
          |  GROUP BY e.dst
          |)
          |SELECT n.node, CAST(150000 + COALESCE(c3.m, 0) AS BIGINT) AS rank_micro
          |FROM n LEFT JOIN c3 USING (node)""".stripMargin)),

    // 45b. PageRank with CANONICAL dangling-mass redistribution (VERDICT
    // r10 task 4; default stays off, q86's oracle untouched): the q86
    // link graph extended with five absorbing sink nodes (c%3=0 →
    // nmax+1+(c%5), no out-edges) so the redistribution is load-bearing;
    // each iteration's damped dangling mass spreads ⌊D/n⌋ to every node
    // with the remainder going +1 to the lowest ids — integer-exact, and
    // the oracle replays all three iterations in unrolled CTEs, with the
    // engine's ROW_NUMBER id index replayed verbatim (custkeys start at
    // 0, so idx ≠ id — the remainder boundary proved it on first verify).
    QueryDef("q102_pagerank_dangling", (s, dir) => {
      val t = Tables(s, dir)
      val nmax = t.customer.agg(max(col("c_custkey")).cast("long").as("nmax"))
      val sinks = t.customer.crossJoin(broadcast(nmax))
        .where(col("c_custkey") % 3 === 0)
        .select(col("c_custkey").cast("long").as("src"),
          (col("nmax") + 1 + col("c_custkey") % 5).cast("long").as("dst"))
      graft.graph.PageRank.ranks(linkFixture(t).unionAll(sinks),
        "src", "dst", iters = 3, redistributeDangling = true)
    },
      // q102: q86's unrolled-CTE iterations plus the dangling-mass
      // redistribution replay — D_k = (Σ_dangling r_k · 850) div 1000,
      // every node +⌊D/n⌋, the D mod n lowest ids +1. The id index is the
      // same ROW_NUMBER-by-id the engine computes (custkeys start at 0
      // here, so the index is NOT the id itself — the r11 first-verify
      // caught exactly that off-by-one at the remainder boundary).
      oracle = Some("""WITH nm AS (SELECT MAX(c_custkey) AS nmax FROM customer),
          |e AS (
          |  SELECT c_custkey AS src, GREATEST(c_custkey // 2, 1) AS dst FROM customer
          |  UNION ALL
          |  SELECT c_custkey, (c_custkey * 7) % nmax + 1 FROM customer, nm
          |  UNION ALL
          |  SELECT c_custkey, nmax + 1 + (c_custkey % 5) FROM customer, nm
          |  WHERE c_custkey % 3 = 0
          |), n0 AS (
          |  SELECT DISTINCT src AS node FROM e
          |  UNION SELECT DISTINCT dst FROM e
          |), n AS (
          |  SELECT node, ROW_NUMBER() OVER (ORDER BY node) AS idx FROM n0
          |), cnt AS (SELECT COUNT(*) AS nn FROM n),
          |outd AS (SELECT src, COUNT(*) AS o FROM e GROUP BY src),
          |dang AS (SELECT node FROM n0 WHERE node NOT IN (SELECT src FROM e)),
          |d1 AS (
          |  SELECT ((SELECT COUNT(*) FROM dang) * 1000000 * 850) // 1000 AS dm
          |), c1 AS (
          |  SELECT e.dst AS node, SUM((1000000 * 850) // (1000 * outd.o)) AS m
          |  FROM e JOIN outd USING (src) GROUP BY e.dst
          |), r1 AS (
          |  SELECT n.node, CAST(150000 + COALESCE(c1.m, 0) + d1.dm // cnt.nn +
          |    CASE WHEN n.idx <= d1.dm % cnt.nn THEN 1 ELSE 0 END AS BIGINT) AS r
          |  FROM n LEFT JOIN c1 USING (node), d1, cnt
          |), d2 AS (
          |  SELECT (SUM(r1.r) * 850) // 1000 AS dm
          |  FROM r1 JOIN dang USING (node)
          |), c2 AS (
          |  SELECT e.dst AS node, SUM((r1.r * 850) // (1000 * outd.o)) AS m
          |  FROM e JOIN outd USING (src) JOIN r1 ON r1.node = e.src
          |  GROUP BY e.dst
          |), r2 AS (
          |  SELECT n.node, CAST(150000 + COALESCE(c2.m, 0) + d2.dm // cnt.nn +
          |    CASE WHEN n.idx <= d2.dm % cnt.nn THEN 1 ELSE 0 END AS BIGINT) AS r
          |  FROM n LEFT JOIN c2 USING (node), d2, cnt
          |), d3 AS (
          |  SELECT (SUM(r2.r) * 850) // 1000 AS dm
          |  FROM r2 JOIN dang USING (node)
          |), c3 AS (
          |  SELECT e.dst AS node, SUM((r2.r * 850) // (1000 * outd.o)) AS m
          |  FROM e JOIN outd USING (src) JOIN r2 ON r2.node = e.src
          |  GROUP BY e.dst
          |)
          |SELECT n.node, CAST(150000 + COALESCE(c3.m, 0) + d3.dm // cnt.nn +
          |  CASE WHEN n.idx <= d3.dm % cnt.nn THEN 1 ELSE 0 END AS BIGINT)
          |  AS rank_micro
          |FROM n LEFT JOIN c3 USING (node), d3, cnt""".stripMargin))
  )
}
