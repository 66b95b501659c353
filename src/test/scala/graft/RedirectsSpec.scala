package graft

import graft.etl.Redirects
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Redirect-chain resolution (q142) — the oracle proves the planted
  * WARC run; these pin the path-doubling semantics on hand graphs.
  */
class RedirectsSpec extends SparkSpec {
  import spark.implicits._

  private def run(edges: Seq[(String, String)], maxHops: Int = 8) =
    Redirects.resolve(edges.toDF("s", "d"), "s", "d", maxHops)
      .collect().map(r => r.getString(0) ->
        (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2),
          r.getBoolean(3))).toMap

  test("chains resolve to the final target with exact hop counts") {
    val out = run(Seq("a" -> "b", "b" -> "c", "c" -> "d", "x" -> "d"))
    assert(out("a") == (("d", 3L, true)))
    assert(out("b") == (("d", 2L, true)))
    assert(out("c") == (("d", 1L, true)))
    assert(out("x") == (("d", 1L, true)), "two chains may share a target")
    assert(out.size == 4, "every SOURCE gets exactly one row")
  }

  test("self-loops and cycles report unresolved with NULL hops") {
    val out = run(Seq("s" -> "s", "p" -> "q", "q" -> "p"))
    assert(!out("s")._3 && out("s")._2 == -1L)
    assert(!out("p")._3 && !out("q")._3)
  }

  test("a chain longer than maxHops stays unresolved; within it resolves") {
    // 3 edges, maxHops=2 (1 doubling round -> f^2): head can't finish
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "d")
    val tight = run(edges, maxHops = 2)
    assert(!tight("a")._3, "3 hops must not resolve under a 2-hop bound")
    assert(tight("b")._3 && tight("b")._1 == "d")
    val loose = run(edges, maxHops = 4)
    assert(loose("a") == (("d", 3L, true)))
  }

  test("a double-captured source keeps ONE deterministic winner") {
    // 'a' captured twice: day-1 edge shortcuts to 'z', day-2 edge joins
    // the b->c chain. Newest capture must win, rows must not multiply.
    val edges = Seq(
      ("a", "z", java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      ("a", "b", java.sql.Timestamp.valueOf("2024-01-02 00:00:00")),
      ("b", "c", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    ).toDF("s", "d", "ts")
    val out = Redirects.resolve(edges, "s", "d", 8,
        preferCol = Some("ts"))
      .collect().map(r => r.getString(0) -> (r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(out.size == 2, "one row per DISTINCT source, never per capture")
    assert(out("a") == (("c", 2L)), "the newest capture's chain must win")
    // without preferCol the tie falls to the smallest target — stable
    // regardless of input order
    val noPref = Redirects.resolve(
      Seq(("a", "q"), ("a", "b"), ("b", "c")).toDF("s", "d"), "s", "d", 8)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(noPref("a") == "c", "smallest-target edge a->b wins the tie")
  }

  test("the plan does not grow with maxHops, and the rows do not change") {
    // an 8-hop chain and a 2-cycle: resolved (or not) alike under both
    // bounds, so only the number of doubling rounds differs
    val edges = ((0 until 8).map(i => (s"u$i", s"u${i + 1}")) ++
      Seq("p" -> "q", "q" -> "p")).toDF("s", "d")
    def resolved(maxHops: Int) = Redirects.resolve(edges, "s", "d", maxHops)
    def planNodes(df: DataFrame) =
      df.queryExecution.analyzed.collect { case n => n }.size
    val (short, long) = (resolved(8), resolved(1024))
    assert(planNodes(long) <= planNodes(short),
      s"plan nodes: ${planNodes(long)} at 1024 hops, ${planNodes(short)} at 8")
    assert(long.collect().toSet == short.collect().toSet)
  }

  test("maxHops outside [1, 1024] is refused") {
    val df = Seq(("a", "b")).toDF("s", "d")
    intercept[IllegalArgumentException] {
      Redirects.resolve(df, "s", "d", 0)
    }
  }
}
