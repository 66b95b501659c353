package graft

import graft.registry.QueryDef
import org.scalatest.funsuite.AnyFunSuite

/** The query registry's invariants: each name declared once, every oracle
  * keyed to a declared query, and the rows-only set explicit.
  */
class RegistrySpec extends AnyFunSuite {

  test("a registry with a duplicated name fails to build") {
    val q = QueryDef("q_dup", (s, dir) => Tables(s, dir).orders, None)
    val e = intercept[IllegalArgumentException](
      QueryDef.registry(Seq(q, q.copy(oracle = Some("SELECT 1")))))
    assert(e.getMessage.contains("q_dup"))
  }

  test("every oracle belongs to a declared query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("182 queries are declared") {
    assert(SparkEntry.queries.size === 182)
    assert(SparkEntry.registry.size === 182)
  }

  test("the rows-only queries are exactly q47, q84 and q94") {
    assert(SparkEntry.registry.filter(_.oracle.isEmpty).map(_.name).toSet ===
      Set("q47_bpe_tokens", "q84_semdedup", "q94_compress_ratio"))
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet ===
      Set("q47_bpe_tokens", "q84_semdedup", "q94_compress_ratio"))
  }
}
