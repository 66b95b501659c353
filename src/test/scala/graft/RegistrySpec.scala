package graft

import graft.registry.QueryDef

/** The query registry's invariants: each name declared once, every oracle
  * keyed to a declared query, the rows-only set explicit, and builders
  * that leave nothing stored behind.
  */
class RegistrySpec extends SparkSpec {

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

  test("building and collecting q137, q137b and q149 leaves nothing stored") {
    val cacheManager = spark
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    // `numCachedEntries` is private[sql] to Scala, public in bytecode
    val entries = cacheManager.getClass.getMethod("numCachedEntries")
    def stored = (spark.sparkContext.getPersistentRDDs.keySet.toSet,
      entries.invoke(cacheManager))
    val before = stored
    for (q <- Seq("q137_dedup_probe", "q137b_dedup_probe_persisted",
        "q149_index_lifecycle"))
      assert(SparkEntry.queries(q)(spark, sf0001).collect().nonEmpty, q)
    assert(stored === before)
  }
}
