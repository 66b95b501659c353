package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic N× scale-up generator for the bench's scale-regression point
  * (SURVEY §4's probe as a reproducible artifact): replicates every base
  * table `factor`× with key remapping that preserves join semantics, and
  * perturbs documents/embeddings so each base row becomes a `factor`-way
  * NEAR-DUP CLIQUE — the maximal-pair-density shape that stresses the
  * LSH/verify family the way a boilerplate-heavy real corpus does.
  *
  *  - keys: id' = id * factor + replica, applied consistently on both
  *    sides of every FK (orders.o_custkey ↔ customer.c_custkey,
  *    lineitem.l_orderkey ↔ orders.o_orderkey, events.user_id), so join
  *    fan-outs scale linearly, not quadratically;
  *  - documents: every 25th token (at a per-doc phase) is rewritten to a
  *    replica-specific marker — within-clique bigram Jaccard lands ~0.85,
  *    above every dedup operating threshold, while cross-doc similarity
  *    is untouched;
  *  - embeddings: elementwise relative perturbation with a deterministic
  *    per-(id, replica, index) sign — within-clique cosine ~0.999;
  *  - dims (region/nation/part/supplier) copy as-is: scale-up multiplies
  *    facts, not dimensions.
  *
  * Usage: runMain graft.ScaleGen <baseSfDir> <factor> <outDir> [maxClique]
  *
  * DENSITY-CONTROLLED mode (4th arg `maxClique` = C > 0): replicas of a
  * base row split into factor/C DISJOINT cliques of C members each
  * instead of one factor-way clique, so the near-dup PAIR population
  * grows linearly with factor (factor/C cliques × C·(C−1)/2 pairs)
  * rather than quadratically (factor·(factor−1)/2). This is the probe
  * shape for the pair-bound operator family (q19/q20/q37/q56/q68/q69 —
  * VERDICT r7 task 4): on the default clique-per-base corpus their
  * OUTPUT grows ~quadratically in factor, so wall-time ratios conflate
  * engine scaling with answer-size growth; holding C fixed isolates the
  * engine. Mechanics:
  *  - documents: every EVEN token position is rewritten to a token
  *    tagged with (BASE doc, clique group, position) — identical within
  *    a clique, disjoint across cliques AND across base docs — so every
  *    bigram of a cross-clique or cross-base pair contains a differing
  *    token (bigram Jaccard ≈ 0 outside the clique) while odd positions
  *    carry the usual sparse per-replica markers (within-clique bigram
  *    Jaccard ≈ 0.9). The base-doc component is load-bearing: a tag of
  *    (group, position) alone is SHARED by every doc of the group, and
  *    stopwords at coincidentally-aligned positions then push millions
  *    of cross-base pairs over the minhash candidate cutoff — measured
  *    as a 77 GB verify-join spill at 100× before the fix;
  *  - embeddings: each clique group applies a circular component SHIFT
  *    (7·g positions) plus per-(g, index) xxhash64 signs, so cross-group
  *    cosines are sums of sign-scrambled MISALIGNED component products —
  *    measured 0 leaks past cos 0.5 in 78k sampled pairs (max 0.48; the
  *    BASE corpus itself has ~1/80k cross-base pairs past 0.5, so
  *    residual leakage is at the corpus's own background rate). Two
  *    designs that do NOT work, for the record: aligned ±1 sign flips
  *    alone leak 0.6% (cosines inherit the base vectors' component
  *    concentration — Σ±x_i² has heavy tails), and per-group component
  *    BLOCKS make unrelated same-group vectors spuriously similar (a
  *    dim/nGroups-dim subspace has cos std ~0.4: ~16% of random pairs
  *    cross 0.5). The usual ±3% per-replica wiggle keeps within-clique
  *    cosine ≈ 0.999.
  */
object ScaleGen {

  private def replicate(df: DataFrame, factor: Int): DataFrame =
    df.withColumn("_r", explode(sequence(lit(0), lit(factor - 1))))

  private def remap(c: String, factor: Int) =
    (col(c) * factor + col("_r")).as(c)

  def main(args: Array[String]): Unit = {
    val Array(baseDir, factorS, outDir) = args.take(3)
    val factor = factorS.toInt
    val maxClique = if (args.length > 3) args(3).toInt else 0
    val spark = GraftSession.fromEnv()
    generate(spark, baseDir, factor, outDir, maxClique)
    println(s"wrote ${factor}x of $baseDir to $outDir")
    spark.stop()
  }

  /** Session-agnostic body (Round8Spec drives it on the shared test
    * session; `main` wraps it with its own).
    */
  def generate(spark: SparkSession, baseDir: String, factor: Int,
      outDir: String, maxClique: Int = 0): Unit = {
    val t = Tables(spark, baseDir)

    def write(name: String, df: DataFrame): Unit =
      df.drop("_r").write.mode("overwrite").parquet(s"$outDir/$name.parquet")

    // dims copy through unchanged
    Seq("region", "nation", "part", "supplier").foreach(n =>
      write(n, t.table(n)))

    write("customer", replicate(t.table("customer"), factor)
      .select(remap("c_custkey", factor), col("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment")))

    write("orders", replicate(t.table("orders"), factor)
      .select(remap("o_orderkey", factor), remap("o_custkey", factor),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority")))

    write("lineitem", replicate(t.table("lineitem"), factor)
      .select(remap("l_orderkey", factor), col("l_partkey"), col("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate")))

    // events.ts copies through in whatever physical encoding the base
    // data uses (raw nanos long or native timestamp — Tables adapts on
    // read either way)
    write("events", replicate(t.table("events"), factor)
      .select(remap("event_id", factor), col("ts"),
        remap("user_id", factor), col("event_type"), col("value"),
        col("props")))

    // clique group of a replica: 0 in legacy mode (one factor-way
    // clique), _r div C in density-controlled mode
    val grp =
      if (maxClique > 0) expr(s"_r div $maxClique") else lit(0L)

    // documents: replica r of a doc rewrites tokens at positions
    // i ≡ doc_id (mod 25) to "xrep<r>" — same positions across a clique,
    // different values, so within-clique bigram Jaccard ≈ 0.85 and the
    // clique never bleeds into unrelated docs. Density-controlled mode
    // additionally rewrites every EVEN position to a group-tagged token
    // (see scaladoc), with the sparse markers moved to odd positions so
    // the two rewrites never collide.
    val docText =
      if (maxClique > 0)
        transform(split(col("text"), "\\s+"), (tok, i) =>
          when(i % 2 === 0,
            concat(lit("g"), grp, lit("d"), col("doc_id"),
              lit("x"), pmod(i, lit(50))))
            .when(i % 25 === col("doc_id") % 25,
              concat(lit("xrep"), col("_r")))
            .otherwise(tok))
      else
        transform(split(col("text"), "\\s+"), (tok, i) =>
          when(i % 25 === col("doc_id") % 25,
            concat(lit("xrep"), col("_r"))).otherwise(tok))
    write("documents", replicate(t.table("documents"), factor)
      .withColumn("text", array_join(docText, " "))
      .select(remap("doc_id", factor), col("text"), col("lang"),
        col("source"), length(col("text")).cast("long").as("n_chars")))

    // embeddings: deterministic ±3% elementwise wiggle per (id, replica,
    // index) — within-clique cosine stays ≈ 0.999, far above any τ.
    // Density-controlled mode first applies the per-group shift+sign
    // scramble (see scaladoc), identical within a clique.
    val dim = 64
    val scrambled =
      if (maxClique > 0)
        transform(col("embedding"), (_, i) => {
          val src = pmod(i - grp * 7, lit(dim)) + 1 // shifted source index
          element_at(col("embedding"), src.cast("int")) *
            when(pmod(xxhash64(grp, i), lit(2)) === 0, lit(1.0))
              .otherwise(lit(-1.0))
        })
      else col("embedding")
    write("embeddings", replicate(t.table("embeddings"), factor)
      .withColumn("embedding", scrambled)
      .withColumn("embedding",
        transform(col("embedding"), (x, i) =>
          (x * (lit(1.0) + lit(0.03) *
            when(pmod(col("vec_id") * 31 + col("_r") * 17 + i, lit(2)) === 0,
              lit(1.0)).otherwise(lit(-1.0)))).cast("float")))
      .select(remap("vec_id", factor), col("embedding"), col("label")))
  }
}
