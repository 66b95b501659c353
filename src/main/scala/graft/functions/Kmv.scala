package graft.functions

import graft.etl.Store
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** KMV / theta distinct-count sketches (Bar-Yossef et al. 2002; the
  * theta-sketch set-operation formulation of Dasgupta et al. 2016 — both
  * public): keep only the k smallest UNSIGNED hash values of a set; the
  * kth smallest θ estimates the set's density, so
  * distinct ≈ r·2⁶⁴/θ with r the retained values below θ. Union and
  * intersection sketches compose by θ = min(θ_a, θ_b) over the merged
  * value sets — which is what makes this the scale story for corpus
  * overlap: estimating how many distinct shingles two 100 TB corpora
  * share costs two sketch scans and a 2k-row merge, where the exact
  * answer (the q45 decontamination join) costs a full co-shuffle of
  * both corpora.
  *
  * Determinism and portability: everything is integer arithmetic on
  * hash values — no RNG, no floating estimate. The unsigned order of
  * signed JVM hashes rides an exact DECIMAL(38,0) value map
  * (h<0 → h+2⁶⁴), and the estimator runs entirely in 63-bit SIGNED
  * integers so any external engine replays every digit without wide
  * integer types: θ is quantized to 2¹⁴ granularity
  * (θq = floor(θ/2¹⁴), a ≤2⁵⁰ long) and the estimate is the exact
  * floor(r·2⁵⁰/θq) — numerator ≤ 2·k·2⁵⁰ < 2⁶³ for k ≤ 2048 — with
  * the modulus subtracted before the divide so no engine's division
  * rounding can move the quotient. The quantisation shifts the
  * estimate by at most a ~2⁻³⁶ relative amount — noise against the
  * sketch's own 1/√k error — and the unfull-sketch regime stays
  * EXACT (θ = 2⁶⁴ ⇒ θq = 2⁵⁰ ⇒ estimate = r).
  *
  * Scale shape: the only corpus-wide work is ONE distinct-hash shuffle
  * (shared by the sketch and the exact audit columns); the k-smallest
  * cut is a TakeOrdered (per-partition top-k, no global exchange), and
  * all sketch algebra runs on ≤2k-row frames joined by one-row
  * broadcasts. The corpus-wide merged frame is persisted only for the
  * duration of the sketch/exact materialization and freed before
  * the report is returned — repeated calls leave no corpus-sized
  * cache behind (only the ≤2k-row sketch frames stay cached, which the
  * returned plan reads). At production scale the exact columns are the
  * part you drop (they are the thing the sketch replaces); they are
  * emitted here so the estimate is auditable row-by-row against the
  * truth.
  */
object Kmv {

  private val Dec38 = DecimalType(38, 0)
  private val M64 = new java.math.BigDecimal("18446744073709551616") // 2^64
  private val ThetaGrain = 16384L // 2^14
  private val Scale50 = 1L << 50  // 2^64 / 2^14

  /** Unsigned value of a signed 64-bit hash as DECIMAL(38,0). */
  def unsigned(h: Column): Column =
    when(h < 0, lit(M64) + h).otherwise(h).cast(Dec38)

  /** θ quantized to 2¹⁴ granularity as a signed long: floor(θ/2¹⁴),
    * computed exactly by subtracting the modulus before the decimal
    * divide. Guarded to ≥1 for totality only — θ < 2¹⁴ needs k
    * distinct hashes all below 16384, probability ~(k/2⁵⁰)^k.
    */
  private def thetaQ(theta: Column): Column =
    greatest(lit(1L),
      ((theta - pmod(theta, lit(ThetaGrain))) / lit(ThetaGrain))
        .cast("long"))

  /** Exact floor(r·2⁵⁰/θq) in 63-bit signed arithmetic: the decimal
    * divide happens on an exact multiple (mod subtracted first) so its
    * scale-6 rounding cannot move the integer quotient.
    */
  private def estimate(r: Column, thq: Column): Column = {
    val num = (r.cast("long") * lit(Scale50)).cast(Dec38)
    ((num - pmod(num, thq)) / thq).cast("long")
  }

  /** Distinct-hash sides with membership flags — ONE shuffle shared by
    * sketches and exact counts. Input frames carry `hashCol`; output:
    * (u DECIMAL(38,0), ina, inb).
    */
  private def mergedDistinct(a: DataFrame, b: DataFrame,
      hashCol: String): DataFrame = {
    val ta = a.select(unsigned(col(hashCol)).as("u"),
      lit(1L).as("ina"), lit(0L).as("inb"))
    val tb = b.select(unsigned(col(hashCol)).as("u"),
      lit(0L).as("ina"), lit(1L).as("inb"))
    ta.unionByName(tb).groupBy(col("u"))
      .agg(max(col("ina")).as("ina"), max(col("inb")).as("inb"))
  }

  /** Sketch-vs-exact overlap report over two hash-valued corpora: rows
    * (scope ∈ a|b|union|overlap, kmv_estimate BIGINT,
    * exact_distinct BIGINT). Eager: the corpus-wide distinct shuffle
    * runs inside this call, which frees its cache; the returned ≤4-row
    * frame composes the cached ≤2k-row sketches.
    */
  def overlapReport(a: DataFrame, b: DataFrame, hashCol: String,
      k: Int = 512): DataFrame = {
    require(k > 1 && k <= 2048,
      s"Kmv: k must be in (1, 2048] so the union estimator's " +
        s"numerator 2k*2^50 stays below 2^63, got $k")
    // materialize everything that reads mg, then drop the corpus-wide
    // cache with the scope — only the bounded frames stay resident
    val (skA, skB, exacts) = Store.scoped { st =>
      val mg = st.cache(mergedDistinct(a, b, hashCol))
      val exacts = Store.cache(mg.agg(
        sum(col("ina")).as("ea"), sum(col("inb")).as("eb"),
        count(lit(1)).as("eu"), sum(col("ina") * col("inb")).as("ei")))
      // TakeOrdered: per-partition top-k then a k-row merge — no global
      // sort exchange; the cached mg frame feeds every branch
      def sketch(flag: String): DataFrame = Store.cache(mg
        .where(col(flag) === 1L).select(col("u")).orderBy(col("u")).limit(k))
      val skA = sketch("ina")
      val skB = sketch("inb")
      skA.count(); skB.count(); exacts.count()
      (skA, skB, exacts)
    }
    def thetaOf(sk: DataFrame, cnt: String, th: String): DataFrame =
      sk.agg(count(lit(1)).as(cnt), max(col("u")).as("mx"))
        .select(col(cnt),
          when(col(cnt) < k, lit(M64).cast(Dec38))
            .otherwise(col("mx")).as(th))
    val aggA = thetaOf(skA, "ca", "tha")
    val aggB = thetaOf(skB, "cb", "thb")
    val thetas = aggA.crossJoin(aggB)
      .select(col("ca"), col("cb"),
        least(col("tha"), col("thb")).as("thu"),
        thetaQ(col("tha")).as("qa"), thetaQ(col("thb")).as("qb"),
        thetaQ(least(col("tha"), col("thb"))).as("qu"))

    // per-corpus estimates: r = values strictly below θ (k−1 when the
    // sketch is full, everything when it is not)
    val estA = thetas.select(lit("a").as("scope"),
      estimate(when(col("ca") < k, col("ca")).otherwise(lit(k - 1)),
        col("qa")).as("kmv_estimate"))
    val estB = thetas.select(lit("b").as("scope"),
      estimate(when(col("cb") < k, col("cb")).otherwise(lit(k - 1)),
        col("qb")).as("kmv_estimate"))
    // theta union/intersection: merged value sets cut at θ_u
    val merged = skA.select(col("u"), lit(1L).as("ina"),
        lit(0L).as("inb"))
      .unionByName(skB.select(col("u"), lit(0L).as("ina"),
        lit(1L).as("inb")))
      .groupBy(col("u"))
      .agg(max(col("ina")).as("ina"), max(col("inb")).as("inb"))
      .crossJoin(broadcast(thetas.select(col("thu"), col("qu"))))
      .where(col("u") < col("thu"))
    val estUI = merged.groupBy(col("qu"))
      .agg(count(lit(1)).as("ru"),
        sum(col("ina") * col("inb")).as("ri"))
      .select(col("qu"), col("ru"),
        coalesce(col("ri"), lit(0L)).as("ri"))
    val estU = estUI.select(lit("union").as("scope"),
      estimate(col("ru"), col("qu")).as("kmv_estimate"))
    val estI = estUI.select(lit("overlap").as("scope"),
      estimate(col("ri"), col("qu")).as("kmv_estimate"))

    val ests = estA.unionByName(estB).unionByName(estU).unionByName(estI)
    val ex = exacts.select(
      explode(map(
        lit("a"), col("ea"), lit("b"), col("eb"),
        lit("union"), col("eu"), lit("overlap"), col("ei")))
        .as(Seq("scope", "exact_distinct")))
      .select(col("scope"), col("exact_distinct").cast("long")
        .as("exact_distinct"))
    ests.join(broadcast(ex), Seq("scope"))
      .select(col("scope"), col("kmv_estimate"), col("exact_distinct"))
  }
}
