package graft.etl

import graft.functions.F
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling and splitting for training-data pipelines.
  *
  * Everything keys off an integer-hash bucket of the row id, NOT `rand()`:
  * the membership of a row is a pure function of its id, so samples and
  * splits are reproducible across runs, cluster sizes, partitionings, and
  * engines (the finalizer matches DuckDB's `hash(BIGINT)`, so an external
  * SQL system computes the identical sample). `rand()`-based sampling
  * changes membership on every retry — poison for training-data lineage.
  *
  * Buckets use the TOP 48 bits of the hash shifted down (always
  * non-negative in both signed and unsigned arithmetic, so `% 10000`
  * agrees between engines without pmod/unsigned gymnastics).
  */
object Sampling {

  val Buckets = 10000

  /** Hash bucket in [0, 10000) for an id column (optionally seeded —
    * different seeds draw independent samples).
    */
  def bucket(id: Column, seed: Long = 0L): Column =
    shiftrightunsigned(F.murmur64(id.bitwiseXOR(lit(seed))), 16) % Buckets

  /** Keep ~`basisPoints`/10000 of rows, deterministically by id. */
  def sample(df: DataFrame, idCol: String, basisPoints: Int,
      seed: Long = 0L): DataFrame =
    df.where(bucket(col(idCol), seed) < basisPoints)

  /** Disjoint deterministic splits (train/val/test …): `weightsBp` are
    * basis-point widths summing to ≤ 10000; rows beyond the total are
    * dropped (useful for "90/5/5 of a 50% subsample"). Adds `split_id`
    * (0-based index into weights).
    */
  def split(df: DataFrame, idCol: String, weightsBp: Seq[Int],
      seed: Long = 0L): DataFrame = {
    require(weightsBp.nonEmpty && weightsBp.sum <= Buckets,
      s"split weights must sum to <= $Buckets basis points")
    val bounds = weightsBp.scanLeft(0)(_ + _) // 0, w0, w0+w1, ...
    val b = bucket(col(idCol), seed)
    val splitId = bounds.tail.zipWithIndex.foldRight(
      lit(null).cast("long"): Column) { case ((hi, i), els) =>
      when(b < hi, lit(i.toLong)).otherwise(els)
    }
    df.withColumn("split_id", splitId).where(col("split_id").isNotNull)
  }

  /** Stratified deterministic sampling: a per-stratum rate map (basis
    * points), e.g. down-sample dominant languages while keeping rare ones
    * whole — corpus rebalancing with the same pure-function-of-id
    * membership guarantee as [[sample]]. Strata absent from the map get
    * `defaultBp`.
    */
  def stratified(df: DataFrame, idCol: String, strataCol: Column,
      ratesBp: Map[String, Int], defaultBp: Int = 0,
      seed: Long = 0L): DataFrame = {
    val rate = ratesBp.foldLeft(lit(defaultBp)) { case (acc, (k, bp)) =>
      when(strataCol === k, lit(bp)).otherwise(acc)
    }
    df.where(bucket(col(idCol), seed) < rate)
  }

  /** Per-row WEIGHTED keep: P(keep) = weightBp/10000 per row, still a pure
    * function of the id — e.g. length- or quality-proportional corpus
    * up/down-weighting. `weightBp` is any integer column expression; it is
    * clamped to [0, 10000]. Pure filter: no shuffle, pushes to the scan
    * when weightBp only reads scan columns.
    */
  def weighted(df: DataFrame, idCol: String, weightBp: Column,
      seed: Long = 0L): DataFrame =
    df.where(bucket(col(idCol), seed) <
      least(greatest(weightBp, lit(0)), lit(Buckets)))

  /** Exactly min(k, |group|) rows per group, drawn uniformly without
    * replacement by deterministic hash order — the "n docs per source /
    * per language" inspection draw. Adds `sample_rank` (1-based).
    *
    * Scale shape: the rank filter compiles to WindowGroupLimit, so every
    * map task keeps only its local top-k per group BEFORE the exchange —
    * the shuffle carries ≤ k·tasks rows per group, not the group. Ordering
    * is by the top-63-bit hash (non-negative in both signed and unsigned
    * comparison — the [[bucket]] trick — so an external engine ordering
    * the same unsigned hash agrees), id-tie-broken.
    */
  def perGroup(df: DataFrame, idCol: String, groupCol: Column, k: Int,
      seed: Long = 0L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = shiftrightunsigned(F.murmur64(col(idCol).bitwiseXOR(lit(seed))), 1)
    df.withColumn("sample_rank", row_number()
        .over(Window.partitionBy(groupCol).orderBy(h, col(idCol)))
        .cast("long"))
      .where(col("sample_rank") <= k)
  }

  /** Deterministic per-epoch global shuffle: ordering is a pure function
    * of (id, epoch), so every worker resuming epoch N reproduces the same
    * permutation. A total sort = one range-partitioned exchange — the
    * standard price of a global training shuffle.
    */
  def epochShuffle(df: DataFrame, idCol: String, epoch: Long): DataFrame =
    df.orderBy(F.murmur64(col(idCol).bitwiseXOR(lit(epoch))), col(idCol))
}

/** Exact percentile-band selection WITHOUT a global sort: keep the rows
  * whose global (value, id) rank falls inside the middle band — the
  * standard "trim length outliers" cut for training corpora, done
  * integer-exact so any engine reproduces the same kept set.
  *
  * Scale shape: a naive `row_number() OVER (ORDER BY value)` is a
  * single-partition window — a scale killer. The rank comes from the
  * shared distributed build [[Prefix]] (range-partition on (value, id),
  * rank within each partition, broadcast per-partition offsets), and
  * the row total from its offset scan — no window without a partition
  * spec, however skewed or continuous the value column.
  */
object RankTrim {

  /** Rows with trimBp..(10000-trimBp) per-10000 global rank by
    * (valueCol, idCol). Output: id, value, grank.
    */
  def middleBand(df: DataFrame, idCol: String, valueCol: String,
      trimBp: Int): DataFrame = {
    require(trimBp >= 0 && trimBp < 5000, s"trimBp must be in [0, 5000)")
    val r = Prefix.withRankPrefixTotals(df.select(col(idCol), col(valueCol)),
      Seq(valueCol, idCol), Nil)
    val total = lit(r.totalCount)
    val lo = (total * trimBp / Sampling.Buckets).cast("long")
    // a null value takes a rank (nulls sort first) but is never kept
    r.df.where(col(valueCol).isNotNull &&
        col("idx") > lo && col("idx") <= total - lo)
      .select(col(idCol), col(valueCol), col("idx").as("grank"))
  }
}
