package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** The distributed global-rank/prefix-sum build — the ONE place graft
  * computes a global rank. A global
  * `row_number()/sum().over(Window.orderBy(...))` funnels every row
  * through ONE task — the classic zipWithIndex bottleneck at 10⁹ rows.
  * Instead: range-partition by the order columns (partition index
  * increasing with the key), rank and prefix-sum WITHIN each partition
  * (parallel windows), and add per-partition start offsets computed
  * from the partition TOTALS — a driver-side frame bounded by the
  * partition count, never by data — broadcast back onto the rows.
  * Reproduces the unpartitioned-window semantics byte-identically.
  *
  * Users: PageRank's node index (q102), Eval's score cumulatives
  * (q160), the length-trim band (q64), DSIR selection (q126), UniMax
  * budgets (q121), the Lorenz report (q170) and corpus quantiles
  * (q171). Each reads the grand totals from [[Ranked]] rather than
  * aggregating its input a second time.
  */
object Prefix {

  /** [[withRankPrefixTotals]]'s result: the ranked frame plus the GRAND
    * totals the offset build already computed on the driver — callers
    * that previously re-aggregated the input just to learn its totals
    * (the r17 q160 regression: `bys.agg(sum…)` re-ran the whole
    * upstream groupBy once per consumer) read them here for free.
    */
  final case class Ranked(df: DataFrame, totalCount: Long,
      totals: Map[String, Long])

  /** Adds `idx` (1-based global rank over `orderCols` ascending) and,
    * per entry (c, alias) of `valueCols`, `<alias>` = the EXCLUSIVE
    * prefix sum of BIGINT column c in that order. Ties within
    * `orderCols` rank by their within-partition encounter order of the
    * remaining columns — pass a tiebreaker column in `orderCols` for a
    * total order (every caller does). The per-partition totals
    * collect to the driver: ≤ `spark.sql.shuffle.partitions` rows; the
    * grand totals (total row count and, per value alias, the column's
    * full sum) fall out of that scan at zero extra cost. Building the
    * result is eager (two snapshots and one collect); an empty input
    * gives an empty frame and zero totals.
    */
  def withRankPrefixTotals(df: DataFrame, orderCols: Seq[String],
      valueCols: Seq[(String, String)]): Ranked = {
    // the build injects fixed working names; a caller whose frame (or
    // alias list) already uses one would be silently corrupted (ADVICE
    // r17) — fail loudly instead
    val reserved = "pid" +: "idx" +: "_off_idx" +:
      valueCols.map { case (_, a) => s"_off_$a" }
    val clash = df.columns.toSet
      .intersect(reserved.toSet ++ valueCols.map(_._2))
    require(clash.isEmpty,
      s"Prefix.withRankPrefixTotals: input columns collide with reserved/" +
        s"output names ${clash.mkString(", ")} — rename them first")
    val aliases = valueCols.map(_._2)
    require(aliases.distinct.size == aliases.size &&
      !aliases.exists(a => a == "idx" || a == "pid"),
      s"Prefix.withRankPrefixTotals: aliases must be unique and not " +
        s"'idx'/'pid' (got ${aliases.mkString(", ")})")
    // the aliases themselves must not collide with the WORKING names
    // either (ADVICE r18): an alias like "_off_idx" (or "_off_<other
    // alias>") passes the two requires above, then the final drop of
    // working names silently removes the caller's output column
    val aliasClash = aliases.filter(reserved.contains)
    require(aliasClash.isEmpty,
      s"Prefix.withRankPrefixTotals: aliases collide with reserved working " +
        s"names ${aliasClash.mkString(", ")} — rename them")
    val spark = df.sparkSession
    val oc = orderCols.map(col)
    // materialize the input BEFORE the range exchange: RangePartitioning
    // samples its child to pick bounds, so an un-materialized input runs
    // its whole upstream pipeline an extra time just for the sample (the
    // r17 q160 regression's biggest constant). The snap is the grouped
    // frame — far smaller than whatever produced it — and is freed once
    // `stamped` is stored, or every Prefix call would pin a grouped-frame
    // copy for the session's lifetime (one of the r18 q175/q176 leaks)
    val stamped = Store.scoped(s => Store.snapshot(s.snapshot(df)
      .repartitionByRange(oc: _*).withColumn("pid", spark_partition_id())))
    val aggs = (count(lit(1)).as("_cnt") +:
      valueCols.map { case (c, a) =>
        coalesce(sum(col(c)), lit(0L)).as(s"_t_$a") }).toList
    val parts = stamped.groupBy("pid").agg(aggs.head, aggs.tail: _*)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1),
        valueCols.indices.map(i => r.getLong(2 + i)).toArray))
      .sortBy(_._1)
    // running totals on the driver: addExact throws on overflow, as
    // the ANSI-mode sums that produced the partition totals do
    var runC = 0L
    val runV = Array.fill(valueCols.size)(0L)
    val offRows = parts.map { case (pid, c, vs) =>
      val row = Row.fromSeq(pid +: runC +: runV.toSeq)
      runC = Math.addExact(runC, c)
      vs.indices.foreach(i => runV(i) = Math.addExact(runV(i), vs(i)))
      row
    }
    val offSchema = StructType(
      StructField("pid", IntegerType, nullable = false) +:
        StructField("_off_idx", LongType, nullable = false) +:
        valueCols.map { case (_, a) =>
          StructField(s"_off_$a", LongType, nullable = false) })
    val offsets = spark.createDataFrame(
      java.util.Arrays.asList(offRows: _*), offSchema)
    val w = Window.partitionBy("pid").orderBy(oc: _*)
    val wx = w.rowsBetween(Window.unboundedPreceding, -1)
    val withIdx = stamped.join(broadcast(offsets), "pid")
      .withColumn("idx",
        col("_off_idx") + row_number().over(w).cast("long"))
    val out = valueCols.foldLeft(withIdx) { case (d, (c, a)) =>
      d.withColumn(a,
        col(s"_off_$a") + coalesce(sum(col(c)).over(wx), lit(0L)))
    }.drop("pid" +: "_off_idx" +: valueCols.map { case (_, a) => s"_off_$a" }: _*)
    Ranked(out, runC,
      valueCols.zipWithIndex.map { case ((_, a), i) => a -> runV(i) }.toMap)
  }

  /** The 1-based bin of global rank `idx` when `total` ranked rows fold
    * into `bins` equal-count bins — ntile's exact closed form: the first
    * (total mod bins) bins take ⌈total/bins⌉ rows, the rest
    * ⌊total/bins⌋; with total < bins every row is its own bin. `total`
    * is a driver value ([[Ranked.totalCount]]); it enters the plan as a
    * literal, so the products stay overflow-checked under ANSI mode.
    */
  def ntileBin(idx: Column, total: Long, bins: Int): Column = {
    val qq = total / bins
    val rr = lit(total % bins)
    def div(a: Column, b: Column): Column = call_function("div", a, b)
    if (qq == 0L) idx
    else when(idx <= (lit(qq) + 1L) * rr, div(idx + qq, lit(qq) + 1L))
      .otherwise(rr + div(idx - (lit(qq) + 1L) * rr + qq - 1L, lit(qq)))
  }
}
