package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

/** Relational / ETL operators re-expressing the reference's transformation
  * surface (JakBiel/Building_permissions_ETL, dags/aggregates_python_helpers
  * .py) Spark-first. Every operator is a declarative DataFrame transform —
  * Catalyst handles pushdown/pruning; shuffles are called out per-op.
  */
object IncrementalLoad {

  /** The reference's incremental-load window (helpers.py:104-127,172-197):
    * first run loads everything before `execDate`; later runs load only
    * [first day of previous month, execDate). Half-open on the left — the
    * reference uses a strict `>` against datetimes, which silently loses
    * exact-boundary rows under a monthly cadence with date-typed columns;
    * `>=` makes consecutive windows compose without gaps. At scale this
    * predicate lands on the partition column, so a monthly-partitioned
    * source prunes to ≤2 partitions instead of scanning history.
    */
  def dateWindow(df: DataFrame, dateCol: Column, execDate: Column,
      firstRun: Boolean): DataFrame =
    if (firstRun) df.where(dateCol < execDate)
    else {
      val windowStart = add_months(trunc(execDate, "month"), -1)
      df.where(dateCol >= windowStart && dateCol < execDate)
    }
}

object StarJoin {

  /** Star-schema enrich: fact joined through a chain of dimensions, every
    * dimension broadcast (dims are small by definition; the fact side never
    * shuffles). `dims` is (dimDf, joinCondition) pairs applied left-to-right.
    */
  def enrich(fact: DataFrame, dims: Seq[(DataFrame, Column)]): DataFrame =
    dims.foldLeft(fact) { case (acc, (dim, cond)) =>
      acc.join(broadcast(dim), cond, "inner")
    }
}

object PivotAggregates {

  /** Pivot counts with REQUIRED explicit pivot values — the reference
    * discovers pivot columns from the data (helpers.py:429-481, pandas
    * pivot_table); at 100 TB an implicit `.pivot(col)` runs a distinct-scan
    * on the driver first, so graft makes the value list part of the API.
    * ONE aggregate with a conditional count per value (one exchange,
    * map-side partial aggregation); values are cast to the pivot column's
    * type and matched null-safe, as `.pivot` matches explicit values.
    * Missing combinations come back 0 (non-null bigint), like SUM(CASE).
    */
  def countPivot(df: DataFrame, groupCol: String, pivotCol: String,
      pivotValues: Seq[String]): DataFrame =
    countCells(df, groupCol, pivotValues.map(v =>
      (col(pivotCol) <=> lit(v).cast(df.schema(pivotCol).dataType)) -> v))

  /** Two-level pivot with the reference's de-Romanized column-rename pass
    * (helpers.py:431 pivots on ['rodzaj_zam_budowlanego','kategoria']
    * jointly, then :485-533 shortens names and converts the Roman category
    * to its integer). One output column `cnt_<value1>_<int(value2)>` per
    * (value1, romanValue2) pair, in `values1 × values2Roman` order, each a
    * conditional count in the same single aggregate as [[countPivot]]:
    * one exchange however many cells, no compound pivot key.
    */
  def countPivot2(df: DataFrame, groupCol: String, col1: String,
      values1: Seq[String], col2Roman: String,
      values2Roman: Seq[String]): DataFrame = {
    import graft.functions.RomanCodec
    countCells(df, groupCol, for (a <- values1; r <- values2Roman) yield
      (col(col1) === a && col(col2Roman) === r) ->
        s"cnt_${a}_${RomanCodec.fromRomanStr(r)}")
  }

  private def countCells(df: DataFrame, groupCol: String,
      cells: Seq[(Column, String)]): DataFrame = {
    val counts = cells.map { case (cond, name) => count(when(cond, 1)).as(name) }
    df.groupBy(col(groupCol)).agg(counts.head, counts.tail: _*)
  }
}

object WindowedCounts {

  /** The reference builds 3m/2m/1m aggregates as three full scans + pivots
    * + two outer joins (helpers.py:349-362,535-553). graft computes all the
    * windows in ONE pass with conditional aggregation: a single shuffle on
    * the group keys, map-side partial aggregation, no joins.
    *
    * Returns one `cnt_{m}m` long column per requested month window, counting
    * rows with `anchor - m months <= dateCol < anchor`.
    */
  def monthWindowCounts(df: DataFrame, dateCol: Column, anchor: Column,
      monthsBack: Seq[Int], groupCols: Seq[String]): DataFrame = {
    val aggs = monthsBack.map { m =>
      sum(
        when(dateCol >= add_months(anchor, -m) && dateCol < anchor, 1L)
          .otherwise(0L)).as(s"cnt_${m}m")
    }
    df.where(dateCol >= add_months(anchor, -monthsBack.max) && dateCol < anchor)
      .groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }
}

object DimAlign {

  /** Drop fact rows whose key has no match in the dimension — the
    * reference's "removing_false_records_from_aggregate" (helpers.py:573-587)
    * does a left merge + isin filter; Spark-first this is a left_anti /
    * left_semi join with the dim broadcast.
    */
  def keepMatched(fact: DataFrame, dim: DataFrame, factKey: String,
      dimKey: String): DataFrame =
    fact.join(broadcast(dim), fact(factKey) === dim(dimKey), "left_semi")

  /** No broadcast hint here: the "dim" side of an anti-join can be a fact
    * table (e.g. "customers with no orders") — AQE picks the strategy.
    */
  def removeUnmatched(fact: DataFrame, dim: DataFrame, factKey: String,
      dimKey: String): DataFrame =
    fact.join(dim, fact(factKey) === dim(dimKey), "left_anti")

  /** Emit every dimension row with its aggregate, zero-filled when the fact
    * side has no rows — the reference's "adding_empty_records_for_powiats
    * _with_zero_permissions" (helpers.py:589-633) via a pandas right merge +
    * concat. The *aggregated* side is broadcast: it is the small one
    * (post-groupBy, at most |dim| rows), and Spark cannot build the
    * preserved (left) side of a left-outer join, so hinting the dim side
    * would be silently discarded and fall back to a shuffle join.
    * The fill is ONE projection (each of `zeroCols` coalesced to 0 in
    * place), so analysis cost does not grow with the column count.
    */
  def zeroFill(dim: DataFrame, agg: DataFrame, dimKey: String, aggKey: String,
      zeroCols: Seq[String]): DataFrame =
    dim.join(broadcast(agg), dim(dimKey) === agg(aggKey), "left")
      .withColumns(ListMap(zeroCols.map(c => c -> coalesce(col(c), lit(0L))): _*))
      .drop(aggKey)
}

object CodeCorrection {

  /** Result statuses, mirroring the reference's terc cleanse
    * (helpers.py:240-300): Matched = filled from a fallback source,
    * Unknown2 = prefix not in the valid dictionary, Ok = untouched valid.
    */
  val Ok = "Ok"
  val Matched = "Matched"
  val Unknown = "Unknown"
  val Unknown2 = "Unknown2"

  /** Generic code-correction cleanse:
    *  1. null/empty codes are filled from `fallback` (status Matched;
    *     unfillable → Unknown),
    *  2. codes one digit short are left-padded with '0' (terc 6→7 rule),
    *  3. the leading `prefixLen` digits must be in `validPrefixes`, else
    *     status Unknown2.
    * Pure narrow transformation — no shuffle, fully codegen'd; callers drop
    * non-Ok/Matched rows with `dropInvalid`.
    */
  def classify(df: DataFrame, codeCol: Column, fallback: Column, width: Int,
      prefixLen: Int, validPrefixes: Seq[String], outCode: String = "code",
      outStatus: String = "status"): DataFrame = {
    val rawEmpty = codeCol.isNull || length(trim(codeCol)) === 0
    val filled = when(rawEmpty, fallback).otherwise(codeCol)
    val padded = when(length(filled) === width - 1, concat(lit("0"), filled))
      .otherwise(filled)
    val prefixOk = substring(padded, 1, prefixLen).isin(validPrefixes: _*)
    val status = when(padded.isNull, Unknown)
      .when(!prefixOk, Unknown2)
      .when(rawEmpty, Matched)
      .otherwise(Ok)
    df.withColumn(outCode, padded).withColumn(outStatus, status)
  }

  val MatchedByName = "MatchedByName"

  /** [[classify]] plus the reference's name-containment fallback LOOKUP
    * (helpers.py:273: `gdf1['JPT_NAZWA_'].str.contains(miasto, case=False)`
    * against the powiaty dim): rows whose code is empty AND whose fallback
    * column is also empty are matched by testing whether the broadcast
    * dimension's name appears (case-insensitively) inside the row's place
    * text; ties take the smallest dim code (deterministic). Statuses:
    * Ok (untouched valid), Matched (filled from the fallback column),
    * MatchedByName (filled via the dim lookup), Unknown (unfillable),
    * Unknown2 (prefix not in the valid dictionary).
    *
    * The containment join is a broadcast nested-loop against the dim —
    * bounded because only code-less rows enter it and the dim is small by
    * definition; the per-pk min() aggregation shuffles only (pk, code).
    */
  def classifyWithLookup(df: DataFrame, pkCol: String, codeCol: Column,
      fallback: Column, placeCol: Column, dim: DataFrame, dimNameCol: String,
      dimCodeCol: String, width: Int, prefixLen: Int,
      validPrefixes: Seq[String], outCode: String = "code",
      outStatus: String = "status"): DataFrame = {
    val base = df
      .withColumn("_raw", codeCol)
      .withColumn("_fb", fallback)
      .withColumn("_place", placeCol)
    def empty(c: Column) = c.isNull || length(trim(c)) === 0
    val rawEmpty = empty(col("_raw"))
    val fbEmpty = empty(col("_fb"))
    val needLookup = base.where(rawEmpty && fbEmpty)
      .select(col(pkCol).as("_pk"), lower(col("_place")).as("_pl"))
    val looked = needLookup
      .join(broadcast(dim.select(lower(col(dimNameCol)).as("_dn"),
        col(dimCodeCol).as("_dc"))),
        col("_pl").contains(col("_dn")), "inner")
      .groupBy(col("_pk"))
      .agg(min(col("_dc")).as("_byname"))
    val filled = base
      .join(looked, base(pkCol) === looked("_pk"), "left")
      .withColumn("_filled",
        when(!rawEmpty, col("_raw"))
          .when(!fbEmpty, col("_fb"))
          .otherwise(col("_byname")))
    val padded = when(length(col("_filled")) === width - 1,
      concat(lit("0"), col("_filled"))).otherwise(col("_filled"))
    val prefixOk = substring(padded, 1, prefixLen).isin(validPrefixes: _*)
    val status = when(padded.isNull, Unknown)
      .when(!prefixOk, Unknown2)
      .when(!rawEmpty, Ok)
      .when(!fbEmpty, Matched)
      .otherwise(MatchedByName)
    filled
      .withColumn(outCode, padded)
      .withColumn(outStatus, status)
      .drop("_raw", "_fb", "_place", "_pk", "_pl", "_byname", "_filled")
  }

  def dropInvalid(df: DataFrame, statusCol: String = "status"): DataFrame =
    df.where(col(statusCol).isin(Ok, Matched, MatchedByName))
}

object AsOfJoin {

  /** As-of join: attach to each fact row the LATEST dim version with
    * `dimTs <= factTs` for the same key (slowly-changing-dimension
    * lookup). Spark has no native as-of; the naive form (theta-join on
    * key + ts≤ts, then max per fact row) explodes to |fact|×|versions|
    * rows. This implementation is the scale-correct one: UNION both
    * sides tagged, ONE shuffle on the key, and a running
    * last(ignoreNulls) window carries each version's attributes forward
    * onto the fact rows that follow it in time — dim rows sort before
    * fact rows at equal timestamps, so a version taking effect exactly
    * at the fact's timestamp is visible (>= semantics, like DuckDB's
    * ASOF JOIN).
    *
    * `attrs` are the dim columns to carry; fact rows with no preceding
    * version get nulls.
    */
  def latest(fact: DataFrame, dim: DataFrame, key: String, factTs: Column,
      dimTs: Column, attrs: Seq[String]): DataFrame = {
    val d = dim.select(
      (col(key) +: attrs.map(col)) :+ dimTs.as("_ts") :+ lit(1).as("_isdim"): _*)
    val f = fact.withColumn("_ts", factTs).withColumn("_isdim", lit(0))
    // plain allowMissing union: attrs must surface as NULL on fact rows
    // (a zero-fill would defeat last(ignoreNulls))
    val u = d.unionByName(f, allowMissingColumns = true)
    val w = Window.partitionBy(col(key))
      .orderBy(col("_ts"), col("_isdim").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // one projection holding every carry, so ONE Window node sorts once
    val carried = u.withColumns(ListMap(attrs.map(a =>
      a -> last(col(a), ignoreNulls = true).over(w)): _*))
    carried.where(col("_isdim") === 0).drop("_ts", "_isdim")
  }
}

object RangeJoin {

  /** Point-in-interval range join: match each fact row's point value to
    * every interval [lo, hi) that contains it. A raw inequality join has
    * no equi-key, so Spark plans a broadcast-nested-loop — O(|fact|·|dim|)
    * compares. Binning restores an equi-key: points join on their bin,
    * intervals replicate onto every bin they overlap (sequence explode),
    * and the exact containment predicate filters inside the hash join.
    * Cost: |fact| + Σ interval_width/binWidth rows through one shuffle.
    * Pick binWidth near the typical interval width so replication stays
    * O(1) per interval.
    */
  def pointInInterval(fact: DataFrame, intervals: DataFrame, point: Column,
      lo: Column, hi: Column, binWidth: Long): DataFrame = {
    val f = fact.withColumn("_bin", floor(point / binWidth))
    val iv = intervals
      .withColumn("_lo", lo).withColumn("_hi", hi)
      .withColumn("_bin",
        explode(sequence(floor(col("_lo") / binWidth),
          floor((col("_hi") - 1) / binWidth))))
    f.join(iv, Seq("_bin"))
      .where(point >= col("_lo") && point < col("_hi"))
      .drop("_bin", "_lo", "_hi")
  }
}

object FuzzyJoin {

  /** Edit-distance (fuzzy) join: candidates block on shared character
    * q-grams of the boundary-padded strings, exact Levenshtein filters
    * inside the hash join — never an all-pairs distance matrix. The
    * blocking is lossless for strings where an edit can't destroy every
    * gram: padded length > q·(maxDist+1)-1 guarantees a surviving shared
    * gram (each edit touches ≤ q grams). Shorter strings are cheap enough
    * to route through exact dedup instead.
    */
  def byEditDistance(left: DataFrame, leftId: String, leftStr: Column,
      right: DataFrame, rightId: String, rightStr: Column, maxDist: Int,
      q: Int = 3): DataFrame = {
    def grams(df: DataFrame, id: String, s: Column, side: String) = {
      // boundary markers make edits near the ends destroy fewer grams
      val padded = concat(lit("^"), lower(s), lit("$"))
      df.select(col(id).as(s"${side}_id"), lower(s).as(s"${side}_s"),
        explode(array_distinct(transform(
          sequence(lit(0), greatest(length(padded) - q, lit(0))),
          i => padded.substr(i + 1, lit(q))))).as("gram"))
    }
    grams(left, leftId, leftStr, "l")
      .join(grams(right, rightId, rightStr, "r"), "gram")
      .select("l_id", "l_s", "r_id", "r_s").distinct()
      .where(levenshtein(col("l_s"), col("r_s")) <= maxDist)
      .select(col("l_id"), col("r_id"),
        levenshtein(col("l_s"), col("r_s")).cast("long").as("dist"))
  }
}

object SkewJoin {

  /** Salted inner equi-join for skewed fact keys when the build side can't
    * broadcast: each fact row gets a deterministic salt in [0, buckets)
    * derived from `saltSource` (pick a high-cardinality column so rows of
    * one hot key spread evenly), and the dim side replicates every row
    * across all buckets. A key that used to land on ONE reducer now
    * spreads over `buckets` of them at the cost of a ×buckets dim
    * replication. AQE's skew-join split handles most skew at runtime —
    * reach for this only when the skew is known and extreme, or the join
    * feeds a layout AQE must not re-split.
    */
  def salted(fact: DataFrame, dim: DataFrame, factKey: String,
      dimKey: String, saltSource: Column, buckets: Int): DataFrame = {
    val f = fact.withColumn("_salt", pmod(hash(saltSource), lit(buckets)))
    val d = dim.withColumn("_salt", explode(sequence(lit(0), lit(buckets - 1))))
    f.join(d, f(factKey) === d(dimKey) && f("_salt") === d("_salt"), "inner")
      .drop("_salt")
  }
}

object IncrementalPipeline {

  /** The reference DAG's end-to-end load in one call (helpers.py:80-127
    * full-vs-window decision + :656-741 warehouse write): if the sink
    * doesn't exist yet, load the full history before `execDate`; otherwise
    * load the half-open [prev-month-start, execDate) window. Either way
    * the batch lands via dynamic month overwrite, so retried and
    * overlapping runs are idempotent — consecutive monthly runs compose
    * into exactly-once coverage of the timeline. The monthly partition
    * layout makes the NEXT run's window predicate prune to ≤2 partitions.
    */
  def run(spark: org.apache.spark.sql.SparkSession, source: DataFrame,
      dateCol: String, clusterCol: String, sinkPath: String,
      execDate: Column): Unit = {
    val firstRun =
      try { spark.read.parquet(sinkPath); false }
      catch { case _: org.apache.spark.sql.AnalysisException => true }
    val batch = IncrementalLoad.dateWindow(source, col(dateCol), execDate, firstRun)
    PartitionedSink.upsertMonths(batch, dateCol, clusterCol, sinkPath)
  }
}

object Ranking {

  /** Deterministic top-k per group: row_number over (orderCols, tieBreak) so
    * ties never make results run-dependent. One shuffle on the group key.
    */
  def topKPerGroup(df: DataFrame, groupCol: String, orderCol: Column,
      tieBreak: Column, k: Int, rankName: String = "rnk"): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(orderCol, tieBreak)
    df.withColumn(rankName, row_number().over(w).cast("long"))
      .where(col(rankName) <= k)
  }
}

object SchemaAlign {

  /** Union two frames by column name, zero-filling NUMERIC columns missing
    * on either side — the reference's BigQuery schema-evolution step
    * (helpers.py:383-411) adds INTEGER 0 columns on both sides before
    * appending. Non-numeric missing columns stay null (a string has no
    * meaningful zero; coalescing one against 0 would force a lossy cast).
    */
  def unionZeroFill(a: DataFrame, b: DataFrame): DataFrame = {
    val u = a.unionByName(b, allowMissingColumns = true)
    val missing =
      (a.columns.toSet -- b.columns.toSet) ++ (b.columns.toSet -- a.columns.toSet)
    u.withColumns(ListMap(u.schema.fields.toSeq.collect {
      case f if missing(f.name) &&
          f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] =>
        f.name -> coalesce(col(f.name), lit(0).cast(f.dataType))
    }: _*))
  }
}

object Sessionize {

  /** Gap-based sessionization in one pass of window functions: a session
    * boundary is a gap > `gapMs` milliseconds; session ids are the running
    * sum of boundary flags. One shuffle on the user key; no driver state,
    * no mapGroups — stays in Tungsten.
    */
  def assignSessions(events: DataFrame, userCol: String, tsCol: String,
      tieBreak: String, gapMs: Long): DataFrame = {
    val byUser = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tieBreak))
    val ms = unix_millis(col(tsCol))
    val prevMs = lag(ms, 1).over(byUser)
    val newSession =
      when(prevMs.isNull || ms - prevMs > gapMs, 1L).otherwise(0L)
    events
      .withColumn("session_seq",
        sum(newSession).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Per-user session stats on top of [[assignSessions]]. */
  def userSessionStats(events: DataFrame, userCol: String, tsCol: String,
      tieBreak: String, gapMs: Long): DataFrame =
    assignSessions(events, userCol, tsCol, tieBreak, gapMs)
      .groupBy(col(userCol))
      .agg(count(lit(1)).as("n_events"), max(col("session_seq")).as("n_sessions"))
}

object TimeBuckets {

  /** Tumbling-bucket aggregation (batch twin of the streaming windowed agg):
    * truncate to the bucket, group once. Decimal-exact value sums via the
    * caller's agg columns.
    */
  def hourly(df: DataFrame, tsCol: String, aggs: Seq[Column],
      extraKeys: Seq[String] = Nil): DataFrame = {
    val keys = col("bucket_ts") +: extraKeys.map(col)
    df.withColumn("bucket_ts", date_trunc("hour", col(tsCol)))
      .groupBy(keys: _*)
      .agg(aggs.head, aggs.tail: _*)
  }
}

object TimeFill {

  /** Densify a sparse time series: emit EVERY bucket in [global min,
    * global max] for every key, zero-filling buckets with no data — the
    * temporal analog of DimAlign.zeroFill (downstream window/ML code
    * usually assumes gap-free series). The bucket spine is generated by
    * key (sequence + explode, no driver loop) and left-joined to the
    * aggregated facts; the tiny (min, max) bound comes from one scalar
    * aggregation, cross-joined — never collected.
    */
  def denseHourly(df: DataFrame, tsCol: String, keyCol: String,
      valueAgg: Column): DataFrame = {
    val buckets = df
      .withColumn("bucket_ts", date_trunc("hour", col(tsCol)))
      .groupBy(col(keyCol), col("bucket_ts"))
      .agg(valueAgg.as("v"))
    val bounds = buckets.agg(min(col("bucket_ts")).as("lo"),
      max(col("bucket_ts")).as("hi"))
    val spine = buckets.select(col(keyCol)).distinct()
      .crossJoin(bounds)
      .select(col(keyCol),
        explode(sequence(col("lo"), col("hi"),
          expr("INTERVAL 1 HOUR"))).as("bucket_ts"))
    spine
      .join(buckets, Seq(keyCol.toString, "bucket_ts"), "left")
      .withColumn("v", coalesce(col("v"), lit(0L)))
  }
}

object Scd2 {

  /** Build slowly-changing-dimension TYPE 2 validity intervals from a
    * change-event log: each (key, effective_ts, attrs) change row becomes
    * a version valid [effective_ts, next change's ts), the latest version
    * open-ended (null valid_to). One shuffle on the key + a lead()
    * window — the construction side of what AsOfJoin consumes.
    */
  def intervals(changes: DataFrame, keyCol: String, tsCol: Column,
      attrs: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col("valid_from"))
    changes
      .withColumn("valid_from", tsCol)
      .select((col(keyCol) +: attrs.map(col) :+ col("valid_from")): _*)
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
  }

  /** Time-in-state weighting: total days each `attr` value was in effect
    * across all keys, intervals clipped to [horizonLo, horizonHi) and the
    * open-ended latest version closed at the horizon — the temporal-
    * weighting consumer of [[intervals]] (a plain row count over versions
    * answers "how many changes", this answers "for how LONG"). Pure
    * integer day arithmetic on top of the intervals window — no extra
    * shuffle beyond the groupBy.
    */
  def timeInState(changes: DataFrame, keyCol: String, tsCol: Column,
      attr: String, horizonLo: Column, horizonHi: Column): DataFrame = {
    val iv = intervals(changes, keyCol, tsCol, Seq(attr))
    iv.select(col(attr),
      greatest(col("valid_from").cast("date"), horizonLo.cast("date"))
        .as("lo"),
      least(coalesce(col("valid_to").cast("date"), horizonHi.cast("date")),
        horizonHi.cast("date")).as("hi"))
      .withColumn("days", greatest(datediff(col("hi"), col("lo")), lit(0))
        .cast("long"))
      .groupBy(col(attr))
      .agg(sum(col("days")).as("total_days"),
        count(when(col("days") > 0, 1)).as("n_intervals"))
  }
}

/** Exact per-group order statistics WITHOUT fp percentile interpolation:
  * the lower median is the element at rank floor((n+1)/2) of the
  * (value, id)-ordered group — a deterministic MEMBER of the group, so
  * any engine reproduces it bit-for-bit where interpolated percentiles
  * drift in the last ulp. One key shuffle + an in-group window.
  */
object GroupStats {

  def medianBy(df: DataFrame, groupCol: Column, valueCol: Column,
      idCol: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("v"), col("id"))
    df.select(groupCol.as("grp"), valueCol.as("v"), idCol.as("id"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("grp"))))
      .where(col("rnk") === ((col("n") + 1) / 2).cast("long")) // floor((n+1)/2)
      .select(col("grp"), col("v").as("median_v"), col("id").as("median_id"),
        col("n").cast("long").as("n_rows"))
  }

  /** EXACT corpus-wide quantiles without a global sort (q171): the
    * classical type-1 (lower) quantile — the value whose global rank is
    * ⌈q·n/100⌉ under (value, id) order — read straight off the
    * [[Prefix.withRankAndPrefix]] distributed rank. Where [[medianBy]]
    * is per-GROUP (ranks inside a partitioned window), this is the
    * whole-corpus report: a `Window.orderBy(value)` here would funnel
    * every row through one task at 100 TB; the range-partition +
    * broadcast-offsets build ranks in parallel and the quantile SELECT
    * is a broadcast semi-filter on idx (no second pass, no sort).
    * Output: one row per requested percentile — pct, idx (the 1-based
    * selected rank), `v` (the quantile value), n_rows.
    */
  def globalQuantiles(df: DataFrame, valueCol: Column, idCol: Column,
      pcts: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      s"percentiles must be in [1,100], got $pcts")
    val spark = df.sparkSession
    import spark.implicits._
    val ranked = graft.etl.Prefix.withRankAndPrefix(
      df.select(valueCol.as("v"), idCol.as("id")),
      orderCols = Seq("v", "id"), valueCols = Seq.empty)
      .localCheckpoint(true) // reused by the count and the filter
    val tot = ranked.agg(count(lit(1)).as("n"))
    // target rank per pct: ceil(p·n/100) = (p·n + 99) div 100 — exact
    // integer, n·100 ≪ 2⁶³ at any corpus size
    val targets = tot.crossJoin(pcts.toDF("pct"))
      .select(col("pct").cast("long").as("pct"),
        expr("(pct * n + 99) div 100").as("idx"), col("n"))
    ranked.join(broadcast(targets), Seq("idx"))
      .select(col("pct"), col("idx"), col("v"), col("n").as("n_rows"))
  }
}

object PartitionedSink {

  /** Monthly-partitioned, clustered parquet sink — the Spark analog of the
    * reference's BigQuery MONTH time-partitioning + clustering on terc
    * (helpers.py:726-736). `partitionBy(month)` gives partition pruning for
    * the incremental-load predicate; `sortWithinPartitions(clusterCol)`
    * gives parquet row-group min/max skipping on the cluster key.
    *
    * The repartition key is (month, hash(cluster) % filesPerMonth) — NOT
    * month alone: repartitioning by month alone funnels each month into ONE
    * task, so write parallelism = #months and a big month OOMs its single
    * task. The intra-month split key fans each month out to `filesPerMonth`
    * tasks/files while keeping rows of one cluster-key value in one file.
    */
  def writeMonthly(df: DataFrame, dateCol: String, clusterCol: String,
      path: String, filesPerMonth: Int = 8): Unit =
    df.withColumn("p_month", date_format(col(dateCol), "yyyy-MM"))
      .repartition(col("p_month"),
        pmod(hash(col(clusterCol)), lit(filesPerMonth)))
      .sortWithinPartitions(col("p_month"), col(clusterCol))
      .write
      .mode("overwrite")
      .partitionBy("p_month")
      .parquet(path)

  /** Idempotent month upsert: dynamic partition overwrite replaces ONLY
    * the months present in `df`, leaving all other partitions untouched —
    * so re-running an incremental window load is a no-op instead of an
    * append-duplicate (the failure mode of the reference's blind BQ
    * append on a retried DAG run). Same layout as [[writeMonthly]].
    */
  def upsertMonths(df: DataFrame, dateCol: String, clusterCol: String,
      path: String, filesPerMonth: Int = 8): Unit =
    df.withColumn("p_month", date_format(col(dateCol), "yyyy-MM"))
      .repartition(col("p_month"),
        pmod(hash(col(clusterCol)), lit(filesPerMonth)))
      .sortWithinPartitions(col("p_month"), col(clusterCol))
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("p_month")
      .parquet(path)

  /** Append a batch to an existing parquet table with two-sided schema
    * evolution — the reference's BigQuery append (helpers.py:383-411) adds
    * missing columns as INTEGER 0 on both sides before appending. Columns
    * the sink has but the batch lacks are added to the batch as typed
    * zeros; columns the batch has but the sink lacks simply append (old
    * files surface them as null — [[readAligned]] zero-fills on read, the
    * parquet analog of a metadata-only ALTER ADD COLUMN DEFAULT 0). If the
    * sink doesn't exist yet this is a plain first write.
    */
  def appendAligned(spark: org.apache.spark.sql.SparkSession, df: DataFrame,
      path: String): Unit = {
    val existing =
      try Some(spark.read.parquet(path).schema)
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    val aligned = existing match {
      case None => df
      case Some(schema) =>
        df.withColumns(ListMap(schema.fields.toSeq
          .filterNot(f => df.columns.contains(f.name))
          .map(f => f.name -> lit(0).cast(f.dataType)): _*))
    }
    aligned.write.mode("append").option("mergeSchema", "true").parquet(path)
  }

  /** Read an [[appendAligned]] sink with schema merge, zero-filling the
    * numeric nulls that pre-evolution files surface for later-added columns.
    */
  def readAligned(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val df = spark.read.option("mergeSchema", "true").parquet(path)
    df.withColumns(ListMap(df.schema.fields.toSeq
      .filter(f => f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
      .map(f => f.name -> coalesce(col(f.name), lit(0).cast(f.dataType))): _*))
  }

  /** Small-file compaction: rewrite a (possibly partitioned) parquet dir
    * with `filesPerPartition` files per partition value — incremental
    * month upserts accrete small files over months of runs, and scan cost
    * at 100 TB is dominated by file count long before byte count. The
    * split key hashes whole rows, so output sizes balance regardless of
    * data skew. Writes to a NEW path (the source can't be overwritten
    * while being read); callers swap paths after success — an atomic
    * rename in a real deployment.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, inPath: String,
      outPath: String, partitionCols: Seq[String],
      filesPerPartition: Int): Unit = {
    val df = spark.read.parquet(inPath)
    val dataCols = df.columns.filterNot(partitionCols.contains)
    val split = pmod(hash(struct(dataCols.toIndexedSeq.map(col): _*)), lit(filesPerPartition))
    val writer = df
      .repartition(partitionCols.map(col) :+ split: _*)
      .write.mode("overwrite")
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .parquet(outPath)
  }

  /** Bucketed table write: pre-shuffles once into `buckets` hash buckets on
    * the join key so every LATER equi-join or aggregation on that key is
    * shuffle-free — the answer to "this fact-fact join shuffles 100 TB
    * every night". Both sides must agree on key and bucket count. Requires
    * a catalog table (bucket metadata lives in the catalog, not parquet).
    */
  def writeBucketed(df: DataFrame, key: String, buckets: Int,
      table: String): Unit =
    df.write
      .mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)
}

/** Bloom-filter semi-join reduction — the engine's explicit runtime-filter
  * operator (what Spark's runtime bloom-filter rule injects implicitly
  * when statistics allow; here it is a first-class, always-on API): build
  * a Bloom sketch of the dim-side keys with the [[graft.functions.Bloom]]
  * Aggregator (map-side partial OR-merge, ONE bounded sketch row to the
  * driver), inline it as a literal codegen probe on the fact scan, and
  * only then join. The fact side shuffles only rows that MIGHT match —
  * at a selective dim this cuts the dominant shuffle by the dim's
  * selectivity, and the result is PROVABLY equal to the plain join: Bloom
  * filters have no false negatives, and false positives are eliminated by
  * the real join that follows.
  */
object BloomSemiJoin {

  /** `fact ⋈ dim` on `factKey = dimKey`, with the fact scan pre-filtered by
    * a Bloom sketch of the dim keys. numBits/numHashes size the filter:
    * fpp ≈ (1 - e^(-kn/m))^k; 2^16 bits / 4 hashes holds ~6k keys at <1%.
    *
    * `numBits = 0` (the default) AUTO-SIZES from the dim cardinality —
    * ~10 bits per key at k = 4 ≈ 1.2% fpp — because a fixed-size filter
    * SATURATES when the dim outgrows it (every bit set → zero pruning,
    * pure probe overhead; the round-6 10× probe caught exactly this on
    * q67). The size pass is one count() over the small side; callers on
    * a hot path pass an explicit numBits or cache the dim. The size is
    * capped at 2^27 bits (16 MiB inlined probe) — past that the literal
    * codegen probe stops paying and a broadcast/shuffle join is the
    * right plan; the cap keeps no-false-negative correctness (result ≡
    * plain join always; fpp just rises).
    */
  def filtered(fact: DataFrame, dim: DataFrame, factKey: String,
      dimKey: String, numBits: Int = 0, numHashes: Int = 4): DataFrame = {
    import graft.functions.{Bloom, F}
    val bits =
      if (numBits > 0) numBits
      else {
        val n = dim.count()
        val want = math.max(1L << 16,
          java.lang.Long.highestOneBit(math.max(1L, 10L * n)) << 1)
        math.min(want, 1L << 27).toInt
      }
    val bf = dim.select(col(dimKey).cast("long").as("k"))
      .agg(Bloom.sketch(col("k"), bits, numHashes).as("bf"))
      .select(col("bf.numHashes"), col("bf.words"))
      .head() // ONE row: the finished sketch — bounded at numBits/8 bytes
    val words = bf.getSeq[Long](1).toArray
    fact
      .where(F.bloomContains(words, bf.getInt(0), col(factKey).cast("long")))
      .join(dim, fact(factKey) === dim(dimKey))
  }
}

/** Trailing event-time moving aggregates — a RANGE window frame, not a row
  * frame: each (key, day) aggregates exactly the days inside the trailing
  * interval, so gaps in the series shrink the window instead of silently
  * reaching further back (what a ROWS frame would do). The daily pre-
  * aggregation keeps the windowed partition at one row per (key, day) —
  * the window sort cost tracks the series length, not the raw row count.
  */
object MovingAgg {

  /** Per-key daily totals plus the trailing `days`-day (inclusive) sum /
    * day-count / average. Totals are decimal-exact; the average divides
    * two exactly-determined numbers, so it is engine-portable.
    */
  def trailingDaily(df: DataFrame, keyCol: Column, dateCol: Column,
      valueCol: Column, days: Int): DataFrame = {
    require(days >= 1, "window must cover at least the current day")
    import org.apache.spark.sql.types.DecimalType
    val daily = df
      .groupBy(keyCol.as("grp"), dateCol.cast("date").as("d"))
      .agg(sum(valueCol.cast(DecimalType(18, 2))).as("t"))
    val w = Window.partitionBy(col("grp"))
      .orderBy(unix_date(col("d")))
      .rangeBetween(-(days - 1).toLong, 0L)
    daily.select(col("grp"), col("d"),
      col("t").cast("double").as("day_total"),
      sum(col("t")).over(w).cast("double").as("total_w"),
      count(lit(1)).over(w).cast("long").as("n_days_w"),
      (sum(col("t")).over(w).cast("double") / count(lit(1)).over(w))
        .as("avg_w"))
  }
}
