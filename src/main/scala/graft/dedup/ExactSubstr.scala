package graft.dedup

import graft.etl.{Rounds, Store}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** EXACT substring-duplication analysis by distributed prefix-doubling
  * — the suffix-array rank construction (Manber & Myers 1990; the
  * distributed formulation of Flick & Aluru 2015) over its own
  * equality-rank tables — no global rank order, so no
  * [[graft.etl.Prefix]] build (see [[nextRank]]) — closing the last
  * documented dedup deviation (VERDICT r17 next-task 6): [[DupSpans]]
  * (q93) approximates Lee et al. 2022's ExactSubstr with HASHED token
  * k-grams — token granularity hides character-level duplicates that
  * straddle token boundaries, and hashing admits collisions.
  * This module is exact at character level:
  *
  *  - **Rank tables.** level-k table `[doc, off, r]` = an EQUALITY
  *    rank of the character window `text[off, off+2^k)` among ALL
  *    corpus windows (two windows are equal iff their ranks are equal
  *    — EXACT, no hashes; rank ORDER is never consumed, see
  *    [[nextRank]]), built by k rounds of prefix-doubling: pair each
  *    position's rank with the rank 2^(k−1) ahead via `lead()` over
  *    the dense per-doc offsets (−1 past the end — a sentinel no real
  *    rank equals, so padded windows never conflate with real ones),
  *    then re-rank each distinct (r, r2) pair to its smallest packed
  *    corpus position (injective — no SinglePartition anywhere).
  *  - **Arbitrary window length** L via the sparse-table trick: with
  *    j = ⌊log₂ L⌋, `text[i, i+L) = text[i', i'+L)` iff
  *    `ranks(j)[i] = ranks(j)[i']` and
  *    `ranks(j)[i+L−2^j] = ranks(j)[i'+L−2^j]` — O(1) per position
  *    off two rank lookups, no further rounds.
  *
  * Scale shape: after the one-time char-code explode, every frame is
  * (g BIGINT, r BIGINT) — 16-byte rows, never text, where
  * `g = doc_id · posBase + off` is the injective packed corpus
  * position the pair-representative step already used as its re-rank
  * value (r19, guide §2.3 "narrower types": the rank tables carried
  * (doc_id, off, r) = 24 B/row through every round and probe exchange;
  * doc_id and off are pure arithmetic off g — doc base
  * `g − pmod(g, posBase)` partitions the per-doc windows, `g` itself
  * is the within-doc order, and offsets unpack only at the public API
  * boundary — so every rank/probe shuffle and sort moved to 16 B rows,
  * one third fewer shuffle bytes). ⌈log₂ L⌉ rounds, each two narrow
  * hash shuffles (the per-doc lead window and the pair-representative
  * join; the pair groupBy itself is map-side combined), each round's
  * output checkpointed so lineage stays flat.
  *
  * **Materialization policy (the r18 10× lesson — VERDICT r18 #1/#3):
  * corpus-characters-sized frames persist DISK_ONLY, and every frame
  * is RELEASED the moment its last consumer has materialized.** The
  * r18 build eagerly `localCheckpoint`ed every rank round at the
  * default deserialized MEMORY_AND_DISK level and retained all of
  * them (plus two Prefix-internal snapshots per round, plus one
  * per-probe starts frame) for the session's lifetime — ~15 pinned
  * corpus-sized frames, which OOM-killed q176 one decade up. Now at
  * most THREE such frames are ever live at once (the current table,
  * the next table mid-build, and one starts frame), serialized on
  * disk, and the one-time level-⌊log₂ minLen⌋ build is shareable
  * across the q175/q176/q178 family instead of being rebuilt per
  * query.
  *
  * Corpus text re-enters only when a caller asks for the duplicated
  * SUBSTRINGS themselves or for the cleaned corpus ([[removeDupSpans]]
  * — bounded: one `substr` per kept segment). Duplicate counting is
  * corpus-global (a second occurrence inside the same document counts,
  * like the paper). The window cap (default 64 = 6 rounds) is the
  * Lee et al. operating point (their threshold is 50 BPE tokens; spans
  * LONGER than the probe merge into maximal intervals, so no
  * duplicated region is ever missed — only reported as the union of
  * its covered positions).
  */
object ExactSubstr {

  /** (doc_id, off 1-based, r = char code) + (doc_id, len) frames. */
  private[dedup] def charPositions(docs: DataFrame, idCol: String,
      textCol: String): (DataFrame, DataFrame) = {
    // the length >= 1 guard (ADVICE r18): Spark's sequence(1, 0)
    // defaults to step -1 and yields [1, 0] — an EMPTY text would
    // inject two phantom positions into every rank round, kept out of
    // the output only by the downstream full-window filter
    val base = docs
      .where(col(textCol).isNotNull && length(col(textCol)) >= 1)
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
    // code-point explode, LINEAR in doc length (r19): substring(text,
    // i, 1) seeks from the string head on every call — O(len²) per
    // document, measured as the dominant CPU of the substrate build.
    // regexp_extract_all('(?s).') walks the text once, code-point
    // aligned (same off/len frame as before, char values unchanged:
    // ascii() of the same one-code-point string).
    val pos = base
      .select(col("doc_id"), posexplode(
        expr("transform(regexp_extract_all(text, '(?s).', 0), " +
          "c -> cast(ascii(c) as bigint))"))
        .as(Seq("p0", "r")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("off"),
        col("r"))
    val lens = base.select(col("doc_id"),
      length(col("text")).cast("long").as("len"))
    (pos, lens)
  }

  /** Everything the build needs to know about the per-doc length frame,
    * from ONE tiny action (the r18 shape paid one driver action per
    * need — posBase, total chars, a per-probe broadcast-size count):
    * `posBase` makes `doc_id * posBase + off` an injective global
    * position id (base > max(len), offsets 1..len — fails loudly on a
    * negative doc_id or a corpus whose packed ids would overflow a
    * long: that needs doc_id·maxLen past nine quintillion, not a
    * 100 TB corpus).
    */
  private[dedup] final case class LensStats(posBase: Long, nDocs: Long,
    totalChars: Long)

  private def lensStatsOf(lens: DataFrame): LensStats = {
    val r = lens.agg(max(col("len")), max(col("doc_id")),
      min(col("doc_id")), count(lit(1)),
      coalesce(sum(col("len")), lit(0L))).head()
    if (r.isNullAt(0)) return LensStats(2L, 0L, 0L) // empty corpus
    val (ml, maxDoc, minDoc) = (r.getLong(0), r.getLong(1), r.getLong(2))
    require(minDoc >= 0,
      s"ExactSubstr needs non-negative doc ids, got min $minDoc")
    val base = ml + 1L
    require(maxDoc <= (Long.MaxValue - ml) / base,
      s"packed corpus position id would overflow: maxDoc=$maxDoc maxLen=$ml")
    LensStats(base, r.getLong(3), r.getLong(4))
  }

  /** Per-doc partition key off the packed position: `doc_id · posBase`
    * — pure arithmetic, no unpacking division (g and posBase are
    * non-negative, so pmod is one `%`).
    */
  private def docBase(posBase: Long) =
    col("g") - pmod(col("g"), lit(posBase))

  /** One prefix-doubling round: the level-(k−1) table (windows of
    * length `half`) → the level-k table (windows of length 2·half),
    * as a lazy plan: [[rankAndLens]] and [[repetitionProfileFrom]] run
    * it as a [[graft.etl.Rounds]] step, which stores each level
    * DISK_ONLY (corpus-characters-sized, re-read a handful of times:
    * held deserialized in memory they killed the r18 10× run) and frees
    * the level before it.
    *
    * Two r19 kernel facts (OPTIMIZATION_r19.md §q176) replace the r18
    * round shape (self-join at distance `half` + distinct pairs +
    * Prefix dense range-rank + join-back — ≈4 corpus-sized exchanges,
    * 2 Prefix-internal eager checkpoints and a driver collect per
    * round) with 2 exchanges and no driver round-trip:
    *
    *  1. offsets are DENSE 1..len per doc (posexplode over
    *     sequence(1, len)), so the rank `half` positions ahead is
    *     `lead(r, half)` over the per-doc offset order — one hash
    *     exchange on doc_id where the self-join shuffled BOTH copies
    *     of the table on (doc_id, off);
    *  2. downstream only ever tests rank EQUALITY (window equality via
    *     key pairs — never rank ORDER: spans, counts and keep-first
    *     keepers all key on the pair), so ANY injective map of the
    *     distinct (r, r2) pairs serves as the next rank. The smallest
    *     packed corpus position carrying each pair is injective (pair
    *     groups partition the positions and each group's min is one of
    *     its own members) and deterministic — computable by one
    *     map-side-combined groupBy + one AQE-skew-splittable join,
    *     no dense-rank machinery. Equality-correctness is inductive:
    *     level-0 ranks are char codes (equal windows ⇔ equal codes),
    *     and equal level-k windows ⇔ equal (r, r2) halves ⇔ same
    *     group ⇔ same min position.
    */
  private def nextRank(cur: DataFrame, half: Long, posBase: Long)
      : DataFrame = {
    require(half <= Int.MaxValue, s"round shift $half overflows lead()")
    // offsets are dense 1..len per doc and g preserves their order, so
    // the row `half` ahead in (docBase, g) order is offset off+half
    val w = Window.partitionBy(docBase(posBase)).orderBy(col("g"))
    // −1 past the end: a sentinel no real rank equals (level-0 ranks
    // are char codes ≥ 0, later ranks are packed positions ≥ 0)
    val paired = cur.select(col("g"), col("r"),
      coalesce(lead(col("r"), half.toInt).over(w), lit(-1L)).as("r2"))
    val reps = paired.groupBy(col("r"), col("r2"))
      .agg(min(col("g")).as("nr"))
    // `paired` feeds both join sides UN-materialized — its docBase
    // exchange canonicalizes identically on both, so ReusedExchange
    // ships it once; the whole round is ONE job with exactly two
    // exchanges, and peak live frames drop to two (cur + out)
    paired.join(reps, Seq("r", "r2"))
      .select(col("g"), col("nr").as("r"))
  }

  /** The lazy (un-checkpointed) plan of one duplicated-window probe —
    * explain-evidence only, like [[roundPlanForExplain]]: the eager
    * substrate checkpoints hide the probe join from the final q175/
    * q176/q178 plans, so the SHJ-vs-SMJ claim on the occ side is
    * checkable here.
    */
  def probePlanForExplain(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val (pos, lens0) = charPositions(docs, idCol, textCol)
    // the stats the executed probe uses (one tiny action on the lens)
    val stats = lensStatsOf(lens0)
    val packed = pos.select(
      (col("doc_id") * stats.posBase + col("off")).as("g"), col("r"))
    // the real q175/q178 probe shape: level-3 table, window 12 →
    // shift 4 (the per-doc lead window) + the lens join + the SHJ
    val full = fullWindows(packed, 3, lens0, 12L, stats)
    full.join(dupContents(full).hint("shuffle_hash"), Seq("ra", "rb"))
      .select(expr(s"g div ${stats.posBase}").as("doc_id"),
        pmod(col("g"), lit(stats.posBase)).as("off"),
        col("ra"), col("rb"))
  }

  /** The lazy (un-checkpointed) plan of one prefix-doubling round —
    * explain-evidence only ([[graft.PlanDump]]): the committed plan
    * artifact shows the 2-exchange round kernel that the eager
    * checkpoints hide from the final query plans.
    */
  def roundPlanForExplain(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val (pos, _) = charPositions(docs, idCol, textCol)
    val posBase = 1000000L
    nextRank(pos.select(
      (col("doc_id") * posBase + col("off")).as("g"), col("r")), 1L, posBase)
  }

  /** The level-`level` rank table (windows of length 2^level) plus the
    * per-doc length frame, both persisted (rank table DISK_ONLY). The
    * levels are [[graft.etl.Rounds]] rounds, so each intermediate level
    * is freed as soon as the next is stored. The returned pair is the
    * caller's to release — or to MEMOIZE: the q175/q176/q178 family
    * shares one level-⌊log₂ minLen⌋ build (VERDICT r18 task 4) instead
    * of each query re-running the ⌈log₂ L⌉ shuffle rounds.
    */
  def rankAndLens(docs: DataFrame, idCol: String, textCol: String,
      level: Int): (DataFrame, DataFrame) = {
    require(level >= 0, s"level must be >= 0, got $level")
    val (pos, lens0) = charPositions(docs, idCol, textCol)
    val lens = Store.snapshot(lens0) // one row per doc — small
    val posBase = lensStatsOf(lens).posBase
    // pack (doc_id, off) → g before the level-0 table is stored: every
    // rank frame from here on is 16 B/row (see the scale-shape scaladoc)
    val table = Rounds.run(pos.select(
        (col("doc_id") * posBase + col("off")).as("g"), col("r")),
      level, StorageLevel.DISK_ONLY, storeInit = true) { (cur, k) =>
      nextRank(cur, 1L << k, posBase)
    }
    (table.last, lens)
  }

  /** Starts of length-`win` windows that occur ≥ 2 times corpus-wide —
    * exact, via the sparse-table pair over the level-`j` table `rj`
    * (requires 2^j ≤ win < 2^(j+1)). Output (doc_id, off, ra, rb):
    * (ra, rb) identifies the window CONTENT (two windows are equal iff
    * their key pairs are).
    */
  def dupWindowStartsFrom(rj: DataFrame, j: Int, lens: DataFrame,
      win: Long): DataFrame = {
    require(win >= 1, s"window must be >= 1, got $win")
    require(j == 63 - java.lang.Long.numberOfLeadingZeros(win),
      s"window $win needs the level-${63 - java.lang.Long
        .numberOfLeadingZeros(win)} table, got level $j")
    val stats = lensStatsOf(lens)
    val full = fullWindows(rj, j, lens, win, stats)
    // unpack g at the public boundary only (integer `div` — the `/`
    // operator is a DOUBLE divide, inexact past 2⁵³).
    // shuffle_hash on the occ side (r20, guide §3.1 — the shelved r19
    // candidate): the planner's sort-merge sorted BOTH sides of every
    // probe join — the C-row full-window frame AND the duplicated-
    // content aggregate — when the occ side (dup contents only,
    // occ ≥ 2: a small fraction of C) hash-builds per partition and
    // the C-row side then streams with NO sort at all
    full.join(dupContents(full).hint("shuffle_hash"), Seq("ra", "rb"))
      .select(expr(s"g div ${stats.posBase}").as("doc_id"),
        pmod(col("g"), lit(stats.posBase)).as("off"),
        col("ra"), col("rb"))
  }

  /** Broadcast the per-doc length frame below this many docs (≈16 B a
    * row — 64 MB framed at the bound) instead of letting the planner
    * sort-merge it against the corpus-characters window frame: lens is
    * an eager checkpoint, so Catalyst has no size estimate and plans
    * the C-row side through a full exchange just to drop partial
    * windows. Data-adaptive (a measured count, not a local[32] tune):
    * past the bound the hint is withheld and AQE's runtime join
    * re-planning takes over.
    */
  private val LensBroadcastMaxDocs = 4000000L

  /** All FULL length-`win` windows keyed by content-identifying rank
    * pair (ra, rb) — requires 2^j ≤ win < 2^(j+1). shift ≠ 0: rb = the
    * rank `shift` positions ahead — lead() over the dense per-doc
    * offsets (one exchange; the r18 self-join shuffled both copies —
    * the nextRank rewrite's fact 1). For every full window
    * off ≤ len−win+1 the lead is defined (shift < 2^j ≤ win), so the
    * lens filter subsumes the null tail.
    */
  private def fullWindows(rj: DataFrame, j: Int, lens: DataFrame,
      win: Long, stats: LensStats): DataFrame = {
    val shift = win - (1L << j)
    val keyed =
      if (shift == 0L) rj.select(col("g"),
        col("r").as("ra"), lit(0L).as("rb"))
      else rj.select(col("g"), col("r").as("ra"),
        lead(col("r"), shift.toInt).over(
          Window.partitionBy(docBase(stats.posBase))
            .orderBy(col("g"))).as("rb"))
    // lens re-keyed to the packed doc base so the corpus side joins
    // without unpacking (and, un-broadcast, shuffles 16 B rows)
    val lensKeyed = lens.select(
      (col("doc_id") * stats.posBase).as("_db"),
      col("len"))
    val lensSide =
      if (stats.nDocs <= LensBroadcastMaxDocs) broadcast(lensKeyed)
      else lensKeyed
    keyed.join(lensSide, docBase(stats.posBase) === col("_db"))
      .where(pmod(col("g"), lit(stats.posBase)) <= col("len") - win + 1)
      .select(col("g"), col("ra"), col("rb"))
  }

  /** The duplicated window CONTENTS of a [[fullWindows]] frame:
    * (ra, rb, occ ≥ 2) — one map-side-combined groupBy; both profile
    * counts (Σ occ = duplicated starts, row count = distinct
    * duplicated substrings) read off this frame without ever
    * materializing the per-position starts.
    */
  private def dupContents(full: DataFrame): DataFrame =
    full.groupBy(col("ra"), col("rb"))
      .agg(count(lit(1)).as("occ")).where(col("occ") >= 2)

  /** Exact maximal duplicated spans of length ≥ `minLen` per document:
    * every position lying inside SOME corpus-duplicated substring of
    * length ≥ minLen is covered, with exact boundaries (a duplicated
    * substring of length ≥ L is duplicated in every one of its
    * L-windows, and every duplicated L-window is itself a duplicated
    * substring — so the union of duplicated L-window extents IS the
    * exact covered set). Output: (doc_id, span_start 1-based,
    * span_end exclusive, span_len).
    *
    * Standalone build; the q175 registry entry routes through the shared
    * memoized (rank, lens, starts) substrate instead via
    * [[dupSpansFromStarts]].
    */
  def dupSpans(docs: DataFrame, idCol: String, textCol: String,
      minLen: Long = 12L): DataFrame = {
    val j = 63 - java.lang.Long.numberOfLeadingZeros(minLen)
    val (rj, lens) = rankAndLens(docs, idCol, textCol, j.toInt)
    dupSpansFromStarts(dupWindowStartsFrom(rj, j.toInt, lens, minLen),
      minLen)
  }

  /** Gaps-and-islands union of the fixed-length windows at `starts`
    * ((doc_id, off, …) — extra columns ignored). */
  def dupSpansFromStarts(starts: DataFrame, win: Long): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("off"))
    starts
      .withColumn("newi",
        when(col("off") > coalesce(lag(col("off"), 1).over(w),
          lit(Long.MinValue / 2)) + win, 1L).otherwise(0L))
      .withColumn("isl", sum(col("newi")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("off")).as("span_start"),
        (max(col("off")) + win).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_len"))
  }

  /** Corpus repetition profile at power-of-two probe lengths (the
    * Lee et al. "how much of the corpus is duplicated text" table):
    * per probe, the count of duplicated window starts, the count of
    * DISTINCT duplicated substrings, the characters covered by the
    * union of duplicated windows, and the covered share ×10⁶.
    *
    * EAGER: the per-probe numbers are single-row aggregates, so they
    * collect during the build — each probe's starts frame and each
    * intermediate rank level is released the moment its numbers are
    * in hand, and the result ships as a literal frame. (The r18 lazy
    * variant kept every level and every starts frame pinned until
    * action time — the 10× OOM.)
    */
  def repetitionProfile(docs: DataFrame, idCol: String, textCol: String,
      probes: Seq[Long] = Seq(8L, 16L, 32L, 64L)): DataFrame =
      Store.scoped { st =>
    require(probes.nonEmpty &&
      probes.forall(p => p >= 1 && (p & (p - 1)) == 0L),
      s"probes must be powers of two, got $probes")
    val minLevel =
      (63 - java.lang.Long.numberOfLeadingZeros(probes.min)).toInt
    val (base, lens) = rankAndLens(docs, idCol, textCol, minLevel)
    repetitionProfileFrom(docs.sparkSession, st.own(base), minLevel,
      st.own(lens), probes)
  }

  /** [[repetitionProfile]] continuing from an already-built level-
    * `baseLevel` table (the shared q175/q176/q178 substrate). The base
    * table and lens are the caller's; every HIGHER level this call
    * builds is released before returning.
    */
  def repetitionProfileFrom(spark: SparkSession, base: DataFrame,
      baseLevel: Int, lens: DataFrame, probes: Seq[Long]): DataFrame = {
    require(probes.nonEmpty &&
      probes.forall(p => p >= 1 && (p & (p - 1)) == 0L),
      s"probes must be powers of two, got $probes")
    val levels = probes.map(p =>
      (63 - java.lang.Long.numberOfLeadingZeros(p)).toInt)
    require(levels.min >= baseLevel,
      s"smallest probe needs level ${levels.min} < base $baseLevel")
    val stats = lensStatsOf(lens)
    val totalChars = stats.totalChars

    // per-probe numbers, all collected eagerly as ONE single-row action
    // per probe. r18 paid four driver round-trips per probe (a starts
    // checkpoint, a lens count, two aggregates) and materialized the
    // per-position starts frame (a C-row join-back) only to COUNT rows
    // and distinct contents — numbers the occurrence groupBy already
    // knows. Now the two aggregates (the counts off the dup-content
    // groupBy; the covered union off the positions join) cross-join
    // into one single-row plan, whose duplicated dup-content subtree
    // Spark ships once via ReusedExchange — one job, two exchanges, no
    // intermediate persistence at all.
    def statsAt(level: Int, table: DataFrame): Row = {
      val p = 1L << level
      val full = fullWindows(table, level, lens, p, stats)
      val occ = dupContents(full)
      val occAgg = occ.agg(coalesce(sum(col("occ")), lit(0L))
        .as("n_dup_starts"), count(lit(1)).as("n_dup_substrings"))
      // covered union directly on the packed positions: per island
      // max(g) − min(g) + p is the span length (same doc within a
      // docBase partition, so the offset difference is exact) — no
      // unpack, 16 B rows through the doc exchange and sort. `_db` is
      // PROJECTED before the window so the groupBy's clustering
      // requirement matches the window exchange by attribute — an
      // expression re-derivation there would risk a second C-row
      // exchange
      val w = Window.partitionBy(col("_db")).orderBy(col("g"))
      val covAgg = full.join(occ.hint("shuffle_hash"), Seq("ra", "rb"))
        .select(col("g"), docBase(stats.posBase).as("_db"))
        .withColumn("newi",
          when(col("g") > coalesce(lag(col("g"), 1).over(w),
            lit(Long.MinValue / 2)) + p, 1L).otherwise(0L))
        .withColumn("isl", sum(col("newi")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("_db"), col("isl"))
        .agg((max(col("g")) - min(col("g")) + p).as("span_len"))
        .agg(coalesce(sum(col("span_len")), lit(0L)).as("covered"))
      val r = occAgg.crossJoin(covAgg).head()
      val covered = r.getLong(2)
      val share =
        if (totalChars == 0L) 0L else (1000000L * covered) / totalChars
      Row(p, r.getLong(0), r.getLong(1), covered, totalChars, share)
    }

    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Row)]
    def record(level: Int, table: DataFrame): Unit =
      if (levels.contains(level)) rows += ((1L << level, statsAt(level, table)))
    val top = Rounds.run(base, levels.max - baseLevel,
        StorageLevel.DISK_ONLY) { (cur, k) =>
      record(baseLevel + k, cur)
      nextRank(cur, 1L << (baseLevel + k), stats.posBase)
    }.last
    record(levels.max, top)
    if (!(top eq base)) Store.free(top)
    val ordered = probes.map(p => rows.find(_._1 == p).get._2)
    val schema = StructType(Seq("probe_len", "n_dup_starts",
      "n_dup_substrings", "covered_chars", "total_chars",
      "covered_x1e6").map(StructField(_, LongType, nullable = false)))
    spark.createDataFrame(
      java.util.Arrays.asList(ordered: _*), schema)
  }

  /** The Lee et al. 2022 DEPLOYMENT step (VERDICT r18 task 5): emit
    * the corpus with duplicated spans CUT, keep-FIRST-occurrence. Per
    * duplicated window content, the occurrence with the smallest
    * (doc_id, off) corpus-wide is the keeper; every position covered
    * by a NON-keeper duplicated window is removed, and each document's
    * removed ranges (the gaps-and-islands union — disjoint, sorted)
    * are cut from its text by one pass of kept-segment concatenation.
    * A keeper window overlapping a removed range is partially cut —
    * the contract is positional (remove the union of non-first
    * duplicated window extents), which keeps the semantics exactly
    * SQL-replayable. Output: (doc_id, text_clean, n_cut, chars_cut) —
    * one row per input document (docs with nothing to cut pass
    * through with n_cut = 0).
    */
  def removeDupSpans(docs: DataFrame, idCol: String, textCol: String,
      minLen: Long = 12L): DataFrame = {
    val j = 63 - java.lang.Long.numberOfLeadingZeros(minLen)
    val (rj, lens) = rankAndLens(docs, idCol, textCol, j.toInt)
    removeDupSpansFromStarts(docs, idCol, textCol,
      dupWindowStartsFrom(rj, j.toInt, lens, minLen), minLen)
  }

  /** [[removeDupSpans]] from a precomputed duplicated-window starts
    * frame (the shared substrate path). */
  def removeDupSpansFromStarts(docs: DataFrame, idCol: String,
      textCol: String, starts: DataFrame, win: Long): DataFrame = {
    // keeper per content key: the smallest (doc_id, off) — one narrow
    // shuffle on (ra, rb), then drop the keeper row positionally
    val keeper = starts.groupBy(col("ra"), col("rb"))
      .agg(min(struct(col("doc_id"), col("off"))).as("k"))
    val marked = starts.join(keeper.hint("shuffle_hash"), Seq("ra", "rb"))
      .where(!(col("doc_id") === col("k.doc_id") &&
        col("off") === col("k.off")))
      .select(col("doc_id"), col("off"))
    val cuts = dupSpansFromStarts(marked, win)
    val perDoc = cuts.groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(
          col("span_start").as("s"), col("span_end").as("e")))).as("sp"),
        count(lit(1)).as("n_cut"),
        sum(col("span_len")).as("chars_cut"))
    // kept-segment concatenation: fold the disjoint sorted cut ranges,
    // appending the segment BEFORE each range, then the tail — one
    // substr per kept segment, inside whole-stage codegen
    val doc = docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val rebuilt = aggregate(
      col("sp"),
      struct(lit(1L).as("pos"), lit("").as("acc")),
      (st, x) => struct(
        x.getField("e").as("pos"),
        concat(st.getField("acc"),
          col("text").substr(st.getField("pos").cast("int"),
            (x.getField("s") - st.getField("pos")).cast("int")))
          .as("acc")),
      st => concat(st.getField("acc"),
        col("text").substr(st.getField("pos").cast("int"),
          (length(col("text")).cast("long") + 1L - st.getField("pos"))
            .cast("int"))))
    doc.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("sp").isNull, col("text")).otherwise(rebuilt)
          .as("text_clean"),
        coalesce(col("n_cut"), lit(0L)).as("n_cut"),
        coalesce(col("chars_cut"), lit(0L)).as("chars_cut"))
  }
}
