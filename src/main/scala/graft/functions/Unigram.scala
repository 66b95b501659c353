package graft.functions

import graft.etl.Store
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Unigram-LM (SentencePiece-style) tokenizer — the rung above BPE
  * that public multilingual pipelines default to (Kudo 2018,
  * "Subword Regularization"; Kudo & Richardson 2018, SentencePiece).
  * Same split as [[Bpe]] (VERDICT r17 next-task 5):
  *
  *  - **Encoding under a FIXED piece table is exactly distributable
  *    and exactly oracle-able**: Viterbi segmentation maximizes the
  *    sum of integer milli-log piece scores by a per-word DP —
  *    dp[i] = max over piece lengths L of dp[i−L] + score(w[i−L..i]).
  *    Ties prefer the LONGEST final piece (candidates scan L
  *    descending, strictly-greater replaces). The q172 oracle replays
  *    the same DP in DuckDB as a recursive CTE that carries the last
  *    [[MaxPieceLen]] dp values and backtrack strings as fixed-width
  *    state — exact to the byte.
  *  - **One hard-EM step is exactly oracle-able** (the q84c
  *    one-Lloyd-step precedent): under a fixed table, Viterbi-segment
  *    every word TYPE, weight each piece by the word's corpus
  *    frequency, re-estimate p(piece) = cnt/total as an exact
  *    integer floor. The full trainer loop — substring seeding,
  *    log-prob re-scoring, pruning — is inherently iterative and
  *    spec-gated like q47's BPE trainer ([[train]], UnigramSpec).
  *
  * Scale shape: encoding is TYPE-level — segment the DISTINCT words
  * (a vocabulary-bounded frame, ≪ corpus tokens at any scale) and
  * join the per-type result back onto frequencies; the kernel is a
  * codegen StaticInvoke over the word column with the piece table
  * shipped as one spec literal (the [[BpeKernels]] reference-compare
  * memo pattern), so per-token work never exists and per-type work is
  * one cache-local DP. Training collects only the piece-count frame —
  * bounded by the vocabulary size, never by data (the SemDedup
  * codebook posture).
  */
object Unigram {

  /** Longest piece the DP considers — fixes the oracle CTE's carried
    * state width. 16 matches real SentencePiece vocabularies (pieces
    * up to ~16 chars — VERDICT r18 task 6; the r18 cap of 4 excluded
    * every realistic multi-char piece); the oracle CTE generates its
    * 16 carried dp/backtrack columns and 16 candidate joins from this
    * SAME constant, so the two stay in lockstep.
    */
  val MaxPieceLen = 16

  /** Serialize a piece table to the kernel spec: one `piece score`
    * line per entry, in the given order.
    */
  def toSpec(pieces: Seq[(String, Long)]): String =
    pieces.map { case (p, s) => s"$p $s" }.mkString("\n")

  /** Viterbi segmentation of one lower-case word under the fixed
    * table: pieces joined by `|`. NULL when some character has no
    * covering piece (the caller's filter plus full single-char
    * coverage makes the planted tables total).
    */
  def segment(word: Column, pieces: Seq[(String, Long)]): Column =
    Kernel(classOf[UnigramKernels.type], "segment",
      org.apache.spark.sql.types.StringType, returnNullable = true)(
      word, lit(toSpec(pieces)))

  /** The winning segmentation's total score in milli-log units
    * (Long.MinValue/4-floored sentinel never escapes: NULL on an
    * uncoverable word, like [[segment]]).
    */
  def scoreMilli(word: Column, pieces: Seq[(String, Long)]): Column =
    Kernel(classOf[UnigramKernels.type], "scoreMilli",
      org.apache.spark.sql.types.LongType, returnNullable = true)(
      word, lit(toSpec(pieces)))

  /** One hard-EM count step over `words` (word, f): Viterbi-segment
    * each word TYPE under `pieces`, weight pieces by f, return
    * (piece, cnt, p_x1e6 = ⌊10⁶·cnt/total⌋). Pieces the corpus never
    * uses are absent (cnt would be 0). Exactly the q173 oracle.
    */
  def emStep(words: DataFrame, pieces: Seq[(String, Long)]): DataFrame = {
    val counts = Store.snapshot(words // ≤ |pieces| rows
      .withColumn("piece",
        explode(split(segment(col("word"), pieces), "\\|")))
      .groupBy(col("piece")).agg(sum(col("f")).as("cnt")))
    val tot = counts.agg(sum(col("cnt")).as("t"))
    counts.crossJoin(broadcast(tot))
      .select(col("piece"), col("cnt"),
        expr("(1000000 * cnt) div t").as("p_x1e6"))
  }

  /** Full Viterbi-EM trainer (spec-gated — the loop is inherently
    * sequential like BPE's merge selection, q47): seed the candidate
    * set with every substring of length 1..[[MaxPieceLen]] of the word
    * types (all single characters are protected — SentencePiece's
    * character-coverage invariant), initialize scores to milli-log
    * relative frequencies, then `iters` rounds of: segment types →
    * frequency-weighted piece counts (a vocabulary-bounded collect) →
    * re-score ln(cnt/total) → drop unused pieces and keep the top
    * `vocabSize` by (count desc, piece asc). Returns
    * (piece, score_milli, cnt) of the final table.
    */
  def train(docs: DataFrame, textCol: String, vocabSize: Int = 64,
      iters: Int = 2): DataFrame = {
    require(vocabSize >= 27, s"vocabSize must cover chars + room, got $vocabSize")
    val spark = docs.sparkSession
    val words = Store.snapshot(docs // word TYPES: vocabulary-bounded
      .select(explode(split(trim(lower(col(textCol))), "\\s+")).as("word"))
      .where(col("word").rlike("^[a-z]{1,16}$"))
      .groupBy(col("word")).agg(count(lit(1)).as("f")))
    // seed: all substrings (occurrence-weighted), chars protected
    val cand = words
      .withColumn("L", explode(array((1 to MaxPieceLen).map(lit): _*)))
      .withColumn("i", explode(when(length(col("word")) >= col("L"),
        sequence(lit(1), length(col("word")) - col("L") + 1))
        .otherwise(array().cast("array<int>"))))
      .select(expr("substr(word, i, L)").as("piece"), col("f"))
      .groupBy(col("piece")).agg(sum(col("f")).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val chars = cand.filter(_._1.length == 1)
    val multi = cand.filter(_._1.length > 1)
      .sortBy { case (p, c) => (-c, p) }.take(vocabSize - chars.length)
    def rescore(tab: Seq[(String, Long)]): Seq[(String, Long)] = {
      val total = math.max(tab.map(_._2).sum, 1L)
      tab.map { case (p, c) =>
        p -> math.floor(1000.0 * math.log(
          math.max(c, 1L).toDouble / total)).toLong }
    }
    var table = rescore((chars ++ multi).sortBy(_._1))
    var round = 0
    while (round < iters) {
      val counted = emStep(words, table)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val kept = table.map(_._1)
        .map(p => p -> counted.getOrElse(p, 0L))
        .filter { case (p, c) => p.length == 1 || c > 0L }
        .sortBy { case (p, c) => (-c, p) }
      val capped = (kept.filter(_._1.length == 1) ++
        kept.filter(_._1.length > 1)
          .take(vocabSize - kept.count(_._1.length == 1)))
        .sortBy(_._1)
      table = rescore(capped)
      round += 1
    }
    import spark.implicits._
    // report counts under the FINAL scores (one more vocab-bounded
    // pass), pruning multi-char pieces the final segmentation no longer
    // uses — the emitted table is self-consistent: every multi piece
    // carries the positive count its own scores produce
    val fin = emStep(words, table)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    table.map { case (p, s) => (p, s, fin.getOrElse(p, 0L)) }
      .filter { case (p, _, c) => p.length == 1 || c > 0L }
      .toDF("piece", "score_milli", "cnt")
  }
}

object UnigramKernels {

  // one piece table per query: cache the parsed form keyed by the spec
  // string, reference-compare fast path for the per-row Literal (the
  // BpeKernels memo pattern — the spec is multi-KB and rows are many)
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, Long]]
  @volatile private var last: (UTF8String, Map[String, Long]) = null

  private def table(spec: UTF8String): Map[String, Long] = {
    val l = last
    if (l != null && (l._1 eq spec)) return l._2
    // bound the memo (ADVICE r18): a train() loop rescoring its table
    // per iteration would otherwise retain every multi-KB spec for the
    // executor JVM's lifetime; the clear-on-cap is cheap (worst case a
    // re-parse) and the single-slot fast path above covers the hot row
    if (cache.size > 64) cache.clear()
    val t = cache.computeIfAbsent(spec.toString, s =>
      s.split("\n").filter(_.nonEmpty).map { line =>
        val sp = line.lastIndexOf(' ')
        line.substring(0, sp) -> line.substring(sp + 1).toLong
      }.toMap)
    last = (spec, t)
    t
  }

  private val Neg = Long.MinValue / 4

  /** The DP. Returns (bestScore, backtrack piece lengths) or null when
    * some prefix is uncoverable.
    */
  private def viterbi(w: String, sc: Map[String, Long])
      : (Long, Array[Int]) = {
    val n = w.length
    val dp = Array.fill(n + 1)(Neg)
    val back = new Array[Int](n + 1)
    dp(0) = 0L
    var i = 1
    while (i <= n) {
      var best = Neg
      var bl = 0
      var len = math.min(Unigram.MaxPieceLen, i)
      // L descending: on equal totals the LONGEST final piece wins
      // (strictly-greater replacement) — the oracle CTE scans its CASE
      // branches in the same order
      while (len >= 1) {
        if (dp(i - len) > Neg) {
          sc.get(w.substring(i - len, i)) match {
            case Some(s) =>
              val c = dp(i - len) + s
              if (c > best) { best = c; bl = len }
            case None => ()
          }
        }
        len -= 1
      }
      dp(i) = best
      back(i) = bl
      i += 1
    }
    if (dp(n) <= Neg) null else (dp(n), back)
  }

  def segment(word: UTF8String, spec: UTF8String): UTF8String = {
    val w = word.toString
    val r = viterbi(w, table(spec))
    if (r == null) return null
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = w.length
    while (i > 0) {
      val l = r._2(i)
      parts += w.substring(i - l, i)
      i -= l
    }
    UTF8String.fromString(parts.reverseIterator.mkString("|"))
  }

  def scoreMilli(word: UTF8String, spec: UTF8String): java.lang.Long = {
    val r = viterbi(word.toString, table(spec))
    if (r == null) null else java.lang.Long.valueOf(r._1)
  }
}
