package graft

import graft.dedup.{DupSpans, ExactSubstr}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
import org.apache.spark.sql.functions._

/** ExactSubstr laws the q175/q176 oracles can't isolate: equality with
  * a brute-force reference (exact strings, all window lengths), exact
  * boundaries where the token-k-gram q93 approximation is provably
  * loose, full-window discipline (padded ranks never conflate), the
  * same-document double occurrence, and partitioning independence of
  * the distributed rank rounds.
  */
class ExactSubstrSpec extends SparkSpec {
  import spark.implicits._

  /** Brute-force duplicated-window starts: literal substrings. */
  private def bruteStarts(docs: Seq[(Long, String)], win: Int)
      : Set[(Long, Long)] = {
    val all = for {
      (id, t) <- docs
      i <- 0 to t.length - win
    } yield (id, (i + 1).toLong, t.substring(i, i + win))
    val cnt = all.groupBy(_._3).map { case (g, xs) => g -> xs.size }
    all.filter(a => cnt(a._3) >= 2).map(a => (a._1, a._2)).toSet
  }

  /** Brute-force maximal spans from the window starts. */
  private def bruteSpans(docs: Seq[(Long, String)], win: Int)
      : Set[(Long, Long, Long)] = {
    bruteStarts(docs, win).groupBy(_._1).flatMap { case (id, ss) =>
      val offs = ss.map(_._2).toSeq.sorted
      val spans = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      offs.foreach { o =>
        if (spans.nonEmpty && o <= spans.last._2) {
          val (s0, _) = spans.last
          spans(spans.length - 1) = (s0, o + win)
        } else spans += ((o, o + win))
      }
      spans.map { case (s0, e0) => (id, s0, e0) }
    }.toSet
  }

  private def gotSpans(docs: Seq[(Long, String)], win: Int)
      : Set[(Long, Long, Long)] =
    ExactSubstr.dupSpans(docs.toDF("doc_id", "text"),
      "doc_id", "text", minLen = win.toLong)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet

  test("spans equal the brute-force literal-substring reference") {
    val docs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "a quick brown fox ran away from the lazy dog",
      3L -> "nothing shared here at all zzz",
      4L -> "the quick brown fox jumps again")
    for (win <- Seq(4, 8, 12, 16))
      assert(gotSpans(docs, win) === bruteSpans(docs, win), s"win $win")
  }

  test("exact boundaries where q93's token k-grams are provably loose") {
    // the shared characters straddle token boundaries: no full token
    // 2-gram repeats, so the token-level approximation reports NO dup —
    // the char-level construction finds the exact 8-char span
    val docs = Seq(1L -> "xxabc yzwq end", 2L -> "qqabc yzwk tail")
    val df = docs.toDF("doc_id", "text")
    val q93 = DupSpans.maxDupSpan(df, "doc_id", "text",
      k = 2, minSpanTokens = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(q93(1L) === 0L && q93(2L) === 0L) // the documented looseness
    val exact = gotSpans(docs, 6)
    // "abc yzw" spans offsets 3..9 inclusive in both docs (1-based)
    assert(exact === Set((1L, 3L, 10L), (2L, 3L, 10L)))
    assert(exact === bruteSpans(docs, 6))
  }

  test("padded windows never conflate: short docs yield no partial-window dups") {
    val docs = Seq(1L -> "ab", 2L -> "ab", 3L -> "abqrst")
    // window 4: docs 1/2 have no full window; only doc 3 has windows,
    // all unique → no dups anywhere
    assert(gotSpans(docs, 4) === Set.empty[(Long, Long, Long)])
    // window 2: "ab" occurs in all three docs → spans [1,3) in each
    assert(gotSpans(docs, 2) ===
      Set((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L)))
  }

  test("a second occurrence inside the SAME document counts (Lee et al.)") {
    val docs = Seq(1L -> "abcdXXabcd")
    assert(gotSpans(docs, 4) === Set((1L, 1L, 5L), (1L, 7L, 11L)))
  }

  test("repetition profile: exact counts on a planted corpus") {
    val rep = "repeatmetwice!!!" // 16 chars, planted twice in one doc
    val docs = Seq(1L -> s"${rep}filler${rep}", 2L -> "uniquetextonly??")
    val got = ExactSubstr.repetitionProfile(
      docs.toDF("doc_id", "text"), "doc_id", "text", Seq(8L, 16L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1)
    // win 16: exactly one duplicated window content (rep itself),
    // starts at 1 and 23 → 2 starts, covered 32 chars
    val p16 = got.find(_._1 == 16L).get
    assert(p16._2 === 2L) // starts
    assert(p16._3 === 1L) // distinct substrings
    assert(p16._4 === 32L) // covered
    // win 8: every 8-window inside each rep copy duplicates → 9 starts
    // per copy = 18, 9 distinct contents, covered 2×16 = 32
    val p8 = got.find(_._1 == 8L).get
    assert(p8._2 === 18L && p8._3 === 9L && p8._4 === 32L)
  }

  /** Brute-force keep-first removal: rank each duplicated window
    * content's occurrences by (doc_id, off), union the non-first
    * extents, cut them from the text.
    */
  private def bruteRemoved(docs: Seq[(Long, String)], win: Int)
      : Map[Long, (String, Long, Long)] = {
    val all = for {
      (id, t) <- docs
      i <- 0 to t.length - win
    } yield (id, (i + 1).toLong, t.substring(i, i + win))
    val byGram = all.groupBy(_._3).filter(_._2.size >= 2)
    val marked = byGram.values.flatMap { occs =>
      occs.sortBy(o => (o._1, o._2)).drop(1).map(o => (o._1, o._2))
    }.toSet
    docs.map { case (id, t) =>
      val offs = marked.collect { case (d, o) if d == id => o }.toSeq.sorted
      val spans = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      offs.foreach { o =>
        if (spans.nonEmpty && o <= spans.last._2) {
          val (s0, _) = spans.last
          spans(spans.length - 1) = (s0, o + win)
        } else spans += ((o, o + win))
      }
      val kept = new StringBuilder
      var pos = 1L
      spans.foreach { case (s0, e0) =>
        kept ++= t.substring((pos - 1).toInt, (s0 - 1).toInt)
        pos = e0
      }
      kept ++= t.substring((pos - 1).toInt)
      id -> ((kept.toString, spans.size.toLong,
        spans.map(sp => sp._2 - sp._1).sum))
    }.toMap
  }

  test("keep-first span removal equals the brute-force reference") {
    val docs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "a quick brown fox ran away from the lazy dog",
      3L -> "nothing shared here at all zzz",
      4L -> "the quick brown fox jumps again",
      5L -> "abcdXXabcdYYabcd") // same-doc repeats: first kept only
    for (win <- Seq(4, 8, 12)) {
      val got = ExactSubstr.removeDupSpans(docs.toDF("doc_id", "text"),
        "doc_id", "text", minLen = win.toLong)
        .collect()
        .map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
      assert(got === bruteRemoved(docs, win), s"win $win")
    }
  }

  test("removal keeps every doc: no-dup docs pass through unchanged") {
    val docs = Seq(1L -> "totally unique text one",
      2L -> "another different string two")
    val got = ExactSubstr.removeDupSpans(docs.toDF("doc_id", "text"),
      "doc_id", "text", 8L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got === docs.map { case (id, t) => (id, t, 0L, 0L) }.toSet)
  }

  test("partitioning independence: 1 vs 7 partitions, identical spans") {
    val docs = (0 until 40).map(i =>
      (i.toLong, s"shared prefix text number ${i % 5} tail$i"))
    val a = ExactSubstr.dupSpans(docs.toDF("doc_id", "text"),
      "doc_id", "text", 12L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val b = ExactSubstr.dupSpans(docs.toDF("doc_id", "text")
      .repartition(7), "doc_id", "text", 12L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(a === b)
    assert(a.toSet === bruteSpans(docs, 12))
  }

  test("the explain probe plan on sf0.001 documents is a shuffled hash join") {
    val df = ExactSubstr.probePlanForExplain(
      Tables(spark, sf0001).documents, "doc_id", "text")
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    assert(plan.collectFirst { case j: ShuffledHashJoinExec => j }.nonEmpty,
      plan.toString)
  }
}
