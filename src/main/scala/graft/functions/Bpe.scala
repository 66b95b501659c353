package graft.functions

import graft.etl.{Rounds, Store}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair-encoding tokenizer, structured the way a 100 TB pipeline has
  * to be: merge rules TRAIN on a small deterministic hash-sample of the
  * corpus (driver-side, bounded, pure JVM — the classic algorithm is
  * inherently sequential), then APPLY distributed through a codegen'd
  * static kernel with the merge table shipped as a string literal. The
  * trainer is the textbook character-level BPE (Sennrich et al. 2016,
  * public): repeatedly merge the most frequent adjacent symbol pair;
  * ties break lexicographically so training is fully deterministic.
  */
object Bpe {

  /** Train `nMerges` merge rules from a bag of words. */
  def trainFromWords(words: Seq[String], nMerges: Int): Seq[(String, String)] = {
    val freq = scala.collection.mutable.HashMap.empty[List[String], Long]
    words.filter(_.nonEmpty).foreach { w =>
      val syms = w.map(_.toString).toList
      freq(syms) = freq.getOrElse(syms, 0L) + 1L
    }
    val merges = Seq.newBuilder[(String, String)]
    var i = 0
    var done = false
    while (i < nMerges && !done) {
      val pairCounts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      freq.foreach { case (syms, n) =>
        syms.zip(syms.tail).foreach(p =>
          pairCounts(p) = pairCounts.getOrElse(p, 0L) + n)
      }
      if (pairCounts.isEmpty) done = true
      else {
        val best = pairCounts.toSeq
          .minBy { case ((a, b), n) => (-n, a, b) }._1
        merges += best
        val merged = best._1 + best._2
        val rewritten = freq.toSeq.map { case (syms, n) =>
          val out = scala.collection.mutable.ListBuffer.empty[String]
          var j = 0
          while (j < syms.length) {
            if (j + 1 < syms.length && syms(j) == best._1 && syms(j + 1) == best._2) {
              out += merged; j += 2
            } else { out += syms(j); j += 1 }
          }
          out.toList -> n
        }
        freq.clear()
        rewritten.foreach { case (s, n) =>
          freq(s) = freq.getOrElse(s, 0L) + n
        }
        i += 1
      }
    }
    merges.result()
  }

  /** Train on a deterministic hash-sample of the corpus: membership is a
    * pure function of the id (same sample every run, any cluster size),
    * and `maxDocs` bounds what the driver collects regardless of corpus
    * scale.
    */
  def train(docs: DataFrame, idCol: String, textCol: String, nMerges: Int,
      sampleBasisPoints: Int, maxDocs: Int = 10000): Seq[(String, String)] = {
    import docs.sparkSession.implicits._
    val sample = graft.etl.Sampling
      .sample(docs, idCol, sampleBasisPoints)
      .orderBy(col(idCol)).limit(maxDocs)
      .select(lower(col(textCol))).as[String].collect()
    trainFromWords(sample.toSeq.flatMap(_.split("\\s+")), nMerges)
  }

  /** DISTRIBUTED BPE training — the published scale recipe (per-
    * iteration distributed pair counting) for corpora where even a
    * hash-sample misrepresents the tail: the word-frequency frame is
    * built once (one distributed groupBy over the corpus — at 100 TB
    * the frame is vocabulary-sized, not corpus-sized), then each merge
    * iteration runs ONE distributed (pair, count) aggregation, the
    * driver collects exactly ONE row (the argmax under the same
    * (-count, lhs, rhs) tie-break as [[trainFromWords]]), and the merge
    * applies distributed as a catalyst fold over the symbol arrays
    * (provably equivalent to the sequential left-to-right scan: the
    * merged token a+b can never equal a, so a fold never re-merges
    * within a pass). The rewritten word frames are [[graft.etl.Rounds]]
    * rounds whose stop test is the next merge's collect, so cost is
    * nMerges × (one narrow shuffle + a one-row collect), and nothing
    * stays stored once the merges are returned. [[train]] (the bounded
    * hash-sample) stays the fast default; this is the exact path.
    * Tie-breaks compare Spark UTF-8 binary order, which equals Java's
    * String order on the ASCII-ranged symbols BPE produces from
    * lower-cased corpus text (parity spec-pinned in BpeSpec).
    */
  def trainDistributed(docs: DataFrame, idCol: String, textCol: String,
      nMerges: Int): Seq[(String, String)] = Store.scoped { st =>
    val wf0 = st.snapshot(docs
      .select(explode(split(lower(col(textCol)), "\\s+")).as("w"))
      .where(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      // split-by-empty-regex can emit a trailing "" under limit -1 —
      // filter so symbols are exactly the characters
      .select(filter(split(col("w"), ""), s => s =!= "").as("syms"),
        col("n")))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    // records the next merge, if there is one
    def nextMerge(wf: DataFrame): Boolean = {
      val zipped = transform(
        sequence(lit(1), size(col("syms")) - 1),
        i => struct(element_at(col("syms"), i).as("a"),
          element_at(col("syms"), i + 1).as("b")))
      val best = wf.where(size(col("syms")) > 1)
        .select(explode(zipped).as("p"), col("n"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()
      best.foreach(r => merges += ((r.getString(0), r.getString(1))))
      best.nonEmpty
    }
    // a round applies the last merge found; its stop test finds the next
    if (nMerges > 0 && nextMerge(wf0))
      st.own(Rounds.run(wf0, nMerges - 1,
        stop = (next, _, _) => !nextMerge(next)) { (wf, _) =>
        val (a, b) = merges.last
        // left-to-right non-overlapping merge as an array fold
        val rewritten = aggregate(col("syms"),
          array().cast("array<string>"),
          (acc, s) => when(
            size(acc) > 0 && element_at(acc, -1) === lit(a) && s === lit(b),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
            .otherwise(concat(acc, array(s))))
        wf.select(rewritten.as("syms"), col("n"))
      }.last)
    merges.toList
  }

  /** Serialize merges for the kernel literal ("a b\nab c\n..."). */
  def mergesToSpec(merges: Seq[(String, String)]): String =
    merges.map { case (a, b) => s"$a $b" }.mkString("\n")

  /** Persist a trained merge table as a tiny parquet artifact
    * (rank, lhs, rhs) — the tokenizer-as-artifact contract every
    * training pipeline needs: train ONCE, [[load]] in any later
    * session, apply byte-identically (the Bm25.buildIndex
    * build/search split applied to the tokenizer). Merge PRIORITY is
    * the rank column, not file order, so the round trip is immune to
    * parquet row-order instability.
    */
  def save(spark: org.apache.spark.sql.SparkSession,
      merges: Seq[(String, String)], dir: String): Unit = {
    import spark.implicits._
    merges.zipWithIndex
      .map { case ((a, b), i) => (i, a, b) }
      .toDF("rank", "lhs", "rhs")
      .coalesce(1) // nMerges rows — one tiny file, not 32
      .write.mode("overwrite").parquet(dir)
  }

  /** Load a [[save]]d merge table, rank-ordered. The collect is bounded
    * by the artifact size (nMerges rows), never by corpus scale.
    */
  def load(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(String, String)] = {
    import spark.implicits._
    spark.read.parquet(dir).orderBy(col("rank"))
      .select(col("lhs"), col("rhs"))
      .as[(String, String)].collect().toSeq
  }

  /** Per-group tokenizer fertility report (Rust et al. 2021, "How Good is
    * Your Tokenizer?", public): tokens-per-word and bytes-per-token of a
    * FIXED merge table, aggregated per language (or any group column) —
    * the standard multilingual-tokenizer equity audit. A language whose
    * fertility is far above the corpus mean pays more sequence length for
    * the same content, the signal that drives vocabulary rebalancing
    * (and budget corrections for q121-style allocation, which counts
    * whitespace words, not BPE tokens).
    *
    * Words are the NON-EMPTY whitespace tokens (an empty document has 0
    * words, not 1); bytes are UTF-8 octets. All ratios are integer
    * floor-scaled ×1000 over GROUP TOTALS — one division per group at
    * the very end, so the numbers are engine-exact with no per-doc float
    * averaging. Scale shape: one map-side codegen pass (the BPE kernel
    * is a StaticInvoke; the merge table ships as a literal), one
    * groupBy over the bounded language dim.
    */
  def fertilityByGroup(docs: DataFrame, groupCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val toks = F.tokensLower(col(textCol))
    docs
      .select(col(groupCol),
        size(filter(toks, t => t =!= "")).cast("long").as("w"),
        tokenCount(col(textCol), merges).as("b"),
        octet_length(col(textCol)).cast("long").as("y"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("n_words"),
        sum(col("b")).as("n_bpe_tokens"), sum(col("y")).as("n_bytes"))
      .withColumn("fertility_x1000",
        when(col("n_words") > 0L, expr("(n_bpe_tokens * 1000) div n_words")))
      .withColumn("bytes_per_bpe_x1000",
        when(col("n_bpe_tokens") > 0L,
          expr("(n_bytes * 1000) div n_bpe_tokens")))
  }

  /** BPE token count of a text column under a trained merge table. */
  def tokenCount(text: Column, merges: Seq[(String, String)]): Column =
    Kernel(classOf[BpeKernels.type], "encodeCount",
      org.apache.spark.sql.types.LongType)(text, lit(mergesToSpec(merges)))
}

object BpeKernels {

  // one merge table is in play per query; cache the parsed form keyed by
  // the spec string so the per-row cost is a map lookup, not a re-parse
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[(String, String), Int]]

  // per-row fast path: the spec arrives as a Literal, so every row of a
  // task binding sees the SAME UTF8String instance — a reference compare
  // replaces materializing + hashing the multi-KB spec string per row
  // (invisible at 5k docs, real at billions of rows). The one-entry memo
  // is racy-by-design: a lost write just falls through to `cache`.
  @volatile private var last: (UTF8String, Map[(String, String), Int]) = null

  private def table(spec: UTF8String): Map[(String, String), Int] = {
    val l = last
    if (l != null && (l._1 eq spec)) return l._2
    val t = cache.computeIfAbsent(spec.toString, s =>
      s.split("\n").filter(_.nonEmpty).zipWithIndex.map { case (line, i) =>
        val Array(a, b) = line.split(" ", 2)
        (a, b) -> i
      }.toMap)
    last = (spec, t)
    t
  }

  /** Apply merges to one word (greedy by merge priority) and return the
    * surviving symbol count.
    */
  private def wordSymbols(word: String, ranks: Map[(String, String), Int]): Int = {
    var syms = word.map(_.toString).toArray
    var continue = syms.length > 1
    while (continue) {
      var bestRank = Int.MaxValue
      var bestIdx = -1
      var j = 0
      while (j < syms.length - 1) {
        val r = ranks.getOrElse((syms(j), syms(j + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bestIdx = j }
        j += 1
      }
      if (bestIdx < 0) continue = false
      else {
        val merged = syms(bestIdx) + syms(bestIdx + 1)
        syms = (syms.take(bestIdx) :+ merged) ++ syms.drop(bestIdx + 2)
        continue = syms.length > 1
      }
    }
    syms.length
  }

  /** Total BPE token count of a whitespace-split, lower-cased text. */
  def encodeCount(text: UTF8String, mergeSpec: UTF8String): Long = {
    val ranks = table(mergeSpec)
    var total = 0L
    text.toString.toLowerCase.split("\\s+").foreach { w =>
      if (w.nonEmpty) total += wordSymbols(w, ranks)
    }
    total
  }
}
